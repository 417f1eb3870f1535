package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.operators.PairEngine

/** Round-9 batch #47 — minhash SIGNATURE COMPRESSION, the two classic
  * storage/compute reductions measured against exact Jaccard from
  * `operators/PairEngine.jaccard` (the oracle composes
  * `ngram_jaccard`'s CTE verbatim):
  *
  *  - `bbit_minhash` (Li & König 2010, "b-Bit Minwise Hashing"): keep
  *    only the low b = 2 bits of each of 16 minwise components — the
  *    whole signature packs into ONE BIGINT (32 bits vs 16 md5
  *    strings, a 64× shrink). Matching low-b bits happen with
  *    probability J + (1−J)/2^b, so Ĵ = (P − 1/4)·4/3 un-biases the
  *    collision rate; the estimate is clamped at 0 and every step is
  *    integer arithmetic (components are affine re-hashes
  *    (a_i·h + b_i) mod P of ONE rolling hash per shingle — the
  *    universal-hashing trick that avoids 16 md5 passes).
  *  - `oph_minhash` (Li, Owen & Zhang 2012; Shrivastava & Li 2014
  *    densification): ONE hash pass, shingles scattered into 16 bins by
  *    h mod 16, min per bin, empty bins densified by rotation-borrow
  *    from the next filled bin — 16× less hashing than 16 independent
  *    permutations, and the bin-match rate estimates J directly. The
  *    per-doc empty-bin counts ride along: they are the densification
  *    pressure (small docs fill few bins) that explains the estimator's
  *    variance on short documents.
  *
  * Both scoreboards output est − exact per pair, so the oracle checks
  * the ESTIMATORS, not just the plumbing. 100 TB shape: per-doc narrow
  * projections (one rolling hash per shingle) + the existing df-capped
  * pair join; signatures add O(1) per doc. */
object Queries127 extends QuerySet {
  private val P = 1000000007L // shared with rollingHash
  private val NComp = 16

  /** One rolling hash per shingle (bound column — HOF-safe). */
  private def hashedShingles: Column =
    transform(col("sh"), s => TextF.rollingHash(s))

  val defs: Map[String, Q] = Map(
    "bbit_minhash" -> { (sp, dir) =>
      val docs = LlmQueries.shingleDocs(sp, dir)
      // 16 minwise components from ONE hash per shingle; keep low 2 bits,
      // pack into one BIGINT signature
      val sig = (0 until NComp).map { i =>
        val comp = array_min(transform(col("hs"),
          h => (h * lit(2L * i + 3) + lit(7L * i + 1)) % lit(P)))
        (comp % 4L) * lit(1L << (2 * i))
      }.reduce(_ + _)
      val sigs = docs.withColumn("hs", hashedShingles)
        .select(col("doc_id"), sig.as("sig"))
      val matches = (0 until NComp).map { i =>
        when(shiftright(col("sig_a"), 2 * i).bitwiseAND(lit(3L))
          === shiftright(col("sig_b"), 2 * i).bitwiseAND(lit(3L)), 1L).otherwise(0L)
      }.reduce(_ + _)
      PairEngine.jaccard(docs)
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("matches_b2", matches)
        .withColumn("est_bbit_permille",
          expr("greatest(0, matches_b2 * 4 - 16) * 1000 div 48"))
        .withColumn("err_permille", col("est_bbit_permille") - col("jac_permille"))
        .select("id_a", "id_b", "jac_permille", "matches_b2",
          "est_bbit_permille", "err_permille")
        .orderBy("id_a", "id_b")
    },

    "oph_minhash" -> { (sp, dir) =>
      val docs = LlmQueries.shingleDocs(sp, dir)
      val mins = array((0 until NComp).map(i =>
        array_min(filter(col("hs"), h => h % NComp === i))): _*)
      val filled = array((0 until NComp).map(i =>
        coalesce((0 until NComp).map(j =>
          element_at(col("mins"), (i + j) % NComp + 1)): _*)): _*)
      val nEmpty = (0 until NComp).map(i =>
        when(element_at(col("mins"), i + 1).isNull, 1L).otherwise(0L)).reduce(_ + _)
      val sigs = docs.withColumn("hs", hashedShingles)
        .withColumn("mins", mins)
        .select(col("doc_id"), filled.as("filled"), nEmpty.as("n_empty"))
      val matches = (0 until NComp).map(i =>
        when(element_at(col("f_a"), i + 1) === element_at(col("f_b"), i + 1), 1L)
          .otherwise(0L)).reduce(_ + _)
      PairEngine.jaccard(docs)
        .join(sigs.select(col("doc_id").as("id_a"), col("filled").as("f_a"),
          col("n_empty").as("n_empty_a")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("filled").as("f_b"),
          col("n_empty").as("n_empty_b")), Seq("id_b"))
        .withColumn("matches_oph", matches)
        .withColumn("est_oph_permille", expr("matches_oph * 1000 div 16"))
        .withColumn("err_permille", col("est_oph_permille") - col("jac_permille"))
        .select("id_a", "id_b", "jac_permille", "n_empty_a", "n_empty_b",
          "matches_oph", "est_oph_permille", "err_permille")
        .orderBy("id_a", "id_b")
    }
  )

  val oracles: Map[String, String] = {
    val rh = Queries28.rollingHashSql("s").replace("\n", " ")
    val hsCte =
      s"""hashed AS (
         |  SELECT doc_id, list_transform(sh, s -> $rh) AS hs FROM docs
         |)""".stripMargin
    val pairSelect =
      s"""pairs AS (
         |  SELECT id_a, id_b,
         |    CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) AS jac_permille
         |  FROM shared
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) >= 200
         |)""".stripMargin
    Map(
      "bbit_minhash" -> {
        val sig = (0 until NComp).map { i =>
          s"(list_min(list_transform(hs, h -> (h * ${2L * i + 3} + ${7L * i + 1}) % $P)) % 4) * ${1L << (2 * i)}"
        }.mkString("(", " + ", ")")
        val matches = (0 until NComp).map { i =>
          s"CASE WHEN (sa2.sig // ${1L << (2 * i)}) % 4 = (sb2.sig // ${1L << (2 * i)}) % 4 THEN 1 ELSE 0 END"
        }.mkString("(", " + ", ")")
        s"""WITH ${LlmQueries.JaccardSharedCteSql},
           |$hsCte,
           |sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM hashed),
           |$pairSelect
           |SELECT id_a, id_b, jac_permille,
           |  CAST($matches AS BIGINT) AS matches_b2,
           |  CAST(greatest(0, $matches * 4 - 16) * 1000 // 48 AS BIGINT) AS est_bbit_permille,
           |  CAST(greatest(0, $matches * 4 - 16) * 1000 // 48 - jac_permille AS BIGINT) AS err_permille
           |FROM pairs
           |JOIN sigs sa2 ON sa2.doc_id = id_a
           |JOIN sigs sb2 ON sb2.doc_id = id_b
           |ORDER BY id_a, id_b""".stripMargin
      },

      "oph_minhash" -> {
        val filled = (0 until NComp).map { i =>
          (0 until NComp).map(j => s"mins[${(i + j) % NComp + 1}]")
            .mkString("coalesce(", ", ", ")")
        }.mkString("[", ", ", "]")
        val matches = (0 until NComp).map { i =>
          s"CASE WHEN sa2.filled[${i + 1}] = sb2.filled[${i + 1}] THEN 1 ELSE 0 END"
        }.mkString("(", " + ", ")")
        s"""WITH ${LlmQueries.JaccardSharedCteSql},
           |$hsCte,
           |binned AS (
           |  SELECT doc_id,
           |    list_transform(range(0, $NComp),
           |      i -> list_min(list_filter(hs, h -> h % $NComp = i))) AS mins
           |  FROM hashed
           |),
           |sigs AS (
           |  SELECT doc_id, $filled AS filled,
           |    CAST(len(list_filter(range(0, $NComp), i -> mins[i + 1] IS NULL)) AS BIGINT)
           |      AS n_empty
           |  FROM binned
           |),
           |$pairSelect
           |SELECT id_a, id_b, jac_permille,
           |  sa2.n_empty AS n_empty_a, sb2.n_empty AS n_empty_b,
           |  CAST($matches AS BIGINT) AS matches_oph,
           |  CAST($matches * 1000 // 16 AS BIGINT) AS est_oph_permille,
           |  CAST($matches * 1000 // 16 - jac_permille AS BIGINT) AS err_permille
           |FROM pairs
           |JOIN sigs sa2 ON sa2.doc_id = id_a
           |JOIN sigs sb2 ON sb2.doc_id = id_b
           |ORDER BY id_a, id_b""".stripMargin
      }
    )
  }
}
