package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.operators.PairEngine
import graft.queries.IntIdioms.tdivSql

/** Round-12 batch #2 — seasonal forecasting + training-data selection and
  * hygiene:
  *
  *  - `holt_winters_forecast`: additive Holt-Winters (level + trend +
  *    dow-seasonal, α=β=γ=1/2 as exact integer halving) over the daily
  *    revenue series — the seasonal upgrade of `holt_forecast`. The
  *    series is CALENDAR-bounded, so the recurrence is a driver-side
  *    exact fold (the holt_forecast pattern); the DuckDB twin replays it
  *    as a recursive CTE carrying the seven seasonal registers as
  *    columns. Truncated (toward-zero) division keeps every state
  *    integer and engine-identical.
  *  - `mmr_diversify`: Maximal Marginal Relevance selection (Carbonell &
  *    Goldstein 1998) — the classic "relevant but not redundant"
  *    fine-tuning-subset picker. Relevance = exact integer dot with the
  *    query vector (the corpus's min-vec_id embedding, milli-quantized);
  *    candidates = top-32 by relevance (distributed orderBy-limit);
  *    8 greedy rounds pick argmax(rel − max-sim-to-selected) with vec_id
  *    tiebreak, driver-side over the bounded candidate set (the IVF
  *    bounded-collect contract). DuckDB unrolls the rounds as CTEs
  *    (the kcenter pattern).
  *  - `unicode_anomaly_scan`: the spoofing/poisoning screen a text corpus
  *    runs before training — per-source counts of zero-width characters
  *    (U+200B/U+200D), bidi override controls (U+202E), and Latin-Cyrillic
  *    mixed-script confusables. Anomalies are PLANTED by doc_id residue
  *    (the bad-row corpus pattern) and the scan is REAL character
  *    arithmetic (length-after-replace deltas) in both engines.
  *  - `rouge_pairs`: ROUGE-1/ROUGE-2 overlap between near-dup candidate
  *    pairs (`operators/PairEngine.jaccard`, jac ≥ 200‰) — multiset
  *    n-gram recall/F1, the summarization-style alignment read that
  *    separates "quotes the other doc" (high R1, asymmetric) from "same
  *    phrasing" (high R2). Exact integer counts, permille outputs.
  */
object Queries159 extends QuerySet {
  private val DayUs = 86400000000L

  private val Candidates = 32
  private val MmrRounds = 8

  // planted-anomaly characters (codepoints spelled in both engines)
  private val Zwsp = "\u200B" // chr(8203)
  private val Zwj = "\u200D" // chr(8205)
  private val Rlo = "\u202E" // chr(8238)
  private val CyrA = "\u0430" // chr(1072)

  val defs: Map[String, Q] = Map(
    "holt_winters_forecast" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val out = Array.newBuilder[(Long, Long, Long, Long, Long, Long)]
      var l = daily.head._2
      var b = 0L
      val s = Array.fill(7)(0L)
      out += ((daily.head._1, daily.head._2, l, 0L, 0L, daily.head._2))
      daily.tail.foreach { case (d, y) =>
        val si = (d % 7).toInt
        val fitted = l + b + s(si)
        val lNew = (y - s(si) + l + b) / 2
        val bNew = (lNew - l + b) / 2
        val sNew = (y - lNew + s(si)) / 2
        l = lNew; b = bNew; s(si) = sNew
        out += ((d, y, l, b, sNew, fitted))
      }
      import sp.implicits._
      out.result().toSeq
        .toDF("day", "rev_cents", "level_cents", "trend_cents", "seasonal_cents", "fitted_cents")
        .orderBy("day")
    },

    "mmr_diversify" -> { (sp, dir) =>
      val q = Queries115.quantized(sp, dir)
      val q0 = q.orderBy("vec_id").limit(1).collect()(0).getSeq[Long](1).toArray
      val q0Lit = array(q0.toSeq.map(lit): _*)
      val rel = aggregate(zip_with(col("q"), q0Lit, (x, y) => x * y), lit(0L), (a, x) => a + x)
      val cand = q.withColumn("rel", rel)
        .orderBy(col("rel").desc, col("vec_id")).limit(Candidates)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      def dot(a: Array[Long], b: Array[Long]): Long = {
        var acc = 0L; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
      val out = Array.newBuilder[(Long, Long, Long, Long, Long)]
      (1 to MmrRounds).foreach { r =>
        val scored = cand.filter(c => !selected.exists(_._1 == c._1)).map { case (id, v, re) =>
          val ms = if (selected.isEmpty) 0L else selected.map(s => dot(v, s._2)).max
          (id, v, re, ms, re - ms)
        }
        val best = scored.minBy { case (id, _, _, _, sc) => (-sc, id) }
        selected += ((best._1, best._2))
        out += ((r.toLong, best._1, best._3, best._4, best._5))
      }
      import sp.implicits._
      out.result().toSeq
        .toDF("round", "vec_id", "rel", "max_sim", "mmr_score").orderBy("round")
    },

    "unicode_anomaly_scan" -> { (sp, dir) =>
      val e = col("doc_id")
      val t = col("text")
      val txt =
        when(e % 17 === 3, concat(substring(t, 1, 8), lit(Zwsp),
          substring(t, 9, 16), lit(Zwj), expr("substring(text, 25)")))
          .when(e % 17 === 5, regexp_replace(t, "a", CyrA))
          .when(e % 17 === 7, concat(lit(Rlo), t))
          .otherwise(t)
      val scanned = Tables.documents(sp, dir)
        .select(col("source"), txt.as("txt"))
        .select(col("source"),
          (length(col("txt")) * 2 - length(regexp_replace(col("txt"), Zwsp, ""))
            - length(regexp_replace(col("txt"), Zwj, ""))).as("n_zw"),
          (length(col("txt")) - length(regexp_replace(col("txt"), Rlo, ""))).as("n_bidi"),
          (length(regexp_replace(col("txt"), CyrA, "")) < length(col("txt")) &&
            length(regexp_replace(col("txt"), "[a-z]", "")) < length(col("txt")))
            .as("mixed"))
      scanned.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_zw") > 0, 1L).otherwise(0L)).as("zw_docs"),
        sum(when(col("n_bidi") > 0, 1L).otherwise(0L)).as("bidi_docs"),
        sum(when(col("mixed"), 1L).otherwise(0L)).as("mixed_docs"),
        sum(when(col("n_zw") > 0 || col("n_bidi") > 0 || col("mixed"), 1L).otherwise(0L))
          .as("suspicious_docs"),
        sum(col("n_zw")).as("n_zw_chars"))
        .orderBy("source")
    },

    "rouge_pairs" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
      val uni = PairEngine.tokenFreq(docs)
      val totU = uni.groupBy("doc_id").agg(sum("tf").as("tot"))
      val bi = graft.util.CacheScope.track(docs
        .select(col("doc_id"), explode(TextF.shinglesFromTokens(col("toks"), 2)).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf")))
      val totB = bi.groupBy("doc_id").agg(sum("tf").as("tot"))
      // r15: pin the verified pair set — it feeds BOTH overlap passes and
      // the final join spine, and uncached each consumer re-ran the band
      // self-join pipeline (3x the pair engine)
      val pairs = graft.util.CacheScope.track(PairEngine.jaccard(
          docs.select(col("doc_id"), PairEngine.shingleSets(col("toks")).as("sh")))
        .select("id_a", "id_b"))
      pairs
        .join(PairEngine.sumMin(pairs, uni, "su1"), Seq("id_a", "id_b"), "left")
        .join(PairEngine.sumMin(pairs, bi, "su2"), Seq("id_a", "id_b"), "left")
        .join(totU.select(col("doc_id").as("id_a"), col("tot").as("tu_a")), Seq("id_a"))
        .join(totU.select(col("doc_id").as("id_b"), col("tot").as("tu_b")), Seq("id_b"))
        .join(totB.select(col("doc_id").as("id_a"), col("tot").as("tb_a")), Seq("id_a"))
        .join(totB.select(col("doc_id").as("id_b"), col("tot").as("tb_b")), Seq("id_b"))
        .withColumn("su1", coalesce(col("su1"), lit(0L)))
        .withColumn("su2", coalesce(col("su2"), lit(0L)))
        .select(col("id_a"), col("id_b"),
          expr("su1 * 1000 div tu_b").as("rouge1_recall_permille"),
          expr("su1 * 2000 div (tu_a + tu_b)").as("rouge1_f_permille"),
          expr("su2 * 2000 div (tb_a + tb_b)").as("rouge2_f_permille"))
        .orderBy("id_a", "id_b")
    }
  )

  // ---- DuckDB twins ----

  /** 2-shingle list over token list `w` (LlmQueries.shinglesSql, k=2). */
  private val Shingles2Sql =
    "list_transform(range(1, len(w)), i -> concat(list_extract(w, i), ' ', list_extract(w, i + 1)))"

  private val MmrDotSql =
    "list_reduce(list_transform(range(1, 65), i -> c.q[CAST(i AS INT)] * s.q[CAST(i AS INT)]), (x, y) -> x + y)"

  val oracles: Map[String, String] = Map(
    "holt_winters_forecast" -> {
      val sprev = "CASE m.dow WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END"
      val lNew = tdivSql(s"m.rev - ($sprev) + r.l + r.b", "2")
      val bNew = tdivSql(s"($lNew) - r.l + r.b", "2")
      val sNew = tdivSql(s"m.rev - ($lNew) + ($sprev)", "2")
      val sCols = (0 to 6).map(i =>
        s"CASE WHEN m.dow = $i THEN ($sNew) ELSE r.s$i END AS s$i").mkString(",\n    ")
      s"""WITH RECURSIVE daily AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |days AS (
         |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, day, rev,
         |    CAST(day % 7 AS BIGINT) AS dow
         |  FROM daily),
         |rec AS (
         |  SELECT t, day, rev, dow, rev AS l, CAST(0 AS BIGINT) AS b,
         |    CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
         |    CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4, CAST(0 AS BIGINT) AS s5,
         |    CAST(0 AS BIGINT) AS s6,
         |    CAST(0 AS BIGINT) AS seasonal, rev AS fitted
         |  FROM days WHERE t = 1
         |  UNION ALL
         |  SELECT m.t, m.day, m.rev, m.dow,
         |    $lNew AS l,
         |    $bNew AS b,
         |    $sCols,
         |    $sNew AS seasonal,
         |    r.l + r.b + ($sprev) AS fitted
         |  FROM rec r JOIN days m ON m.t = r.t + 1
         |)
         |SELECT day, rev AS rev_cents, l AS level_cents, b AS trend_cents,
         |  seasonal AS seasonal_cents, fitted AS fitted_cents
         |FROM rec ORDER BY day""".stripMargin
    },

    "mmr_diversify" -> {
      val rounds = (2 to MmrRounds).map { r =>
        s"""score$r AS (
           |  SELECT c.vec_id, c.rel, CAST(max($MmrDotSql) AS BIGINT) AS ms
           |  FROM cand c, sel${r - 1} s
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           |  GROUP BY c.vec_id, c.rel),
           |pick$r AS (
           |  SELECT CAST($r AS BIGINT) AS round, vec_id, rel, ms AS max_sim,
           |    rel - ms AS mmr_score
           |  FROM score$r ORDER BY rel - ms DESC, vec_id LIMIT 1),
           |sel$r AS MATERIALIZED (
           |  SELECT vec_id, q FROM sel${r - 1}
           |  UNION ALL SELECT c.vec_id, c.q FROM cand c JOIN pick$r p ON p.vec_id = c.vec_id)""".stripMargin
      }.mkString(",\n")
      val picks = (2 to MmrRounds).map(r =>
        s"SELECT round, vec_id, rel, max_sim, mmr_score FROM pick$r")
      s"""WITH q AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |q0 AS (SELECT q FROM q ORDER BY vec_id LIMIT 1),
         |cand AS MATERIALIZED (
         |  SELECT c.vec_id, c.q,
         |    CAST(list_reduce(list_transform(range(1, 65),
         |      i -> c.q[CAST(i AS INT)] * q0.q[CAST(i AS INT)]), (x, y) -> x + y) AS BIGINT) AS rel
         |  FROM q c CROSS JOIN q0
         |  ORDER BY rel DESC, c.vec_id LIMIT $Candidates),
         |pick1 AS (
         |  SELECT CAST(1 AS BIGINT) AS round, vec_id, rel, CAST(0 AS BIGINT) AS max_sim,
         |    rel AS mmr_score
         |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         |sel1 AS MATERIALIZED (
         |  SELECT c.vec_id, c.q FROM cand c JOIN pick1 p ON p.vec_id = c.vec_id),
         |$rounds
         |SELECT round, vec_id, rel, max_sim, mmr_score FROM pick1
         |UNION ALL ${picks.mkString("\nUNION ALL ")}
         |ORDER BY round""".stripMargin
    },

    "unicode_anomaly_scan" ->
      s"""WITH planted AS (
         |  SELECT source,
         |    CASE
         |      WHEN doc_id % 17 = 3 THEN concat(substr(text, 1, 8), chr(8203),
         |        substr(text, 9, 16), chr(8205), substr(text, 25))
         |      WHEN doc_id % 17 = 5 THEN replace(text, 'a', chr(1072))
         |      WHEN doc_id % 17 = 7 THEN concat(chr(8238), text)
         |      ELSE text END AS txt
         |  FROM documents),
         |scanned AS (
         |  SELECT source,
         |    length(txt) * 2 - length(replace(txt, chr(8203), ''))
         |      - length(replace(txt, chr(8205), '')) AS n_zw,
         |    length(txt) - length(replace(txt, chr(8238), '')) AS n_bidi,
         |    length(replace(txt, chr(1072), '')) < length(txt)
         |      AND length(regexp_replace(txt, '[a-z]', '', 'g')) < length(txt) AS mixed
         |  FROM planted)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_zw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS zw_docs,
         |  CAST(sum(CASE WHEN n_bidi > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bidi_docs,
         |  CAST(sum(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS mixed_docs,
         |  CAST(sum(CASE WHEN n_zw > 0 OR n_bidi > 0 OR mixed THEN 1 ELSE 0 END) AS BIGINT)
         |    AS suspicious_docs,
         |  CAST(sum(n_zw) AS BIGINT) AS n_zw_chars
         |FROM scanned GROUP BY source ORDER BY source""".stripMargin,

    "rouge_pairs" -> {
      val toks = TextF.TokensSql
      s"""WITH ${LlmQueries.JaccardSharedCteSql},
         |prs AS (
         |  SELECT id_a, id_b
         |  FROM shared
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) >= 200
         |),
         |tfu AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($toks) AS t FROM documents) z
         |  WHERE t <> '' GROUP BY 1, 2),
         |totu AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot FROM tfu GROUP BY doc_id),
         |tfb AS (
         |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($Shingles2Sql) AS t
         |        FROM (SELECT doc_id, $toks AS w FROM documents) w1) z
         |  GROUP BY 1, 2),
         |totb AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot FROM tfb GROUP BY doc_id),
         |m1 AS (
         |  SELECT p.id_a, p.id_b, CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS su1
         |  FROM prs p
         |  JOIN tfu ta ON ta.doc_id = p.id_a
         |  JOIN tfu tb ON tb.doc_id = p.id_b AND tb.t = ta.t
         |  GROUP BY 1, 2),
         |m2 AS (
         |  SELECT p.id_a, p.id_b, CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS su2
         |  FROM prs p
         |  JOIN tfb ta ON ta.doc_id = p.id_a
         |  JOIN tfb tb ON tb.doc_id = p.id_b AND tb.t = ta.t
         |  GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b,
         |  CAST(coalesce(m1.su1, 0) * 1000 // ub.tot AS BIGINT) AS rouge1_recall_permille,
         |  CAST(coalesce(m1.su1, 0) * 2000 // (ua.tot + ub.tot) AS BIGINT) AS rouge1_f_permille,
         |  CAST(coalesce(m2.su2, 0) * 2000 // (ba.tot + bb.tot) AS BIGINT) AS rouge2_f_permille
         |FROM prs p
         |LEFT JOIN m1 ON m1.id_a = p.id_a AND m1.id_b = p.id_b
         |LEFT JOIN m2 ON m2.id_a = p.id_a AND m2.id_b = p.id_b
         |JOIN totu ua ON ua.doc_id = p.id_a
         |JOIN totu ub ON ub.doc_id = p.id_b
         |JOIN totb ba ON ba.doc_id = p.id_a
         |JOIN totb bb ON bb.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin
    }
  )
}
