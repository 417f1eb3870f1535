package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SimF
import graft.operators.RangeJoin

/** SURVEY §2 batch 3: ASN lookup (second consumer of the range-join
  * operator), embedding-cosine near-dup dedup (LSH-bucketed — the 100 TB
  * shape: candidate pairs only within buckets), and an IVF-style ANN query
  * (centroid assignment + nprobe cell search — the scale path beyond
  * brute force).
  */
object Queries3 extends QuerySet {
  /** 64 synthetic ASN ranges, one per aligned 2^26 block. */
  private val AsnBlock = 67108864L

  private def dotF(a: String, b: String) = SimF.dot(col(a), col(b))

  // ---- dedup_embedding constants (shared Spark ↔ oracle) ----------------
  private val Dim = 64 // embedding dimensionality of the test corpus
  private val Bands = 4 // SRP-LSH bands
  private val BandBits = 16 // bits per band → 65536 buckets per band
  private[queries] val PlantEvery = 25 // every 25th vector gets a planted near-dup
  private[queries] val PlantOffset = 1000000L // planted ids = vec_id + offset
  private val HotBucketCap = 10000 // skew guard: skip buckets larger than this

  /** embeddings (as double vectors) UNION deterministic planted near-dups:
    * every `PlantEvery`-th vector re-emitted at id+`PlantOffset` with ±2%
    * md5-seeded additive noise (cosine ≈ 0.996 to its base). Identical
    * formula in the DuckDB oracle — without planted pairs the ≥0.95 dedup
    * threshold never fires on the random corpus and the query is vacuous. */
  private[queries] def augmentedEmbeddings(sp: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val noisy = transform(col("embedding"), (x, i) => {
      val h = md5(concat(lit("nd:"), col("vec_id").cast("string"), lit(":"), i.cast("string")).cast("binary"))
      val digit = (instr(lit("0123456789abcdef"), substring(h, 1, 1)) - 1).cast("double")
      x.cast("double") + lit(0.02) * ((digit - lit(7.5)) / lit(7.5))
    })
    // NB: noise is seeded with the ORIGINAL vec_id, so the id offset happens
    // in a second select — aliasing `vec_id + offset AS vec_id` in the same
    // projection would lateral-resolve the lambda's vec_id to the offset id
    // (verified: both Spark and DuckDB do this).
    val planted = Tables.embeddings(sp, dir)
      .filter(col("vec_id") % PlantEvery === 0)
      .select(col("vec_id"), noisy.as("v"))
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("v"))
    base.unionByName(planted)
  }

  /** Banded SRP-LSH near-dup search: 4 × 16-bit signature tables, candidate
    * pairs only within (band, bucket) — shuffle ∝ Bands·N, never N²; a
    * hot-bucket cap bounds the worst key. All bands ride one exploded
    * (band, bucket) key → ONE self-join. Near-dups collide in ≥1 band
    * w.h.p. (cos≈0.996 → P[16 bits agree] ≈ 0.63/band).
    * Returns (signatures, cosine-verified pairs with `cos`). */
  private def nearDupPipeline(sp: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sigs = graft.util.CacheScope.track(augmentedEmbeddings(sp, dir)
      .select(col("vec_id"), col("v"), SimF.norm(col("v")).as("nrm"),
        SimF.srpBands(col("v"), Bands, BandBits, Dim).as("bands"))
    ) // feeds the band join + the verify step; caller releases via CacheScope
    val ex = sigs.select(col("vec_id"), posexplode(col("bands")))
      .select(col("vec_id"), col("pos").as("b"), col("col").as("bk"))
    val ok = ex.groupBy("b", "bk").agg(count(lit(1)).as("n"))
      .filter(col("n") <= HotBucketCap).select("b", "bk")
    val exF = ex.join(ok, Seq("b", "bk")) // hot-bucket cap pre-join
    val cand = exF.select(col("b"), col("bk"), col("vec_id").as("id_a"))
      .join(exF.select(col("b"), col("bk"), col("vec_id").as("id_b")), Seq("b", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // cosine verification of the candidate set only
    val verified = cand
      .join(sigs.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(sigs.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", dotF("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.95)
    (sigs, verified)
  }

  val defs: Map[String, Q] = Map(
    "ip_asn_lookup" -> { (sp, dir) =>
      import sp.implicits._
      val ranges = (0 until 64).map { i =>
        (i * AsnBlock, i * AsnBlock + AsnBlock - 1, 64512L + i, s"AS-ORG-$i")
      }.toDF("lo", "hi", "ip_asn", "ip_organization")
      val facts = Synth.withRaw(Tables.events(sp, dir))
        .withColumn("ipnum", graft.functions.IpF.ipv4ToLong(col("ip")))
      RangeJoin.leftJoinRanges(facts, col("ipnum"), ranges, "lo", "hi", bucketBits = 26)
        .select(col("event_id"), col("ip_asn"), col("ip_organization"))
        .orderBy("event_id")
    },

    "dedup_embedding" -> { (sp, dir) =>
      val (_, verified) = nearDupPipeline(sp, dir)
      verified
        .select(col("id_a"), col("id_b"), round(col("cos") * 1e6).cast("bigint").as("cos_e6"))
        .orderBy("id_a", "id_b")
    },

    "dedup_cluster" -> { (sp, dir) =>
      // transitive closure over the verified near-dup pairs: A~B, B~C puts
      // A, B, C in ONE cluster even when A and C never collided directly —
      // min-label propagation, one shuffle per round, O(diameter) rounds
      val (_, verified) = nearDupPipeline(sp, dir)
      val edges = verified.select(col("id_a").as("src"), col("id_b").as("dst"))
      graft.operators.ConnectedComponents.run(edges)
        .select(col("id").as("vec_id"), col("comp").as("component"))
        .orderBy("vec_id")
    },

    "dedup_embedding_keep" -> { (sp, dir) =>
      // the MATERIALIZATION step: ship the corpus with the higher id of
      // every verified near-dup pair dropped (keep-lowest; the embedding
      // twin of dedup_keep_first)
      val (sigs, verified) = nearDupPipeline(sp, dir)
      sigs.select(col("vec_id"))
        .join(verified.select(col("id_b").as("vec_id")).distinct(), Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    },

    "ann_ivf_kmeans" -> { (sp, dir) =>
      // the TRAINED path: operators.KMeans Lloyd centroids instead of the
      // first-16 demo seeds — the INTEGER-MICRO variant, so training is
      // bit-identical across engines (every sum is an exact 64-bit integer
      // sum; the only FP ops are sqrt/×/÷ over those exact integers) and
      // the DuckDB twin unrolls the same three Lloyd iterations to the
      // same centroids. One row per cell: population + exact centroid
      // checksums (component sum and L1 mass in micro units).
      val embT = Tables.embeddings(sp, dir)
      val cents = graft.operators.KMeans.fitMicro(embT, "embedding", "vec_id", k = 8, maxIter = 3)
      val counts = embT
        .select(graft.operators.KMeans.quantizeMicro(col("embedding")).as("v"))
        .select(graft.operators.KMeans.assignCellMicro(col("v"), cents).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      import sp.implicits._
      val centRows = cents.zipWithIndex.map { case (c, i) =>
        (i.toLong, c.sum, c.foldLeft(0L)((a, x) => a + math.abs(x)))
      }.toDF("cell", "cent_sum", "cent_l1")
      centRows.join(counts, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
          col("cent_sum"), col("cent_l1"))
        .orderBy("cell")
    },

    "ann_ivf" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      // "trained" centroids (the first 16 vectors — operators.KMeans is the
      // real trainer) COLLECTED to the driver: 16×64 floats. Centroids are
      // tiny by definition; the corpus is not — so assignment becomes a
      // NARROW projection against centroid literals (zero joins, zero
      // windows, zero shuffle for the N-row side), not a 16N-row shuffle.
      val cents: Seq[(Long, Seq[Double], Double)] = embT
        .filter(col("vec_id") < 16).orderBy("vec_id")
        .select(col("vec_id"), col("embedding"))
        .collect().toSeq
        .map { r =>
          val cv = r.getSeq[Float](1).map(_.toDouble).toSeq // float→double is exact
          // same left-fold-in-double norm the oracle computes
          val cn = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
          (r.getLong(0), cv, cn)
        }
      val withNorm = embT.select(col("vec_id"), col("embedding"), SimF.norm(col("embedding")).as("nrm"))
      val assign = withNorm.select(
        col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"),
        SimF.argmaxCell(col("embedding"), col("nrm"), cents).as("cell"))
      // nprobe=2 cells per query vector, also a narrow projection: sort the
      // 16 (sim, -cid) structs ascending, take the top 2 from the tail
      // hoist the sorted sims array into ONE projected column so the
      // vecmatmul + sort_array kernel runs once per query row, not once per
      // element_at reference
      val qcells = broadcast(
        withNorm.filter(col("vec_id") < 5)
          .withColumn("sq", sort_array(SimF.cellSims(col("embedding"), col("nrm"), cents)))
          .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"),
            explode(array(
              element_at(col("sq"), 16).getField("negc") * -1L,
              element_at(col("sq"), 15).getField("negc") * -1L)).as("cell")))
      // search only within probed cells
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      assign.join(qcells, "cell")
        .filter(col("nid") =!= col("qid"))
        .withColumn("cos", dotF("qv", "nv") / (col("qn") * col("nn")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk"), col("nid"), round(col("cos") * 1e6).cast("bigint").as("cos_e6"))
        .orderBy("qid", "rk")
    }
  )

  /** The augmented-embeddings CTE (base ∪ planted near-dups) — the DuckDB
    * twin of [[augmentedEmbeddings]]; shared with Queries11's semdedup. */
  private[queries] val AugSqlCte: String =
    s"""aug AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |  UNION ALL
       |  SELECT base_id + $PlantOffset AS vec_id, v FROM (
       |    SELECT vec_id AS base_id,
       |      list_transform(range(1, len(embedding) + 1), i ->
       |        CAST(list_extract(embedding, i) AS DOUBLE)
       |        + 0.02 * ((CAST(strpos('0123456789abcdef', substr(md5(concat('nd:', vec_id, ':', i - 1)), 1, 1)) - 1 AS DOUBLE) - 7.5) / 7.5)) AS v
       |    FROM embeddings WHERE vec_id % $PlantEvery = 0) pl
       |)""".stripMargin

  /** Left-fold double dot product — identical evaluation order in both
    * engines (shared with Queries11). */
  private[queries] def dotSqlShared(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST(list_extract($a, i) AS DOUBLE) * CAST(list_extract($b, i) AS DOUBLE)), (x, y) -> x + y)"

  /** One unrolled integer-micro Lloyd iteration (assignment + truncating
    * integer-mean update + empty-cell carry) — the DuckDB twin of one
    * `KMeans.fitMicro` round. All sums are exact BIGINTs; the cosine used
    * for ranking is `dot / (sqrt(nv2) * sqrt(nc2))` over those exact
    * integers, the same three correctly-rounded IEEE ops Spark evaluates. */
  private[queries] def kmeansIterSql(t: Int, prev: String): String =
    s"""a$t AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT j.vec_id, j.cell,
       |      row_number() OVER (PARTITION BY j.vec_id ORDER BY
       |        CAST(j.dot AS DOUBLE) / (sqrt(CAST(nv.nv2 AS DOUBLE)) * sqrt(CAST(nc.nc2 AS DOUBLE))) DESC, j.cell) AS rk
       |    FROM (SELECT d.vec_id, c.cell, CAST(sum(d.x * c.c) AS BIGINT) AS dot
       |          FROM qd d JOIN $prev c ON d.i = c.i GROUP BY d.vec_id, c.cell) j
       |    JOIN nv ON nv.vec_id = j.vec_id
       |    JOIN (SELECT cell, CAST(sum(c * c) AS BIGINT) AS nc2 FROM $prev GROUP BY cell) nc
       |      ON nc.cell = j.cell
       |  ) r WHERE rk = 1
       |),
       |m$t AS (
       |  SELECT a$t.cell, d.i,
       |    CAST(sum(d.x) AS BIGINT) // count(*) AS c
       |  FROM a$t JOIN qd d ON d.vec_id = a$t.vec_id GROUP BY a$t.cell, d.i
       |),
       |c$t AS (
       |  SELECT p.cell, p.i, coalesce(m$t.c, p.c) AS c
       |  FROM $prev p LEFT JOIN m$t ON m$t.cell = p.cell AND m$t.i = p.i
       |)""".stripMargin

  /** The q→qd→nv→c0→(3 Lloyd iterations)→c3 CTE chain (k=8, maxIter=3) —
    * the DuckDB twin of `KMeans.fitMicro(_, k = 8, maxIter = 3)`. ONE
    * spelling shared by ann_ivf_kmeans and the centroid-overlap audit.
    * NOTE: no WITH keyword and no trailing comma. */
  private[queries] lazy val KmeansC3CteSql: String =
    s"""q AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings
       |),
       |qd AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS i, v[CAST(i AS INTEGER)] AS x
       |  FROM q, range(1, 65) t(i)
       |),
       |nv AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nv2 FROM qd GROUP BY vec_id),
       |c0 AS (
       |  SELECT s.cell, qd.i, qd.x AS c
       |  FROM (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
       |        FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT 8) z) s
       |  JOIN qd ON qd.vec_id = s.vec_id
       |),
       |${kmeansIterSql(1, "c0")},
       |${kmeansIterSql(2, "c1")},
       |${kmeansIterSql(3, "c2")}""".stripMargin

  val oracles: Map[String, String] = {
    def dotSql(a: String, b: String): String = dotSqlShared(a, b)
    // one SRP sign bit with plane seed `seed` over column `v`
    def bitSql(seed: Int, bitPos: Int, v: String): String = {
      val proj = s"list_reduce(list_transform(range(1, len($v) + 1), i -> " +
        s"CAST(list_extract($v, i) AS DOUBLE) * " +
        s"(CAST(strpos('0123456789abcdef', substr(md5(concat('$seed:', i - 1)), 1, 1)) - 1 AS DOUBLE) - 7.5)), (x, y) -> x + y)"
      s"CASE WHEN $proj >= 0 THEN ${1 << bitPos} ELSE 0 END"
    }
    // 16-bit band `b` bucket (plane seeds b*64+bit, mirroring SimF.srpBucketFast)
    def bandSql(b: Int, v: String): String =
      (0 until BandBits).map(bit => bitSql(b * 64 + bit, bit, v)).mkString(" + ")
    val candUnion = (0 until Bands).map { b =>
      s"""    SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |    FROM sigs a JOIN sigs b ON a.band$b = b.band$b AND a.vec_id < b.vec_id
         |    WHERE a.band$b IN (SELECT band$b FROM sigs GROUP BY band$b HAVING count(*) <= $HotBucketCap)""".stripMargin
    }.mkString("\n    UNION ALL\n")
    // shared by dedup_embedding (pairs) and dedup_embedding_keep (corpus)
    val dedupCtes =
      s"""WITH ${Queries3.AugSqlCte}, sigs AS (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm,
         |    ${(0 until Bands).map(b => s"${bandSql(b, "v")} AS band$b").mkString(",\n    ")}
         |  FROM aug
         |), cand AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |$candUnion
         |  ) u
         |)""".stripMargin

    Map(
      "ip_asn_lookup" -> Synth.withCte(
        s"""SELECT event_id,
           |  64512 + ipnum // $AsnBlock AS ip_asn,
           |  concat('AS-ORG-', ipnum // $AsnBlock) AS ip_organization
           |FROM (
           |  SELECT event_id,
           |    (event_id % 223 + 1) * 16777216 + ((event_id*7) % 256) * 65536
           |      + ((event_id*13) % 256) * 256 + (event_id*29) % 256 AS ipnum
           |  FROM raw) t ORDER BY event_id""".stripMargin),

      "dedup_embedding" ->
        s"""$dedupCtes
           |SELECT id_a, id_b,
           |  CAST(round((${dotSql("sa.v", "sb.v")} / (sa.nrm * sb.nrm)) * 1e6) AS BIGINT) AS cos_e6
           |FROM cand JOIN sigs sa ON sa.vec_id = id_a JOIN sigs sb ON sb.vec_id = id_b
           |WHERE ${dotSql("sa.v", "sb.v")} / (sa.nrm * sb.nrm) >= 0.95
           |ORDER BY id_a, id_b""".stripMargin,

      "dedup_cluster" ->
        s"""${dedupCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |pairs AS (
           |  SELECT id_a, id_b
           |  FROM cand JOIN sigs sa ON sa.vec_id = id_a JOIN sigs sb ON sb.vec_id = id_b
           |  WHERE ${dotSql("sa.v", "sb.v")} / (sa.nrm * sb.nrm) >= 0.95
           |),
           |edges AS (
           |  SELECT id_a AS s, id_b AS d FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs
           |),
           |reach(id, r) AS (
           |  SELECT s, s FROM edges
           |  UNION
           |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
           |)
           |SELECT id AS vec_id, min(r) AS component
           |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

      "dedup_embedding_keep" ->
        s"""$dedupCtes,
           |dropped AS (
           |  SELECT DISTINCT id_b
           |  FROM cand JOIN sigs sa ON sa.vec_id = id_a JOIN sigs sb ON sb.vec_id = id_b
           |  WHERE ${dotSql("sa.v", "sb.v")} / (sa.nrm * sb.nrm) >= 0.95
           |)
           |SELECT vec_id FROM aug
           |WHERE vec_id NOT IN (SELECT id_b FROM dropped)
           |ORDER BY vec_id""".stripMargin,

      // dim is fixed at 64 by the embeddings table (TESTDATA.md); the Spark
      // side reads len() dynamically, the unrolled SQL pins it
      "ann_ivf_kmeans" ->
        s"""WITH $KmeansC3CteSql,
           |a4 AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT j.vec_id, j.cell,
           |      row_number() OVER (PARTITION BY j.vec_id ORDER BY
           |        CAST(j.dot AS DOUBLE) / (sqrt(CAST(nv.nv2 AS DOUBLE)) * sqrt(CAST(nc.nc2 AS DOUBLE))) DESC, j.cell) AS rk
           |    FROM (SELECT d.vec_id, c.cell, CAST(sum(d.x * c.c) AS BIGINT) AS dot
           |          FROM qd d JOIN c3 c ON d.i = c.i GROUP BY d.vec_id, c.cell) j
           |    JOIN nv ON nv.vec_id = j.vec_id
           |    JOIN (SELECT cell, CAST(sum(c * c) AS BIGINT) AS nc2 FROM c3 GROUP BY cell) nc
           |      ON nc.cell = j.cell
           |  ) r WHERE rk = 1
           |)
           |SELECT cs.cell, coalesce(p.n_vectors, 0) AS n_vectors, cs.cent_sum, cs.cent_l1
           |FROM (SELECT cell, CAST(sum(c) AS BIGINT) AS cent_sum, CAST(sum(abs(c)) AS BIGINT) AS cent_l1
           |      FROM c3 GROUP BY cell) cs
           |LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors FROM a4 GROUP BY cell) p
           |  ON p.cell = cs.cell
           |ORDER BY cs.cell""".stripMargin,

      "ann_ivf" ->
        s"""WITH e AS (
           |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings
           |), cent AS (
           |  SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 16
           |), assign AS (
           |  SELECT vec_id AS nid, embedding AS nv, nrm AS nn, cid AS cell
           |  FROM (
           |    SELECT e.*, cent.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${dotSql("e.embedding", "cent.cv")} / (e.nrm * cent.cn) DESC, cent.cid) AS rk
           |    FROM e, cent
           |  ) t WHERE rk = 1
           |), qcells AS (
           |  SELECT qid, qv, qn, cid AS cell
           |  FROM (
           |    SELECT e.vec_id AS qid, e.embedding AS qv, e.nrm AS qn, cent.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${dotSql("e.embedding", "cent.cv")} / (e.nrm * cent.cn) DESC, cent.cid) AS prk
           |    FROM e, cent WHERE e.vec_id < 5
           |  ) t WHERE prk <= 2
           |)
           |SELECT qid, rk, nid,
           |  CAST(round((${dotSql("qv", "nv")} / (qn * nn)) * 1e6) AS BIGINT) AS cos_e6
           |FROM (
           |  SELECT qcells.qid, assign.nid, qcells.qv, qcells.qn, assign.nv, assign.nn,
           |    row_number() OVER (PARTITION BY qcells.qid
           |      ORDER BY ${dotSql("qv", "nv")} / (qn * nn) DESC, assign.nid) AS rk
           |  FROM assign JOIN qcells ON assign.cell = qcells.cell
           |  WHERE assign.nid <> qcells.qid
           |) t WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
    )
  }
}
