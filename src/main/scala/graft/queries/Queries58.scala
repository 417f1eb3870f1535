package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #30 — sketch SET OPERATIONS:
  *
  *  - `audience_overlap_kmv`: pairwise audience overlap between event
  *    types (audience = the daily-active (user, day) keys — exactly
  *    `distinct_kmv`'s hashed universe, same `Queries28.kmvHashed`
  *    spelling) estimated FROM THE SKETCHES ALONE, theta-sketch style:
  *    the k smallest of KMV(A) ∪ KMV(B) are provably the k smallest of
  *    A ∪ B (any of the union's k smallest is among its own set's k
  *    smallest), so jaccard ≈ |{h ≤ θ : h ∈ A ∧ h ∈ B}| / k — and for
  *    h ≤ θ ≤ θ_A, sketch membership IS set membership, so the estimate
  *    needs only the 2·k stored hashes. THIS mergeability-composes-to-
  *    set-algebra property is why warehouses keep theta/KMV sketches per
  *    segment: any pair's overlap/union estimate later, without rescanning
  *    either side. The exact jaccard rides along as the certificate
  *    (`quantile_sketch` pattern); everything is integer/hash arithmetic,
  *    so even the "approximate" columns are oracle-exact.
  */
object Queries58 extends QuerySet {
  import Queries28.{KmvK, kmvHashed, rollingHashSql}

  val defs: Map[String, Q] = Map(
    "audience_overlap_kmv" -> { (sp, dir) =>
      val hashed = graft.util.CacheScope.track(
        kmvHashed(Tables.events(sp, dir)).distinct())
      val sizes = hashed.groupBy("event_type").agg(count(lit(1)).as("n"))
      val pairsU = sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))
        .crossJoin(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")))
        .filter(col("type_a") < col("type_b"))
      val common = hashed.as("x").join(hashed.as("y"),
        col("x.h") === col("y.h") && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("c"))
      // per-type KMV sketches: everything below runs over ≤ types·k rows
      val wT = Window.partitionBy("event_type").orderBy("h")
      val sk = hashed.withColumn("rk", row_number().over(wT))
        .filter(col("rk") <= KmvK).select("event_type", "h")
      val contrib = broadcast(pairsU).join(sk,
        col("event_type") === col("type_a") || col("event_type") === col("type_b"))
        .groupBy("type_a", "type_b", "h")
        .agg(max(when(col("event_type") === col("type_a"), 1L).otherwise(0L)).as("in_a"),
          max(when(col("event_type") === col("type_b"), 1L).otherwise(0L)).as("in_b"))
      val wP = Window.partitionBy("type_a", "type_b").orderBy("h")
      val kmv = contrib.withColumn("rk", row_number().over(wP))
        .filter(col("rk") <= KmvK)
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("kmv_k_union"),
          sum(col("in_a") * col("in_b")).as("kmv_matches"))
      pairsU
        .join(common, Seq("type_a", "type_b"), "left")
        .join(kmv, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          coalesce(col("c"), lit(0L)).as("exact_common"),
          (col("n_a") + col("n_b") - coalesce(col("c"), lit(0L))).as("exact_union"),
          col("kmv_matches"), col("kmv_k_union"))
        .withColumn("jaccard_milli", expr("exact_common * 1000 div exact_union"))
        .withColumn("est_jaccard_milli", expr("kmv_matches * 1000 div kmv_k_union"))
        .withColumn("err_milli", col("est_jaccard_milli") - col("jaccard_milli"))
        .select("type_a", "type_b", "exact_common", "exact_union", "jaccard_milli",
          "kmv_matches", "kmv_k_union", "est_jaccard_milli", "err_milli")
        .orderBy("type_a", "type_b")
    }
  )

  val oracles: Map[String, String] = Map(
    "audience_overlap_kmv" -> {
      val h = rollingHashSql("k").replace("\n", " ")
      s"""WITH keys AS (
         |  SELECT event_type,
         |    concat(CAST(user_id AS VARCHAR), ':', CAST(epoch_us(ts) // 86400000000 AS VARCHAR)) AS k
         |  FROM events
         |),
         |hashed AS (SELECT DISTINCT event_type, $h AS h FROM keys),
         |sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM hashed GROUP BY 1),
         |pairs AS (
         |  SELECT a.event_type AS type_a, a.n AS n_a, b.event_type AS type_b, b.n AS n_b
         |  FROM sizes a JOIN sizes b ON a.event_type < b.event_type
         |),
         |common AS (
         |  SELECT x.event_type AS type_a, y.event_type AS type_b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM hashed x JOIN hashed y ON x.h = y.h AND x.event_type < y.event_type
         |  GROUP BY 1, 2
         |),
         |sk AS (
         |  SELECT event_type, h FROM (
         |    SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |    FROM hashed) r
         |  WHERE rk <= $KmvK
         |),
         |contrib AS (
         |  SELECT p.type_a, p.type_b, s.h,
         |    max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
         |  FROM pairs p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
         |  GROUP BY 1, 2, 3
         |),
         |unionk AS (
         |  SELECT * FROM (
         |    SELECT c.*, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk
         |    FROM contrib c) u
         |  WHERE rk <= $KmvK
         |),
         |kmv AS (
         |  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS kmv_k_union,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS kmv_matches
         |  FROM unionk GROUP BY 1, 2
         |)
         |SELECT p.type_a, p.type_b,
         |  coalesce(c.c, 0) AS exact_common,
         |  p.n_a + p.n_b - coalesce(c.c, 0) AS exact_union,
         |  CAST(coalesce(c.c, 0) * 1000 // (p.n_a + p.n_b - coalesce(c.c, 0)) AS BIGINT)
         |    AS jaccard_milli,
         |  k.kmv_matches, k.kmv_k_union,
         |  CAST(k.kmv_matches * 1000 // k.kmv_k_union AS BIGINT) AS est_jaccard_milli,
         |  CAST(k.kmv_matches * 1000 // k.kmv_k_union
         |    - coalesce(c.c, 0) * 1000 // (p.n_a + p.n_b - coalesce(c.c, 0)) AS BIGINT)
         |    AS err_milli
         |FROM pairs p
         |LEFT JOIN common c ON c.type_a = p.type_a AND c.type_b = p.type_b
         |JOIN kmv k ON k.type_a = p.type_a AND k.type_b = p.type_b
         |ORDER BY p.type_a, p.type_b""".stripMargin
    }
  )
}
