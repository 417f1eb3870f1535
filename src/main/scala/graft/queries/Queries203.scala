package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-15 batch #4 — distribution-distance, shape, and process-mining
  * screens, all over BOUNDED histograms / type universes:
  *
  *  - `emd_price_regions`: exact 1-D earth-mover's distance between every
  *    region pair's order-value distributions, on the $10k-bucket
  *    histogram with per-mille masses — EMD over a sorted 1-D histogram
  *    is Σ|cumulative mass difference|, an integer given integer masses.
  *    The canonical "did region A's price mix shift away from B"
  *    comparison, O(regions² × buckets) after one scan-linear rollup.
  *  - `bimodality_screen`: per market segment, the deepest histogram
  *    valley flanked by higher mass on BOTH sides (depth = min(max mass
  *    left, max mass right) − mass at the valley, in per-mille) — the
  *    cheap dip screen that flags a mixed population (two price regimes)
  *    before anyone fits a unimodal model. Running-max windows over the
  *    bounded $5k-bucket domain, partitioned by segment.
  *  - `eventually_follows_matrix`: process-mining's eventually-follows
  *    relation over user event streams — for each ordered event-type pair
  *    (a, b), how many users have SOME a before SOME b (first_ts(a) <
  *    last_ts(b)), vs the markov_transitions directly-follows matrix.
  *    Per-user type profile is ≤ |type universe| rows, so the pair join
  *    is user-keyed and bounded per user.
  *  - `moment_profile`: exact raw-moment sufficient statistics (S1..S4 in
  *    $1k units, all BIGINT-exact at this quantization) of order value
  *    per priority — the distribution-shape feed (skewness/kurtosis
  *    finish as driver-side scalar folds) that, like kruskal_wallis,
  *    ships the exact integers instead of cross-engine doubles.
  */
object Queries203 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "emd_price_regions" -> { (sp, dir) =>
      val geo = Tables.customer(sp, dir)
        .join(Tables.nation(sp, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(sp, dir), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      val masses = Tables.orders(sp, dir)
        .join(geo, col("o_custkey") === col("c_custkey"))
        .select(col("r_name"), expr("CAST(round(o_totalprice) AS BIGINT) div 10000").as("bucket"))
        .groupBy("r_name", "bucket").agg(count(lit(1)).as("cnt"))
        .withColumn("total", sum("cnt").over(Window.partitionBy("r_name")))
        .select(col("r_name"), col("bucket"), expr("cnt * 1000 div total").as("pm"))
      // zero-fill the bucket universe per region so cumulative diffs align
      val buckets = masses.select("bucket").distinct()
      val regions = masses.select("r_name").distinct()
      val grid = regions.crossJoin(buckets)
        .join(masses, Seq("r_name", "bucket"), "left")
        .select(col("r_name"), col("bucket"), coalesce(col("pm"), lit(0L)).as("pm"))
      val cum = Window.partitionBy("ra", "rb").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.toDF("ra", "bucket", "pa")
        .join(grid.toDF("rb", "bucket", "pb"), "bucket")
        .filter(col("ra") < col("rb"))
        .withColumn("cumdiff", sum(col("pa") - col("pb")).over(cum))
        .groupBy("ra", "rb")
        .agg(sum(abs(col("cumdiff"))).as("emd_pm_buckets"))
        .orderBy("ra", "rb")
    },

    "bimodality_screen" -> { (sp, dir) =>
      val masses = Tables.orders(sp, dir)
        .join(Tables.customer(sp, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          expr("CAST(round(o_totalprice) AS BIGINT) div 5000").as("bucket"))
        .groupBy("seg", "bucket").agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum("cnt").over(Window.partitionBy("seg")))
        .select(col("seg"), col("bucket"), col("n"), expr("cnt * 1000 div n").as("pm"))
      val wL = Window.partitionBy("seg").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wR = Window.partitionBy("seg").orderBy("bucket")
        .rowsBetween(1, Window.unboundedFollowing)
      val depths = masses
        .withColumn("maxl", max("pm").over(wL))
        .withColumn("maxr", max("pm").over(wR))
        .filter(col("maxl").isNotNull && col("maxr").isNotNull)
        .withColumn("depth_pm", least(col("maxl"), col("maxr")) - col("pm"))
      depths
        .withColumn("rk", row_number().over(
          Window.partitionBy("seg").orderBy(col("depth_pm").desc, col("bucket"))))
        .filter(col("rk") === 1)
        .select(col("seg"), col("n").as("n_orders"),
          col("bucket").as("valley_bucket"), col("depth_pm"))
        .orderBy("seg")
    },

    "eventually_follows_matrix" -> { (sp, dir) =>
      val prof = Tables.events(sp, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"))
      prof.select(col("user_id"), col("event_type").as("a"), col("first_us"))
        .join(prof.select(col("user_id"), col("event_type").as("b"), col("last_us")),
          "user_id")
        .filter(col("a") =!= col("b") && col("first_us") < col("last_us"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_users"))
        .orderBy("a", "b")
    },

    "moment_profile" -> { (sp, dir) =>
      Tables.orders(sp, dir)
        .select(col("o_orderpriority").as("grp"),
          expr("CAST(round(o_totalprice) AS BIGINT) div 1000").as("k"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          sum("k").as("s1"),
          sum(expr("k * k")).as("s2"),
          sum(expr("k * k * k")).as("s3"),
          sum(expr("k * k * k * k")).as("s4"))
        .orderBy("grp")
    }
  )

  val oracles: Map[String, String] = Map(
    "emd_price_regions" ->
      """WITH masses AS (
        |  SELECT r_name, CAST(round(o_totalprice) AS BIGINT) // 10000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |), pmm AS (
        |  SELECT r_name, bucket,
        |    cnt * 1000 // CAST(sum(cnt) OVER (PARTITION BY r_name) AS BIGINT) AS pm
        |  FROM masses
        |), grid AS (
        |  SELECT r.r_name, b.bucket, coalesce(pm, 0) AS pm
        |  FROM (SELECT DISTINCT r_name FROM pmm) r
        |  CROSS JOIN (SELECT DISTINCT bucket FROM pmm) b
        |  LEFT JOIN pmm ON pmm.r_name = r.r_name AND pmm.bucket = b.bucket
        |), diffs AS (
        |  SELECT a.r_name AS ra, b.r_name AS rb, a.bucket,
        |    CAST(sum(a.pm - b.pm) OVER (PARTITION BY a.r_name, b.r_name ORDER BY a.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumdiff
        |  FROM grid a JOIN grid b ON a.bucket = b.bucket AND a.r_name < b.r_name
        |)
        |SELECT ra, rb, CAST(sum(abs(cumdiff)) AS BIGINT) AS emd_pm_buckets
        |FROM diffs GROUP BY ra, rb ORDER BY ra, rb""".stripMargin,

    "bimodality_screen" ->
      """WITH masses AS (
        |  SELECT c_mktsegment AS seg, CAST(round(o_totalprice) AS BIGINT) // 5000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |), pmm AS (
        |  SELECT seg, bucket,
        |    CAST(sum(cnt) OVER (PARTITION BY seg) AS BIGINT) AS n,
        |    cnt * 1000 // CAST(sum(cnt) OVER (PARTITION BY seg) AS BIGINT) AS pm
        |  FROM masses
        |), depths AS (
        |  SELECT seg, bucket, n,
        |    least(max(pm) OVER (PARTITION BY seg ORDER BY bucket
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          max(pm) OVER (PARTITION BY seg ORDER BY bucket
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) - pm AS depth_pm,
        |    max(pm) OVER (PARTITION BY seg ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxl,
        |    max(pm) OVER (PARTITION BY seg ORDER BY bucket
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS maxr
        |  FROM pmm
        |), ranked AS (
        |  SELECT seg, n, bucket, depth_pm,
        |    row_number() OVER (PARTITION BY seg ORDER BY depth_pm DESC, bucket) AS rk
        |  FROM depths WHERE maxl IS NOT NULL AND maxr IS NOT NULL
        |)
        |SELECT seg, n AS n_orders, bucket AS valley_bucket,
        |  CAST(depth_pm AS BIGINT) AS depth_pm
        |FROM ranked WHERE rk = 1 ORDER BY seg""".stripMargin,

    "eventually_follows_matrix" ->
      """WITH prof AS (
        |  SELECT user_id, event_type,
        |    min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.event_type AS a, b.event_type AS b,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM prof a JOIN prof b ON a.user_id = b.user_id
        |WHERE a.event_type <> b.event_type AND a.first_us < b.last_us
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin,

    "moment_profile" ->
      """SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS s1,
        |  CAST(sum(k * k) AS BIGINT) AS s2,
        |  CAST(sum(k * k * k) AS BIGINT) AS s3,
        |  CAST(sum(k * k * k * k) AS BIGINT) AS s4
        |FROM (SELECT o_orderpriority, CAST(round(o_totalprice) AS BIGINT) // 1000 AS k
        |      FROM orders) t
        |GROUP BY grp ORDER BY grp""".stripMargin
  )
}
