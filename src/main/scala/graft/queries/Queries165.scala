package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch #8 — experiment screens, cross-device behavior, LSH
  * capacity planning, and the runtime-filter join surface:
  *
  *  - `odds_ratio_screen`: the per-segment 2×2 odds-ratio screen over
  *    user conversion (exposure = user parity, conversion = any purchase
  *    event) — OR in exact milli-units via cross-multiplied integer
  *    counts, flagged outside [0.5, 2]; Simpson's-paradox-safe because
  *    the segments are reported, not pooled. One user rollup + one
  *    bounded segment rollup.
  *  - `device_handoff_matrix`: platform→platform transition counts over
  *    each user's consecutive events (Synth platform codes) with row
  *    share per-mille — the cross-device behavior read under identity
  *    stitching (markov_transitions' device-keyed sibling). ONE
  *    hash-partitioned window by user + a bounded (≤10×10) rollup.
  *  - `lsh_bucket_histogram`: the LSH capacity plan — per (band,
  *    log₂-size tier): bucket count, doc mass, and implied candidate
  *    pairs Σs(s−1)/2 over the MinHash band buckets (Queries6's exact
  *    signature spelling). THE pre-flight for 100 TB dedup: the pair
  *    mass is the shuffle the band join will pay, read from a
  *    key-shrinking aggregate BEFORE paying it.
  *  - `runtime_filter_join`: Spark's runtime bloom-filter join under the
  *    oracle gate — a selective dim filter (URGENT orders) injected as a
  *    bloom `might_contain` on the fact scan (thresholds dropped so the
  *    rewrite fires at test SF; the spec pins the plan). Same bits as
  *    the plain join, the fact side skips ~80% of rows before the
  *    shuffle at cluster scale.
  */
object Queries165 extends QuerySet {
  private val Segments = 5

  val defs: Map[String, Q] = Map(
    "odds_ratio_screen" -> { (sp, dir) =>
      val users = Tables.events(sp, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("segment", expr(s"user_id % $Segments"))
        .withColumn("exposed", expr("CASE WHEN user_id div 5 % 2 = 0 THEN 1 ELSE 0 END"))
      users.groupBy("segment")
        .agg(sum(expr("exposed * conv")).as("a"),
          sum(expr("exposed * (1 - conv)")).as("b"),
          sum(expr("(1 - exposed) * conv")).as("c"),
          sum(expr("(1 - exposed) * (1 - conv)")).as("d"))
        .withColumn("or_milli",
          when(col("b") * col("c") > 0, expr("a * d * 1000 div (b * c)")).otherwise(lit(null)))
        .withColumn("flagged",
          when(col("or_milli").isNull || col("or_milli") > 2000 || col("or_milli") < 500, 1L)
            .otherwise(0L))
        .orderBy("segment")
    },

    "device_handoff_matrix" -> { (sp, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val hops = Queries2.raw(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("platform_code"))
        .withColumn("prev_platform", lag("platform_code", 1).over(byUser))
        .filter(col("prev_platform").isNotNull)
        .groupBy(col("prev_platform"), col("platform_code").as("platform"))
        .agg(count(lit(1)).as("cnt"))
      val rowTot = hops.groupBy("prev_platform").agg(sum("cnt").as("row_n"))
      hops.join(rowTot, "prev_platform")
        .select(col("prev_platform"), col("platform"), col("cnt"),
          expr("cnt * 1000 div row_n").as("share_permille"))
        .orderBy("prev_platform", "platform")
    },

    "lsh_bucket_histogram" -> { (sp, dir) =>
      val sigs = Queries6.minhashSigs(sp, dir)
      val ex = sigs.select(col("doc_id"),
          posexplode(array(col("band0"), col("band1"))))
        .select(col("pos").as("band"), col("col").as("bucket"))
      ex.groupBy("band", "bucket").agg(count(lit(1)).as("s"))
        .withColumn("tier", length(bin(col("s"))) - 1) // ⌊log₂ s⌋
        .groupBy(col("band").cast("long").as("band"), col("tier").cast("long").as("tier"))
        .agg(count(lit(1)).as("n_buckets"), sum("s").as("n_docs"),
          sum(expr("s * (s - 1) div 2")).as("cand_pairs"))
        .orderBy("band", "tier")
    },

    "runtime_filter_join" -> { (sp, dir) =>
      val keep = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold"
      ).map(k => k -> sp.conf.getOption(k)).toMap
      sp.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      sp.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      sp.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // a broadcast join plans no runtime filter — force the shuffle join
      // shape the rewrite targets (at cluster scale the dim exceeds the
      // broadcast threshold on its own)
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val urgent = Tables.orders(sp, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        Tables.lineitem(sp, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .join(urgent, "o_orderkey")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_lines"), sum("cents").as("revenue_cents"))
          .orderBy("l_returnflag")
          // eager materialization while the runtime-filter confs are on
          .localCheckpoint(true)
      } finally keep.foreach {
        case (k, Some(v)) => sp.conf.set(k, v)
        case (k, None) => sp.conf.unset(k)
      }
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "odds_ratio_screen" ->
      s"""WITH users AS (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY user_id),
         |seg AS (
         |  SELECT user_id % $Segments AS segment,
         |    CASE WHEN user_id // 5 % 2 = 0 THEN 1 ELSE 0 END AS exposed, conv
         |  FROM users),
         |cells AS (
         |  SELECT segment,
         |    CAST(sum(exposed * conv) AS BIGINT) AS a,
         |    CAST(sum(exposed * (1 - conv)) AS BIGINT) AS b,
         |    CAST(sum((1 - exposed) * conv) AS BIGINT) AS c,
         |    CAST(sum((1 - exposed) * (1 - conv)) AS BIGINT) AS d
         |  FROM seg GROUP BY segment)
         |SELECT segment, a, b, c, d,
         |  CASE WHEN b * c > 0 THEN CAST(a * d * 1000 // (b * c) AS BIGINT)
         |       ELSE NULL END AS or_milli,
         |  CAST(CASE WHEN b * c = 0 OR a * d * 1000 // (b * c) > 2000
         |    OR a * d * 1000 // (b * c) < 500 THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM cells ORDER BY segment""".stripMargin,

    "device_handoff_matrix" -> Synth.withCte(
      """SELECT prev_platform, platform, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(*) * 1000 // (sum(count(*)) OVER (PARTITION BY prev_platform))
        |    AS BIGINT) AS share_permille
        |FROM (
        |  SELECT lag(platform_code) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_platform,
        |    platform_code AS platform
        |  FROM raw) t
        |WHERE prev_platform IS NOT NULL
        |GROUP BY prev_platform, platform
        |ORDER BY prev_platform, platform""".stripMargin),

    "lsh_bucket_histogram" ->
      s"""WITH ${Queries6.MinhashComponentsCteSql},
         |sigs AS (
         |  SELECT doc_id,
         |    md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
         |    md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
         |  FROM comps),
         |ex AS (
         |  SELECT 0 AS band, band0 AS bucket FROM sigs
         |  UNION ALL
         |  SELECT 1 AS band, band1 AS bucket FROM sigs),
         |buckets AS (
         |  SELECT band, bucket, CAST(count(*) AS BIGINT) AS s
         |  FROM ex GROUP BY band, bucket)
         |SELECT CAST(band AS BIGINT) AS band,
         |  CAST(length(bin(s)) - 1 AS BIGINT) AS tier,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(s) AS BIGINT) AS n_docs,
         |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
         |FROM buckets GROUP BY 1, 2 ORDER BY band, tier""".stripMargin,

    "runtime_filter_join" ->
      """SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin
  )
}
