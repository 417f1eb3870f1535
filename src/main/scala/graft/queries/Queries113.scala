package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions

/** Round-9 batch #33 — a native aggregate, a new operator class, and the
  * DSAR surface:
  *
  *  - `bitmap_distinct`: distinct users per (event_type, day) through the
  *    new [[graft.plans.BitmapDistinct]] `TypedImperativeAggregate` —
  *    roaring-style container bitmaps as mergeable partials, ONE shuffle
  *    with map-side combine where `count(DISTINCT)` plans an expand +
  *    two shuffles. The oracle IS `count(DISTINCT user_id)`: the whole
  *    point is bit-for-bit equality with the exact answer through a
  *    cheaper plan.
  *  - `pareto_frontier`: the 2-D skyline of `part` (minimize retail
  *    price, maximize size) — a part is on the frontier iff nothing is
  *    cheaper-and-at-least-as-big or same-price-and-bigger. NOT the
  *    all-pairs anti-join: a price-bucketed prefix-max decomposition —
  *    per-bucket max sizes (one tiny key-shrinking agg), a running max
  *    over the ~200-bucket summary, then bucket-PARTITIONED range
  *    windows for the within-bucket remainder. The single-partition
  *    global window the textbook formulation wants never happens; DuckDB
  *    runs the textbook global-window twin and the decomposition is
  *    proven equal to it by the oracle hash.
  *  - `subject_access_export`: the GDPR right-of-access dossier for a
  *    deterministic subject batch (id % 13 = 5) — per-table activity
  *    rollups (events, orders, lineitems) gathered by three key-shrinking
  *    aggregations and full-outer-joined, so subjects present in only one
  *    system still export. `erasure_impact`'s read-side twin.
  */
object Queries113 extends QuerySet {
  private[queries] val SubjectMod = 13
  private[queries] val SubjectRem = 5
  private val DayUs = 86400000000L
  /** price-bucket width (cents) for the skyline decomposition — buckets
    * scale with the PRICE RANGE, not the row count. */
  private val SkyBucket = 1000L

  val defs: Map[String, Q] = Map(
    "bitmap_distinct" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .select(col("event_type"), expr(s"ts_us div $DayUs").as("day"), col("user_id"))
        .groupBy("event_type", "day")
        .agg(GraftFunctions.bitmapDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type", "day")
    },

    "pareto_frontier" -> { (sp, dir) =>
      val p = Tables.part(sp, dir).select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("bigint").as("price_cents"),
        col("p_size").cast("bigint").as("psize"))
        .withColumn("bkt", expr(s"price_cents div $SkyBucket"))
      // lower-bucket running max over the bounded bucket summary
      val bmax = p.groupBy("bkt").agg(max("psize").as("bmax"))
      val wLower = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val lower = bmax.withColumn("lower_max", max("bmax").over(wLower)).select("bkt", "lower_max")
      // within-bucket range windows, PARTITIONED by bucket
      val wStrict = Window.partitionBy("bkt").orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy("bkt").orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, 0)
      p.join(broadcast(lower), Seq("bkt"))
        .withColumn("m1", greatest(coalesce(max("psize").over(wStrict), lit(Long.MinValue)),
          coalesce(col("lower_max"), lit(Long.MinValue))))
        .withColumn("m2", greatest(max("psize").over(wEq),
          coalesce(col("lower_max"), lit(Long.MinValue))))
        .filter(col("m1") < col("psize") && col("m2") === col("psize"))
        .select(col("p_partkey"), col("price_cents"), col("psize"))
        .orderBy("price_cents", "p_partkey")
    },

    "subject_access_export" -> { (sp, dir) =>
      val evAgg = Tables.events(sp, dir)
        .filter(col("user_id") % SubjectMod === SubjectRem)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), min("ts_us").as("first_event_us"),
          max("ts_us").as("last_event_us"),
          countDistinct(col("event_type")).as("n_event_types"),
          sum(round(col("value") * 100).cast("bigint")).as("event_value_cents"))
      val ord = Tables.orders(sp, dir)
        .filter(col("o_custkey") % SubjectMod === SubjectRem)
      val ordAgg = ord.groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("bigint")).as("order_cents"))
      val liAgg = Tables.lineitem(sp, dir)
        .join(ord.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), Seq("l_orderkey"))
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n_lineitems"))
      evAgg.join(ordAgg, Seq("user_id"), "full")
        .join(liAgg, Seq("user_id"), "full")
        .select(col("user_id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("first_event_us"), col("last_event_us"),
          coalesce(col("n_event_types"), lit(0L)).as("n_event_types"),
          coalesce(col("event_value_cents"), lit(0L)).as("event_value_cents"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("order_cents"), lit(0L)).as("order_cents"),
          coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"))
        .orderBy("user_id")
    }
  )

  val oracles: Map[String, String] = Map(
    "bitmap_distinct" ->
      s"""SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    "pareto_frontier" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS psize
        |  FROM part
        |),
        |w AS (
        |  SELECT p_partkey, price_cents, psize,
        |    max(psize) OVER (ORDER BY price_cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |    max(psize) OVER (ORDER BY price_cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
        |  FROM p
        |)
        |SELECT p_partkey, price_cents, psize FROM w
        |WHERE (m1 IS NULL OR m1 < psize) AND m2 = psize
        |ORDER BY price_cents, p_partkey""".stripMargin,

    "subject_access_export" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(min(epoch_us(ts)) AS BIGINT) AS first_event_us,
         |    CAST(max(epoch_us(ts)) AS BIGINT) AS last_event_us,
         |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS event_value_cents
         |  FROM events WHERE user_id % $SubjectMod = $SubjectRem GROUP BY 1
         |),
         |ord AS (
         |  SELECT o_custkey AS user_id, CAST(count(*) AS BIGINT) AS n_orders,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS order_cents
         |  FROM orders WHERE o_custkey % $SubjectMod = $SubjectRem GROUP BY 1
         |),
         |li AS (
         |  SELECT o.o_custkey AS user_id, CAST(count(*) AS BIGINT) AS n_lineitems
         |  FROM lineitem l
         |  JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % $SubjectMod = $SubjectRem
         |  GROUP BY 1
         |)
         |SELECT user_id,
         |  coalesce(ev.n_events, 0) AS n_events, ev.first_event_us, ev.last_event_us,
         |  coalesce(ev.n_event_types, 0) AS n_event_types,
         |  coalesce(ev.event_value_cents, 0) AS event_value_cents,
         |  coalesce(ord.n_orders, 0) AS n_orders,
         |  coalesce(ord.order_cents, 0) AS order_cents,
         |  coalesce(li.n_lineitems, 0) AS n_lineitems
         |FROM ev
         |FULL JOIN ord USING (user_id)
         |FULL JOIN li USING (user_id)
         |ORDER BY user_id""".stripMargin
  )
}
