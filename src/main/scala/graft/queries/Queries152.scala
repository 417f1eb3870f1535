package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #72 — sequence-shape analytics:
  *
  *  - `funnel_deviation_profile`: how far does each session's event
  *    sequence sit from the canonical view→click→purchase path — the
  *    Levenshtein distance between the session's event-initial string
  *    (time-ordered) and "vcp", distributed as a histogram. Both
  *    engines run the same Wagner-Fischer `levenshtein` builtin;
  *    session boundaries are the 30-minute gap spelling. The sequence
  *    string builds from ONE array_sort over per-session structs — no
  *    per-event window.
  *  - `markov_stationary`: does the event-type Markov chain's
  *    stationary distribution match the observed marginal mix — the
  *    chain-consistency audit behind `markov_transitions`. Transition
  *    rows in exact ppm; 12 power iterations over the bounded 5×5
  *    matrix run driver-side in integer ppm (the bounded-collect
  *    contract), unrolled nowhere — the DuckDB twin replays the SAME
  *    recurrence as 12 MATERIALIZED CTE steps. */
object Queries152 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000
  private val Iters = 12
  private[graft] val Types = Seq("click", "error", "purchase", "signup", "view")

  val defs: Map[String, Q] = Map(
    "funnel_deviation_profile" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, lit(1))
            .otherwise(lit(0)))
        .withColumn("sid",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"),
            substring(col("event_type"), 1, 1).as("c")))),
          x => x.getField("c")), "").as("seq"))
      sess
        .select(levenshtein(col("seq"), lit("vcp")).cast("bigint").as("dist"))
        .groupBy("dist").agg(count(lit(1)).as("n_sessions"))
        .withColumn("share_milli",
          expr("n_sessions * 1000 div sum(n_sessions) over ()"))
        .orderBy("dist")
    },

    "markov_stationary" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val trans = Tables.events(sp, dir)
        .withColumn("nxt", lead("event_type", 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("f"), col("nxt").as("t"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val idx = Types.zipWithIndex.toMap
      val rowTot = Types.map(f => Types.map(t => trans.getOrElse((f, t), 0L)).sum)
      // P in ppm, truncating division — the shared exact spelling
      val p = Array.tabulate(Types.length, Types.length) { (i, j) =>
        if (rowTot(i) == 0) 0L
        else (trans.getOrElse((Types(i), Types(j)), 0L) * 1000000L) / rowTot(i)
      }
      var pi = Array.fill(Types.length)(1000000L / Types.length)
      (1 to Iters).foreach { _ =>
        pi = Array.tabulate(Types.length)(j =>
          (0 until Types.length).map(i => pi(i) * p(i)(j)).sum / 1000000L)
      }
      val emp = Tables.events(sp, dir).groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tot = emp.values.sum
      import sp.implicits._
      Types.map { t =>
        (t, (emp.getOrElse(t, 0L) * 1000000L) / tot, pi(idx(t)),
          (emp.getOrElse(t, 0L) * 1000000L) / tot - pi(idx(t)))
      }.toDF("event_type", "empirical_ppm", "stationary_ppm", "gap_ppm")
        .orderBy("event_type")
    }
  )

  val oracles: Map[String, String] = Map(
    "funnel_deviation_profile" ->
      s"""WITH seqs AS (
         |  SELECT user_id, sid,
         |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts_us, event_id) AS seq
         |  FROM (
         |    SELECT user_id, event_id, event_type, ts_us,
         |      CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
         |    FROM (
         |      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         |        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
         |               OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > $GapUs
         |             THEN 1 ELSE 0 END AS new_session
         |      FROM events
         |    ) a
         |  ) b GROUP BY 1, 2
         |),
         |dists AS (
         |  SELECT CAST(levenshtein(seq, 'vcp') AS BIGINT) AS dist FROM seqs
         |)
         |SELECT dist, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(count(*) * 1000 // (SELECT count(*) FROM dists) AS BIGINT) AS share_milli
         |FROM dists GROUP BY dist ORDER BY dist""".stripMargin,

    "markov_stationary" -> {
      val tlist = Types.map(t => s"'$t'").mkString(", ")
      val steps = (1 to Iters).map { k =>
        s"""pi$k AS MATERIALIZED (
           |  SELECT p.t AS ty, CAST(sum(pi${k - 1}.v * p.ppm) // 1000000 AS BIGINT) AS v
           |  FROM pi${k - 1} JOIN p ON p.f = pi${k - 1}.ty
           |  GROUP BY p.t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ordered AS (
         |  SELECT event_type AS f,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS t
         |  FROM events
         |),
         |counts AS (
         |  SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM ordered
         |  WHERE t IS NOT NULL GROUP BY 1, 2
         |),
         |grid AS (
         |  SELECT a.f, b.t FROM (SELECT unnest([$tlist]) AS f) a,
         |                        (SELECT unnest([$tlist]) AS t) b
         |),
         |p AS MATERIALIZED (
         |  SELECT g.f, g.t,
         |    CASE WHEN coalesce(rt.tot, 0) = 0 THEN 0
         |         ELSE coalesce(c.n, 0) * 1000000 // rt.tot END AS ppm
         |  FROM grid g
         |  LEFT JOIN counts c ON c.f = g.f AND c.t = g.t
         |  LEFT JOIN (SELECT f, sum(n) AS tot FROM counts GROUP BY f) rt ON rt.f = g.f
         |),
         |pi0 AS (SELECT unnest([$tlist]) AS ty, CAST(1000000 // ${Types.length} AS BIGINT) AS v),
         |$steps,
         |emp AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM emp)
         |SELECT ty AS event_type,
         |  CAST(coalesce(emp.n, 0) * 1000000 // tot.t AS BIGINT) AS empirical_ppm,
         |  pi$Iters.v AS stationary_ppm,
         |  CAST(coalesce(emp.n, 0) * 1000000 // tot.t - pi$Iters.v AS BIGINT) AS gap_ppm
         |FROM pi$Iters LEFT JOIN emp ON emp.event_type = pi$Iters.ty, tot
         |ORDER BY event_type""".stripMargin
    }
  )
}
