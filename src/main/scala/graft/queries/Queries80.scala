package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #52 — Markov closure and basket economics:
  *
  *  - `transition_entropy`: per-state predictability of the user-journey
  *    Markov chain — quantized outgoing-transition entropy per source
  *    state, Σ cᵢ·(⌊log₂n⌋ − ⌊log₂cᵢ⌋) in milli-bits per transition
  *    (`behavior_diversity`'s bit-length spelling over
  *    `markov_transitions`' exact counts): a state near zero funnels
  *    deterministically, a state near log₂(states) disperses — the
  *    one-number-per-state read of the full matrix. Reuses the
  *    transition relation via composition on BOTH engines.
  *  - `order_value_by_width`: order value by basket width (mean cents per
  *    lines-per-order bucket, exact milli-cents) — whether bigger baskets
  *    are worth proportionally more, the revenue overlay on
  *    `order_width_hist`'s cost model; two key-shrinking aggregations.
  */
object Queries80 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "transition_entropy" -> { (sp, dir) =>
      val trans = Queries20.defs("markov_transitions")(sp, dir)
        .select(col("prev_type"), col("cnt"))
      val tot = trans.groupBy("prev_type")
        .agg(sum("cnt").as("n"), count(lit(1)).as("n_next"))
      trans.join(tot, Seq("prev_type"))
        .withColumn("term", col("cnt") *
          ((length(bin(col("n"))) - 1) - (length(bin(col("cnt"))) - 1)).cast("long"))
        .groupBy("prev_type", "n", "n_next")
        .agg(sum("term").as("entropy_q"))
        .select(col("prev_type"), col("n").as("n_transitions"), col("n_next"),
          col("entropy_q"),
          expr("entropy_q * 1000 div n").as("entropy_milli_bits"))
        .orderBy("prev_type")
    },

    "order_value_by_width" -> { (sp, dir) =>
      val widths = Tables.lineitem(sp, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("width"))
      widths.join(Tables.orders(sp, dir).select(col("o_orderkey").as("l_orderkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents")), Seq("l_orderkey"))
        .groupBy("width")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("total_cents"))
        .withColumn("mean_cents_milli", expr("total_cents * 1000 div n_orders"))
        .orderBy("width")
    }
  )

  val oracles: Map[String, String] = Map(
    "transition_entropy" ->
      s"""WITH trans AS (
         |${Queries20.oracles("markov_transitions")}
         |),
         |tot AS (
         |  SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_next
         |  FROM trans GROUP BY prev_type
         |)
         |SELECT t.prev_type, o.n AS n_transitions, o.n_next,
         |  CAST(sum(t.cnt * ((length(bin(o.n)) - 1)
         |    - (length(bin(t.cnt)) - 1))) AS BIGINT) AS entropy_q,
         |  CAST(sum(t.cnt * ((length(bin(o.n)) - 1)
         |    - (length(bin(t.cnt)) - 1))) * 1000 // o.n AS BIGINT)
         |    AS entropy_milli_bits
         |FROM trans t JOIN tot o ON o.prev_type = t.prev_type
         |GROUP BY t.prev_type, o.n, o.n_next
         |ORDER BY t.prev_type""".stripMargin,

    "order_value_by_width" ->
      s"""WITH widths AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS width
         |  FROM lineitem GROUP BY l_orderkey
         |)
         |SELECT w.width, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS total_cents,
         |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) * 1000
         |    // count(*) AS BIGINT) AS mean_cents_milli
         |FROM widths w JOIN orders o ON o.o_orderkey = w.l_orderkey
         |GROUP BY w.width ORDER BY w.width""".stripMargin
  )
}
