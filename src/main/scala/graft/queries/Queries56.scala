package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #28 — optimizer diagnostics and the stickiness KPI:
  *
  *  - `join_size_estimate`: the CBO join-cardinality check for the three
  *    joins every TPC-H-shaped workload hashes on — EXACT output size
  *    Σ_k cA(k)·cB(k) (computed by joining the two per-key COUNT tables:
  *    corpus-mass work is two map-side-combined aggregations, the join
  *    itself runs over key tables ≪ fact tables) next to the textbook
  *    uniform estimate |A|·|B| / max(ndv_A, ndv_B) and the signed
  *    integer-milli error ratio. This is the measurement behind
  *    `equi_depth_hist`'s existence: where the ratio drifts from 1000,
  *    uniform-key estimation misplans and histograms earn their keep.
  *  - `stickiness_ratio`: DAU/MAU per day in exact integer milli — the
  *    product-health KPI layered directly on `dau_rolling`'s
  *    oracle-checked relation (same bounded 30-day fan-out; no new
  *    corpus-scale work), with the oracle composed from the SAME SQL so
  *    the two reports cannot disagree on a day.
  */
object Queries56 extends QuerySet {
  /** (name, left table, left key, right table, right key) */
  private val Audited = Seq(
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    // the case the estimator textbook-underestimates: a low-NDV SKEWED key
    // (documents.lang — the language mix is deliberately non-uniform)
    // self-joined: Σ c(k)^2 > n^2/ndv whenever counts vary, so err_milli
    // lands visibly above 1000 (1349 at sf0.01) exactly where a histogram
    // (equi_depth_hist) would out-plan the uniform assumption
    ("documents_lang_self", "documents", "lang", "documents", "lang"))

  val defs: Map[String, Q] = Map(
    "join_size_estimate" -> { (sp, dir) =>
      Audited.map { case (nm, lt, lk, rt, rk) =>
        def side(t: String, k: String) = (t match {
          case "customer" => Tables.customer(sp, dir)
          case "orders" => Tables.orders(sp, dir)
          case "part" => Tables.part(sp, dir)
          case "lineitem" => Tables.lineitem(sp, dir)
          case "documents" => Tables.documents(sp, dir)
        }).select(col(k).as("k"))
        val l = side(lt, lk)
        val r = side(rt, rk)
        val lc = l.groupBy("k").agg(count(lit(1)).as("ca"))
        val rc = r.groupBy("k").agg(count(lit(1)).as("cb"))
        val exact = lc.join(rc, Seq("k"))
          .agg(sum(col("ca") * col("cb")).as("exact_rows"))
        val stats = lc.agg(sum("ca").as("n_left"), count(lit(1)).as("ndv_left"))
          .crossJoin(rc.agg(sum("cb").as("n_right"), count(lit(1)).as("ndv_right")))
        stats.crossJoin(exact)
          .select(lit(nm).as("join_name"), col("n_left"), col("n_right"),
            col("ndv_left"), col("ndv_right"),
            expr("n_left * n_right div greatest(ndv_left, ndv_right)").as("est_rows"),
            coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
          .withColumn("err_milli", expr("exact_rows * 1000 div est_rows"))
      }.reduce(_ unionAll _).orderBy("join_name")
    },

    "stickiness_ratio" -> { (sp, dir) =>
      Queries33.defs("dau_rolling")(sp, dir)
        .select(col("day"), col("dau"), col("mau"),
          expr("dau * 1000 div mau").as("stickiness_milli"))
        .orderBy("day")
    }
  )

  val oracles: Map[String, String] = Map(
    "join_size_estimate" -> {
      val blocks = Audited.map { case (nm, lt, lk, rt, rk) =>
        s"""SELECT '$nm' AS join_name, n_left, n_right, ndv_left, ndv_right,
           |  n_left * n_right // greatest(ndv_left, ndv_right) AS est_rows,
           |  exact_rows,
           |  exact_rows * 1000 // (n_left * n_right // greatest(ndv_left, ndv_right))
           |    AS err_milli
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n_left,
           |    CAST(count(DISTINCT $lk) AS BIGINT) AS ndv_left FROM $lt) a,
           |  (SELECT CAST(count(*) AS BIGINT) AS n_right,
           |    CAST(count(DISTINCT $rk) AS BIGINT) AS ndv_right FROM $rt) b,
           |  (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS exact_rows FROM
           |    (SELECT $lk AS k, count(*) AS ca FROM $lt GROUP BY 1) lc
           |    JOIN (SELECT $rk AS k, count(*) AS cb FROM $rt GROUP BY 1) rc
           |    USING (k)) c""".stripMargin
      }
      blocks.mkString("", "\nUNION ALL\n", "\nORDER BY join_name")
    },

    "stickiness_ratio" ->
      s"""SELECT day, dau, mau, dau * 1000 // mau AS stickiness_milli
         |FROM (
         |${Queries33.oracles("dau_rolling")}
         |) d ORDER BY day""".stripMargin
  )
}
