package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SimF
import graft.queries.IntIdioms.{bits, tdivSql}

/** Round-9 batch #32 — time-series memory, corpus shape, and quantization
  * cost:
  *
  *  - `revenue_autoreg`: lag-1 and lag-7 autoregression coefficients of
  *    daily order revenue — "does yesterday (and last week) predict
  *    today", the exact-integer-moment autocorrelation read that says
  *    whether `seasonal_baseline`'s weekly structure is real memory or
  *    noise. One day-keyed aggregation (the only scale-bearing shuffle),
  *    then a self-join of the ~thousands-row daily series at each lag and
  *    the `price_elasticity` OLS moment recipe. Revenue is bucketed to
  *    hundred-dollar units so every moment stays far from BIGINT overflow
  *    at any probe scale; the slope (cov/var) is dimensionless, so the
  *    coarser unit only quantizes, never biases.
  *  - `zipf_fit`: the Zipf slope of the corpus — OLS of ⌊log₂ count⌋ on
  *    ⌊log₂ rank⌋ over `vocab_count`'s top-32 terms (composed on both
  *    engines), in milli-bits-per-doubling. Natural text sits near
  *    −1000; the synthetic corpus's flatter slope is itself the finding.
  *    The moments ride on 32 rows — all the cost is vocab_count's own
  *    top-k, reused verbatim.
  *  - `int8_quant_error`: what 4× compression costs in cosine precision —
  *    for the deterministic adjacent-pair sample (vec_id, vec_id+1),
  *    |fp-cosine − int8-cosine| in e6, bucketed by hundred-micro band.
  *    Reuses `ann_int8`'s quantizer and integer-dot kernel and
  *    `sim_bruteforce`'s left-fold fp kernel unchanged, so this audit
  *    pins BOTH kernels against each other; linear narrow self-join on
  *    vec_id+1, no pair blow-up.
  */
object Queries112 extends QuerySet {
  private val DayUs = 86400000000L
  private[queries] val AutoregLags = Seq(1L, 7L)

  private[queries] def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  val defs: Map[String, Q] = Map(
    "revenue_autoreg" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .select(expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs").as("d"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("d").agg(expr("sum(cents) div 10000").as("rev"))
      val slope = "(n_pairs * sxy - sx * sy) * 1000 div (n_pairs * sxx - sx * sx)"
      val rows = AutoregLags.map { l =>
        val a = daily.select(col("d"), col("rev").as("x"))
        val b = daily.select((col("d") - l).as("d"), col("rev").as("y"))
        a.join(b, Seq("d"))
          .agg(count(lit(1)).as("n_pairs"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
          .select(lit(l).as("lag_days"), col("n_pairs"),
            expr(slope).as("slope_milli"),
            expr(s"(sy * 1000 - ($slope) * sx) div n_pairs").as("intercept_milli"))
      }
      rows.reduce(_ unionAll _).orderBy("lag_days")
    },

    "zipf_fit" -> { (sp, dir) =>
      val pts = Queries14.defs("vocab_count")(sp, dir)
        .select(bits(col("rank")).as("x"), bits(col("cnt")).as("y"))
      val slope = "(n_terms * sxy - sx * sy) * 1000 div (n_terms * sxx - sx * sx)"
      pts.agg(count(lit(1)).as("n_terms"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n_terms"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          expr(slope).as("slope_milli_bits"),
          expr(s"(sy * 1000 - ($slope) * sx) div n_terms").as("intercept_milli_bits"))
    },

    "int8_quant_error" -> { (sp, dir) =>
      val e = Tables.embeddings(sp, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      // r15: `scale` as an inline expression re-evaluated array_max per
      // ELEMENT inside the transform lambda (the interpreted-HOF trap —
      // O(d²) per row), and the a/b self-join recomputed the whole
      // quantization twice. Fix: a named mx column kept in the cached
      // schema — referenced twice (qv's lambda + the projection output),
      // so CollapseProject cannot inline the array_max back into the
      // lambda — plus a CacheScope pin shared by both join sides. The
      // arithmetic shape x * (127.0 / mx) is kept bit-identical.
      val qz = graft.util.CacheScope.track(
        e.withColumn("mx", array_max(transform(col("v"), x => abs(x))))
          .withColumn("qv",
            transform(col("v"), x => round(x * (lit(127.0) / col("mx"))).cast("long")))
          .withColumn("qn", sqrt(idot(col("qv"), col("qv")).cast("double")))
          .withColumn("fn", SimF.norm(col("v")))
          .filter(col("qn") > 0.0 && col("fn") > 0.0)
          .select(col("vec_id"), col("mx"), col("v"), col("qv"), col("qn"), col("fn")))
      qz.count()
      val a = qz.select(col("vec_id"), col("v").as("va"), col("qv").as("qva"),
        col("qn").as("qna"), col("fn").as("fna"))
      val b = qz.select((col("vec_id") - 1).as("vec_id"), col("v").as("vb"),
        col("qv").as("qvb"), col("qn").as("qnb"), col("fn").as("fnb"))
      a.join(b, Seq("vec_id"))
        .withColumn("fcos_e6",
          round(SimF.dot(col("va"), col("vb")) / (col("fna") * col("fnb")) * 1e6).cast("bigint"))
        .withColumn("qcos_e6",
          round(idot(col("qva"), col("qvb")).cast("double") / (col("qna") * col("qnb")) * 1e6)
            .cast("bigint"))
        .withColumn("err_e6", abs(col("fcos_e6") - col("qcos_e6")))
        .groupBy(expr("err_e6 div 100").as("err_bucket"))
        .agg(count(lit(1)).as("n_pairs"), max("err_e6").as("max_err_e6"))
        .orderBy("err_bucket")
    }
  )

  private[queries] def idotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> list_extract($a, i) * list_extract($b, i)), (x, y) -> x + y)"

  val oracles: Map[String, String] = Map(
    "revenue_autoreg" -> {
      val slope = tdivSql("(n_pairs * sxy - sx * sy) * 1000", "(n_pairs * sxx - sx * sx)")
      def lagSel(l: Long) =
        s"""SELECT CAST($l AS BIGINT) AS lag_days, n_pairs,
           |  $slope AS slope_milli,
           |  ${tdivSql(s"(sy * 1000 - ($slope) * sx)", "n_pairs")} AS intercept_milli
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(a.rev) AS BIGINT) AS sx, CAST(sum(b.rev) AS BIGINT) AS sy,
           |    CAST(sum(a.rev * b.rev) AS BIGINT) AS sxy,
           |    CAST(sum(a.rev * a.rev) AS BIGINT) AS sxx
           |  FROM daily a JOIN daily b ON b.d = a.d + $l
           |) m$l""".stripMargin
      s"""WITH daily AS MATERIALIZED (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS d,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 10000 AS BIGINT) AS rev
         |  FROM orders GROUP BY 1
         |)
         |${AutoregLags.map(lagSel).mkString("\nUNION ALL\n")}
         |ORDER BY lag_days""".stripMargin
    },

    "zipf_fit" -> {
      val slope = tdivSql("(n_terms * sxy - sx * sy) * 1000", "(n_terms * sxx - sx * sx)")
      s"""WITH vc AS (
         |${Queries14.oracles("vocab_count")}
         |),
         |pts AS (
         |  SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
         |    CAST(length(bin(cnt)) - 1 AS BIGINT) AS y
         |  FROM vc
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM pts
         |)
         |SELECT n_terms, sx, sy, sxy, sxx,
         |  $slope AS slope_milli_bits,
         |  ${tdivSql(s"(sy * 1000 - ($slope) * sx)", "n_terms")} AS intercept_milli_bits
         |FROM m""".stripMargin
    },

    "int8_quant_error" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), s AS (
         |  SELECT vec_id, v, 127.0 / list_max(list_transform(v, x -> abs(x))) AS sc FROM e
         |), q AS (
         |  SELECT vec_id, v, list_transform(v, x -> CAST(round(x * sc) AS BIGINT)) AS qv FROM s
         |), n AS MATERIALIZED (
         |  SELECT vec_id, v, qv,
         |    sqrt(CAST(${idotSql("qv", "qv")} AS DOUBLE)) AS qn,
         |    sqrt(${Queries3.dotSqlShared("v", "v")}) AS fn
         |  FROM q
         |  WHERE sqrt(CAST(${idotSql("qv", "qv")} AS DOUBLE)) > 0
         |    AND sqrt(${Queries3.dotSqlShared("v", "v")}) > 0
         |),
         |prs AS (
         |  SELECT
         |    CAST(round(${Queries3.dotSqlShared("a.v", "b.v")} / (a.fn * b.fn) * 1e6) AS BIGINT)
         |      AS fcos_e6,
         |    CAST(round(CAST(${idotSql("a.qv", "b.qv")} AS DOUBLE) / (a.qn * b.qn) * 1e6) AS BIGINT)
         |      AS qcos_e6
         |  FROM n a JOIN n b ON b.vec_id = a.vec_id + 1
         |)
         |SELECT CAST(abs(fcos_e6 - qcos_e6) // 100 AS BIGINT) AS err_bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(max(abs(fcos_e6 - qcos_e6)) AS BIGINT) AS max_err_e6
         |FROM prs GROUP BY 1 ORDER BY err_bucket""".stripMargin
  )
}
