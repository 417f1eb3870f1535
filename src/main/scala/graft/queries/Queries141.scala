package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.SimF
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #61 — variance decomposition + quantization sizing:
  *
  *  - `anova_platform_value`: does platform explain purchase value —
  *    the one-way ANOVA decomposition SS_total = SS_between + SS_within
  *    over purchase dollars by platform, entirely from exact integer
  *    moments: group means quantized to milli-dollars by truncating
  *    division (spelled identically both engines), SS_total expanded as
  *    10⁶·Σx² − 2000·m·Σx + n·m² so no second data pass is needed, and
  *    η² = SS_between/SS_total in milli (pre-divided denominator — the
  *    overflow-safe order). η² ≈ 0 on the synthetic uniform values IS
  *    the finding (platform doesn't price-discriminate).
  *  - `quant_bits_sweep`: the quantization sizing curve — int4 / int6 /
  *    int8 symmetric quantization of the embeddings, each bit width's
  *    cosine error vs the fp kernel on the deterministic adjacent-pair
  *    sample (`int8_quant_error`'s machinery parametrized by width):
  *    mean and max |Δcos| e6 per width. Error must fall monotonically
  *    with bits — the compression/recall trade quantified. */
object Queries141 extends QuerySet {
  private val Bits = Seq(4, 6, 8)

  val defs: Map[String, Q] = Map(
    "anova_platform_value" -> { (sp, dir) =>
      val x = Synth.withRaw(Tables.events(sp, dir))
        .filter(col("event_type") === "purchase")
        .select(col("platform_code"),
          expr("CAST(round(value * 100) AS BIGINT) div 100").as("d"))
      val groups = x.groupBy("platform_code")
        .agg(count(lit(1)).as("n_g"), sum("d").as("sx_g"),
          sum(col("d") * col("d")).as("sxx_g"))
      val tot = groups.agg(count(lit(1)).as("n_platforms"),
        sum("n_g").as("n"), sum("sx_g").as("sx"), sum("sxx_g").as("sxx"))
      groups.crossJoin(broadcast(tot))
        .withColumn("m", expr("(sx * 1000) div n"))
        .withColumn("m_g", expr("(sx_g * 1000) div n_g"))
        .agg(max("n_platforms").as("n_platforms"), max("n").as("n"),
          max("m").as("grand_mean_milli"),
          sum(expr("n_g * (m_g - m) * (m_g - m)")).as("ss_between_milli2"),
          max(expr("1000000 * sxx - 2000 * m * sx + n * m * m")).as("ss_total_milli2"))
        .select(col("n_platforms"), col("n"), col("grand_mean_milli"),
          col("ss_between_milli2"), col("ss_total_milli2"),
          expr("ss_between_milli2 div (ss_total_milli2 div 1000)").as("eta_milli"))
    },

    "quant_bits_sweep" -> { (sp, dir) =>
      // r15: int8_quant_error's fix applied across the sweep — the inline
      // scale expression re-evaluated array_max per transform-lambda
      // ELEMENT (O(d²) per row, once per bit width); `mx` and the float
      // norm are computed ONCE into a pinned base — the lambda then
      // references a plain cache attribute, which CollapseProject cannot
      // re-inline. Arithmetic shape x * (qmax / mx) is unchanged. The
      // per-bit branches stay lazy: one count over the union lets the
      // DAG scheduler run their independent stages concurrently.
      val base = graft.util.CacheScope.track(
        Tables.embeddings(sp, dir)
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
          .withColumn("fn", SimF.norm(col("v")))
          .select(col("vec_id"), col("mx"), col("v"), col("fn")))
      base.count()
      def idot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
      val rows = Bits.map { b =>
        val qmax = (1 << (b - 1)) - 1
        val scale = lit(qmax.toDouble) / col("mx")
        val qz = base.withColumn("qv", transform(col("v"), x => round(x * scale).cast("long")))
          .withColumn("qn", sqrt(idot(col("qv"), col("qv")).cast("double")))
          .filter(col("qn") > 0.0 && col("fn") > 0.0)
        val a = qz.select(col("vec_id"), col("v").as("va"), col("qv").as("qva"),
          col("qn").as("qna"), col("fn").as("fna"))
        val bb = qz.select((col("vec_id") - 1).as("vec_id"), col("v").as("vb"),
          col("qv").as("qvb"), col("qn").as("qnb"), col("fn").as("fnb"))
        a.join(bb, "vec_id")
          .select(
            abs(round(SimF.dot(col("va"), col("vb")) / (col("fna") * col("fnb")) * 1e6).cast("bigint")
              - round(idot(col("qva"), col("qvb")).cast("double") / (col("qna") * col("qnb")) * 1e6).cast("bigint"))
              .as("err_e6"))
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(err_e6) div count(1)").as("mean_err_e6"),
            max("err_e6").as("max_err_e6"))
          .select(lit(b.toLong).as("bits"), col("n_pairs"),
            col("mean_err_e6"), col("max_err_e6"))
      }
      rows.reduce(_ unionAll _).orderBy("bits")
    }
  )

  val oracles: Map[String, String] = Map(
    "anova_platform_value" -> Synth.withCte(
      s""", x AS (
         |  SELECT platform_code, CAST(round(value * 100) AS BIGINT) // 100 AS d
         |  FROM raw WHERE event_type = 'purchase'
         |),
         |groups AS (
         |  SELECT platform_code, CAST(count(*) AS BIGINT) AS n_g,
         |    CAST(sum(d) AS BIGINT) AS sx_g, CAST(sum(d * d) AS BIGINT) AS sxx_g
         |  FROM x GROUP BY 1
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_platforms, CAST(sum(n_g) AS BIGINT) AS n,
         |    CAST(sum(sx_g) AS BIGINT) AS sx, CAST(sum(sxx_g) AS BIGINT) AS sxx
         |  FROM groups
         |),
         |withm AS (
         |  SELECT g.*, t.n_platforms, t.n, t.sx, t.sxx,
         |    ${tdivSql("(t.sx * 1000)", "t.n")} AS m,
         |    ${tdivSql("(g.sx_g * 1000)", "g.n_g")} AS m_g
         |  FROM groups g, tot t
         |),
         |agg AS (
         |  SELECT max(n_platforms) AS n_platforms, max(n) AS n,
         |    max(m) AS grand_mean_milli,
         |    CAST(sum(n_g * (m_g - m) * (m_g - m)) AS BIGINT) AS ss_between_milli2,
         |    CAST(max(1000000 * sxx - 2000 * m * sx + n * m * m) AS BIGINT) AS ss_total_milli2
         |  FROM withm
         |)
         |SELECT n_platforms, n, grand_mean_milli, ss_between_milli2, ss_total_milli2,
         |  ${tdivSql("ss_between_milli2", "(ss_total_milli2 // 1000)")} AS eta_milli
         |FROM agg""".stripMargin),

    "quant_bits_sweep" -> {
      val sweeps = Bits.map { b =>
        val qmax = (1 << (b - 1)) - 1
        s"""SELECT CAST($b AS BIGINT) AS bits, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(err_e6) // count(*) AS BIGINT) AS mean_err_e6,
           |  CAST(max(err_e6) AS BIGINT) AS max_err_e6
           |FROM (
           |  SELECT abs(
           |    CAST(round(${Queries3.dotSqlShared("a.v", "b.v")} / (a.fn * b.fn) * 1e6) AS BIGINT)
           |    - CAST(round(CAST(${Queries112.idotSql("a.qv", "b.qv")} AS DOUBLE)
           |        / (a.qn * b.qn) * 1e6) AS BIGINT)) AS err_e6
           |  FROM n$b a JOIN n$b b ON b.vec_id = a.vec_id + 1
           |) prs""".stripMargin
      }
      val stages = Bits.map { b =>
        val qmax = (1 << (b - 1)) - 1
        s"""q$b AS (
           |  SELECT vec_id, v,
           |    list_transform(v, x -> CAST(round(x * ($qmax.0 / list_max(list_transform(v, y -> abs(y))))) AS BIGINT)) AS qv
           |  FROM e
           |),
           |n$b AS MATERIALIZED (
           |  SELECT vec_id, v, qv,
           |    sqrt(CAST(${Queries112.idotSql("qv", "qv")} AS DOUBLE)) AS qn,
           |    sqrt(${Queries3.dotSqlShared("v", "v")}) AS fn
           |  FROM q$b
           |  WHERE sqrt(CAST(${Queries112.idotSql("qv", "qv")} AS DOUBLE)) > 0
           |    AND sqrt(${Queries3.dotSqlShared("v", "v")}) > 0
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |),
         |$stages
         |${sweeps.mkString("\nUNION ALL\n")}
         |ORDER BY bits""".stripMargin
    }
  )
}
