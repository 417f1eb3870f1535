package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KMeans

/** Round-9 batch #21 — the ANN evaluation loop closed from both ends:
  *
  *  - `ann_nprobe_curve`: `ann_trained_recall`'s recall@3 swept over
  *    nprobe ∈ {1, 2, 4} from ONE training + ONE assignment pass — the
  *    probes explode per tier off the same sorted cell-similarity array,
  *    the candidate scan joins once with (tier, cell) keys, and ground
  *    truth is computed once (it is tier-independent). The curve that
  *    sizes the recall/bandwidth knob the IVF index exists for.
  *  - `ann_two_stage`: the standard retrieval architecture the suite's
  *    pieces imply — a CHEAP int8 scan (ann_int8's exact quantizer) takes
  *    top-20 candidates, a full-precision integer-micro rerank keeps
  *    top-5 — audited against the direct exact top-5: per-query overlap
  *    and top-1 agreement. At 100 TB the stage-1 scan reads 4× less than
  *    a full-precision scan and the rerank touches 20 rows per query;
  *    this table measures what that buys and what it costs.
  */
object Queries101 extends QuerySet {
  private[graft] val NprobeTiers = Seq(1L, 2L, 4L)
  private[graft] val Stage1K = 20
  private[graft] val Stage2K = 5
  private val ProbeQ = Queries86.RecallProbeQueries

  private def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  val defs: Map[String, Q] = Map(
    "ann_nprobe_curve" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      val cents = KMeans.fitMicro(embT, "embedding", "vec_id", k = 8, maxIter = 3)
      val k = cents.length
      val nv2 = aggregate(transform(col("v"), x => x * x), lit(0L), (a, x) => a + x)
      val base = embT
        .select(col("vec_id"), KMeans.quantizeMicro(col("embedding")).as("v"))
        .withColumn("nv2", nv2)
      val assign = base.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("nv2").as("nn2"), KMeans.assignCellMicro(col("v"), cents).as("cell"))
      val qraw = base.filter(col("vec_id") < ProbeQ)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv2").as("qn2"))
      val probes = broadcast(base.filter(col("vec_id") < ProbeQ)
        .withColumn("sq", sort_array(KMeans.cellSimsMicro(col("v"), cents)))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv2").as("qn2"),
          explode(array((0 until NprobeTiers.max.toInt).map(j => struct(
            lit(j.toLong).as("j"),
            (element_at(col("sq"), k - j).getField("negc") * -1L).as("cell"))): _*)).as("e"))
        .select(col("qid"), col("qv"), col("qn2"), col("e.j").as("j"), col("e.cell").as("cell"))
        .crossJoin(spark_tiers(sp))
        .filter(col("j") < col("nprobe"))
        .select(col("nprobe"), col("qid"), col("qv"), col("qn2"), col("cell")))
      def cos = {
        val dot = idot(col("qv"), col("nv"))
        dot.cast("double") / (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double")))
      }
      val wTop = Window.partitionBy("nprobe", "qid").orderBy(col("cos").desc, col("nid"))
      val ivf = assign.join(probes, "cell")
        .filter(col("nid") =!= col("qid"))
        .withColumn("cos", cos)
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
        .select(col("nprobe"), col("qid"), col("nid"), lit(1L).as("hit"))
      val wT = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val truth = assign.join(broadcast(qraw), col("nid") =!= col("qid"))
        .withColumn("cos", cos)
        .withColumn("rk", row_number().over(wT)).filter(col("rk") <= 3)
        .select(col("qid"), col("nid"))
      truth.crossJoin(spark_tiers(sp))
        .join(ivf, Seq("nprobe", "qid", "nid"), "left")
        .groupBy("nprobe")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("nprobe"), col("n_hits"),
          expr(s"n_hits * 1000 div ${3 * ProbeQ}").as("recall_milli"))
        .orderBy("nprobe")
    },

    "ann_two_stage" -> { (sp, dir) =>
      val e = Tables.embeddings(sp, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("dv"),
          KMeans.quantizeMicro(col("embedding")).as("mv"))
      val scale = lit(127.0) / array_max(transform(col("dv"), x => abs(x)))
      val qz = e
        .withColumn("qv", transform(col("dv"), x => round(x * scale).cast("long")))
        .withColumn("qn", sqrt(idot(col("qv"), col("qv")).cast("double")))
        .withColumn("mn", sqrt(idot(col("mv"), col("mv")).cast("double")))
        .select(col("vec_id"), col("qv"), col("qn"), col("mv"), col("mn"))
      val corpus = qz.select(col("vec_id").as("nid"), col("qv").as("nqv"),
        col("qn").as("nqn"), col("mv").as("nmv"), col("mn").as("nmn"))
      val probes = broadcast(qz.filter(col("vec_id") < ProbeQ)
        .select(col("vec_id").as("qid"), col("qv").as("pqv"),
          col("qn").as("pqn"), col("mv").as("pmv"), col("mn").as("pmn")))
      val joined = corpus.crossJoin(probes).filter(col("nid") =!= col("qid"))
      val exactCos = idot(col("nmv"), col("pmv")).cast("double") / (col("nmn") * col("pmn"))
      val w1 = Window.partitionBy("qid").orderBy(
        (idot(col("nqv"), col("pqv")).cast("double") / (col("nqn") * col("pqn"))).desc,
        col("nid"))
      val stage2 = joined
        .withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= Stage1K)
        .withColumn("ecos", exactCos)
        .withColumn("rk2", row_number().over(
          Window.partitionBy("qid").orderBy(col("ecos").desc, col("nid"))))
        .filter(col("rk2") <= Stage2K)
        .select(col("qid"), col("nid"), col("rk2"))
      val exact = joined
        .withColumn("ecos", exactCos)
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("ecos").desc, col("nid"))))
        .filter(col("rk") <= Stage2K)
        .select(col("qid"), col("nid"), col("rk"))
      val overlap = exact.join(stage2.select(col("qid"), col("nid"), lit(1L).as("hit")),
          Seq("qid", "nid"), "left")
        .groupBy("qid").agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      val top1 = exact.filter(col("rk") === 1).select(col("qid"), col("nid").as("t1"))
        .join(stage2.filter(col("rk2") === 1).select(col("qid"), col("nid").as("s1")), "qid")
        .select(col("qid"), (col("t1") === col("s1")).as("top1_agree"))
      overlap.join(top1, "qid")
        .select(col("qid"), col("n_overlap"),
          expr(s"n_overlap * 1000 div $Stage2K").as("overlap_milli"),
          col("top1_agree"))
        .orderBy("qid")
    }
  )

  /** Tiny literal tier table (3 rows, broadcast by construction). */
  private def spark_tiers(sp: SparkSession): DataFrame = {
    import sp.implicits._
    NprobeTiers.toDF("nprobe")
  }

  val oracles: Map[String, String] = Map(
    "ann_nprobe_curve" ->
      s"""WITH ${Queries86.TrainedIvfCteSql},
         |tiers AS (SELECT unnest([${NprobeTiers.mkString(", ")}]) AS nprobe),
         |probes AS (
         |  SELECT t.nprobe, c.vec_id AS qid, c.cell
         |  FROM cellrank c, tiers t
         |  WHERE c.vec_id < $ProbeQ AND c.rk <= t.nprobe
         |),
         |ivf AS (
         |  SELECT nprobe, qid, nid FROM (
         |    SELECT p.nprobe, p.qid, s.nid,
         |      row_number() OVER (PARTITION BY p.nprobe, p.qid
         |        ORDER BY pcc.cos DESC, s.nid) AS rk
         |    FROM probes p
         |    JOIN assign s ON s.cell = p.cell AND s.nid <> p.qid
         |    JOIN pcc ON pcc.qid = p.qid AND pcc.nid = s.nid) r WHERE rk <= 3
         |),
         |exp AS (SELECT t.nprobe, tr.qid, tr.nid FROM tiers t, truth tr)
         |SELECT CAST(e.nprobe AS BIGINT) AS nprobe,
         |  CAST(count(i.nid) AS BIGINT) AS n_hits,
         |  CAST(count(i.nid) * 1000 // ${3 * ProbeQ} AS BIGINT) AS recall_milli
         |FROM exp e LEFT JOIN ivf i
         |  ON i.nprobe = e.nprobe AND i.qid = e.qid AND i.nid = e.nid
         |GROUP BY e.nprobe ORDER BY nprobe""".stripMargin,

    "ann_two_stage" -> {
      def idotSql(a: String, b: String): String =
        s"list_reduce(list_transform(range(1, len($a) + 1), i -> list_extract($a, i) * list_extract($b, i)), (x, y) -> x + y)"
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
         |  FROM embeddings
         |), s AS (
         |  SELECT vec_id, dv, mv, 127.0 / list_max(list_transform(dv, x -> abs(x))) AS sc
         |  FROM e
         |), n AS (
         |  SELECT vec_id, mv, qv, sqrt(CAST(${idotSql("qv", "qv")} AS DOUBLE)) AS qn,
         |    sqrt(CAST(${idotSql("mv", "mv")} AS DOUBLE)) AS mn
         |  FROM (SELECT vec_id, mv,
         |          list_transform(dv, x -> CAST(round(x * sc) AS BIGINT)) AS qv
         |        FROM s) z
         |), joined AS (
         |  SELECT p.vec_id AS qid, c.vec_id AS nid,
         |    CAST(${idotSql("c.qv", "p.qv")} AS DOUBLE) / (c.qn * p.qn) AS qcos,
         |    CAST(${idotSql("c.mv", "p.mv")} AS DOUBLE) / (c.mn * p.mn) AS ecos
         |  FROM n c, (SELECT * FROM n WHERE vec_id < $ProbeQ) p
         |  WHERE c.vec_id <> p.vec_id
         |), stage2 AS (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY ecos DESC, nid)
         |    AS rk2
         |  FROM (
         |    SELECT qid, nid, ecos,
         |      row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, nid) AS rk1
         |    FROM joined) r WHERE rk1 <= $Stage1K
         |  QUALIFY rk2 <= $Stage2K
         |), exact AS (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY ecos DESC, nid)
         |    AS rk
         |  FROM joined QUALIFY rk <= $Stage2K
         |), ov AS (
         |  SELECT x.qid, CAST(count(s.nid) AS BIGINT) AS n_overlap
         |  FROM exact x LEFT JOIN stage2 s ON s.qid = x.qid AND s.nid = x.nid
         |  GROUP BY x.qid
         |), agree AS (
         |  SELECT x.qid, x.nid = s.nid AS top1_agree
         |  FROM (SELECT qid, nid FROM exact WHERE rk = 1) x
         |  JOIN (SELECT qid, nid FROM stage2 WHERE rk2 = 1) s ON s.qid = x.qid
         |)
         |SELECT o.qid, o.n_overlap,
         |  CAST(o.n_overlap * 1000 // $Stage2K AS BIGINT) AS overlap_milli,
         |  a.top1_agree
         |FROM ov o JOIN agree a ON a.qid = o.qid ORDER BY o.qid""".stripMargin
    }
  )
}
