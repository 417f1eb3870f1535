package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KMeans

/** Round-9 batch #28 — embedding geometry outliers and user return
  * cadence:
  *
  *  - `embedding_outliers`: the 20 vectors FARTHEST from their own trained
  *    IVF centroid (lowest assignment cosine, e6-quantized; ties → lowest
  *    vec_id) — mis-embedded junk shows up exactly here, and every one of
  *    these rows degrades both the cell's centroid and every probe that
  *    visits it. Complements `ivf_balance_audit` (occupancy) with
  *    geometry. One narrow assignment projection + distributed
  *    orderBy-limit; the oracle reads the shared TrainedIvfCteSql's
  *    rank-1 rows.
  *  - `return_gap_profile`: the distribution of gaps BETWEEN a user's
  *    consecutive sessions (log2-bucketed seconds; every gap exceeds the
  *    30-minute cut by construction) — the return-cadence read that sizes
  *    retention campaigns, next to session_depth_hist (within-session)
  *    and interarrival_profile (per-event). One user-window pass over the
  *    session table sessionize already pays for.
  */
object Queries108 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000
  private[graft] val OutlierK = 20

  val defs: Map[String, Q] = Map(
    "embedding_outliers" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      val cents = KMeans.fitMicro(embT, "embedding", "vec_id", k = 8, maxIter = 3)
      embT
        .select(col("vec_id"), array_max(KMeans.cellSimsMicro(
          KMeans.quantizeMicro(col("embedding")), cents)).as("b"))
        .select(col("vec_id"), (col("b.negc") * -1L).as("cell"),
          round(col("b.cos") * 1e6).cast("bigint").as("cos_e6"))
        .orderBy(col("cos_e6"), col("vec_id")).limit(OutlierK)
    },

    "return_gap_profile" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sessions = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1)
            .otherwise(0))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))
      val wu = Window.partitionBy("user_id").orderBy("session_idx")
      val gaps = sessions
        .withColumn("prev_end", lag("end_us", 1).over(wu))
        .filter(col("prev_end").isNotNull)
        .select(expr("(start_us - prev_end) div 1000000").as("gap_s"))
      val hist = gaps
        .select((length(bin(col("gap_s"))) - 1).cast("bigint").as("bucket"),
          col("gap_s"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_gaps"), min("gap_s").as("min_gap_s"),
          max("gap_s").as("max_gap_s"))
      val tot = hist.agg(sum("n_gaps").as("total"))
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_gaps"),
          expr("n_gaps * 1000 div total").as("share_milli"),
          col("min_gap_s"), col("max_gap_s"))
        .orderBy("bucket")
    }
  )

  val oracles: Map[String, String] = Map(
    "embedding_outliers" ->
      s"""WITH ${Queries86.TrainedIvfCteSql}
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
         |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
         |FROM cellrank WHERE rk = 1
         |ORDER BY cos_e6, vec_id LIMIT $OutlierK""".stripMargin,

    "return_gap_profile" ->
      s"""WITH ${Queries36.sessCteSql},
         |sessions AS (
         |  SELECT user_id, session_idx, min(ts_us) AS start_us, max(ts_us) AS end_us
         |  FROM sess GROUP BY 1, 2
         |), gaps AS (
         |  SELECT (start_us - lag(end_us) OVER (PARTITION BY user_id ORDER BY session_idx))
         |    // 1000000 AS gap_s
         |  FROM sessions
         |), h AS (
         |  SELECT CAST(length(bin(gap_s)) - 1 AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_gaps,
         |    CAST(min(gap_s) AS BIGINT) AS min_gap_s,
         |    CAST(max(gap_s) AS BIGINT) AS max_gap_s
         |  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
         |), tot AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS total FROM h)
         |SELECT h.bucket, h.n_gaps,
         |  CAST(h.n_gaps * 1000 // t.total AS BIGINT) AS share_milli,
         |  h.min_gap_s, h.max_gap_s
         |FROM h, tot t ORDER BY h.bucket""".stripMargin
  )
}
