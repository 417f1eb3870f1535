package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming exact OLS — the incremental twin of the batch
  * `price_elasticity` query, via `mapGroupsWithState`.
  *
  * The whole trick is that `price_elasticity` fits its line from INTEGER
  * MOMENT SUMS (n, Σx, Σy, Σxy, Σx²) — and integer sums are perfectly
  * mergeable: per-key state is five longs, each micro-batch folds its rows
  * in with five additions, and after ANY prefix of the stream the emitted
  * slope/intercept are bit-identical to the batch query over the same
  * prefix (StreamOlsSpec pins stream == oracle-checked batch on the full
  * corpus). A float-sum OLS could never make that promise — partial sums
  * would differ by fold order across batches and executors. This is the
  * same mergeability argument as StreamKmv, applied to regression: at
  * 100 TB the moments combine associatively across executors, days and
  * restarts.
  */
object StreamOls extends Serializable {

  /** One fit emission per touched key per micro-batch: the moments and the
    * truncated exact milli slope/intercept (both -1-free: a degenerate
    * key with zero x-variance emits nulls via Option → -1 sentinel is
    * avoided by emitting the moments alongside). */
  case class OlsRow(
    key: String, n: Long, sx: Long, sy: Long, sxy: Long, sxx: Long,
    slope_milli: Long, intercept_milli: Long)

  /** JVM `/` truncates toward zero, as the batch query's `div` and the
    * oracle's integer `//` do. */
  private def fit(n: Long, sx: Long, sy: Long, sxy: Long, sxx: Long): (Long, Long) = {
    val den = n * sxx - sx * sx
    if (den == 0L) (0L, if (n == 0L) 0L else sy * 1000 / n)
    else {
      val slope = (n * sxy - sx * sy) * 1000 / den
      (slope, (sy * 1000 - slope * sx) / n)
    }
  }

  /** Fit a stream of (`key`, `x`, `y`) integer observations. Update mode:
    * every micro-batch emits each touched key's current exact fit. */
  def fitStream(spark: SparkSession, obs: DataFrame): Dataset[OlsRow] = {
    import spark.implicits._

    def update(key: String, rows: Iterator[(String, Long, Long)],
        state: GroupState[(Long, Long, Long, Long, Long)]): OlsRow = {
      var (n, sx, sy, sxy, sxx) = state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L))
      rows.foreach { case (_, x, y) =>
        n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
      }
      state.update((n, sx, sy, sxy, sxx))
      val (slope, icept) = fit(n, sx, sy, sxy, sxx)
      OlsRow(key, n, sx, sy, sxy, sxx, slope, icept)
    }

    obs.as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }
}
