package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SimF

/** Spherical (cosine) Lloyd's k-means over an array-typed embedding column —
  * the IVF "coarse quantizer" trainer behind graft's `ann_ivf` operator.
  *
  * Spark-shaped for 100 TB corpora:
  *  - ASSIGNMENT is a narrow projection against plan-time centroid literals
  *    ([[SimF.argmaxCell]]) — no join, no window, no shuffle of the corpus.
  *  - UPDATE is one `groupBy(cell, dim)` partial-aggregated mean; only
  *    k × dim aggregate rows ever reach the driver.
  *  - Centroids live on the driver between iterations (k × dim doubles are
  *    tiny by definition; the corpus is not).
  */
object KMeans {

  /** Cell id (0-based) of the nearest centroid by cosine, as a narrow
    * projection. Ties break to the lowest cell id. */
  def assignCell(v: Column, cents: Seq[Array[Double]]): Column = {
    val data = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      (i.toLong, c.toSeq, cn)
    }
    SimF.argmaxCell(v, SimF.norm(v), data)
  }

  /** Train `k` centroids with `maxIter` Lloyd iterations. Seeds are the `k`
    * vectors with the lowest `idCol` (deterministic). Cells that go empty
    * keep their previous centroid. Returns the centroids in cell order. */
  def fit(
    df: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int,
    maxIter: Int = 5
  ): Seq[Array[Double]] = {
    require(k >= 1 && maxIter >= 0)
    def toD(x: Any): Double = x match {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }
    var cents: Seq[Array[Double]] = df.orderBy(idCol).limit(k).select(vecCol)
      .collect().map(_.getSeq[Any](0).map(toD).toArray).toSeq
    for (_ <- 0 until maxIter) {
      // the generator lives in its own projection: co-resolving posexplode
      // with the struct-argmax strips struct field names (CleanupAliases)
      // and breaks the getField access inside assignCell
      val means = df
        .select(assignCell(col(vecCol), cents).as("cell"), col(vecCol).as("__v"))
        .select(col("cell"), posexplode(col("__v")))
        .groupBy("cell", "pos")
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i.toLong, old) }
    }
    cents
  }

  // ---- integer-micro Lloyd (the hash-exact variant) ------------------------

  /** Quantize an array-typed embedding to integer micro units:
    * `round(x * 1e6)` as longs. Same spelling as the DuckDB twin
    * (`CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)`): float→double
    * widening is exact, the multiply is one correctly-rounded IEEE op, and
    * both engines round halves away from zero. */
  def quantizeMicro(v: Column): Column =
    transform(v, x => round(x.cast("double") * lit(1e6)).cast("long"))

  /** Cell id (0-based) of the nearest MICRO-QUANTIZED centroid by cosine
    * over a micro-quantized vector column. Dot products and squared norms
    * are exact 64-bit integer sums (order-independent by construction); the
    * only FP ops are sqrt / one multiply / one divide over those exact
    * integers — correctly-rounded IEEE, so bit-identical on any engine.
    * Ties break to the lowest cell id. */
  def assignCellMicro(v: Column, cents: Seq[Array[Long]]): Column =
    array_max(cellSimsMicro(v, cents)).getField("negc") * -1L

  /** Per-cell cosine structs `(cos, -cell)` against micro-quantized
    * centroid literals — `array_max` of this is the assignment; its
    * sorted tail gives nprobe>1 probing (the trained-IVF search path). */
  def cellSimsMicro(v: Column, cents: Seq[Array[Long]]): Column = {
    val nv2 = aggregate(transform(v, x => x * x), lit(0L), (a, x) => a + x)
    val sims = cents.zipWithIndex.map { case (c, i) =>
      val nc2 = c.foldLeft(0L)((a, x) => a + x * x)
      val dot = aggregate(zip_with(v, typedLit(c.toSeq), (x, y) => x * y),
        lit(0L), (a, x) => a + x)
      // divide by the PRODUCT of the two sqrts — the DuckDB twin spells
      // `dot / (sqrt(nv2) * sqrt(nc2))` in exactly this shape
      struct(
        (dot.cast("double") / (sqrt(nv2.cast("double")) * lit(math.sqrt(nc2.toDouble)))).as("cos"),
        lit(-i.toLong).as("negc"))
    }
    array(sims: _*)
  }

  /** Train `k` micro-quantized centroids with `maxIter` Lloyd iterations —
    * bit-identical across engines and partitionings: every sum in both the
    * assignment and the update is an exact integer sum, and the per-cell
    * per-dimension mean divides truncating toward zero (JVM `/`; the
    * DuckDB twin's integer `//` truncates the same way). Seeds are the
    * `k` vectors with the lowest `idCol`; cells that go empty keep their
    * previous centroid. Scale shape is [[fit]]'s: assignment is a narrow
    * projection against centroid literals, and only k × dim aggregate rows
    * reach the driver per iteration. */
  def fitMicro(
    df: DataFrame,
    vecCol: String,
    idCol: String,
    k: Int,
    maxIter: Int = 5
  ): Seq[Array[Long]] = {
    require(k >= 1 && maxIter >= 0)
    val q = df.select(col(idCol).as("__id"), quantizeMicro(col(vecCol)).as("__v"))
    var cents: Seq[Array[Long]] = q.orderBy("__id").limit(k).select("__v")
      .collect().map(_.getSeq[Long](0).toArray).toSeq
    for (_ <- 0 until maxIter) {
      // separate projections for the same CleanupAliases reason as fit()
      val means = q
        .select(assignCellMicro(col("__v"), cents).as("cell"), col("__v"))
        .select(col("cell"), posexplode(col("__v")))
        .groupBy("cell", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(r => r.getLong(2) / r.getLong(3)).toArray
        }
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i.toLong, old) }
    }
    cents
  }
}
