package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SimF, TextF}

/** Round-7: `cluster_keyterms` — label embedding clusters with their top
  * distinguishing terms, the corpus-exploration step that runs after any
  * clustering (semdedup cells, k-means topics): for each IVF cell, the
  * top-5 terms by integer TF-IDF where the "documents" of the idf are the
  * CELLS (a term in every cell distinguishes nothing and scores 0).
  *
  * Shapes at 100 TB: cell assignment is the ann_ivf narrow codegen'd
  * argmax-over-literal-centroids projection (zero joins for the N-row
  * side); embeddings↔documents is a co-keyed equi-join (vec_id == doc_id in
  * the synth corpus; production would carry the doc key in both tables);
  * tokens shuffle ONCE keyed (cell, term) as counts; the per-term cell-df
  * table is at most |vocab| × 16 and broadcasts. Bit-length idf
  * (`length(bin(16 div celldf)) − 1`) keeps the score exactly portable, as
  * in tfidf_topterms.
  */
object Queries27 extends QuerySet {
  /** Centroid count — the ann_ivf convention (first [[NCells]] vectors are
    * the "trained" centroids; operators.KMeans is the real trainer). */
  private val NCells = 16

  val defs: Map[String, Q] = Map(
    "cluster_keyterms" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      val cents: Seq[(Long, Seq[Double], Double)] = embT
        .filter(col("vec_id") < NCells).orderBy("vec_id")
        .select(col("vec_id"), col("embedding"))
        .collect().toSeq
        .map { r =>
          val cv = r.getSeq[Float](1).map(_.toDouble).toSeq
          val cn = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
          (r.getLong(0), cv, cn)
        }
      val assign = embT
        .select(col("vec_id"), col("embedding"), SimF.norm(col("embedding")).as("nrm"))
        .select(col("vec_id").as("doc_id"),
          SimF.argmaxCell(col("embedding"), col("nrm"), cents).as("cell"))
      val toks = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("t"))
        .join(assign, Seq("doc_id"))
      val tf = toks.groupBy("cell", "t").agg(count(lit(1)).as("tf"))
      val cellDf = tf.groupBy("t").agg(count(lit(1)).as("celldf"))
      val scored = tf
        .join(broadcast(cellDf), Seq("t"))
        .withColumn("idf_bits", (length(bin(expr(s"$NCells div celldf"))) - 1).cast("bigint"))
        .withColumn("score", col("tf") * col("idf_bits"))
      val w = Window.partitionBy("cell").orderBy(col("score").desc, col("t"))
      scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("cell"), col("rk"), col("t").as("term"),
          col("tf"), col("celldf"), col("score"))
        .orderBy("cell", "rk")
    }
  )

  val oracles: Map[String, String] = Map(
    "cluster_keyterms" -> {
      def dot(a: String, b: String) = Queries3.dotSqlShared(a, b)
      s"""WITH e AS (
         |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding")}) AS nrm FROM embeddings
         |), cent AS (
         |  SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM e WHERE vec_id < $NCells
         |), assign AS (
         |  SELECT vec_id AS doc_id, cid AS cell
         |  FROM (
         |    SELECT e.vec_id, cent.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dot("e.embedding", "cent.cv")} / (e.nrm * cent.cn) DESC, cent.cid) AS rk
         |    FROM e, cent
         |  ) t WHERE rk = 1
         |), toks AS (
         |  SELECT a.cell, x.t
         |  FROM (SELECT doc_id, unnest(${TextF.TokensSql}) AS t FROM documents) x
         |  JOIN assign a USING (doc_id)
         |), tf AS (
         |  SELECT cell, t, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY cell, t
         |), celldf AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS celldf FROM tf GROUP BY t
         |), scored AS (
         |  SELECT cell, t, tf, celldf,
         |    tf * CAST(length(bin($NCells // celldf)) - 1 AS BIGINT) AS score
         |  FROM tf JOIN celldf USING (t)
         |), ranked AS (
         |  SELECT cell, t, tf, celldf, score,
         |    row_number() OVER (PARTITION BY cell ORDER BY score DESC, t) AS rk
         |  FROM scored
         |)
         |SELECT cell, rk, t AS term, tf, celldf, score
         |FROM ranked WHERE rk <= 5 ORDER BY cell, rk""".stripMargin
    }
  )
}
