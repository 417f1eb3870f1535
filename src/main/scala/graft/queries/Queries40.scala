package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #12 — `multimodal_dedup`: the dedup step of a
  * multimodal (video/image) pipeline over opaque binary payloads: exact
  * dup by payload md5, near-dup by SHARED FRAME SIGNATURES (the
  * perceptual-hash analogue the stub decoder supports deterministically —
  * two payloads are near-dups when they share ≥ 2 frame-aligned 16-byte
  * signatures). Composes `multimodal_frames`' frame sampling with the
  * banded-join shape every dedup operator here uses: distinct (doc,
  * frame_sig), a df-cap on hot signatures (the stop-shingle rule —
  * ngram_jaccard precedent — which also bounds the self-join fan-out at
  * any corpus size), signature equi-join, containment in exact milli.
  */
object Queries40 extends QuerySet {
  private val FrameStride = 131
  private val FrameSigDfCap = 64
  private val MinShared = 2

  val defs: Map[String, Q] = Map(
    "multimodal_dedup" -> { (sp, dir) =>
      val frames = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), col("text"),
            explode(expr(s"sequence(0, length(text) - 1, $FrameStride)")).as("o"))
          .select(col("doc_id"),
            md5(expr("substring(text, o + 1, 16)").cast("binary")).as("sig"))
          .distinct())
      frames.count() // per-doc totals + the capped self-join both scan it
      val perDoc = frames.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      val rare = frames.groupBy("sig").agg(count(lit(1)).as("df"))
        .filter(col("df") <= FrameSigDfCap)
      val kept = frames.join(rare.select("sig"), Seq("sig"))
      val shared = kept.select(col("sig"), col("doc_id").as("id_a"))
        .join(kept.select(col("sig"), col("doc_id").as("id_b")), Seq("sig"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= MinShared)
      val exact = Tables.documents(sp, dir)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("payload_md5"))
      shared
        .join(broadcast(perDoc.select(col("doc_id").as("id_a"), col("nf").as("nfa"))), Seq("id_a"))
        .join(broadcast(perDoc.select(col("doc_id").as("id_b"), col("nf").as("nfb"))), Seq("id_b"))
        .join(exact.select(col("doc_id").as("id_a"), col("payload_md5").as("ma")), Seq("id_a"))
        .join(exact.select(col("doc_id").as("id_b"), col("payload_md5").as("mb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("n_shared"),
          expr("(1000 * n_shared) div least(nfa, nfb)").as("containment_milli"),
          when(col("ma") === col("mb"), 1L).otherwise(0L).as("is_exact"))
        .orderBy("id_a", "id_b")
    }
  )

  val oracles: Map[String, String] = Map(
    "multimodal_dedup" ->
      s"""WITH frames AS (
         |  SELECT DISTINCT doc_id, md5(substr(text, CAST(o + 1 AS INT), 16)) AS sig
         |  FROM (
         |    SELECT doc_id, text, unnest(range(0, length(text), $FrameStride)) AS o
         |    FROM documents
         |  ) t
         |),
         |perdoc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM frames GROUP BY doc_id
         |),
         |rare AS (
         |  SELECT sig FROM frames GROUP BY sig HAVING count(*) <= $FrameSigDfCap
         |),
         |kept AS (
         |  SELECT doc_id, sig FROM frames JOIN rare USING (sig)
         |),
         |shared AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b ON a.sig = b.sig AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING count(*) >= $MinShared
         |),
         |exact AS (
         |  SELECT doc_id, md5(text) AS payload_md5 FROM documents
         |)
         |SELECT id_a, id_b, n_shared,
         |  (1000 * n_shared) // least(pa.nf, pb.nf) AS containment_milli,
         |  CAST(CASE WHEN ea.payload_md5 = eb.payload_md5 THEN 1 ELSE 0 END AS BIGINT) AS is_exact
         |FROM shared
         |JOIN perdoc pa ON pa.doc_id = id_a JOIN perdoc pb ON pb.doc_id = id_b
         |JOIN exact ea ON ea.doc_id = id_a JOIN exact eb ON eb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin
  )
}
