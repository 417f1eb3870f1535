package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{Multimodal, StubEmbedder}

/** Round-7 multimodal depth — the two pipeline steps beyond metadata
  * extraction (`multimodal_meta`), with the codec/model stubbed and the
  * Spark plumbing real (see `graft.multimodal`):
  *
  *  - `multimodal_embed`: executor-side batch feature extraction over the
  *    binary column via ONE `mapPartitions` pass ([[StubEmbedder]]'s
  *    md5-derived integer-milli components stand in for the model, so the
  *    oracle reproduces the result bit-exactly); embedding flattened to
  *    fixed columns for the hash compare.
  *  - `multimodal_frames`: strided frame sampling — one row per sampled
  *    frame with a content signature, the explode shape a video pipeline
  *    feeds to per-frame inference. Frame stride is a byte stride on the
  *    fake payloads; a codec-backed sampler swaps in behind the same
  *    schema.
  */
object Queries18 extends QuerySet {
  /** Frame stride in payload bytes (prime and smaller than a typical
    * payload, so docs yield several non-aligned frames); shared verbatim
    * with the SQL twin. */
  private val FrameStride = 131

  val defs: Map[String, Q] = Map(
    "multimodal_embed" -> { (sp, dir) =>
      val blobs = Tables.documents(sp, dir)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      val embedded = Multimodal.embedBatch(blobs, "doc_id", "payload", StubEmbedder)
      val e = (0 until StubEmbedder.dim).map(j =>
        element_at(col("embedding_milli"), j + 1).cast("bigint").as(s"e$j"))
      embedded.select(col("doc_id") +: e: _*).orderBy("doc_id")
    },

    "multimodal_frames" -> { (sp, dir) =>
      Multimodal.frameSampleStub(
          Tables.documents(sp, dir).select(col("doc_id"), col("text")),
          "text", FrameStride)
        .select(col("doc_id"), col("text"),
          posexplode(col("frame_offsets")).as(Seq("frame_idx", "offset")))
        .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          col("offset").cast("bigint").as("offset"),
          md5(expr("substring(text, `offset` + 1, 16)")).as("frame_sig"))
        .orderBy("doc_id", "frame_idx")
    }
  )

  // ---- DuckDB twins ------------------------------------------------------

  val oracles: Map[String, String] = Map(
    "multimodal_embed" -> {
      // first 16 bits of the md5 via nibble arithmetic (no hex-cast bets)
      def comp(j: Int) = {
        def nib(i: Int) =
          s"(strpos('0123456789abcdef', substr(md5(concat(text, ':$j')), $i, 1)) - 1)"
        s"((((${nib(1)} * 16 + ${nib(2)}) * 256 + (${nib(3)} * 16 + ${nib(4)})) % 2000) - 1000)"
      }
      val cols = (0 until StubEmbedder.dim)
        .map(j => s"CAST(${comp(j)} AS BIGINT) AS e$j").mkString(",\n  ")
      s"""SELECT doc_id,
         |  $cols
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "multimodal_frames" ->
      s"""SELECT doc_id,
         |  CAST(o // $FrameStride AS BIGINT) AS frame_idx,
         |  CAST(o AS BIGINT) AS "offset",
         |  md5(substr(text, CAST(o + 1 AS INT), 16)) AS frame_sig
         |FROM (
         |  SELECT doc_id, text, unnest(range(0, length(text), $FrameStride)) AS o
         |  FROM documents
         |) t ORDER BY doc_id, frame_idx""".stripMargin
  )
}
