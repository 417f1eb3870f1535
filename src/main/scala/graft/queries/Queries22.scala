package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-7 batch: content-defined chunk dedup and volume anomaly flags.
  *
  *  - `cdc_chunk_dedup`: content-defined chunking (the FastCDC/rsync family,
  *    token-level): a chunk boundary falls where a token's hash lands in a
  *    1/8 band, so chunk edges move WITH the content — an insertion near the
  *    top of a doc shifts every fixed-window span but leaves all later CDC
  *    chunks (and their hashes) intact. Per-doc duplicated-chunk fraction
  *    against the global first occurrence: the storage-dedup complement to
  *    substring_dedup's fixed-W windows. Tokens shuffle once keyed by
  *    doc_id (chunk assembly); the cross-doc dedup shuffle carries only
  *    (chunk_hash, doc_id, seg) — never text.
  *  - `volume_anomaly`: per-(event_type, day) volume vs the type's median
  *    daily volume, flagged at ≥1.5× by exact cross-multiplied integers
  *    (cnt·2 ≥ med·3) — the drop/spike monitor every ingest pipeline runs;
  *    one (type) shuffle, output is types × days regardless of corpus size.
  */
object Queries22 extends QuerySet {
  /** Content-defined chunks of a (doc_id, text) frame: boundary where a
    * token's md5 first hex digit lands in {0,1} (expected chunk ≈ 8
    * tokens). Shared by the query and the shift-resistance spec (a prefix
    * insertion may change only the chunks up to the first boundary). */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(TextF.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("bd",
        when(substring(md5(col("tok").cast("binary")), 1, 1).isin("0", "1"), 1L).otherwise(0L))
    val wSeg = Window.partitionBy("doc_id").orderBy("pos")
    toks
      .withColumn("seg", sum(col("bd")).over(wSeg))
      .groupBy(col("doc_id"), col("seg"))
      .agg(min(col("pos")).as("start_pos"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").cast("binary")).as("chunk_hash"))
  }

  val defs: Map[String, Q] = Map(
    "cdc_chunk_dedup" -> { (sp, dir) =>
      val chunks = cdcChunks(Tables.documents(sp, dir))
      val wFirst = Window.partitionBy("chunk_hash").orderBy("doc_id", "start_pos")
      chunks
        .withColumn("rk", row_number().over(wFirst))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          expr("n_dup * 1000 div n_chunks").as("dup_milli"))
        .orderBy("doc_id")
    },

    "volume_anomaly" -> { (sp, dir) =>
      val counts = Tables.events(sp, dir)
        .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"))
      // exact discontinuous median by rank arithmetic (the percentiles_exact
      // rule), deterministic tiebreak on day
      val wOrd = Window.partitionBy("event_type").orderBy("cnt", "day")
      val wType = Window.partitionBy("event_type")
      counts
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wType))
        .withColumn("med",
          max(when(col("rn") === expr("1 + (n - 1) * 50 div 100"), col("cnt"))).over(wType))
        .select(col("event_type"), col("day"), col("cnt"), col("med"),
          when(col("cnt") * 2 >= col("med") * 3, 1).otherwise(0).as("anomaly"))
        .orderBy("event_type", "day")
    }
  )

  val oracles: Map[String, String] = Map(
    "cdc_chunk_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN substring(md5(tok), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END AS bd
         |  FROM (
         |    SELECT doc_id, unnest(${TextF.TokensSql}) AS tok,
         |      generate_subscripts(${TextF.TokensSql}, 1) - 1 AS pos
         |    FROM documents
         |  ) t
         |), seg AS (
         |  SELECT doc_id, pos, tok,
         |    sum(bd) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
         |  FROM toks
         |), chunks AS (
         |  SELECT doc_id, seg, min(pos) AS start_pos,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         |  FROM seg GROUP BY doc_id, seg
         |), ranked AS (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, start_pos) AS rk
         |  FROM chunks
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000
         |    // CAST(count(*) AS BIGINT) AS dup_milli
         |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "volume_anomaly" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, day
        |), ranked AS (
        |  SELECT event_type, day, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM counts
        |), med AS (
        |  SELECT event_type, day, cnt,
        |    max(CASE WHEN rn = 1 + (n - 1) * 50 // 100 THEN cnt END)
        |      OVER (PARTITION BY event_type) AS med
        |  FROM ranked
        |)
        |SELECT event_type, day, cnt, med,
        |  CASE WHEN cnt * 2 >= med * 3 THEN 1 ELSE 0 END AS anomaly
        |FROM med ORDER BY event_type, day""".stripMargin
  )
}
