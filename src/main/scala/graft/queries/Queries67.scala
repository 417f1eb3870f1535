package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #39 — denoising-objective data gen and packing QA:
  *
  *  - `span_corruption`: T5-style span-corruption pairs (Raffel et al.
  *    2020): tokens are blocked in threes, ~20% of blocks (md5-chosen,
  *    deterministic) are masked; the INPUT replaces each masked block
  *    with a sentinel, the TARGET lists sentinel + the masked tokens.
  *    Sentinels are BLOCK-INDEXED (`<extra_id_B>`) rather than
  *    sequentially numbered — numbering needs a per-doc prefix count
  *    (a fold), block indexing keeps the whole construction one
  *    embarrassingly-parallel in-row `transform`; a trainer remaps ids in
  *    the tokenizer. Everything in-row (no explode/shuffle/join); output
  *    carries md5s of both sides so the oracle pins the full strings
  *    compactly.
  *  - `packing_efficiency`: the QA report for `token_packing`'s bins —
  *    per source: bin count, fill-rate milli vs the 2048 budget, and the
  *    under-filled-bin count. Layered on token_packing's oracle-checked
  *    relation on BOTH engines; the open (last) bin per source is
  *    excluded from the fill-rate denominator — it is legitimately
  *    partial.
  */
object Queries67 extends QuerySet {
  private val Budget = 2048L
  private val BlockW = 3

  val defs: Map[String, Q] = Map(
    "span_corruption" -> { (sp, dir) =>
      val d = Tables.documents(sp, dir)
        .withColumn("w", TextF.tokens(col("text")))
        .filter(size(col("w")) >= 10)
      val withBlocks = d
        .withColumn("nblocks", expr(s"(size(w) + ${BlockW - 1}) div $BlockW"))
        // masked(b) ⇔ md5("sc<doc>:<b>") first 4 hex % 5 == 0 (~20%)
        .withColumn("masked", expr(
          s"""filter(sequence(0, nblocks - 1), b ->
             |  CAST(conv(substring(md5(concat('sc', CAST(doc_id AS STRING), ':',
             |    CAST(b AS STRING))), 1, 4), 16, 10) AS BIGINT) % 5 = 0)""".stripMargin))
        .withColumn("input_text", expr(
          s"""array_join(transform(sequence(0, nblocks - 1), b ->
             |  CASE WHEN array_contains(masked, b)
             |       THEN concat('<extra_id_', CAST(b AS STRING), '>')
             |       ELSE array_join(slice(w, b * $BlockW + 1, $BlockW), ' ') END), ' ')"""
          .stripMargin))
        .withColumn("target_text", expr(
          s"""array_join(transform(masked, b ->
             |  concat('<extra_id_', CAST(b AS STRING), '> ',
             |         array_join(slice(w, b * $BlockW + 1, $BlockW), ' '))), ' ')"""
          .stripMargin))
      withBlocks.select(col("doc_id"),
        size(col("w")).cast("bigint").as("n_tokens"),
        col("nblocks").cast("bigint").as("n_blocks"),
        size(col("masked")).cast("bigint").as("n_masked"),
        md5(col("input_text").cast("binary")).as("input_md5"),
        md5(col("target_text").cast("binary")).as("target_md5"))
        .orderBy("doc_id")
    },

    "packing_efficiency" -> { (sp, dir) =>
      val packed = LlmQueries.defs("token_packing")(sp, dir)
      val bins = packed.groupBy("source", "bin")
        .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n_docs"))
      val lastBin = bins.groupBy("source").agg(max("bin").as("open_bin"))
      bins.join(lastBin, Seq("source"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("bin") =!= col("open_bin"), col("fill")).otherwise(0L))
            .as("closed_fill"),
          sum(when(col("bin") =!= col("open_bin"), 1L).otherwise(0L)).as("n_closed"),
          sum(when(col("bin") =!= col("open_bin") && col("fill") * 10 < Budget * 9, 1L)
            .otherwise(0L)).as("n_underfilled"))
        .select(col("source"), col("n_bins"), col("n_closed"),
          when(col("n_closed") > 0,
            expr(s"closed_fill * 1000 div (n_closed * $Budget)")).otherwise(lit(0L))
            .as("fill_rate_milli"),
          col("n_underfilled"))
        .orderBy("source")
    }
  )

  val oracles: Map[String, String] = Map(
    "span_corruption" -> {
      val toks = TextF.TokensSql
      val nib = "(CASE WHEN ascii(%s) <= 57 THEN ascii(%s) - 48 ELSE ascii(%s) - 87 END)"
      def nibAt(h: String, i: Int) = nib.format(s"substr($h, $i, 1)", s"substr($h, $i, 1)", s"substr($h, $i, 1)")
      val h = "md5(concat('sc', CAST(doc_id AS VARCHAR), ':', CAST(b AS VARCHAR)))"
      val h16 = s"(${nibAt(h, 1)} * 4096 + ${nibAt(h, 2)} * 256 + ${nibAt(h, 3)} * 16 + ${nibAt(h, 4)})"
      s"""WITH d AS (
         |  SELECT doc_id, $toks AS w FROM documents
         |),
         |base AS (
         |  SELECT doc_id, w, len(w) AS n_tokens,
         |    (len(w) + ${BlockW - 1}) // $BlockW AS nblocks
         |  FROM d WHERE len(w) >= 10
         |),
         |blocked AS (
         |  SELECT doc_id, w, n_tokens, nblocks,
         |    list_filter(range(0, nblocks), b -> $h16 % 5 = 0) AS masked
         |  FROM base
         |),
         |built AS (
         |  SELECT doc_id, n_tokens, nblocks, len(masked) AS n_masked,
         |    array_to_string(list_transform(range(0, nblocks), b ->
         |      CASE WHEN list_contains(masked, b)
         |           THEN concat('<extra_id_', CAST(b AS VARCHAR), '>')
         |           ELSE array_to_string(list_slice(w, b * $BlockW + 1, b * $BlockW + $BlockW), ' ')
         |      END), ' ') AS input_text,
         |    coalesce(array_to_string(list_transform(masked, b ->
         |      concat('<extra_id_', CAST(b AS VARCHAR), '> ',
         |             array_to_string(list_slice(w, b * $BlockW + 1, b * $BlockW + $BlockW), ' '))), ' '), '')
         |      AS target_text
         |  FROM blocked
         |)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(nblocks AS BIGINT) AS n_blocks, CAST(n_masked AS BIGINT) AS n_masked,
         |  md5(input_text) AS input_md5, md5(target_text) AS target_md5
         |FROM built ORDER BY doc_id""".stripMargin
    },

    "packing_efficiency" ->
      s"""WITH packed AS (
         |${LlmQueries.oracles("token_packing")}
         |),
         |bins AS (
         |  SELECT source, bin, CAST(sum(n_tokens) AS BIGINT) AS fill,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM packed GROUP BY source, bin
         |),
         |lastb AS (SELECT source, max(bin) AS open_bin FROM bins GROUP BY source)
         |SELECT b.source, CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(CASE WHEN b.bin <> l.open_bin THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_closed,
         |  CAST(CASE WHEN sum(CASE WHEN b.bin <> l.open_bin THEN 1 ELSE 0 END) > 0
         |    THEN sum(CASE WHEN b.bin <> l.open_bin THEN b.fill ELSE 0 END) * 1000
         |      // (sum(CASE WHEN b.bin <> l.open_bin THEN 1 ELSE 0 END) * $Budget)
         |    ELSE 0 END AS BIGINT) AS fill_rate_milli,
         |  CAST(sum(CASE WHEN b.bin <> l.open_bin AND b.fill * 10 < $Budget * 9
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_underfilled
         |FROM bins b JOIN lastb l ON b.source = l.source
         |GROUP BY b.source ORDER BY b.source""".stripMargin
  )
}
