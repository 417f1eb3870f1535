package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.KMeans

/** Round-9 batch #6 — the trained-IVF evaluation loop, audio plumbing,
  * and integer readability:
  *
  *  - `ann_trained_recall`: recall@3 of the TRAINED IVF search path
  *    (`KMeans.fitMicro` centroids, nprobe = 2) against exact brute-force
  *    ground truth — `ann_recall`'s twin for the trained quantizer, and
  *    the close of the r9 integer-micro k-means loop: training,
  *    assignment, probing AND the recall audit are all integer-exact, so
  *    even this end-to-end evaluation hash-matches the unrolled DuckDB
  *    twin. Queries are a fixed probe set (|Q| constant); the corpus side
  *    is one narrow assignment projection.
  *  - `multimodal_audio_energy`: the VAD/silence-detection front end over
  *    payload "samples" (decode stubbed — see Multimodal.audioEnergyStub;
  *    the per-partition batch map is the real shape): fixed 64-sample
  *    energy windows, exact integer Σsample², silence flag at a fixed
  *    threshold.
  *  - `text_readability`: Flesch-style reading ease entirely in integer
  *    arithmetic — words, synthesized 10-word sentences (the corpus is
  *    single-line word soup, same convention as text_gopher_quality's
  *    lines), vowel-group syllable proxy; score_milli =
  *    206835 − 1015·W/S − 84600·VG/W with positive-operand integer
  *    division. The per-doc quality signal sits between the length
  *    heuristics and the trained classifier.
  */
object Queries86 extends QuerySet {
  private[graft] val AudioWindow = 64
  private[graft] val SilenceBelow = 518400L // 64 samples at amplitude 90
  private[graft] val RecallProbeQueries = 5
  private[graft] val RecallNprobe = 2

  val defs: Map[String, Q] = Map(
    "ann_trained_recall" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      val cents = KMeans.fitMicro(embT, "embedding", "vec_id", k = 8, maxIter = 3)
      val nv2 = aggregate(transform(col("v"), x => x * x), lit(0L), (a, x) => a + x)
      val base = embT
        .select(col("vec_id"), KMeans.quantizeMicro(col("embedding")).as("v"))
        .withColumn("nv2", nv2)
      val assign = base.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("nv2").as("nn2"), KMeans.assignCellMicro(col("v"), cents).as("cell"))
      val qraw = base.filter(col("vec_id") < RecallProbeQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv2").as("qn2"))
      // nprobe=2: the two best cells off ONE sorted sims array (ascending
      // sort → the k=8 cells' best sit at positions k and k-1)
      val k = cents.length
      val probes = broadcast(base.filter(col("vec_id") < RecallProbeQueries)
        .withColumn("sq", sort_array(KMeans.cellSimsMicro(col("v"), cents)))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv2").as("qn2"),
          explode(array((0 until RecallNprobe).map(j =>
            element_at(col("sq"), k - j).getField("negc") * -1L): _*)).as("cell")))
      def cos = {
        val dot = aggregate(zip_with(col("qv"), col("nv"), (x, y) => x * y),
          lit(0L), (a, x) => a + x)
        dot.cast("double") / (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double")))
      }
      val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val ivf = assign.join(probes, "cell")
        .filter(col("nid") =!= col("qid"))
        .withColumn("cos", cos)
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
        .select(col("qid"), col("nid"))
      val truth = assign.join(broadcast(qraw), col("nid") =!= col("qid"))
        .withColumn("cos", cos)
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
        .select(col("qid"), col("nid"))
      truth.join(ivf.withColumn("hit", lit(1L)), Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          expr("n_hits * 1000 div 3").as("recall_milli"))
        .orderBy("qid")
    },

    "multimodal_audio_energy" -> { (sp, dir) =>
      graft.multimodal.Multimodal.audioEnergyStub(
          Tables.documents(sp, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", AudioWindow)
        .select(col("doc_id"), col("window_idx"), col("energy"),
          (col("energy") < SilenceBelow).as("is_silence"))
        .orderBy("doc_id", "window_idx")
    },

    "text_readability" -> { (sp, dir) =>
      val words = size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
      val vg = size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")).cast("long")
      Tables.documents(sp, dir)
        .select(col("doc_id"), words.as("words"), vg.as("vowel_groups"))
        .withColumn("sentences", greatest(lit(1L), expr("(words + 9) div 10")))
        .select(col("doc_id"), col("words"), col("sentences"), col("vowel_groups"),
          when(col("words") === 0, lit(null).cast("long"))
            .otherwise(expr(
              "206835 - (1015 * words) div sentences - (84600 * vowel_groups) div words"))
            .as("flesch_milli"))
        .orderBy("doc_id")
    }
  )

  /** Shared DuckDB CTE chain for the trained-IVF evaluation: quantized
    * vectors `qd`, trained centroids `c3`, per-(query, cell) ranking
    * `cellrank`, the corpus `assign`ment, all probe-query cosines `pcc`,
    * and the brute-force `truth` top-3 — `ann_trained_recall` (nprobe=2)
    * and the nprobe curve both read it. */
  private[queries] lazy val TrainedIvfCteSql: String =
      s"""q AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM embeddings
         |),
         |qd AS (
         |  SELECT vec_id, CAST(i AS INTEGER) AS i, v[CAST(i AS INTEGER)] AS x
         |  FROM q, range(1, 65) t(i)
         |),
         |nv AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS nv2 FROM qd GROUP BY vec_id),
         |c0 AS (
         |  SELECT s.cell, qd.i, qd.x AS c
         |  FROM (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
         |        FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT 8) z) s
         |  JOIN qd ON qd.vec_id = s.vec_id
         |),
         |${Queries3.kmeansIterSql(1, "c0")},
         |${Queries3.kmeansIterSql(2, "c1")},
         |${Queries3.kmeansIterSql(3, "c2")},
         |nc3 AS (SELECT cell, CAST(sum(c * c) AS BIGINT) AS nc2 FROM c3 GROUP BY cell),
         |cellrank AS (
         |  SELECT j.vec_id, j.cell,
         |    CAST(j.dot AS DOUBLE) / (sqrt(CAST(nv.nv2 AS DOUBLE)) * sqrt(CAST(nc.nc2 AS DOUBLE))) AS cos,
         |    row_number() OVER (PARTITION BY j.vec_id ORDER BY
         |      CAST(j.dot AS DOUBLE) / (sqrt(CAST(nv.nv2 AS DOUBLE)) * sqrt(CAST(nc.nc2 AS DOUBLE))) DESC, j.cell) AS rk
         |  FROM (SELECT d.vec_id, c.cell, CAST(sum(d.x * c.c) AS BIGINT) AS dot
         |        FROM qd d JOIN c3 c ON d.i = c.i GROUP BY d.vec_id, c.cell) j
         |  JOIN nv ON nv.vec_id = j.vec_id
         |  JOIN nc3 nc ON nc.cell = j.cell
         |),
         |assign AS (SELECT vec_id AS nid, cell FROM cellrank WHERE rk = 1),
         |pcc AS (
         |  SELECT pc.qid, pc.nid,
         |    CAST(pc.dot AS DOUBLE) / (sqrt(CAST(qn.nv2 AS DOUBLE)) * sqrt(CAST(nn.nv2 AS DOUBLE))) AS cos
         |  FROM (SELECT a.vec_id AS qid, b.vec_id AS nid, CAST(sum(a.x * b.x) AS BIGINT) AS dot
         |        FROM qd a JOIN qd b ON a.i = b.i
         |        WHERE a.vec_id < $RecallProbeQueries AND a.vec_id <> b.vec_id
         |        GROUP BY 1, 2) pc
         |  JOIN nv qn ON qn.vec_id = pc.qid
         |  JOIN nv nn ON nn.vec_id = pc.nid
         |),
         |truth AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM pcc) r WHERE rk <= 3
         |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_trained_recall" ->
      s"""WITH $TrainedIvfCteSql,
         |probe AS (SELECT vec_id AS qid, cell FROM cellrank
         |          WHERE vec_id < $RecallProbeQueries AND rk <= $RecallNprobe),
         |ivf AS (
         |  SELECT qid, nid FROM (
         |    SELECT p.qid, s.nid,
         |      row_number() OVER (PARTITION BY p.qid ORDER BY pcc.cos DESC, s.nid) AS rk
         |    FROM probe p
         |    JOIN assign s ON s.cell = p.cell AND s.nid <> p.qid
         |    JOIN pcc ON pcc.qid = p.qid AND pcc.nid = s.nid) r WHERE rk <= 3
         |)
         |SELECT t.qid, CAST(count(i.nid) AS BIGINT) AS n_hits,
         |  CAST(count(i.nid) * 1000 // 3 AS BIGINT) AS recall_milli
         |FROM truth t LEFT JOIN ivf i ON i.qid = t.qid AND i.nid = t.nid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,

    "multimodal_audio_energy" ->
      s"""SELECT doc_id, CAST(o // $AudioWindow AS BIGINT) AS window_idx,
         |  CAST(list_sum(list_transform(range(1, least($AudioWindow, length(text) - o) + 1),
         |    i -> CAST(ascii(substr(text, CAST(o + i AS INT), 1)) AS BIGINT)
         |       * CAST(ascii(substr(text, CAST(o + i AS INT), 1)) AS BIGINT))) AS BIGINT) AS energy,
         |  CAST(list_sum(list_transform(range(1, least($AudioWindow, length(text) - o) + 1),
         |    i -> CAST(ascii(substr(text, CAST(o + i AS INT), 1)) AS BIGINT)
         |       * CAST(ascii(substr(text, CAST(o + i AS INT), 1)) AS BIGINT))) AS BIGINT)
         |    < $SilenceBelow AS is_silence
         |FROM (SELECT doc_id, text, unnest(range(0, length(text), $AudioWindow)) AS o
         |      FROM documents) t
         |ORDER BY doc_id, window_idx""".stripMargin,

    "text_readability" ->
      s"""SELECT doc_id, words, sentences, vowel_groups,
         |  CASE WHEN words = 0 THEN NULL
         |       ELSE 206835 - (1015 * words) // sentences - (84600 * vowel_groups) // words
         |  END AS flesch_milli
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS words,
         |    CAST(greatest(1, (len(list_filter(string_split(text, ' '), w -> w <> '')) + 9) // 10) AS BIGINT) AS sentences,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS vowel_groups
         |  FROM documents
         |) d ORDER BY doc_id""".stripMargin
  )
}
