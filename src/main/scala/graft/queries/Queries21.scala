package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-7 batch: corpus statistics and the product-quantization tier of
  * the ANN stack.
  *
  *  - `collocation_lift`: bigram association mining (collocations) by exact
  *    integral lift = P(xy) / (P(x)·P(y)) — the tokenizer-merge /
  *    phrase-detection signal (word2vec's phrase pass uses the same score).
  *    Counts shuffle as (gram, count) pairs — never text; the unigram
  *    vocabulary is broadcast (vocab ≪ corpus at any scale).
  *  - `source_divergence`: per-source unigram-distribution drift from the
  *    corpus mixture as a quantized χ² score — the mixture-monitoring
  *    metric a training-data pipeline alerts on (DoReMi-adjacent). All
  *    integer arithmetic on milli-probabilities so the oracle is exact.
  *  - `ann_pq`: product quantization (Jégou et al., TPAMI 2011): split the
  *    64-dim embedding into 8 subspaces × 8 dims, encode each subspace as
  *    its nearest of 16 codebook centroids (integer-milli L2), search by
  *    asymmetric distance — query raw, corpus reconstructed from codes.
  *    8 bytes per vector instead of 256: THE resident-index compression at
  *    100 TB, composing with ann_ivf's cell pruning (IVF-PQ). Codebook here
  *    is sampled (vec_id < 16, k-means++-seeding style) so both engines
  *    derive it identically; at scale the trainer is per-subspace
  *    operators.KMeans. Encode is a NARROW literal-codebook projection —
  *    zero corpus-side joins or shuffles, same shape as ann_ivf assignment.
  */
object Queries21 extends QuerySet {
  private[queries] val PqM = 8         // subspaces
  private[queries] val PqDim = 8       // dims per subspace
  private[queries] val PqK = 16        // centroids per subspace
  private val IvfK = 8        // IVF cell count at test scale (= Queries11.SemK)
  private val MinPairCount = 5 // collocation support threshold

  /** Integer-milli quantization of the embedding — the ONE formula both
    * sides of every PQ expression use. */
  private def milliVec(e: Column): Column =
    transform(e, x => round(x.cast("double") * 1000).cast("long"))

  /** PQ-encode + decode the corpus: adds `qv` (integer-milli vector) and
    * `recon` (the vector reconstructed from its 8 subspace codes). Shared
    * by the ann_pq query and the spec (codebook members must reconstruct
    * exactly; reconstruction error is what ADC search pays).
    *
    * Codebook = the first PqK corpus vectors (k-means++-seeding style
    * sample), collected once (PqK·64 longs) and compiled into the plan as
    * literals — encode stays a NARROW projection, zero corpus-side joins. */
  private[graft] def pqCoded(sp: SparkSession, dir: String): DataFrame =
    pqEncode(sp, dir,
      Tables.embeddings(sp, dir).select(col("vec_id"), milliVec(col("embedding")).as("qv")))

  /** Append `recon` (the vector reconstructed from the row's 8 subspace
    * codes) to a frame carrying `qv` — ONE projection, so callers that also
    * compute an IVF cell stay single-scan with zero corpus-side joins.
    * The encode→decode runs in the native fused
    * [[graft.plans.PqReconExpression]] kernel: the composable spelling
    * below ([[pqEncodeComposable]], kept as the spec's parity reference)
    * is a 1024-node Catalyst tree that costs seconds of optimizer+codegen
    * work per plan. */
  private[graft] def pqEncode(sp: SparkSession, dir: String, base: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val cb = pqCodebook(sp, dir)
    base.withColumn("recon", ColumnBridge.column(
      graft.plans.PqReconExpression(ColumnBridge.expression(col("qv")), cb, PqDim)))
  }

  private[graft] def pqCodebook(sp: SparkSession, dir: String): Seq[Seq[Long]] =
    Tables.embeddings(sp, dir)
      .filter(col("vec_id") < PqK).orderBy("vec_id")
      .select(milliVec(col("embedding")).as("qv"))
      .collect().toSeq.map(_.getSeq[Long](0).toSeq)

  /** The built-ins-only spelling of [[pqEncode]] — spec reference only. */
  private[graft] def pqEncodeComposable(sp: SparkSession, dir: String, base: DataFrame): DataFrame = {
    val cb: Seq[Seq[Long]] = pqCodebook(sp, dir)
    // encode: per subspace the argmin-distance centroid (tie → lowest c)
    def subDist(qv: Column, c: Int, m: Int): Column =
      (0 until PqDim).map { j =>
        val d = element_at(qv, m * PqDim + j + 1) - lit(cb(c)(m * PqDim + j))
        d * d
      }.reduce(_ + _)
    def code(qv: Column, m: Int): Column =
      array_min(array((0 until PqK).map(c =>
        struct(subDist(qv, c, m).as("d"), lit(c).as("c"))): _*)).getField("c")
    // decode: reconstruct from the codes — ADC distance d(q, recon(x))
    // without materializing per-query tables
    val cbLit: Column = typedLit(cb)
    def recon(codes: Seq[Column]): Column =
      flatten(array((0 until PqM).map { m =>
        slice(element_at(cbLit, codes(m) + 1), m * PqDim + 1, PqDim)
      }: _*))
    base.withColumn("recon", recon((0 until PqM).map(m => code(col("qv"), m))))
  }

  val defs: Map[String, Q] = Map(
    "collocation_lift" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokens(col("text")).as("w"))
      // the unigram table feeds both word joins AND the total — cached so
      // the token aggregation runs once, not three times
      val uni = graft.util.CacheScope.track(toks.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c")))
      val totals = uni.agg(sum(col("c")).as("n_total"))
      val bi = toks.select(explode(TextF.shinglesFromTokens(col("w"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= MinPairCount)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      bi.join(broadcast(uni.select(col("t").as("w1"), col("c").as("c_x"))), Seq("w1"))
        .join(broadcast(uni.select(col("t").as("w2"), col("c").as("c_y"))), Seq("w2"))
        .crossJoin(broadcast(totals))
        .select(col("bg"), col("c_xy"), col("c_x"), col("c_y"),
          expr("c_xy * n_total * 1000 div (c_x * c_y)").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("bg"))
        .limit(50)
    },

    "source_divergence" -> { (sp, dir) =>
      val tok = Tables.documents(sp, dir)
        .select(col("source"), explode(TextF.tokens(col("text"))).as("t"))
      // each count table feeds a join AND its own rollup — cache so the
      // exploded-token aggregations run once each
      val sw = graft.util.CacheScope.track(
        tok.groupBy("source", "t").agg(count(lit(1)).as("c_sw")))
      val w = graft.util.CacheScope.track(
        tok.groupBy("t").agg(count(lit(1)).as("c_w")))
      val ts = sw.groupBy("source").agg(sum(col("c_sw")).as("t_s"))
      val total = w.agg(sum(col("c_w")).as("t_all"))
      // quantized χ²: milli-probability diffs squared over the corpus rate,
      // +1-smoothed; summed over words PRESENT in the source (absent-word
      // mass shows up as the present words' excesses)
      sw.join(broadcast(w), Seq("t"))
        .join(broadcast(ts), Seq("source"))
        .crossJoin(broadcast(total))
        .withColumn("p_milli", expr("c_sw * 1000 div t_s"))
        .withColumn("q_milli", expr("c_w * 1000 div t_all"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(expr("(p_milli - q_milli) * (p_milli - q_milli) div (q_milli + 1)")).as("chi2_milli"))
        .orderBy("source")
    },

    "ann_pq" -> { (sp, dir) =>
      val coded = pqCoded(sp, dir)
      val e = Tables.embeddings(sp, dir)
        .select(col("vec_id"), milliVec(col("embedding")).as("qv"))
      val corpus = coded.select(col("vec_id").as("nid"), col("recon"))
      val probes = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("qv").as("pq")))
      val d2 = aggregate(
        zip_with(col("pq"), col("recon"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("d2"), col("nid"))
      corpus.crossJoin(probes)
        .filter(col("nid") =!= col("qid"))
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), col("d2"))
        .orderBy("qid", "rk")
    },

    "ann_ivf_pq" -> { (sp, dir) =>
      // IVF-PQ (the ann_pq scaladoc's promised composition): full-precision
      // literal-centroid cell assignment + PQ codes in ONE narrow
      // projection over one scan; the probe reads ONLY its nprobe=2 cells
      // and pays 8 B/vector of reconstruction — the resident-index shape
      // (FAISS IVFPQ) at 100 TB, where cells partition the corpus files.
      import graft.functions.SimF
      val cents: Seq[(Long, Seq[Double], Double)] = Tables.embeddings(sp, dir)
        .filter(col("vec_id") < IvfK).orderBy("vec_id")
        .select(col("vec_id"), col("embedding"))
        .collect().toSeq
        .map { r =>
          val cv = r.getSeq[Float](1).map(_.toDouble).toSeq
          (r.getLong(0), cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
        }
      val e = Tables.embeddings(sp, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          milliVec(col("embedding")).as("qv"))
        .withColumn("nrm", SimF.norm(col("v")))
      val coded = graft.util.CacheScope.track(pqEncode(sp, dir,
        e.withColumn("cell", SimF.argmaxCell(col("v"), col("nrm"), cents))))
      val corpus = coded.select(col("vec_id").as("nid"), col("cell"), col("recon"))
      val probes = coded.filter(col("vec_id") < 5)
        .withColumn("sq", sort_array(SimF.cellSims(col("v"), col("nrm"), cents)))
        .select(col("vec_id").as("qid"), col("qv").as("pq"),
          explode(array(
            element_at(col("sq"), IvfK).getField("negc") * -1L,
            element_at(col("sq"), IvfK - 1).getField("negc") * -1L)).as("cell"))
      val d2 = aggregate(
        zip_with(col("pq"), col("recon"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("d2"), col("nid"))
      corpus.join(broadcast(probes), Seq("cell"))
        .filter(col("nid") =!= col("qid"))
        .withColumn("d2", d2)
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk"), col("nid"), col("d2"))
        .orderBy("qid", "rk")
    }
  )

  private val toksSql = TextF.TokensSql

  // ---- PQ oracle fragments (shared by ann_pq and ann_ivf_pq) -------------
  /** DuckDB twin of [[milliVec]]. */
  private[queries] val PqMvSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  /** Per-subspace L2 of row vector `qv` to centroid `cc` (full 64-vectors,
    * dims m·8+1 … m·8+8, 1-based). */
  private def pqSubSql(m: Int) =
    s"list_reduce(list_transform(range(1, ${PqDim + 1}), j -> " +
      s"(qv[$m * $PqDim + j] - cc[$m * $PqDim + j]) * (qv[$m * $PqDim + j] - cc[$m * $PqDim + j])), (x, y) -> x + y)"
  /** dl0..dl7: the 16-centroid distance list per subspace. */
  private[queries] val PqDlColsSql = (0 until PqM).map(m =>
    s"list_transform(cb_all, cc -> ${pqSubSql(m)}) AS dl$m").mkString(",\n    ")
  /** code0..code7: first index of the minimum (tie → lowest c), 0-based. */
  private[queries] val PqCodeColsSql = (0 until PqM).map(m =>
    s"list_position(dl$m, list_min(dl$m)) - 1 AS code$m").mkString(", ")
  /** The reconstructed vector from the 8 codes. */
  private val PqReconSql = (0 until PqM).map(m =>
    s"cb_all[code$m + 1][$m * $PqDim + 1 : $m * $PqDim + $PqDim]").mkString("flatten([", ", ", "])")
  /** ADC distance between raw probe `pq` and reconstruction `recon`. */
  private val PqD2Sql =
    s"list_reduce(list_transform(range(1, ${PqM * PqDim + 1}), i -> (pq[i] - recon[i]) * (pq[i] - recon[i])), (x, y) -> x + y)"

  val oracles: Map[String, String] = Map(
    "collocation_lift" -> {
      val bigramsSql = Queries6.shinglesSql(2)
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS w FROM documents
         |), uni AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t
         |), totals AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni
         |), bi AS (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c_xy,
         |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
         |  FROM (SELECT unnest($bigramsSql) AS bg FROM toks) GROUP BY bg
         |  HAVING count(*) >= $MinPairCount
         |)
         |SELECT bg, c_xy, a.c AS c_x, b.c AS c_y,
         |  c_xy * n_total * 1000 // (a.c * b.c) AS lift_milli
         |FROM bi JOIN uni a ON bi.w1 = a.t JOIN uni b ON bi.w2 = b.t, totals
         |ORDER BY lift_milli DESC, bg LIMIT 50""".stripMargin
    },

    "source_divergence" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($toksSql) AS t FROM documents
         |), sw AS (
         |  SELECT source, t, CAST(count(*) AS BIGINT) AS c_sw FROM tok GROUP BY source, t
         |), w AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS c_w FROM tok GROUP BY t
         |), ts AS (
         |  SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s FROM sw GROUP BY source
         |), total AS (
         |  SELECT CAST(sum(c_w) AS BIGINT) AS t_all FROM w
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum((p_milli - q_milli) * (p_milli - q_milli) // (q_milli + 1)) AS BIGINT) AS chi2_milli
         |FROM (
         |  SELECT sw.source, c_sw * 1000 // t_s AS p_milli, c_w * 1000 // t_all AS q_milli
         |  FROM sw JOIN w USING (t) JOIN ts ON sw.source = ts.source, total
         |) q GROUP BY source ORDER BY source""".stripMargin,

    "ann_pq" ->
      s"""WITH cbv AS (
         |  SELECT vec_id, $PqMvSql AS qv FROM embeddings WHERE vec_id < $PqK
         |), cb AS (
         |  SELECT list(qv ORDER BY vec_id) AS cb_all FROM cbv
         |), e AS (
         |  SELECT vec_id, $PqMvSql AS qv FROM embeddings
         |), dls AS (
         |  SELECT vec_id, qv,
         |    $PqDlColsSql
         |  FROM e, cb
         |), coded AS (
         |  SELECT vec_id, qv, $PqCodeColsSql FROM dls
         |), corpus AS (
         |  SELECT vec_id AS nid, $PqReconSql AS recon FROM coded, cb
         |), probes AS (
         |  SELECT vec_id AS qid, qv AS pq FROM e WHERE vec_id < 5
         |), scored AS (
         |  SELECT qid, nid, $PqD2Sql AS d2
         |  FROM corpus, probes WHERE nid <> qid
         |), ranked AS (
         |  SELECT qid, nid, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rk
         |  FROM scored
         |)
         |SELECT qid, rk, nid, d2
         |FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "ann_ivf_pq" -> {
      val dot = Queries3.dotSqlShared _
      s"""WITH e0 AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, $PqMvSql AS qv
         |  FROM embeddings
         |), n0 AS (
         |  SELECT vec_id, v, qv, sqrt(${dot("v", "v")}) AS nrm FROM e0
         |), cent AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n0 WHERE vec_id < $IvfK
         |), cb AS (
         |  SELECT list(qv ORDER BY vec_id) AS cb_all
         |  FROM (SELECT vec_id, qv FROM e0 WHERE vec_id < $PqK) cbv
         |), assign AS (
         |  SELECT vec_id, qv, cell FROM (
         |    SELECT n0.vec_id, n0.qv, cent.cid AS cell,
         |      row_number() OVER (PARTITION BY n0.vec_id
         |        ORDER BY ${dot("n0.v", "cent.cv")} / (n0.nrm * cent.cn) DESC, cent.cid) AS ark
         |    FROM n0, cent
         |  ) t WHERE ark = 1
         |), dls AS (
         |  SELECT vec_id, cell, qv,
         |    $PqDlColsSql
         |  FROM assign, cb
         |), coded AS (
         |  SELECT vec_id, cell, qv, $PqCodeColsSql FROM dls
         |), corpus AS (
         |  SELECT vec_id AS nid, cell, $PqReconSql AS recon FROM coded, cb
         |), probes AS (
         |  SELECT vec_id AS qid, qv AS pq, cell FROM (
         |    SELECT n0.vec_id, n0.qv, cent.cid AS cell,
         |      row_number() OVER (PARTITION BY n0.vec_id
         |        ORDER BY ${dot("n0.v", "cent.cv")} / (n0.nrm * cent.cn) DESC, cent.cid) AS prk
         |    FROM n0, cent WHERE n0.vec_id < 5
         |  ) t WHERE prk <= 2
         |), scored AS (
         |  SELECT qid, nid, $PqD2Sql AS d2
         |  FROM corpus JOIN probes USING (cell) WHERE nid <> qid
         |), ranked AS (
         |  SELECT qid, nid, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rk
         |  FROM scored
         |)
         |SELECT qid, rk, nid, d2
         |FROM ranked WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
    }
  )
}
