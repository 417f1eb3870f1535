package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.bits

/** Round-9 batch #37 — corpus ML + deeper basket mining:
  *
  *  - `nb_classifier`: a multinomial Naive Bayes language classifier
  *    trained AND evaluated on the corpus (resubstitution), entirely in
  *    quantized integer log-space — per-class add-one token likelihoods
  *    ⌊log₂(cnt+1)⌋ − ⌊log₂(total_c + V)⌋ and a ⌊log₂ n_docs⌋ prior, so
  *    training (two key-shrinking count aggregations), scoring (one
  *    token-keyed join + per-(doc, class) sum), and the argmax (rank
  *    window, lexicographic tie-break) are all hash-exact on both
  *    engines. Output: the 5×5 confusion matrix — the measured answer to
  *    "does a trained classifier beat `text_langid`'s heuristic".
  *    The zh column is itself a finding: the shared a-z0-9 tokenizer
  *    strips CJK, so zh docs carry no tokens and fall to the prior.
  *  - `basket_triples`: frequent 3-itemsets of part BRANDS within an
  *    order — the next Apriori level above `basket_rules`' pairs. The
  *    within-order triple fan-out is bounded by C(brands-per-order, 3)
  *    (≤ C(7,3) = 35), so the self-join chain stays linear in orders;
  *    support is milli over orders carrying ≥3 brands; top-20 by
  *    (support, lexicographic triple).
  */
object Queries117 extends QuerySet {
  private[queries] val TopTriples = 20

  val defs: Map[String, Q] = Map(
    "nb_classifier" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir).select(col("doc_id"), col("lang"))
      val toks = Tables.documents(sp, dir)
        .select(col("doc_id"), col("lang"), explode(TextF.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val cls = docs.groupBy(col("lang").as("c"))
        .agg(count(lit(1)).as("n_docs"))
      val counts = toks.groupBy(col("lang").as("c"), col("word"))
        .agg(count(lit(1)).as("cnt"))
      val totals = counts.groupBy("c").agg(sum("cnt").as("tot"))
      val vocab = counts.select("word").distinct()
      val vsize = vocab.agg(count(lit(1)).as("v"))
      // per-(word, class) smoothed likelihood bits over the FULL vocab ×
      // class grid (missing pairs contribute bits(1) = 0 — kept implicit)
      val wc = counts.select(col("c"), col("word"), bits(col("cnt") + 1).as("lq"))
      val dc = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("m"))
      val sumPart = dc.join(wc, Seq("word"))
        .groupBy("doc_id", "c").agg(sum(col("m") * col("lq")).as("sp"))
      val ntok = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val den = totals.crossJoin(vsize)
        .select(col("c"), bits(col("tot") + col("v")).as("denq"))
      val base = docs.crossJoin(broadcast(cls))
        .join(sumPart, Seq("doc_id", "c"), "left")
        .join(ntok, Seq("doc_id"), "left")
        .join(broadcast(den), Seq("c"))
        .select(col("doc_id"), col("lang"), col("c"),
          (bits(col("n_docs")) + coalesce(col("sp"), lit(0L))
            - coalesce(col("nt"), lit(0L)) * col("denq")).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("c"))
      base.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("lang").as("true_lang"), col("c").as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("true_lang", "pred_lang")
    },

    "basket_triples" -> { (sp, dir) =>
      // r16 NOTE: a CacheScope pin of `ob` was tried (4 consumers) and
      // REVERTED — measured ×2 slower (1.49 → 3.20 s A/B): the three
      // identical self-join legs already share ONE exchange via
      // ReusedExchange, so the pin only added a cache materialization and
      // replaced reused shuffle reads with InMemoryRelation scans.
      val ob = Tables.lineitem(sp, dir)
        .join(Tables.part(sp, dir).select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b")).distinct()
      val denom = ob.groupBy("o").agg(count(lit(1)).as("nb"))
        .filter(col("nb") >= 3).agg(count(lit(1)).as("denom"))
      val a = ob.select(col("o"), col("b").as("b1"))
      val b = ob.select(col("o"), col("b").as("b2"))
      val c = ob.select(col("o"), col("b").as("b3"))
      a.join(b, Seq("o")).filter(col("b1") < col("b2"))
        .join(c, Seq("o")).filter(col("b2") < col("b3"))
        .groupBy("b1", "b2", "b3").agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(denom))
        .select(col("b1"), col("b2"), col("b3"), col("n_orders"),
          expr("n_orders * 1000 div denom").as("support_milli"))
        .orderBy(col("n_orders").desc, col("b1"), col("b2"), col("b3"))
        .limit(TopTriples)
        .orderBy(col("n_orders").desc, col("b1"), col("b2"), col("b3"))
    }
  )

  val oracles: Map[String, String] = Map(
    "nb_classifier" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, lang, unnest(${TextF.TokensSql}) AS word FROM documents
         |),
         |tk AS MATERIALIZED (SELECT * FROM toks WHERE word <> ''),
         |cls AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
         |counts AS MATERIALIZED (
         |  SELECT lang AS c, word, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1, 2
         |),
         |totals AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS tot FROM counts GROUP BY 1),
         |vsize AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM counts),
         |den AS (
         |  SELECT t.c, CAST(length(bin(t.tot + s.v)) - 1 AS BIGINT) AS denq
         |  FROM totals t CROSS JOIN vsize s
         |),
         |dc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS m FROM tk GROUP BY 1, 2),
         |sump AS (
         |  SELECT dc.doc_id, counts.c,
         |    CAST(sum(dc.m * (length(bin(counts.cnt + 1)) - 1)) AS BIGINT) AS sp
         |  FROM dc JOIN counts ON counts.word = dc.word GROUP BY 1, 2
         |),
         |ntok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tk GROUP BY 1),
         |scored AS (
         |  SELECT d.doc_id, d.lang, cls.c,
         |    (length(bin(cls.n_docs)) - 1) + coalesce(s.sp, 0)
         |      - coalesce(n.nt, 0) * den.denq AS score
         |  FROM documents d
         |  CROSS JOIN cls
         |  JOIN den ON den.c = cls.c
         |  LEFT JOIN sump s ON s.doc_id = d.doc_id AND s.c = cls.c
         |  LEFT JOIN ntok n ON n.doc_id = d.doc_id
         |),
         |pred AS (
         |  SELECT doc_id, lang, c,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rk
         |  FROM scored
         |)
         |SELECT lang AS true_lang, c AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         |FROM pred WHERE rk = 1
         |GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin,

    "basket_triples" ->
      s"""WITH ob AS MATERIALIZED (
         |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
         |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         |),
         |denom AS (
         |  SELECT CAST(count(*) AS BIGINT) AS denom FROM (
         |    SELECT o FROM ob GROUP BY o HAVING count(*) >= 3
         |  ) t
         |),
         |tri AS (
         |  SELECT a.b AS b1, b.b AS b2, c.b AS b3, CAST(count(*) AS BIGINT) AS n_orders
         |  FROM ob a
         |  JOIN ob b ON b.o = a.o AND a.b < b.b
         |  JOIN ob c ON c.o = a.o AND b.b < c.b
         |  GROUP BY 1, 2, 3
         |)
         |SELECT b1, b2, b3, n_orders,
         |  CAST(n_orders * 1000 // denom AS BIGINT) AS support_milli
         |FROM tri CROSS JOIN denom
         |ORDER BY n_orders DESC, b1, b2, b3 LIMIT $TopTriples""".stripMargin
  )
}
