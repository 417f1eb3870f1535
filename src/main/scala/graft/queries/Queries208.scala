package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.PairEngine

/** Round-15 batch #9 — detector evaluation, pricing dispersion, CLV model
  * inputs, and Unicode mixing:
  *
  *  - `detector_recall_on_labels`: recall of each cheap candidate
  *    generator — banded MinHash and banded SimHash — against the
  *    verified ngram-Jaccard pair labels, plus candidate volume (the
  *    recall/cost trade the detector choice is actually about). All three
  *    pair sets are the production builders' own outputs.
  *  - `discount_spread_hist`: histogram of per-part discount spread
  *    (max − min, permille) — price-discrimination / inconsistent-promo
  *    screen whose output is bounded by the discount domain, not parts.
  *  - `pareto_nbd_inputs`: the exact sufficient statistics every
  *    Pareto/NBD-style CLV fit consumes — per repeat-count x: customer
  *    count, mean recency t_x and mean observation age T (days, integer
  *    div) — shipped as exact integers the way kruskal_wallis ships rank
  *    sums. Customer-keyed min/max only; no windows.
  *  - `script_mixing_audit`: per source, documents containing ≥2 Unicode
  *    scripts (Latin/Cyrillic/Han/Arabic/Greek over text_script's planted
  *    decorations) — the confusables/spoofing surface a single
  *    dominant-script label hides.
  */
object Queries208 extends QuerySet {
  private val XCap = 12L

  val defs: Map[String, Q] = Map(
    "detector_recall_on_labels" -> { (sp, dir) =>
      // the three engines (verified labels, minhash candidates, simhash
      // fingerprints) are independent — materialize them concurrently
      // (guide §2.6) instead of back-to-back
      val prep = graft.util.Par.run(Seq(
        () => {
          val l = graft.util.CacheScope.track(
            PairEngine.jaccard(LlmQueries.shingleDocs(sp, dir)).select("id_a", "id_b"))
          l.count(); l
        },
        () => {
          val c = graft.util.CacheScope.track(
            Queries6.minhashPairs(sp, dir).select("id_a", "id_b"))
          c.count(); c
        },
        () => {
          val f = graft.util.CacheScope.track(Tables.documents(sp, dir)
            .select(col("doc_id"), graft.functions.TextF.simhash60(col("text")).as("f")))
          f.count(); f
        }))
      val labels = prep(0)
      val mhPairs = prep(1)
      def row(name: String, c: DataFrame): DataFrame = {
        labels.agg(count(lit(1)).as("n_labels"))
          .crossJoin(c.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(labels.join(c, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_hit")))
          .select(lit(name).as("method"), col("n_labels"), col("n_candidates"),
            col("n_hit"), expr("n_hit * 1000 div n_labels").as("recall_pm"))
      }
      // simhash metrics at FINGERPRINT level: enumerating doc pairs grows
      // quadratically with dup-clique size under corpus copies (the
      // all-pairs spelling probed 3.38x at x10). Candidate COUNT is
      // sum C(n,2) over same-fp groups + sum na*nb over verified fp pairs;
      // label HITS evaluate band-share + Hamming directly on the label
      // pairs. Identical output, fp-bounded work.
      val fp = prep(2)
      val gs = fp.groupBy("f").agg(count(lit(1)).as("n"))
      val fbands = gs.select(col("f"), col("n"),
        explode(array((0 until Queries28.SimhashBands).map(b => struct(
          lit(b).as("bi"),
          shiftright(col("f"), Queries28.SimhashBandBits * b)
            .bitwiseAND(lit(Queries28.SimhashBandMask)).as("bv"))): _*)).as("e"))
        .select(col("f"), col("n"), col("e.bi").as("bi"), col("e.bv").as("bv"))
      val crossCnt = fbands.select(col("bi"), col("bv"), col("f").as("fa"), col("n").as("na"))
        .join(fbands.select(col("bi"), col("bv"), col("f").as("fb"), col("n").as("nb")),
          Seq("bi", "bv"))
        .filter(col("fa") < col("fb"))
        .select("fa", "fb", "na", "nb").distinct()
        .filter(bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint") <= Queries28.SimhashMaxDist)
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("c"))
      val sameCnt = gs.agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("c"))
      val bandShare = (0 until Queries28.SimhashBands).map { b =>
        shiftright(col("fa"), Queries28.SimhashBandBits * b)
          .bitwiseAND(lit(Queries28.SimhashBandMask)) ===
          shiftright(col("fb"), Queries28.SimhashBandBits * b)
            .bitwiseAND(lit(Queries28.SimhashBandMask))
      }.reduce(_ || _)
      val shHits = labels
        .join(fp.toDF("id_a", "fa"), "id_a")
        .join(fp.toDF("id_b", "fb"), "id_b")
        .filter(bandShare &&
          bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint") <= Queries28.SimhashMaxDist)
        .agg(count(lit(1)).as("n_hit"))
      val shRow = labels.agg(count(lit(1)).as("n_labels"))
        .crossJoin(sameCnt.toDF("c1").crossJoin(crossCnt.toDF("c2"))
          .select((col("c1") + col("c2")).as("n_candidates")))
        .crossJoin(shHits)
        .select(lit("simhash").as("method"), col("n_labels"), col("n_candidates"),
          col("n_hit"), expr("n_hit * 1000 div n_labels").as("recall_pm"))
      row("minhash", mhPairs)
        .unionAll(shRow)
        .orderBy("method")
    },

    "discount_spread_hist" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(col("l_partkey"),
          expr("CAST(round(l_discount * 1000) AS BIGINT)").as("d"))
        .groupBy("l_partkey").agg((max("d") - min("d")).as("spread_permille"))
        .groupBy("spread_permille").agg(count(lit(1)).as("n_parts"))
        .orderBy("spread_permille")
    },

    "pareto_nbd_inputs" -> { (sp, dir) =>
      val horizon = Tables.orders(sp, dir).agg(max(col("o_orderdate").cast("date")).as("hz"))
      Tables.orders(sp, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_orderdate").cast("date")).as("first_d"),
          max(col("o_orderdate").cast("date")).as("last_d"))
        .crossJoin(broadcast(horizon))
        .select(least(col("n_orders") - 1, lit(XCap)).as("x"),
          datediff(col("last_d"), col("first_d")).cast("bigint").as("tx"),
          datediff(col("hz"), col("first_d")).cast("bigint").as("bigt"))
        .groupBy("x")
        .agg(count(lit(1)).as("n_customers"),
          sum("tx").as("sum_tx_days"), sum("bigt").as("sum_t_days"))
        .select(col("x"), col("n_customers"), col("sum_tx_days"), col("sum_t_days"),
          expr("sum_tx_days * 1000 div n_customers").as("avg_tx_milli"),
          expr("sum_t_days * 1000 div n_customers").as("avg_t_milli"))
        .orderBy("x")
    },

    "script_mixing_audit" -> { (sp, dir) =>
      val planted = Queries16.ScriptSuffixes.foldLeft(when(lit(false), lit(""))) {
        case (acc, (k, suffix)) =>
          acc.when(col("doc_id") % 7 === k && col("doc_id") % 2 === 0, repeat(lit(suffix), 6))
            .when(col("doc_id") % 7 === k, concat(col("text"), lit(suffix)))
      }.otherwise(col("text"))
      val chars = split(planted, "")
      def present(lo: Int, hi: Int): Column =
        when(size(filter(chars, c => ascii(c) >= lo && ascii(c) <= hi)) > 0, 1L).otherwise(0L)
      val latinPresent =
        when(size(filter(chars, c => (ascii(c) >= 65 && ascii(c) <= 90) ||
          (ascii(c) >= 97 && ascii(c) <= 122))) > 0, 1L).otherwise(0L)
      val nScripts = Queries16.ScriptRanges
        .map { case (_, lo, hi) => present(lo, hi) }
        .foldLeft(latinPresent)(_ + _)
      Tables.documents(sp, dir)
        .select(col("source"), nScripts.as("n_scripts"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_scripts") >= 2, 1L).otherwise(0L)).as("mixed_docs"),
          max("n_scripts").as("max_scripts"))
        .withColumn("mix_pm", expr("mixed_docs * 1000 div n_docs"))
        .orderBy("source")
    }
  )

  val oracles: Map[String, String] = Map(
    "detector_recall_on_labels" ->
      s"""WITH ${Queries204.JacPairsCte},
         |${Queries6.MinhashPairsCteSql},
         |${Queries28.SimhashCandCteSql},
         |sp AS (
         |  SELECT id_a, id_b FROM cand
         |  WHERE bit_count(xor(fa, fb)) <= ${Queries28.SimhashMaxDist}
         |),
         |u AS (
         |  SELECT CAST('minhash' AS VARCHAR) AS method,
         |    (SELECT CAST(count(*) AS BIGINT) FROM jp) AS n_labels,
         |    (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM jp
         |     WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.id_a = jp.id_a AND p.id_b = jp.id_b))
         |      AS n_hit
         |  UNION ALL
         |  SELECT 'simhash',
         |    (SELECT CAST(count(*) AS BIGINT) FROM jp),
         |    (SELECT CAST(count(*) AS BIGINT) FROM sp),
         |    (SELECT CAST(count(*) AS BIGINT) FROM jp
         |     WHERE EXISTS (SELECT 1 FROM sp s WHERE s.id_a = jp.id_a AND s.id_b = jp.id_b))
         |)
         |SELECT method, n_labels, n_candidates, n_hit,
         |  CAST(n_hit * 1000 // n_labels AS BIGINT) AS recall_pm
         |FROM u ORDER BY method""".stripMargin,

    "discount_spread_hist" ->
      """SELECT spread_permille, CAST(count(*) AS BIGINT) AS n_parts
        |FROM (
        |  SELECT l_partkey,
        |    CAST(max(CAST(round(l_discount * 1000) AS BIGINT))
        |       - min(CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS spread_permille
        |  FROM lineitem GROUP BY l_partkey) t
        |GROUP BY spread_permille ORDER BY spread_permille""".stripMargin,

    "pareto_nbd_inputs" ->
      s"""WITH hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS hz FROM orders),
         |cust AS (
         |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         |    min(CAST(o_orderdate AS DATE)) AS first_d,
         |    max(CAST(o_orderdate AS DATE)) AS last_d
         |  FROM orders GROUP BY o_custkey
         |)
         |SELECT x, CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(tx) AS BIGINT) AS sum_tx_days,
         |  CAST(sum(bigt) AS BIGINT) AS sum_t_days,
         |  CAST(CAST(sum(tx) AS BIGINT) * 1000 // count(*) AS BIGINT) AS avg_tx_milli,
         |  CAST(CAST(sum(bigt) AS BIGINT) * 1000 // count(*) AS BIGINT) AS avg_t_milli
         |FROM (
         |  SELECT least(n_orders - 1, $XCap) AS x,
         |    CAST(datediff('day', first_d, last_d) AS BIGINT) AS tx,
         |    CAST(datediff('day', first_d, hz) AS BIGINT) AS bigt
         |  FROM cust, hz) t
         |GROUP BY x ORDER BY x""".stripMargin,

    "script_mixing_audit" -> {
      val suffixCase = "CASE " + Queries16.ScriptSuffixes.map { case (k, s) =>
        val q = s.replace("'", "''")
        s"WHEN doc_id % 7 = $k AND doc_id % 2 = 0 THEN repeat('$q', 6) " +
          s"WHEN doc_id % 7 = $k THEN concat(text, '$q')"
      }.mkString(" ") + " ELSE text END"
      def present(cond: String): String =
        s"CASE WHEN len(list_filter(chars, c -> $cond)) > 0 THEN 1 ELSE 0 END"
      val lat = present(
        "(ascii(c) >= 65 AND ascii(c) <= 90) OR (ascii(c) >= 97 AND ascii(c) <= 122)")
      val others = Queries16.ScriptRanges
        .map { case (_, lo, hi) => present(s"ascii(c) >= $lo AND ascii(c) <= $hi") }
      s"""WITH planted AS (
         |  SELECT doc_id, source, string_split($suffixCase, '') AS chars FROM documents
         |), counted AS (
         |  SELECT source, ${(lat +: others).mkString(" + ")} AS n_scripts
         |  FROM planted
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS mixed_docs,
         |  CAST(max(n_scripts) AS BIGINT) AS max_scripts,
         |  CAST(CAST(sum(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000
         |       // count(*) AS BIGINT) AS mix_pm
         |FROM counted GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
