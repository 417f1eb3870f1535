package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.operators.PairEngine

/** Round-15 batch #6 — dispersion trend, logistics switching, Unicode
  * hygiene, and candidate-graph calibration:
  *
  *  - `dispersion_trend`: monthly coefficient-of-variation² of order value
  *    in exact staged-integer micro units (cv² = n·S2/S1² − 1, evaluated
  *    as `(S2·1e6 div S1)·n div S1 − 1e6` so no product overflows).
  *    Rising dispersion inside a flat mean is the classic mix-shift alarm
  *    a mean-only monitor misses.
  *  - `priority_switching`: each customer's FIRST vs LAST order priority
  *    (by order date, deterministic tie-break) as a 5×5 switching matrix —
  *    the service-tier migration read. Per-customer windows,
  *    hash-partitioned.
  *  - `normalization_impact`: per source, how many documents NFC
  *    normalization actually changes and the total char delta — the audit
  *    that sizes the Unicode-hygiene step before paying for it corpus-wide
  *    (planted decorations: Queries13.NormLits, the engine-shared list).
  *  - `cluster_candidate_precision`: per verified near-dup CLUSTER
  *    (connected components of ngram_jaccard pairs), the verified edge
  *    density vs the MinHash-candidate edges landing inside the cluster —
  *    calibrates how much the banding over- or under-connects each real
  *    cluster. All pair work candidate-bounded.
  */
object Queries205 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "dispersion_trend" -> { (sp, dir) =>
      Tables.orders(sp, dir)
        .select(expr("year(o_orderdate) * 100 + month(o_orderdate)").as("ym"),
          expr("CAST(round(o_totalprice) AS BIGINT) div 1000").as("k"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n"), sum("k").as("s1"), sum(expr("k * k")).as("s2"))
        .filter(col("s1") > 0)
        .select(col("ym"), col("n"), col("s1"), col("s2"),
          expr("(s2 * 1000000 div s1) * n div s1 - 1000000").as("cv2_micro"))
        .orderBy("ym")
    },

    "priority_switching" -> { (sp, dir) =>
      val ords = Tables.orders(sp, dir)
        .select(col("o_custkey").as("cust"), col("o_orderpriority").as("mode"),
          col("o_orderdate"), col("o_orderkey"))
      val asc = Window.partitionBy("cust").orderBy(col("o_orderdate"), col("o_orderkey"))
      val desc = Window.partitionBy("cust").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val fl = ords
        .withColumn("ra", row_number().over(asc))
        .withColumn("rd", row_number().over(desc))
        .filter(col("ra") === 1 || col("rd") === 1)
        .groupBy("cust")
        .agg(max(when(col("ra") === 1, col("mode"))).as("first_mode"),
          max(when(col("rd") === 1, col("mode"))).as("last_mode"))
      fl.groupBy("first_mode", "last_mode")
        .agg(count(lit(1)).as("n_customers"))
        .withColumn("switched", col("first_mode") =!= col("last_mode"))
        .orderBy("first_mode", "last_mode")
    },

    "normalization_impact" -> { (sp, dir) =>
      val deco = element_at(
        array(Queries13.NormLits.map(lit): _*),
        (col("doc_id") % Queries13.NormLits.length).cast("int") + 1)
      Tables.documents(sp, dir)
        .withColumn("raw", concat(substring(col("text"), 1, 24), lit(" "), deco))
        .withColumn("nfc", TextF.unicodeNormalize(col("raw")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("raw") =!= col("nfc"), 1L).otherwise(0L)).as("changed_docs"),
          sum((length(col("raw")) - length(col("nfc"))).cast("bigint")).as("char_delta"))
        .withColumn("changed_pm", expr("changed_docs * 1000 div n_docs"))
        .orderBy("source")
    },

    "cluster_candidate_precision" -> { (sp, dir) =>
      // the verified-pair engine and the minhash candidate engine are
      // independent — overlap them (guide §2.6)
      val (p, cand) = graft.util.Par.run2(
        () => {
          val v = graft.util.CacheScope.track(
            PairEngine.jaccard(LlmQueries.shingleDocs(sp, dir)).select("id_a", "id_b"))
          v.count(); v
        },
        () => {
          val c = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
          c.count(); c
        })
      val comp = graft.operators.ConnectedComponents.run(
        p.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("doc_id"), col("comp"))
      val nodes = comp.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
      val verified = p
        .join(comp.toDF("id_a", "comp"), "id_a")
        .groupBy("comp").agg(count(lit(1)).as("n_verified"))
      val candIn = cand
        .join(comp.toDF("id_a", "ca"), "id_a")
        .join(comp.toDF("id_b", "cb"), "id_b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("comp")).agg(count(lit(1)).as("n_candidate"))
      nodes.join(verified, Seq("comp"), "left")
        .join(candIn, Seq("comp"), "left")
        .select(col("comp"), col("n_nodes"),
          coalesce(col("n_verified"), lit(0L)).as("n_verified"),
          coalesce(col("n_candidate"), lit(0L)).as("n_candidate"),
          expr("coalesce(n_verified, 0) * 2000 div (n_nodes * (n_nodes - 1))").as("density_pm"))
        .orderBy("comp")
    }
  )

  val oracles: Map[String, String] = Map(
    "dispersion_trend" ->
      """SELECT ym, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS s1, CAST(sum(k * k) AS BIGINT) AS s2,
        |  CAST((CAST(sum(k * k) AS BIGINT) * 1000000 // CAST(sum(k) AS BIGINT))
        |       * CAST(count(*) AS BIGINT) // CAST(sum(k) AS BIGINT) - 1000000 AS BIGINT)
        |    AS cv2_micro
        |FROM (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |             CAST(round(o_totalprice) AS BIGINT) // 1000 AS k
        |      FROM orders) t
        |GROUP BY ym HAVING CAST(sum(k) AS BIGINT) > 0 ORDER BY ym""".stripMargin,

    "priority_switching" ->
      """WITH fl AS (
        |  SELECT cust,
        |    max(CASE WHEN ra = 1 THEN mode END) AS first_mode,
        |    max(CASE WHEN rd = 1 THEN mode END) AS last_mode
        |  FROM (
        |    SELECT o_custkey AS cust, o_orderpriority AS mode,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS ra,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
        |    FROM orders) t
        |  WHERE ra = 1 OR rd = 1
        |  GROUP BY cust
        |)
        |SELECT first_mode, last_mode, CAST(count(*) AS BIGINT) AS n_customers,
        |  first_mode <> last_mode AS switched
        |FROM fl GROUP BY 1, 2 ORDER BY first_mode, last_mode""".stripMargin,

    "normalization_impact" -> {
      val lits = Queries13.NormLits.map(s =>
        "'" + s.replace("'", "''") + "'").mkString("[", ", ", "]")
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN raw <> nfc THEN 1 ELSE 0 END) AS BIGINT) AS changed_docs,
         |  CAST(sum(length(raw) - length(nfc)) AS BIGINT) AS char_delta,
         |  CAST(CAST(sum(CASE WHEN raw <> nfc THEN 1 ELSE 0 END) AS BIGINT) * 1000
         |       // CAST(count(*) AS BIGINT) AS BIGINT) AS changed_pm
         |FROM (
         |  SELECT source,
         |    concat(substr(text, 1, 24), ' ',
         |           list_extract($lits, CAST(doc_id % ${Queries13.NormLits.length} AS INTEGER) + 1)) AS raw,
         |    nfc_normalize(concat(substr(text, 1, 24), ' ',
         |           list_extract($lits, CAST(doc_id % ${Queries13.NormLits.length} AS INTEGER) + 1))) AS nfc
         |  FROM documents) t
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "cluster_candidate_precision" ->
      s"""WITH RECURSIVE ${Queries204.JacPairsCte},
         |${Queries6.MinhashComponentsCteSql},
         |eg AS (
         |  SELECT id_a AS s, id_b AS d FROM jp
         |  UNION SELECT id_b, id_a FROM jp
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM eg
         |  UNION
         |  SELECT e.s, reach.r FROM eg e JOIN reach ON e.d = reach.id
         |),
         |cmp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
         |sigs2 AS (
         |  SELECT doc_id,
         |    md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
         |    md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
         |  FROM comps
         |),
         |cand2 AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |    FROM sigs2 a JOIN sigs2 b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
         |    UNION ALL
         |    SELECT a.doc_id, b.doc_id
         |    FROM sigs2 a JOIN sigs2 b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |  ) u
         |),
         |nodes AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_nodes FROM cmp GROUP BY comp),
         |ver AS (
         |  SELECT ca.comp, CAST(count(*) AS BIGINT) AS n_verified
         |  FROM jp JOIN cmp ca ON ca.doc_id = jp.id_a GROUP BY ca.comp
         |),
         |cin AS (
         |  SELECT ca.comp, CAST(count(*) AS BIGINT) AS n_candidate
         |  FROM cand2 c JOIN cmp ca ON ca.doc_id = c.id_a JOIN cmp cb ON cb.doc_id = c.id_b
         |  WHERE ca.comp = cb.comp GROUP BY ca.comp
         |)
         |SELECT n.comp, n.n_nodes,
         |  coalesce(v.n_verified, 0) AS n_verified,
         |  coalesce(ci.n_candidate, 0) AS n_candidate,
         |  CAST(coalesce(v.n_verified, 0) * 2000 // (n.n_nodes * (n.n_nodes - 1)) AS BIGINT)
         |    AS density_pm
         |FROM nodes n
         |LEFT JOIN ver v ON v.comp = n.comp
         |LEFT JOIN cin ci ON ci.comp = n.comp
         |ORDER BY n.comp""".stripMargin
  )
}
