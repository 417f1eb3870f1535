package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.UaF
import graft.operators.PairEngine

/** Round-15 batch #5 — LSH capacity planning, dup-graph structure, license
  * contamination, and enrichment-composition drift:
  *
  *  - `lsh_s_curve`: the ANALYTIC MinHash-LSH capture curve 1−(1−s^r)^b
  *    evaluated in exact permille fixed-point (truncating div chains,
  *    identical on both engines) at each labeled near-dup pair's measured
  *    Jaccard, for the three (rows-per-band, bands) layouts of a k=4
  *    signature. The planner's expected-captured mass next to
  *    minhash_band_sweep's MEASURED sweep — when the two diverge, the
  *    independence assumption behind the s-curve is what broke.
  *  - `dedup_transitivity_audit`: wedge-closure rate of the verified
  *    near-dup graph (ngram_jaccard ≥ 200‰): of all wedges a−m−c, how
  *    many a−c edges are also verified pairs. LOW closure says
  *    threshold-transitive clustering (connected components) merges
  *    documents the pairwise test would keep apart — the audit that
  *    justifies (or indicts) the CC closure step. Candidate-bounded:
  *    wedges enumerate only within the verified pair set.
  *  - `license_dup_conflicts`: near-dup pairs (banded MinHash candidates)
  *    joined against each side's license heuristic class — a `cc` text
  *    duplicated under a `copyright` banner is a provenance conflict the
  *    keeper policy must see before it drops either copy. Pair labels are
  *    canonicalized (least, greatest) so the matrix is upper-triangular.
  *  - `ua_version_drift`: per (browser family, major version) share of
  *    events, first event-id half vs second — the enrichment-composition
  *    monitor that catches a UA-mix shift (bot fleet, app release) at the
  *    classified-output level, composed over the real UaF cascade.
  */
object Queries204 extends QuerySet {
  /** (rows per band, bands) layouts of the k=4 signature. */
  private val Layouts = Seq((1, 4), (2, 2), (4, 1))

  /** `1000 − (1000 − s^r)^b` as a truncating permille div chain (`s`
    * bound in scope). Both engines spell the SAME chain; only the integer
    * division token differs. */
  private def captureSql(r: Int, b: Int, div: String): String = {
    val sr = r match {
      case 1 => "s"
      case 2 => s"(s * s $div 1000)"
      case 4 => s"((s * s $div 1000) * (s * s $div 1000) $div 1000)"
    }
    val q = s"(1000 - $sr)"
    b match {
      case 1 => sr
      case 2 => s"1000 - ($q * $q $div 1000)"
      case 4 => s"1000 - ((($q * $q $div 1000) * ($q * $q $div 1000)) $div 1000)"
    }
  }

  /** License heuristic class per document (license_scan's predicates,
    * collapsed to one first-match label). */
  private def licenseClass(t: Column): Column =
    when(t.like("%creative commons%") || t.like("%cc-by%"), "cc")
      .when(t.like("%all rights reserved%"), "rights_reserved")
      .when(t.like("%copyright%"), "copyright")
      .when(t.like("%license%"), "license_word")
      .otherwise("none")

  private val LicenseClassSql =
    """CASE WHEN lower(text) LIKE '%creative commons%' OR lower(text) LIKE '%cc-by%' THEN 'cc'
      |     WHEN lower(text) LIKE '%all rights reserved%' THEN 'rights_reserved'
      |     WHEN lower(text) LIKE '%copyright%' THEN 'copyright'
      |     WHEN lower(text) LIKE '%license%' THEN 'license_word'
      |     ELSE 'none' END""".stripMargin

  val defs: Map[String, Q] = Map(
    "lsh_s_curve" -> { (sp, dir) =>
      // the labeled-pair Jaccard table materializes ONCE; each layout is a
      // cheap agg over it (without the cache, three full shingle pipelines)
      val pairs = graft.util.CacheScope.track(
        PairEngine.jaccard(LlmQueries.shingleDocs(sp, dir)).select(col("jac_permille").as("s")))
      pairs.count()
      Layouts.map { case (r, b) =>
        pairs.agg(count(lit(1)).as("n_pairs"),
            sum(expr(captureSql(r, b, "div"))).as("expected_captured_milli"))
          .select(lit(r.toLong).as("rows_per_band"), lit(b.toLong).as("bands"),
            col("n_pairs"), col("expected_captured_milli"))
      }.reduce(_.unionAll(_)).orderBy("rows_per_band")
    },

    "dedup_transitivity_audit" -> { (sp, dir) =>
      val p = graft.util.CacheScope.track(
        PairEngine.jaccard(LlmQueries.shingleDocs(sp, dir)).select("id_a", "id_b"))
      p.count()
      val e = p.select(col("id_a").as("m"), col("id_b").as("x"))
        .unionAll(p.select(col("id_b").as("m"), col("id_a").as("x")))
      val wedges = e.toDF("m", "a").join(e.toDF("m", "c"), "m")
        .filter(col("a") < col("c"))
        .select("a", "c").distinct()
      val closed = wedges.join(p.toDF("a", "c"), Seq("a", "c"), "left_semi")
      wedges.agg(count(lit(1)).as("n_wedges"))
        .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
        .select(col("n_wedges"), col("n_closed"),
          expr("n_closed * 1000 div n_wedges").as("closure_pm"))
    },

    "license_dup_conflicts" -> { (sp, dir) =>
      val lab = Tables.documents(sp, dir)
        .select(col("doc_id"), licenseClass(lower(col("text"))).as("lic"))
      Queries6.minhashPairs(sp, dir)
        .join(lab.toDF("id_a", "lic_a"), "id_a")
        .join(lab.toDF("id_b", "lic_b"), "id_b")
        .select(least(col("lic_a"), col("lic_b")).as("lic_lo"),
          greatest(col("lic_a"), col("lic_b")).as("lic_hi"))
        .groupBy("lic_lo", "lic_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("conflict", col("lic_lo") =!= col("lic_hi"))
        .orderBy("lic_lo", "lic_hi")
    },

    "ua_version_drift" -> { (sp, dir) =>
      val mx = Tables.events(sp, dir).agg(max("event_id").as("mx"))
      val ev = Synth.withRaw(Tables.events(sp, dir))
        .select(col("event_id"),
          UaF.browserFamily(col("ua")).as("fam"),
          UaF.browserVersion(col("ua")).as("ver"))
        .withColumn("major",
          coalesce(expr("try_cast(element_at(split(ver, '\\\\.'), 1) AS BIGINT)"), lit(-1L)))
        .crossJoin(broadcast(mx))
        .withColumn("h", when(col("event_id") * 2 <= col("mx"), lit(1L)).otherwise(lit(2L)))
      val counts = ev.groupBy("fam", "major", "h").agg(count(lit(1)).as("c"))
      val tot = counts.groupBy("h").agg(sum("c").as("t"))
      counts.join(tot, "h")
        .withColumn("pm", expr("c * 1000 div t"))
        .groupBy("fam", "major")
        .agg(sum(when(col("h") === 1, col("pm")).otherwise(0L)).as("p_pm"),
          sum(when(col("h") === 2, col("pm")).otherwise(0L)).as("q_pm"))
        .withColumn("delta_pm", abs(col("p_pm") - col("q_pm")))
        .orderBy("fam", "major")
    }
  )

  /** Verified-pair relation (id_a, id_b, s = jac permille ≥ 200) — the
    * DuckDB spelling of ngram_jaccard's output, shared by the three
    * pair-reading oracles here. */
  private[queries] val JacPairsCte =
    s"""${LlmQueries.JaccardSharedCteSql},
       |jp AS (
       |  SELECT sh.id_a, sh.id_b,
       |    CAST(round(1000.0 * sh.shared / (sa.n + sb.n - sh.shared)) AS BIGINT) AS s
       |  FROM shared sh
       |  JOIN sizes sa ON sa.doc_id = sh.id_a
       |  JOIN sizes sb ON sb.doc_id = sh.id_b
       |  WHERE CAST(round(1000.0 * sh.shared / (sa.n + sb.n - sh.shared)) AS BIGINT) >= 200
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "lsh_s_curve" -> {
      val selects = Layouts.map { case (r, b) =>
        s"""SELECT CAST($r AS BIGINT) AS rows_per_band, CAST($b AS BIGINT) AS bands,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(${captureSql(r, b, "//")}) AS BIGINT) AS expected_captured_milli
           |FROM jp""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $JacPairsCte
         |SELECT * FROM ($selects) u ORDER BY rows_per_band""".stripMargin
    },

    "dedup_transitivity_audit" ->
      s"""WITH $JacPairsCte,
         |e AS (
         |  SELECT id_a AS m, id_b AS x FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp
         |),
         |w AS (
         |  SELECT DISTINCT e1.x AS a, e2.x AS c
         |  FROM e e1 JOIN e e2 ON e1.m = e2.m WHERE e1.x < e2.x
         |)
         |SELECT
         |  CAST((SELECT count(*) FROM w) AS BIGINT) AS n_wedges,
         |  CAST((SELECT count(*) FROM w JOIN jp ON jp.id_a = w.a AND jp.id_b = w.c) AS BIGINT)
         |    AS n_closed,
         |  CAST(CAST((SELECT count(*) FROM w JOIN jp ON jp.id_a = w.a AND jp.id_b = w.c) AS BIGINT)
         |    * 1000 // (SELECT count(*) FROM w) AS BIGINT) AS closure_pm""".stripMargin,

    "license_dup_conflicts" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |lab AS (SELECT doc_id, $LicenseClassSql AS lic FROM documents)
         |SELECT least(la.lic, lb.lic) AS lic_lo, greatest(la.lic, lb.lic) AS lic_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  least(la.lic, lb.lic) <> greatest(la.lic, lb.lic) AS conflict
         |FROM pairs p
         |JOIN lab la ON la.doc_id = p.id_a
         |JOIN lab lb ON lb.doc_id = p.id_b
         |GROUP BY 1, 2 ORDER BY lic_lo, lic_hi""".stripMargin,

    "ua_version_drift" -> Synth.withCte(
      s"""SELECT fam, major,
         |  CAST(sum(CASE WHEN h = 1 THEN pm ELSE 0 END) AS BIGINT) AS p_pm,
         |  CAST(sum(CASE WHEN h = 2 THEN pm ELSE 0 END) AS BIGINT) AS q_pm,
         |  CAST(abs(sum(CASE WHEN h = 1 THEN pm ELSE 0 END) -
         |           sum(CASE WHEN h = 2 THEN pm ELSE 0 END)) AS BIGINT) AS delta_pm
         |FROM (
         |  SELECT fam, major, h, c,
         |    c * 1000 // CAST(sum(c) OVER (PARTITION BY h) AS BIGINT) AS pm
         |  FROM (
         |    SELECT fam, major, h, CAST(count(*) AS BIGINT) AS c
         |    FROM (
         |      SELECT ${UaF.brFamilySql("ua")} AS fam,
         |        coalesce(TRY_CAST(string_split(${UaF.brVersionSql("ua")}, '.')[1] AS BIGINT), -1)
         |          AS major,
         |        CASE WHEN event_id * 2 <= (SELECT max(event_id) FROM raw) THEN 1 ELSE 2 END AS h
         |      FROM raw) t0
         |    GROUP BY 1, 2, 3) t1) t2
         |GROUP BY fam, major
         |ORDER BY fam, major""".stripMargin)
  )
}
