package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #8 — graded safety scoring and corpus link structure:
  *
  *  - `toxicity_score`: the GRADED companion to `blocklist_filter`'s
  *    binary gate — severity-weighted flagged-term mass per doc and an
  *    exact per-mille-of-tokens score (a doc with one mild term and a doc
  *    saturated in severe ones must not route the same way). One narrow
  *    in-row fold; no shuffle beyond the output sort.
  *  - `text_link_graph`: outbound link structure mined from document text
  *    (planted URLs — the synth corpus carries none): URL extraction →
  *    domain rollup with doc reach and link mass — the seed of a
  *    crawl-frontier / domain-reputation table; one regexp projection +
  *    one key-shrinking aggregation.
  */
object Queries88 extends QuerySet {
  /** (term, severity-weight) — "crash" never occurs organically, the other
    * two do (same universe claim as blocklist_filter). */
  private[graft] val Severity = Seq("slow" -> 1L, "big" -> 2L, "crash" -> 5L)

  private[graft] val LinkEvery = 19
  private[graft] val LinkMod = 2
  private[graft] val UrlRe = "https?://[a-z0-9.-]+/[a-z0-9/]*"

  val defs: Map[String, Q] = Map(
    "toxicity_score" -> { (sp, dir) =>
      val toks = TextF.tokens(col("text"))
      val mass = aggregate(transform(toks, t => {
        Severity.foldLeft(when(lit(false), lit(0L))) { case (acc, (term, w)) =>
          acc.when(t === term, lit(w))
        }.otherwise(lit(0L))
      }), lit(0L), (a, x) => a + x)
      Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokenCount(col("text")).cast("long").as("n_toks"),
          mass.as("tox_mass"))
        .select(col("doc_id"), col("n_toks"), col("tox_mass"),
          when(col("n_toks") === 0, lit(0L))
            .otherwise(expr("tox_mass * 1000 div n_toks")).as("tox_milli"))
        .orderBy("doc_id")
    },

    "text_link_graph" -> { (sp, dir) =>
      val planted = when(col("doc_id") % LinkEvery === LinkMod,
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 6).cast("string"),
          lit(".example.com/page"), (col("doc_id") % 4).cast("string"),
          lit(" and http://ref.example.org/x")))
        .otherwise(col("text"))
      Tables.documents(sp, dir)
        .select(col("doc_id"), planted.as("txt"))
        .select(col("doc_id"),
          explode(regexp_extract_all(col("txt"), lit(UrlRe), lit(0))).as("url"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "https?://([a-z0-9.-]+)/", 1).as("domain"))
        .groupBy("domain")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_links"))
        .orderBy("domain")
    }
  )

  val oracles: Map[String, String] = {
    val sevCase = Severity.map { case (t, w) => s"WHEN t = '$t' THEN $w" }
      .mkString("CASE ", " ", " ELSE 0 END")
    Map(
      "toxicity_score" ->
        s"""SELECT doc_id, n_toks, tox_mass,
           |  CASE WHEN n_toks = 0 THEN 0
           |       ELSE CAST(tox_mass * 1000 // n_toks AS BIGINT) END AS tox_milli
           |FROM (
           |  SELECT doc_id,
           |    CAST(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
           |              ELSE len(${TextF.TokensSql}) END AS BIGINT) AS n_toks,
           |    CAST(coalesce(list_sum(list_transform(${TextF.TokensSql}, t -> $sevCase)), 0) AS BIGINT)
           |      AS tox_mass
           |  FROM documents
           |) d ORDER BY doc_id""".stripMargin,

      "text_link_graph" ->
        s"""WITH planted AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % $LinkEvery = $LinkMod
           |         THEN concat(text, ' see https://site', doc_id % 6,
           |                     '.example.com/page', doc_id % 4,
           |                     ' and http://ref.example.org/x')
           |         ELSE text END AS txt
           |  FROM documents
           |),
           |links AS (
           |  SELECT doc_id, unnest(regexp_extract_all(txt, '$UrlRe')) AS url FROM planted
           |)
           |SELECT regexp_extract(url, 'https?://([a-z0-9.-]+)/', 1) AS domain,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |  CAST(count(*) AS BIGINT) AS n_links
           |FROM links GROUP BY 1 ORDER BY 1""".stripMargin
    )
  }
}
