package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #27 — corpus-gate and distribution-shift auditing:
  *
  *  - `blocklist_filter`: the C4-style term-blocklist gate (Raffel et al.
  *    2020 strip documents containing badlist terms) as a per-source
  *    audit: docs flagged, flag rate (exact milli), and total blocked-term
  *    occurrences. The blocklist is a plan-time literal (real badlists are
  *    a few thousand terms — broadcast-scale forever), the probe is ONE
  *    narrow codegen'd scan (`filter` over the token array — no explode,
  *    no join), the aggregate is per-source. The list deliberately carries
  *    a term absent from the corpus: the zero branch is exercised, not
  *    assumed.
  *  - `embedding_drift`: per-label distribution shift between two corpus
  *    halves (vec_id parity — the deterministic stand-in for
  *    yesterday/today): L1 distance between the halves' mean embeddings,
  *    computed EXACTLY as cross-multiplied integer-milli sums —
  *    Σ_d |sum_a[d]·n_b − sum_b[d]·n_a| div (n_a·n_b) — so the drift
  *    monitor reproduces bit-for-bit (FP mean-of-floats would not). The
  *    per-(label, half, dim) sums are mergeable partials: one
  *    dim-exploded map-side-combined aggregation whose key space is
  *    labels × 2 × dims, never the vector count — the same
  *    partial-aggregate shape a streaming drift monitor ships.
  */
object Queries55 extends QuerySet {
  /** "slow"/"big" occur in the synth vocabulary; "crash" never does. */
  private val Blocklist = Seq("slow", "big", "crash")

  val defs: Map[String, Q] = Map(
    "blocklist_filter" -> { (sp, dir) =>
      val perDoc = Tables.documents(sp, dir)
        .select(col("source"),
          size(filter(TextF.tokens(col("text")),
            t => t.isInCollection(Blocklist))).as("n_blocked"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_blocked") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum("n_blocked").as("blocked_occurrences"))
        .withColumn("flag_rate_milli", expr("n_flagged * 1000 div n_docs"))
        .select("source", "n_docs", "n_flagged", "flag_rate_milli", "blocked_occurrences")
        .orderBy("source")
    },

    "embedding_drift" -> { (sp, dir) =>
      val comps = Tables.embeddings(sp, dir)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("half"), (col("pos") + 1).as("dim"))
        .agg(sum(round(col("x").cast("double") * 1000).cast("long")).as("s"),
          count(lit(1)).as("n"))
      val a = comps.filter(col("half") === 0)
        .select(col("label"), col("dim"), col("s").as("s_a"), col("n").as("n_a"))
      val b = comps.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("s").as("s_b"), col("n").as("n_b"))
      a.join(b, Seq("label", "dim"))
        .groupBy("label")
        .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
          sum(abs(col("s_a") * col("n_b") - col("s_b") * col("n_a"))).as("num"))
        .select(col("label").cast("long").as("label"), col("n_a"), col("n_b"),
          expr("num div (n_a * n_b)").as("l1_milli"))
        .orderBy("label")
    }
  )

  val oracles: Map[String, String] = Map(
    "blocklist_filter" -> {
      val inList = Blocklist.map(t => s"'$t'").mkString(", ")
      s"""WITH per_doc AS (
         |  SELECT source,
         |    len(list_filter(${TextF.TokensSql}, t -> t IN ($inList))) AS n_blocked
         |  FROM documents
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS flag_rate_milli,
         |  CAST(sum(n_blocked) AS BIGINT) AS blocked_occurrences
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
    },

    "embedding_drift" ->
      s"""WITH comps AS (
         |  SELECT label, vec_id % 2 AS half, dim,
         |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT label, vec_id, generate_subscripts(embedding, 1) AS dim,
         |      unnest(embedding) AS x
         |    FROM embeddings) e
         |  GROUP BY label, half, dim
         |)
         |SELECT CAST(a.label AS BIGINT) AS label, max(a.n) AS n_a, max(b.n) AS n_b,
         |  CAST(sum(abs(a.s * b.n - b.s * a.n)) // (max(a.n) * max(b.n)) AS BIGINT) AS l1_milli
         |FROM comps a JOIN comps b ON a.label = b.label AND a.dim = b.dim
         |  AND a.half = 0 AND b.half = 1
         |GROUP BY a.label ORDER BY label""".stripMargin
  )
}
