package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #2 — corpus lifecycle operators:
  *
  *  - `dedup_two_level`: hierarchical exact dedup — keep-min within each
  *    shard, then keep-min across the shard survivors. THE 100 TB dedup
  *    execution pattern: level 1 is a combiner-style partial that never
  *    shuffles more than one keeper per (shard, fingerprint), so the
  *    global shuffle carries survivors, not the corpus. Its output is
  *    BY CONSTRUCTION identical to single-level global dedup (min is
  *    associative; counts sum) — the oracle IS the global query, making
  *    the hierarchy's correctness an oracle-checked identity.
  *  - `snapshot_diff`: corpus version diff — classify every doc as
  *    added / removed / changed / unchanged between a (deterministically
  *    derived) previous snapshot and the current one, rolled up per
  *    source. One full-outer join on doc_id comparing fingerprints; the
  *    ingest-regression report every recurring corpus build ships.
  *  - `curriculum_stages`: curriculum assignment — ntile quartile over a
  *    deterministic difficulty order (token count, id tiebreak), rolled
  *    up to stage boundaries + token mass. ntile is SQL-standard (first
  *    buckets take remainders) so both engines agree exactly.
  */
object Queries30 extends QuerySet {
  /** Shard count for the two-level dedup (spreads ids, not ranges). */
  private[graft] val Shards = 64

  // snapshot_diff's synthetic previous snapshot, shared Spark <-> SQL:
  // docs with id % 11 == 0 are NEW (absent before); % 13 == 0 carry a
  // changed body before; ids ≡ 0 (mod 17) also existed as a now-REMOVED
  // twin at id + RemovedOffset.
  private[graft] val RemovedOffset = 9000000L

  val defs: Map[String, Q] = Map(
    "dedup_two_level" -> { (sp, dir) =>
      val fp = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.docFingerprint(col("text")).as("fp"),
          pmod(col("doc_id"), lit(Shards)).as("shard"))
      // level 1: per-shard keeper — the "combiner"; at scale this is the
      // map-side pass over each shard's files, no global data motion yet
      val local = fp.groupBy("shard", "fp")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
      // level 2: merge survivors — min of mins, sum of counts
      local.groupBy("fp")
        .agg(min("keeper").as("keeper"), sum("n").as("n_dupes"))
        .orderBy("fp")
    },

    "snapshot_diff" -> { (sp, dir) =>
      val cur = Tables.documents(sp, dir)
        .select(col("doc_id"), col("source"), TextF.docFingerprint(col("text")).as("fp"))
      val base = Tables.documents(sp, dir)
      val old = base
        .filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("source"),
          TextF.docFingerprint(
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" OLD")))
              .otherwise(col("text"))).as("fp"))
        .unionAll(base.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + RemovedOffset).as("doc_id"), col("source"),
            TextF.docFingerprint(col("text")).as("fp")))
      cur.select(col("doc_id"), col("source").as("src_new"), col("fp").as("fp_new"))
        .join(old.select(col("doc_id"), col("source").as("src_old"), col("fp").as("fp_old")),
          Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_new"), col("src_old")).as("source"),
          when(col("fp_old").isNull, "added")
            .when(col("fp_new").isNull, "removed")
            .when(col("fp_new") =!= col("fp_old"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("source", "status").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "status")
    },

    "curriculum_stages" -> { (sp, dir) =>
      val scored = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokenCount(col("text")).cast("bigint").as("n_toks"))
      val w = Window.orderBy(col("n_toks"), col("doc_id"))
      scored
        .withColumn("stage", ntile(4).over(w).cast("bigint"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_toks")).as("min_toks"), max(col("n_toks")).as("max_toks"),
          sum(col("n_toks")).as("sum_toks"))
        .orderBy("stage")
    }
  )

  private val normSql = TextF.NormalizeTextSql

  val oracles: Map[String, String] = Map(
    // the oracle is the SINGLE-LEVEL global dedup: hierarchy == global is
    // exactly what this key certifies
    "dedup_two_level" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS keeper,
         |  CAST(count(*) AS BIGINT) AS n_dupes
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "snapshot_diff" ->
      s"""WITH cur AS (
         |  SELECT doc_id, source, md5($normSql) AS fp FROM documents
         |),
         |old AS (
         |  SELECT doc_id, source,
         |    md5(trim(regexp_replace(lower(
         |      CASE WHEN doc_id % 13 = 0 THEN concat(text, ' OLD') ELSE text END),
         |      '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents WHERE doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + $RemovedOffset, source, md5($normSql)
         |  FROM documents WHERE doc_id % 17 = 0
         |)
         |SELECT coalesce(c.source, o.source) AS source,
         |  CASE WHEN o.fp IS NULL THEN 'added'
         |       WHEN c.fp IS NULL THEN 'removed'
         |       WHEN c.fp <> o.fp THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM cur c FULL OUTER JOIN old o USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "curriculum_stages" ->
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN $normSql = '' THEN 0
         |              ELSE len(string_split($normSql, ' ')) END AS BIGINT) AS n_toks
         |  FROM documents
         |),
         |staged AS (
         |  SELECT CAST(ntile(4) OVER (ORDER BY n_toks, doc_id) AS BIGINT) AS stage, n_toks
         |  FROM scored
         |)
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(n_toks) AS min_toks, max(n_toks) AS max_toks,
         |  CAST(sum(n_toks) AS BIGINT) AS sum_toks
         |FROM staged GROUP BY stage ORDER BY stage""".stripMargin
  )
}
