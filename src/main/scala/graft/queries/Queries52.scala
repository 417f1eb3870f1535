package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #24 — survivorship and reproducibility:
  *
  *  - `golden_record`: the MDM survivorship step on top of
  *    `record_linkage`: linkage pairs → connected entity clusters →
  *    one golden row per entity (lowest-id master is the authority,
  *    its attributes survive; member count and a dirty-record count ride
  *    along). Masters sit below [[Queries28.DirtyIdOffset]], so the
  *    min-label component id IS the surviving master.
  *  - `pipeline_manifest`: the dataset-versioning manifest a reproducible
  *    corpus build publishes per stage (raw → gated → shipped): row count
  *    plus an ORDER-INDEPENDENT id checksum (sum of per-id Rabin–Karp
  *    hashes mod p) — commutative, so it computes as a plain aggregate at
  *    any scale and any partitioning, unlike an ordered digest. Stage
  *    relations reuse the exact operators they manifest (corpus_filter,
  *    corpus_pipeline), so the manifest cannot drift from the pipeline.
  */
object Queries52 extends QuerySet {
  private val ChecksumMod = 1000000007L

  val defs: Map[String, Q] = Map(
    "golden_record" -> { (sp, dir) =>
      val links = Queries28.defs("record_linkage")(sp, dir)
        .select(col("master_id").as("src"), col("dirty_id").as("dst"))
      val comp = graft.operators.ConnectedComponents.run(links)
      val cust = Tables.customer(sp, dir)
      val golden = comp.groupBy(col("comp").as("entity_id"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("id") >= Queries28.DirtyIdOffset, 1L).otherwise(0L)).as("n_dirty"))
      golden
        .join(cust.select(col("c_custkey").as("entity_id"),
          Queries28.masterName(col("c_custkey"), col("c_mktsegment")).as("golden_name"),
          col("c_nationkey").as("nation")), Seq("entity_id"))
        .select(col("entity_id"), col("golden_name"), col("nation"),
          col("n_records"), col("n_dirty"))
        .orderBy("entity_id")
    },

    "pipeline_manifest" -> { (sp, dir) =>
      def manifest(name: String, ids: DataFrame): DataFrame =
        ids.select(col(ids.columns.head).as("doc_id"))
          .agg(count(lit(1)).as("n_rows"),
            (sum(expr(s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % $ChecksumMod")
              ) % ChecksumMod).as("id_checksum"))
          .select(lit(name).as("stage"), col("n_rows"), col("id_checksum"))
      val raw = Tables.documents(sp, dir).select("doc_id")
      // r16: the gate lineage (fingerprint window + quality/lang filters
      // over the whole corpus) feeds BOTH the stage-2 row and the shipped
      // pipeline — cache it once instead of running it twice (§2.4); the
      // shipped stage reuses the cached table via Queries24.shippedFrom
      val gated = graft.util.CacheScope.track(
        Queries10.corpusGated(sp, dir).select(col("doc_id"), col("n_tokens")))
      gated.count()
      val shipped = Queries24.shippedFrom(gated, sp, dir).select("doc_id")
      manifest("1_raw", raw)
        .unionAll(manifest("2_gated", gated.select("doc_id")))
        .unionAll(manifest("3_shipped", shipped))
        .orderBy("stage")
    }
  )

  val oracles: Map[String, String] = Map(
    "golden_record" -> {
      s"""WITH RECURSIVE master AS (
         |  SELECT c_custkey AS master_id, c_nationkey AS nation,
         |    ${Queries28.masterNameSql} AS name
         |  FROM customer
         |),
         |dirty AS (
         |  SELECT c_custkey + ${Queries28.DirtyIdOffset} AS dirty_id, c_nationkey AS nation,
         |    ${Queries28.dirtyNameSql.replace("\n", " ")} AS dirty_name
         |  FROM (SELECT c_custkey, c_nationkey, ${Queries28.masterNameSql} AS nm FROM customer
         |        WHERE c_custkey % 3 = 0) s
         |),
         |links AS (
         |  SELECT m.master_id, d.dirty_id
         |  FROM master m JOIN dirty d
         |    ON m.nation = d.nation
         |    AND substr(m.name, 1, ${Queries28.BlockPrefix}) = substr(d.dirty_name, 1, ${Queries28.BlockPrefix})
         |  WHERE levenshtein(m.name, d.dirty_name) <= 1
         |),
         |edges AS (
         |  SELECT master_id AS s, dirty_id AS t FROM links
         |  UNION SELECT dirty_id, master_id FROM links
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id
         |),
         |labels AS (SELECT id, min(r) AS entity_id FROM reach GROUP BY id)
         |SELECT entity_id,
         |  CAST(count(*) AS BIGINT) AS n_records,
         |  CAST(sum(CASE WHEN id >= ${Queries28.DirtyIdOffset} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dirty,
         |  (SELECT m.name FROM master m WHERE m.master_id = entity_id) AS golden_name,
         |  (SELECT m.nation FROM master m WHERE m.master_id = entity_id) AS nation
         |FROM labels GROUP BY entity_id ORDER BY entity_id""".stripMargin
    },

    "pipeline_manifest" -> {
      def sumHash(rel: String) =
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |    % $ChecksumMod) % $ChecksumMod AS BIGINT) AS id_checksum
           |FROM ($rel) t""".stripMargin
      s"""WITH RECURSIVE ${Queries24.PipelineCtesSql},
         |shippedfull AS (
         |${Queries24.ShippedSelectSql}
         |)
         |SELECT '1_raw' AS stage, * FROM (${sumHash("SELECT doc_id FROM documents")}) a
         |UNION ALL
         |SELECT '2_gated', * FROM (${sumHash("SELECT doc_id FROM gated")}) b
         |UNION ALL
         |SELECT '3_shipped', * FROM (${sumHash("SELECT doc_id FROM shippedfull")}) c
         |ORDER BY stage""".stripMargin
    }
  )
}
