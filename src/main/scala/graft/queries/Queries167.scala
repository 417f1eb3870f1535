package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #10 — co-located storage joins, concentration curves,
  * normalization sensitivity, and context-window budgeting:
  *
  *  - `bucketed_join`: the co-located join — lineitem and orders
  *    MATERIALIZED bucketed by orderkey (8 buckets, external tables under
  *    tmp), joined with ZERO exchange on either side (the spec pins the
  *    plan: no ShuffleExchange above the scans). At 100 TB this is the
  *    difference between re-shuffling 600 GB per join and reading
  *    co-partitioned files; the layout is written once, amortized over
  *    every downstream orderkey join.
  *  - `lorenz_deciles`: the Lorenz curve at customer deciles — cumulative
  *    revenue share per-mille at each population decile, exact rank
  *    arithmetic (the full concentration curve under revenue_pareto's
  *    single 80% read; Gini is the area gap, readable off the deciles).
  *  - `norm_sensitivity_audit`: what text normalization is worth to exact
  *    dedup — duplicate groups/docs under raw-byte md5 vs normalized md5
  *    (casefold + punctuation collapse), per source: the docs only the
  *    normalized key catches. Two key-shrinking aggregates over
  *    fingerprints, never text.
  *  - `context_overflow_audit`: context-window budgeting per source at
  *    max_len = 512 BPE tokens — docs overflowing, chunks needed ⌈n/512⌉,
  *    and padding waste in the last chunk per-mille: the packing-planner
  *    read that decides between truncate / chunk / pack policies
  *    (token_packing's admission audit). One narrow projection + a
  *    bounded rollup.
  */
object Queries167 extends QuerySet {
  private val MaxLen = 512L // context window, BPE tokens
  private val Buckets = 8

  /** Deterministic bucketed materialization of (lineitem, orders) by
    * orderkey — external tables under tmp, written once per source dir. */
  private[graft] def bucketedTables(sp: SparkSession, dir: String): (String, String) = {
    val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bkt_$safe"
    val (lt, ot) = (s"graft_bkt_li_$safe", s"graft_bkt_ord_$safe")
    if (!sp.catalog.tableExists(lt)) {
      Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").option("path", s"$base/li")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    }
    if (!sp.catalog.tableExists(ot)) {
      Tables.orders(sp, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").option("path", s"$base/ord")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(ot)
    }
    (lt, ot)
  }

  val defs: Map[String, Q] = Map(
    "bucketed_join" -> { (sp, dir) =>
      val (lt, ot) = bucketedTables(sp, dir)
      sp.table(lt).join(sp.table(ot), "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), sum("cents").as("revenue_cents"))
        .orderBy("o_orderpriority")
    },

    "lorenz_deciles" -> { (sp, dir) =>
      val perCust = Tables.orders(sp, dir)
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      val ranked = perCust
        .withColumn("rk", row_number().over(Window.orderBy("rev", "o_custkey")))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("cum", sum("rev").over(
          Window.orderBy("rev", "o_custkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum("rev").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      ranked.filter(expr("rk % greatest(n div 10, 1) = 0 AND rk div greatest(n div 10, 1) <= 10"))
        .select(expr("rk div greatest(n div 10, 1)").cast("long").as("decile"),
          col("rk").cast("long").as("n_customers"),
          expr("cum * 1000 div tot").as("cum_share_permille"))
        .orderBy("decile")
    },

    "norm_sensitivity_audit" -> { (sp, dir) =>
      val keys = Tables.documents(sp, dir).select(col("source"),
        md5(col("text").cast("binary")).as("raw_key"),
        TextF.docFingerprint(col("text")).as("norm_key"))
      def dupStats(key: String, pfx: String) =
        keys.groupBy(col("source"), col(key)).agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(when(col("c") >= 2, 1L).otherwise(0L)).as(s"${pfx}_groups"),
            sum(when(col("c") >= 2, col("c") - 1).otherwise(0L)).as(s"${pfx}_redundant"))
      dupStats("raw_key", "raw").join(dupStats("norm_key", "norm"), "source")
        .withColumn("rescued_docs", col("norm_redundant") - col("raw_redundant"))
        .orderBy("source")
    },

    "context_overflow_audit" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("source"), TextF.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .filter(col("n_bpe") > 0)
        .withColumn("chunks", expr(s"(n_bpe + ${MaxLen - 1}) div $MaxLen"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_bpe") > MaxLen, 1L).otherwise(0L)).as("overflow_docs"),
          sum("chunks").as("total_chunks"),
          sum("n_bpe").as("total_tokens"))
        .withColumn("waste_permille",
          expr(s"(total_chunks * $MaxLen - total_tokens) * 1000 div (total_chunks * $MaxLen)"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    // the oracle reads the UNBUCKETED sources — identical bits prove the
    // bucketed layout loses nothing
    "bucketed_join" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,

    "lorenz_deciles" ->
      """WITH per_cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT rev, o_custkey,
        |    row_number() OVER (ORDER BY rev, o_custkey) AS rk,
        |    count(*) OVER () AS n,
        |    sum(rev) OVER (ORDER BY rev, o_custkey ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(rev) OVER () AS tot
        |  FROM per_cust)
        |SELECT CAST(rk // greatest(n // 10, 1) AS BIGINT) AS decile,
        |  CAST(rk AS BIGINT) AS n_customers,
        |  CAST(cum * 1000 // tot AS BIGINT) AS cum_share_permille
        |FROM ranked
        |WHERE rk % greatest(n // 10, 1) = 0 AND rk // greatest(n // 10, 1) <= 10
        |ORDER BY decile""".stripMargin,

    "norm_sensitivity_audit" -> {
      val norm = TextF.NormalizeTextSql
      s"""WITH keys AS (
         |  SELECT source, md5(text) AS raw_key, md5($norm) AS norm_key
         |  FROM documents),
         |raw AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS raw_groups,
         |    CAST(sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS BIGINT) AS raw_redundant
         |  FROM (SELECT source, raw_key, count(*) AS c FROM keys GROUP BY 1, 2) t
         |  GROUP BY source),
         |nrm AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS norm_groups,
         |    CAST(sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS BIGINT) AS norm_redundant
         |  FROM (SELECT source, norm_key, count(*) AS c FROM keys GROUP BY 1, 2) t
         |  GROUP BY source)
         |SELECT raw.source, raw.raw_groups, raw.raw_redundant,
         |  nrm.norm_groups, nrm.norm_redundant,
         |  CAST(nrm.norm_redundant - raw.raw_redundant AS BIGINT) AS rescued_docs
         |FROM raw JOIN nrm ON nrm.source = raw.source
         |ORDER BY raw.source""".stripMargin
    },

    "context_overflow_audit" -> {
      val pat = TextF.BpeTokenPattern.replace("'", "''")
      s"""WITH d AS (
         |  SELECT source, CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe
         |  FROM documents),
         |c AS (
         |  SELECT source, n_bpe, (n_bpe + ${MaxLen - 1}) // $MaxLen AS chunks
         |  FROM d WHERE n_bpe > 0)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_bpe > $MaxLen THEN 1 ELSE 0 END) AS BIGINT)
         |    AS overflow_docs,
         |  CAST(sum(chunks) AS BIGINT) AS total_chunks,
         |  CAST(sum(n_bpe) AS BIGINT) AS total_tokens,
         |  CAST((sum(chunks) * $MaxLen - sum(n_bpe)) * 1000
         |    // (sum(chunks) * $MaxLen) AS BIGINT) AS waste_permille
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
