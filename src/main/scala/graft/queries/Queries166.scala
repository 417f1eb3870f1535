package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.bits

/** Round-12 batch #9 — partition-pruning storage layout, corpus entropy,
  * lexical diversity, and the LSH hot-bucket cap sweep:
  *
  *  - `dynamic_partition_pruning`: Spark's DPP under the oracle gate — the
  *    fact table is MATERIALIZED partitioned by ship month (the layout a
  *    100 TB warehouse actually uses), the quarter dim filter reaches the
  *    fact scan as a `dynamicpruning` subquery, and only Q1 partition
  *    directories are read (the spec pins the plan + the partition count).
  *    The deterministic temp layout is rebuilt per run; at cluster scale
  *    this is the difference between scanning 3 months and 84.
  *  - `bigram_cond_entropy`: per-source unigram entropy H(w) and bigram
  *    conditional entropy H(w|prev) in QUANTIZED milli-bits (the
  *    transition_entropy ⌊log₂⌋ spelling — exact integers, no floating
  *    log). H(w|prev) ≪ H(w) measures phrase structure; the gap is the
  *    per-source predictability read that a perplexity model would give,
  *    from counts alone. Two key-shrinking aggregates.
  *  - `ttr_by_length`: type-token ratio by ⌊log₂ length⌋ tier — pooled
  *    TTR and mean per-doc TTR per tier (lexical diversity vs length, the
  *    quality screen that catches keyword-stuffed and boilerplate docs
  *    regardless of absolute length). One doc-local projection + a
  *    bounded rollup.
  *  - `lsh_cap_sweep`: the hot-bucket cap planner — for cap ∈ {1,2,4}:
  *    candidate pairs kept vs dropped and the docs affected, over the
  *    MinHash band buckets. Every graft band join ships with a
  *    HotBucketCap skew guard; this query reads what a given cap COSTS
  *    in recall mass before it is deployed, from the bucket rollup alone.
  */
object Queries166 extends QuerySet {
  private val Caps = Seq(1L, 2L, 4L)

  /** Deterministic partitioned materialization of lineitem by ship month
    * (m_id = yyyymm). Rewritten only when absent — the layout is a pure
    * function of the source dir. */
  private[graft] def partitionedLineitem(sp: SparkSession, dir: String): String = {
    val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_$safe"
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("m_id"))
        .repartition(col("m_id"))
        .write.mode("overwrite").partitionBy("m_id").parquet(out)
    }
    out
  }

  val defs: Map[String, Q] = Map(
    "dynamic_partition_pruning" -> { (sp, dir) =>
      val path = partitionedLineitem(sp, dir)
      val fact = sp.read.parquet(path)
      // quarter dim: tiny, broadcastable — its filter prunes fact partitions
      val q1 = Tables.lineitem(sp, dir)
        .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("m_id"))
        .distinct()
        .filter(expr("m_id % 100 <= 3"))
      fact.join(broadcast(q1), "m_id")
        .groupBy(col("m_id").cast("long").as("m_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("m_id")
    },

    "bigram_cond_entropy" -> { (sp, dir) =>
      val docs = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("source"), TextF.tokens(col("text")).as("toks")))
      // unigram: H(w) = sum c*(log2N - log2c)/N per source, milli-bits
      val uniCounts = graft.util.CacheScope.track(
        docs.select(col("source"), explode(col("toks")).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c")))
      val utot = uniCounts.groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"))
      val uniH = uniCounts.join(utot.select(col("source"), col("n_tokens")), "source")
        .groupBy("source")
        .agg(sum(col("c") * (bits(col("n_tokens")) - bits(col("c")))).as("hq"))
        .join(utot, "source")
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("hq * 1000 div n_tokens").as("uni_entropy_mbits"))
      // bigram: H(w|prev) = sum_prev sum_w c*(log2 n_prev - log2 c)/total -
      // zip_with over the shifted slice (never element_at over an index
      // sequence: the interpreted-HOF trap); the null-padded last pair is
      // cut by the outer slice, and the 0x01 joiner matches chr(1) in the
      // twin (tokens are [a-z0-9]+, the joiner cannot collide)
      val bi = docs.filter(size(col("toks")) >= 2)
        .select(col("source"), explode(expr(
          "slice(zip_with(toks, slice(toks, 2, size(toks)), " +
            "(a, b) -> concat(a, char(1), b)), 1, size(toks) - 1)")).as("bg"))
        .groupBy("source", "bg").agg(count(lit(1)).as("c"))
        .withColumn("prev", substring_index(col("bg"), "\u0001", 1))
      val prevTot = bi.groupBy("source", "prev").agg(sum("c").as("np"))
      val biH = bi.join(prevTot, Seq("source", "prev"))
        .groupBy("source")
        .agg(sum("c").as("n_bigrams"),
          sum(col("c") * (bits(col("np")) - bits(col("c")))).as("hq"))
        .select(col("source"), col("n_bigrams"),
          expr("hq * 1000 div n_bigrams").as("cond_entropy_mbits"))
      uniH.join(biH, "source").orderBy("source")
    },

    "ttr_by_length" -> { (sp, dir) =>
      Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokens(col("text")).as("toks"))
        .select(size(col("toks")).cast("long").as("n_toks"),
          size(array_distinct(col("toks"))).cast("long").as("n_types"))
        .filter(col("n_toks") > 0)
        .withColumn("tier", (length(bin(col("n_toks"))) - 1).cast("long"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("tokens"),
          expr("sum(n_types) * 1000 div sum(n_toks)").as("pooled_ttr_milli"),
          expr("sum(n_types * 1000 div n_toks) div count(1)").as("mean_doc_ttr_milli"))
        .orderBy("tier")
    },

    "lsh_cap_sweep" -> { (sp, dir) =>
      import sp.implicits._
      val sigs = Queries6.minhashSigs(sp, dir)
      val buckets = graft.util.CacheScope.track(
        sigs.select(col("doc_id"), posexplode(array(col("band0"), col("band1"))))
          .select(col("pos").as("band"), col("col").as("bucket"))
          .groupBy("band", "bucket").agg(count(lit(1)).as("s")))
      val caps = Caps.toDF("cap")
      buckets.crossJoin(broadcast(caps))
        .groupBy("cap")
        .agg(sum(when(col("s") <= col("cap"), expr("s * (s - 1) div 2")).otherwise(0L))
            .as("pairs_kept"),
          sum(when(col("s") > col("cap"), expr("s * (s - 1) div 2")).otherwise(0L))
            .as("pairs_dropped"),
          sum(when(col("s") > col("cap"), col("s")).otherwise(0L)).as("docs_in_hot"))
        .withColumn("dropped_permille",
          when(col("pairs_kept") + col("pairs_dropped") > 0,
            expr("pairs_dropped * 1000 div (pairs_kept + pairs_dropped)"))
            .otherwise(0L))
        .orderBy("cap")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    // the oracle reads the UNPARTITIONED source — identical bits prove the
    // partitioned layout loses nothing
    "dynamic_partition_pruning" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS m_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |WHERE month(l_shipdate) <= 3
        |GROUP BY 1 ORDER BY m_id""".stripMargin,

    "bigram_cond_entropy" -> {
      val toks = TextF.TokensSql
      s"""WITH docs AS (SELECT source, $toks AS toks FROM documents),
         |uni AS (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest(toks) AS w FROM docs) t GROUP BY 1, 2),
         |utot AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types
         |  FROM uni GROUP BY source),
         |uh AS (
         |  SELECT uni.source,
         |    CAST(sum(c * ((length(bin(n_tokens)) - 1) - (length(bin(c)) - 1))) AS BIGINT) AS hq
         |  FROM uni JOIN utot ON utot.source = uni.source GROUP BY uni.source),
         |bi AS (
         |  SELECT source, bg, CAST(count(*) AS BIGINT) AS c
         |  FROM (
         |    SELECT source, unnest(list_transform(range(1, greatest(len(toks), 1)),
         |      i -> concat(list_extract(toks, i), chr(1), list_extract(toks, i + 1)))) AS bg
         |    FROM docs WHERE len(toks) >= 2) t
         |  GROUP BY 1, 2),
         |ptot AS (
         |  SELECT source, string_split(bg, chr(1))[1] AS prev, CAST(sum(c) AS BIGINT) AS np
         |  FROM bi GROUP BY 1, 2),
         |bh AS (
         |  SELECT bi.source, CAST(sum(bi.c) AS BIGINT) AS n_bigrams,
         |    CAST(sum(bi.c * ((length(bin(ptot.np)) - 1) - (length(bin(bi.c)) - 1))) AS BIGINT) AS hq
         |  FROM bi JOIN ptot ON ptot.source = bi.source
         |    AND ptot.prev = string_split(bi.bg, chr(1))[1]
         |  GROUP BY bi.source)
         |SELECT utot.source, utot.n_tokens, utot.n_types,
         |  CAST(uh.hq * 1000 // utot.n_tokens AS BIGINT) AS uni_entropy_mbits,
         |  bh.n_bigrams,
         |  CAST(bh.hq * 1000 // bh.n_bigrams AS BIGINT) AS cond_entropy_mbits
         |FROM utot JOIN uh ON uh.source = utot.source
         |JOIN bh ON bh.source = utot.source
         |ORDER BY utot.source""".stripMargin
    },

    "ttr_by_length" -> {
      val toks = TextF.TokensSql
      s"""WITH d AS (
         |  SELECT CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
         |  FROM (SELECT $toks AS toks FROM documents) t
         |  WHERE len(toks) > 0)
         |SELECT CAST(length(bin(n_toks)) - 1 AS BIGINT) AS tier,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens,
         |  CAST(sum(n_types) * 1000 // sum(n_toks) AS BIGINT) AS pooled_ttr_milli,
         |  CAST(sum(n_types * 1000 // n_toks) // count(*) AS BIGINT) AS mean_doc_ttr_milli
         |FROM d GROUP BY 1 ORDER BY tier""".stripMargin
    },

    "lsh_cap_sweep" ->
      s"""WITH ${Queries6.MinhashComponentsCteSql},
         |sigs AS (
         |  SELECT doc_id,
         |    md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
         |    md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
         |  FROM comps),
         |buckets AS (
         |  SELECT band, bucket, CAST(count(*) AS BIGINT) AS s FROM (
         |    SELECT 0 AS band, band0 AS bucket FROM sigs
         |    UNION ALL
         |    SELECT 1 AS band, band1 AS bucket FROM sigs) e
         |  GROUP BY 1, 2),
         |caps AS (SELECT unnest([${Caps.mkString(", ")}]) AS cap)
         |SELECT CAST(cap AS BIGINT) AS cap,
         |  CAST(sum(CASE WHEN s <= cap THEN s * (s - 1) // 2 ELSE 0 END) AS BIGINT)
         |    AS pairs_kept,
         |  CAST(sum(CASE WHEN s > cap THEN s * (s - 1) // 2 ELSE 0 END) AS BIGINT)
         |    AS pairs_dropped,
         |  CAST(sum(CASE WHEN s > cap THEN s ELSE 0 END) AS BIGINT) AS docs_in_hot,
         |  CAST(CASE WHEN sum(s * (s - 1) // 2) > 0
         |    THEN sum(CASE WHEN s > cap THEN s * (s - 1) // 2 ELSE 0 END) * 1000
         |      // sum(s * (s - 1) // 2)
         |    ELSE 0 END AS BIGINT) AS dropped_permille
         |FROM buckets, caps GROUP BY cap ORDER BY cap""".stripMargin
  )
}
