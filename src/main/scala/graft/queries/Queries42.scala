package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.nearestRank

/** Round-8 continuation #14 — operability diagnostics:
  *
  *  - `join_skew_audit`: the pre-salting key-distribution report for a
  *    join column — per-key mass profile (max / p99 / median by exact rank
  *    arithmetic) and the skew factor vs a uniform spread, for the keys a
  *    100 TB join would actually hash on. This is the report that decides
  *    between a plain shuffle join, AQE skew handling, or explicit
  *    salting (`salted_join`). One groupBy on the key; the percentile
  *    window runs over the (already aggregated) key-mass table — at
  *    billions of distinct keys, hash-sample the mass table first (the
  *    `quantile_sketch` pattern); max / totals / skew factor stay exact
  *    plain aggregates either way.
  *  - `vocab_oov_rate`: tokenizer-coverage audit — share of token
  *    OCCURRENCES outside the top-K corpus vocabulary, per source. The
  *    top-K vocab is a broadcast membership probe (deterministic
  *    count-desc / token tiebreak), the rate is exact milli; the
  *    distribution-shift signal a fixed-vocab tokenizer owner watches
  *    per ingest source.
  */
object Queries42 extends QuerySet {
  private val VocabK = 1000

  val defs: Map[String, Q] = Map(
    "join_skew_audit" -> { (sp, dir) =>
      // audited keys: the two join columns big TPC-H plans hash on
      def profile(df: DataFrame, keyCol: String, keyName: String): DataFrame = {
        val mass = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("m"))
        val wOrd = Window.orderBy(col("m"), col("k"))
        val ranked = mass
          .withColumn("rk", row_number().over(wOrd))
          .withColumn("n", count(lit(1)).over())
          .withColumn("tot", sum("m").over())
        ranked.agg(
          max("n").as("n_keys"), max("tot").as("n_rows"),
          max("m").as("max_key_rows"), nearestRank(99, col("m")).as("p99_key_rows"),
          nearestRank(50, col("m")).as("median_key_rows"))
          .select(lit(keyName).as("join_key"), col("n_keys"), col("n_rows"),
            col("max_key_rows"), col("p99_key_rows"), col("median_key_rows"),
            // skew factor: max key mass over the uniform per-key share
            expr("(1000 * max_key_rows * n_keys) div n_rows").as("skew_milli"))
      }
      profile(Tables.lineitem(sp, dir), "l_orderkey", "lineitem.l_orderkey")
        .unionAll(profile(Tables.lineitem(sp, dir), "l_partkey", "lineitem.l_partkey"))
        .unionAll(profile(Tables.events(sp, dir), "user_id", "events.user_id"))
        .orderBy("join_key")
    },

    "vocab_oov_rate" -> { (sp, dir) =>
      val tok = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("source"), explode(TextF.tokens(col("text"))).as("t"))
        .filter(col("t") =!= ""))
      tok.count() // vocab build + the per-source probe both scan it
      val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(VocabK)
        .select(col("t"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("t"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          expr("(1000 * n_oov) div n_tokens").as("oov_milli"))
        .orderBy("source")
    }
  )

  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "join_skew_audit" -> {
      def profile(table: String, keyCol: String, keyName: String): String =
        s"""SELECT '$keyName' AS join_key,
           |  CAST(max(n) AS BIGINT) AS n_keys, CAST(max(tot) AS BIGINT) AS n_rows,
           |  max(m) AS max_key_rows,
           |  max(CASE WHEN rk = 1 + (99 * (n - 1)) // 100 THEN m END) AS p99_key_rows,
           |  max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN m END) AS median_key_rows,
           |  (1000 * max(m) * CAST(max(n) AS BIGINT)) // CAST(max(tot) AS BIGINT) AS skew_milli
           |FROM (
           |  SELECT m, k,
           |    row_number() OVER (ORDER BY m, k) AS rk,
           |    count(*) OVER () AS n, sum(m) OVER () AS tot
           |  FROM (SELECT $keyCol AS k, CAST(count(*) AS BIGINT) AS m
           |        FROM $table GROUP BY $keyCol) km
           |) r""".stripMargin
      s"""${profile("lineitem", "l_orderkey", "lineitem.l_orderkey")}
         |UNION ALL
         |${profile("lineitem", "l_partkey", "lineitem.l_partkey")}
         |UNION ALL
         |${profile("events", "user_id", "events.user_id")}
         |ORDER BY join_key""".stripMargin
    },

    "vocab_oov_rate" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($toksSql) AS t FROM documents
         |),
         |tok2 AS (SELECT source, t FROM tok WHERE t <> ''),
         |vocab AS (
         |  SELECT t FROM (
         |    SELECT t, count(*) AS c FROM tok2 GROUP BY t
         |    ORDER BY c DESC, t LIMIT $VocabK
         |  ) v
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  (1000 * CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS oov_milli
         |FROM tok2 LEFT JOIN vocab ON tok2.t = vocab.t
         |GROUP BY source ORDER BY source""".stripMargin
  )
}
