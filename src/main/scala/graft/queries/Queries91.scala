package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #11 — HyperLogLog, the remaining classic sketch:
  *
  *  - `distinct_hll`: HLL (Flajolet et al. 2007) over the same
  *    (user, day)-per-event-type universe as `distinct_kmv` — m = 64
  *    registers (p = 6) from an md5-derived 60-bit hash, and an
  *    ENTIRELY INTEGER estimator: registers hold max leading-zero ranks
  *    (exact maxes), the harmonic-mean denominator is computed as
  *    S = Σ 2^(40 − min(rank, 40)) — every term an exact power of two, S
  *    an exact BIGINT — and the estimate α·m²/Σ2^−r becomes ONE integer
  *    division (709·m²·2^40) / (1000·S). No floating point anywhere, so
  *    registers, denominator AND estimate hash-match the DuckDB twin
  *    bit-for-bit (the same trick that made `ann_ivf_kmeans` exact). The
  *    exact distinct count rides along to certify the error, and the
  *    empty-register count is emitted so the small-range regime is
  *    visible rather than silently mis-estimated. Registers are MERGEABLE
  *    (elementwise max) — see streaming.StreamHll for the incremental
  *    twin spec'd bit-identical to this query.
  *
  *    100 TB shape: ONE map-side-combined (type, bucket) max shuffle —
  *    at most 64 rows per type survive the combiner per partition;
  *    the key universe never shuffles.
  */
object Queries91 extends QuerySet {
  private[graft] val HllP = 6
  private[graft] val HllM = 1 << HllP // 64 registers
  private[graft] val HllHashBits = 60 // 15 md5 nibbles
  private[graft] val HllRankBits = HllHashBits - HllP // 54-bit rank field
  private[graft] val HllRankCap = 40L // keeps 2^(cap-rank) terms integral AND double-exact
  // α₆₄ = 0.709 as the exact rational 709/1000; numerator 709·64²·2^40 < 2^63
  private[graft] val HllAlphaNumer = 709L * HllM * HllM * (1L << HllRankCap)
  private[graft] val HllAlphaDenom = 1000L

  /** (event_type, bucket, rank) per observation — ONE spelling shared by
    * the batch query, its oracle, and StreamHll. The 60-bit hash comes
    * from 15 md5 nibbles of `'hll:' ++ user ++ ':' ++ day`; bucket = top
    * p bits, rank = leading zeros of the 54-bit remainder + 1 (all-zero
    * remainder → [[HllRankBits]] + 1). */
  /** The canonical 60-bit HLL hash value (15 md5 nibbles of
    * `'hll:' ++ user ++ ':' ++ day` as one BIGINT) — the input contract
    * of the native `plans.HllRegisters` aggregate too. */
  private[graft] def hllHash60: Column = {
    val key = concat(lit("hll:"), col("user_id").cast("string"), lit(":"),
      expr("ts_us div 86400000000").cast("string"))
    conv(substring(md5(key.cast("binary")), 1, 15), 16, 10).cast("long")
  }

  private[graft] def hllBucketRank(ev: DataFrame): DataFrame = {
    val v = hllHash60
    val rest = v.bitwiseAND(lit((1L << HllRankBits) - 1))
    // bit length via bin(): leading zeros = rankBits − bitlen(rest)
    val rank = when(rest === 0L, lit(HllRankBits + 1L))
      .otherwise(lit(HllRankBits + 1L) - length(bin(rest)).cast("long"))
    ev.select(col("event_type"),
      shiftright(v, HllRankBits).as("bucket"), rank.as("rank"))
  }

  /** The exact-integer HLL estimate from (n_buckets_set, S). */
  private[graft] def hllEstimate(s: Column): Column =
    lit(HllAlphaNumer) / (lit(HllAlphaDenom) * s) // Long div: both operands positive

  val defs: Map[String, Q] = Map(
    "distinct_hll" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val regs = hllBucketRank(ev)
        .groupBy("event_type", "bucket")
        .agg(max(col("rank")).as("r"))
      val sketch = regs.groupBy("event_type")
        .agg(count(lit(1)).as("n_set"),
          sum(call_function("shiftleft", lit(1L),
            (lit(HllRankCap) - least(col("r"), lit(HllRankCap))).cast("int"))).as("s_set"))
        .select(col("event_type"), col("n_set"),
          // empty registers contribute 2^cap each
          (col("s_set") + (lit(HllM.toLong) - col("n_set")) * lit(1L << HllRankCap)).as("s"))
      val exact = ev.select(col("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            expr("ts_us div 86400000000").cast("string")).as("k"))
        .groupBy("event_type").agg(countDistinct(col("k")).as("n_exact"))
      sketch.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          expr(s"$HllAlphaNumer div (${HllAlphaDenom} * s)").as("est_hll"),
          (lit(HllM.toLong) - col("n_set")).as("n_zero_registers"),
          // signed error: the ratio is computed with both operands
          // positive, THEN shifted by -1000
          (expr(s"($HllAlphaNumer div (${HllAlphaDenom} * s)) * 1000 div n_exact") - 1000L)
            .as("err_milli"))
        .orderBy("event_type")
    }
  )

  /** v = the 15-nibble md5 value folded as Horner over a column named `h`;
    * the seed is CAST to BIGINT so the fold never overflows DuckDB's
    * default INT32. Shared with the native-HLL twins (Queries125). */
  private[graft] val HllHornerSql: String = {
    def nib(i: Int) = {
      val x = s"substr(h, $i, 1)"
      s"(CASE WHEN ascii($x) <= 57 THEN ascii($x) - 48 ELSE ascii($x) - 87 END)"
    }
    (1 to 15).map(nib).reduceLeft((acc, n) =>
      s"(CAST($acc AS BIGINT) * 16 + $n)")
  }

  val oracles: Map[String, String] = {
    val horner = HllHornerSql
    Map(
      "distinct_hll" ->
        s"""WITH hashed AS (
           |  SELECT event_type, h FROM (
           |    SELECT event_type,
           |      md5(concat('hll:', user_id, ':', epoch_us(ts) // 86400000000)) AS h
           |    FROM events) z
           |),
           |br AS (
           |  SELECT event_type,
           |    CAST(v // ${1L << HllRankBits} AS BIGINT) AS bucket,
           |    CAST(CASE WHEN v % ${1L << HllRankBits} = 0 THEN ${HllRankBits + 1}
           |         ELSE ${HllRankBits + 1} - length(bin(CAST(v % ${1L << HllRankBits} AS BIGINT)))
           |    END AS BIGINT) AS rank
           |  FROM (SELECT event_type, CAST($horner AS BIGINT) AS v FROM hashed) t
           |),
           |regs AS (
           |  SELECT event_type, bucket, max(rank) AS r
           |  FROM br GROUP BY event_type, bucket
           |),
           |sk AS (
           |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_set,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST($HllRankCap - least(r, $HllRankCap) AS INT))
           |      AS BIGINT)
           |      + ($HllM - CAST(count(*) AS BIGINT)) * ${1L << HllRankCap} AS s
           |  FROM regs GROUP BY event_type
           |),
           |exact AS (
           |  SELECT event_type,
           |    CAST(count(DISTINCT concat(user_id, ':', epoch_us(ts) // 86400000000)) AS BIGINT)
           |      AS n_exact
           |  FROM events GROUP BY event_type
           |)
           |SELECT sk.event_type, exact.n_exact,
           |  CAST($HllAlphaNumer // ($HllAlphaDenom * sk.s) AS BIGINT) AS est_hll,
           |  CAST($HllM - sk.n_set AS BIGINT) AS n_zero_registers,
           |  CAST(($HllAlphaNumer // ($HllAlphaDenom * sk.s)) * 1000
           |    // exact.n_exact - 1000 AS BIGINT) AS err_milli
           |FROM sk JOIN exact ON exact.event_type = sk.event_type
           |ORDER BY sk.event_type""".stripMargin
    )
  }
}
