package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #13 — sketch calibration closure:
  *
  *  - `hll_size_tradeoff`: the HLL sizing curve — p ∈ {4, 5, 6} (m = 16 /
  *    32 / 64 registers) computed from ONE scan of the same 60-bit hash
  *    (each p re-splits the same value into bucket/rank; the sweep
  *    explodes three rows per observation, the registers stay ≤ m per p),
  *    with the `distinct_hll` integer estimator and per-m α rationals
  *    (673/697/709 per mille). The m-vs-error read that sizes the sketch
  *    before a fleet ships it — `kmv_size_tradeoff`'s twin for HLL.
  *  - `cardinality_scoreboard`: KMV vs HLL vs exact on the SAME
  *    (user, day)-per-type universe, by composition of the two
  *    oracle-exact sketch queries — one table answering "which sketch, at
  *    this k/m, how wrong": signed per-mille errors via positive-operand
  *    division only.
  */
object Queries93 extends QuerySet {
  private[graft] val Ps = Seq(4, 5, 6)
  val defs: Map[String, Q] = Map(
    "hll_size_tradeoff" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val key = concat(lit("hll:"), col("user_id").cast("string"), lit(":"),
        expr("ts_us div 86400000000").cast("string"))
      val v = conv(substring(md5(key.cast("binary")), 1, 15), 16, 10).cast("long")
      val hashed = ev.select(v.as("v"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("ts_us div 86400000000").cast("string")).as("k"))
      val exact = hashed.agg(countDistinct(col("k")).as("n_exact"))
      val cap = Queries91.HllRankCap
      val p = col("p")
      val rankBits = (lit(60) - p).cast("int")
      val rest = col("v").bitwiseAND(
        call_function("shiftleft", lit(1L), rankBits) - 1L)
      val rank = when(rest === 0L, rankBits.cast("long") + 1L)
        .otherwise(rankBits.cast("long") + 1L - length(bin(rest)).cast("long"))
      val regs = hashed
        .select(explode(typedLit(Ps)).as("p"), col("v"))
        .select(p, call_function("shiftright", col("v"), rankBits).as("bucket"),
          rank.as("rank"))
        .groupBy("p", "bucket").agg(max("rank").as("r"))
      val m = call_function("shiftleft", lit(1L), p)
      val sk = regs.groupBy("p")
        .agg(count(lit(1)).as("n_set"),
          sum(call_function("shiftleft", lit(1L),
            (lit(cap) - least(col("r"), lit(cap))).cast("int"))).as("s_set"))
        .select(p, m.as("m"), col("n_set"),
          (col("s_set") + (m - col("n_set")) * lit(1L << cap)).as("s"))
      // integer `div` throughout (Column./ is DOUBLE division)
      sk.crossJoin(broadcast(exact))
        .withColumn("est_hll", expr(
          s"(CASE WHEN p = 4 THEN 673 WHEN p = 5 THEN 697 ELSE 709 END" +
            s" * m * m * ${1L << cap}) div (1000 * s)"))
        .select(p.cast("long").as("p"), col("m"), col("n_set"), col("est_hll"),
          col("n_exact"),
          expr("est_hll * 1000 div n_exact - 1000").as("err_milli"))
        .orderBy("p")
    },

    "cardinality_scoreboard" -> { (sp, dir) =>
      val kmv = Queries28.defs("distinct_kmv")(sp, dir)
        .select(col("event_type"), col("est_kmv"))
      val hll = Queries91.defs("distinct_hll")(sp, dir)
        .select(col("event_type"), col("n_exact"), col("est_hll"))
      hll.join(kmv, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("est_kmv"),
          expr("est_kmv * 1000 div n_exact - 1000").as("err_kmv_milli"),
          col("est_hll"),
          expr("est_hll * 1000 div n_exact - 1000").as("err_hll_milli"))
        .orderBy("event_type")
    }
  )

  val oracles: Map[String, String] = {
    def nib(i: Int) = {
      val x = s"substr(h, $i, 1)"
      s"(CASE WHEN ascii($x) <= 57 THEN ascii($x) - 48 ELSE ascii($x) - 87 END)"
    }
    val horner = (1 to 15).map(nib).reduceLeft((acc, n) => s"(CAST($acc AS BIGINT) * 16 + $n)")
    val cap = Queries91.HllRankCap
    Map(
      "hll_size_tradeoff" ->
        s"""WITH hashed AS (
           |  SELECT CAST($horner AS BIGINT) AS v, k FROM (
           |    SELECT md5(concat('hll:', k)) AS h, k FROM (
           |      SELECT concat(user_id, ':', epoch_us(ts) // 86400000000) AS k FROM events) z0
           |  ) z
           |),
           |exact AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_exact FROM hashed),
           |br AS (
           |  SELECT p.p,
           |    v // (CAST(1 AS BIGINT) << CAST(60 - p.p AS INT)) AS bucket,
           |    CAST(CASE WHEN v % (CAST(1 AS BIGINT) << CAST(60 - p.p AS INT)) = 0
           |         THEN 60 - p.p + 1
           |         ELSE 60 - p.p + 1 - length(bin(CAST(v % (CAST(1 AS BIGINT) << CAST(60 - p.p AS INT)) AS BIGINT)))
           |    END AS BIGINT) AS rank
           |  FROM hashed, (VALUES ${Ps.map(x => s"($x)").mkString(", ")}) p(p)
           |),
           |regs AS (SELECT p, bucket, max(rank) AS r FROM br GROUP BY p, bucket),
           |sk AS (
           |  SELECT p, CAST(1 AS BIGINT) << CAST(p AS INT) AS m,
           |    CAST(count(*) AS BIGINT) AS n_set,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST($cap - least(r, $cap) AS INT)) AS BIGINT)
           |      + ((CAST(1 AS BIGINT) << CAST(p AS INT)) - CAST(count(*) AS BIGINT))
           |        * ${1L << cap} AS s
           |  FROM regs GROUP BY p
           |),
           |am AS (SELECT p, CASE p WHEN 4 THEN 673 WHEN 5 THEN 697 ELSE 709 END AS alpha
           |       FROM (VALUES ${Ps.map(x => s"($x)").mkString(", ")}) t(p))
           |SELECT CAST(sk.p AS BIGINT) AS p, sk.m, sk.n_set,
           |  CAST((am.alpha * sk.m * sk.m * ${1L << cap}) // (1000 * sk.s) AS BIGINT) AS est_hll,
           |  exact.n_exact,
           |  CAST(((am.alpha * sk.m * sk.m * ${1L << cap}) // (1000 * sk.s)) * 1000
           |    // exact.n_exact - 1000 AS BIGINT) AS err_milli
           |FROM sk, am, exact WHERE am.p = sk.p
           |ORDER BY sk.p""".stripMargin,

      "cardinality_scoreboard" ->
        s"""WITH kmv AS (
           |${Queries28.oracles("distinct_kmv")}
           |),
           |hll AS (
           |${Queries91.oracles("distinct_hll")}
           |)
           |SELECT hll.event_type, hll.n_exact, kmv.est_kmv,
           |  CAST(kmv.est_kmv * 1000 // hll.n_exact - 1000 AS BIGINT) AS err_kmv_milli,
           |  hll.est_hll,
           |  CAST(hll.est_hll * 1000 // hll.n_exact - 1000 AS BIGINT) AS err_hll_milli
           |FROM hll JOIN kmv ON kmv.event_type = hll.event_type
           |ORDER BY hll.event_type""".stripMargin
    )
  }
}
