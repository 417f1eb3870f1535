package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #6 — link-graph reputation, exact interpolated quantiles,
  * burst detection, and the shingle-granularity sweep:
  *
  *  - `hits_scores`: two integer HITS iterations over the doc→domain link
  *    bipartite graph (text_link_graph's planted extraction): hubs = docs,
  *    authorities = domains; with h₀ ≡ 1, a₁ = in-link mass, h₁ = Σ a₁
  *    over a doc's out-links, a₂ = Σ h₁ — all exact BIGINTs, no
  *    normalization (ranking is scale-invariant, division would cost
  *    exactness). Two key-shrinking joins; the domain side is tiny by
  *    construction (domain rollup ≪ doc count) so both joins broadcast.
  *  - `quantile_interp`: PERCENTILE_CONT-style linearly interpolated
  *    quantiles (q ∈ 25/50/75/90) of line price per return flag, exact in
  *    milli-cents: pos = (n−1)·q/100 splits into an integer rank and a
  *    /100 fraction, v = v_lo·1000 + (v_hi − v_lo)·frac·10 — pure integer
  *    arithmetic (the interpolated companion of rank-based
  *    percentiles_exact). Scales via the value-histogram shape
  *    (ks_two_sample's class): groupBy integer cents per flag shrinks the
  *    fact table to the bounded distinct-price domain BEFORE the
  *    cumulative-count window, then each target rank finds its bucket by
  *    prev_cum < rank ≤ cum against the tiny broadcast position table —
  *    no row-domain rank window anywhere in the plan.
  *  - `rapid_fire_screen`: per-user burst runs — maximal stretches of
  *    consecutive events with inter-event gap ≤ 1 h (run-length via
  *    cumulative break flags, the standard gaps-and-islands shape, ONE
  *    hash-partitioned window by user); reports events-in-bursts (runs of
  *    ≥ 3 events), longest run, and run count: the volumetric bot signal
  *    the reference's spider/robot enrichment can't see from UA alone.
  *  - `shingle_k_sweep`: the shingle-granularity selectivity curve for
  *    k ∈ {2,3,5} — total/distinct shingle counts and duplicated-mass
  *    share per k over the corpus: how fast shingle specificity grows
  *    with k, the pre-flight that picks k for MinHash dedup. Each k is a
  *    projection + one key-shrinking aggregate (never a pair join).
  */
object Queries163 extends QuerySet {
  private val BurstGapUs = 3600000000L // 1 h
  private val Quantiles = Seq(25, 50, 75, 90)
  private val Ks = Seq(2, 3, 5)

  /** doc→domain link edges with multiplicity — text_link_graph's planted
    * URL extraction (same constants; a doc linking a domain twice counts
    * twice, link mass not doc reach). */
  private[queries] def linkEdges(sp: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % Queries88.LinkEvery === Queries88.LinkMod,
      concat(col("text"),
        lit(" see https://site"), (col("doc_id") % 6).cast("string"),
        lit(".example.com/page"), (col("doc_id") % 4).cast("string"),
        lit(" and http://ref.example.org/x")))
      .otherwise(col("text"))
    Tables.documents(sp, dir)
      .select(col("doc_id"), planted.as("txt"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("txt"), lit(Queries88.UrlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([a-z0-9.-]+)/", 1).as("domain"))
  }

  private[queries] val LinkEdgesSql =
    s"""SELECT doc_id, nullif(regexp_extract(url, 'https?://([a-z0-9.-]+)/', 1), '') AS domain
       |  FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(txt, '${Queries88.UrlRe}', 0)) AS url
       |    FROM (
       |      SELECT doc_id,
       |        CASE WHEN doc_id % ${Queries88.LinkEvery} = ${Queries88.LinkMod}
       |          THEN concat(text, ' see https://site', CAST(doc_id % 6 AS VARCHAR),
       |                      '.example.com/page', CAST(doc_id % 4 AS VARCHAR),
       |                      ' and http://ref.example.org/x')
       |          ELSE text END AS txt
       |      FROM documents) t0) t1""".stripMargin

  val defs: Map[String, Q] = Map(
    "hits_scores" -> { (sp, dir) =>
      val edges = graft.util.CacheScope.track(linkEdges(sp, dir))
      // h0 = 1 per doc ⇒ a1(domain) = in-link mass
      val a1 = edges.groupBy("domain").agg(count(lit(1)).as("auth1"))
      // h1(doc) = Σ a1 over its out-links
      val h1 = edges.join(broadcast(a1), "domain")
        .groupBy("doc_id").agg(sum("auth1").as("hub1"))
      // a2(domain) = Σ h1 over in-links
      val a2 = edges.join(h1, "doc_id")
        .groupBy("domain").agg(sum("hub1").as("auth2"))
      a1.join(a2, "domain")
        .select(col("domain"), col("auth1"), col("auth2"))
        .orderBy("domain")
    },

    "quantile_interp" -> { (sp, dir) =>
      import sp.implicits._
      // Value-histogram shape (ks_two_sample's class, Queries161): groupBy
      // integer cents per flag FIRST, so the cumulative window runs over
      // the bounded |flag × distinct-price| domain, never the row domain.
      // rank lo_rk lives in the bucket where prev_cum < lo_rk <= cum; the
      // (lo_rk+1)-th value is the same bucket unless lo_rk sits exactly on
      // the bucket's upper edge, where it is the next distinct value.
      val wFlag = Window.partitionBy("flag").orderBy("cents")
      val hist = Tables.lineitem(sp, dir)
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("flag", "cents").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(
          wFlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nxt", lead("cents", 1).over(wFlag))
        .withColumn("prev", col("cum") - col("cnt"))
      val qs = Quantiles.map(_.toLong).toDF("q")
      val pos = hist.groupBy("flag").agg(sum("cnt").as("n"))
        .crossJoin(broadcast(qs))
        .withColumn("lo_rk", expr("1 + (n - 1) * q div 100"))
        .withColumn("frac_c", expr("(n - 1) * q % 100"))
        .select(col("flag").as("pflag"), col("q"), col("n"),
          col("lo_rk"), col("frac_c"))
      hist
        .join(broadcast(pos), col("flag") === col("pflag") &&
          col("prev") < col("lo_rk") && col("lo_rk") <= col("cum"))
        .select(col("flag"), col("q"), col("n"),
          (col("cents") * 1000 +
            when(col("frac_c") > 0 && col("cum") === col("lo_rk"),
              (col("nxt") - col("cents")) * col("frac_c") * 10)
              .otherwise(lit(0L))).as("v_milli"))
        .orderBy("flag", "q")
    },

    "rapid_fire_screen" -> { (sp, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val runs = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"))
        .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(byUser))
        .withColumn("brk",
          when(col("gap").isNull || col("gap") > BurstGapUs, 1L).otherwise(0L))
        .withColumn("run_id", sum("brk").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "run_id").agg(count(lit(1)).as("run_len"))
      runs.groupBy("user_id")
        .agg(sum("run_len").as("n_events"),
          max("run_len").as("max_run_len"),
          sum(when(col("run_len") >= 3, col("run_len")).otherwise(0L)).as("n_burst_events"),
          sum(when(col("run_len") >= 3, 1L).otherwise(0L)).as("n_burst_runs"))
        .orderBy("user_id")
    },

    "shingle_k_sweep" -> { (sp, dir) =>
      val toks = TextF.tokens(col("text"))
      val perK = Ks.map { k =>
        Tables.documents(sp, dir)
          .select(explode(TextF.shinglesFromTokens(toks, k)).as("s"))
          .groupBy("s").agg(count(lit(1)).as("cnt"))
          .agg(sum("cnt").as("n_total"), count(lit(1)).as("n_distinct"),
            sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_mass"))
          .select(lit(k.toLong).as("k"), col("n_total"), col("n_distinct"),
            expr("dup_mass * 1000 div n_total").as("dup_mass_permille"))
      }
      perK.reduce(_.union(_)).orderBy("k")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "hits_scores" ->
      s"""WITH edges AS ($LinkEdgesSql),
         |a1 AS (SELECT domain, CAST(count(*) AS BIGINT) AS auth1
         |       FROM edges GROUP BY domain),
         |h1 AS (SELECT e.doc_id, CAST(sum(a1.auth1) AS BIGINT) AS hub1
         |       FROM edges e JOIN a1 ON a1.domain = e.domain GROUP BY e.doc_id),
         |a2 AS (SELECT e.domain, CAST(sum(h1.hub1) AS BIGINT) AS auth2
         |       FROM edges e JOIN h1 ON h1.doc_id = e.doc_id GROUP BY e.domain)
         |SELECT a1.domain, a1.auth1, a2.auth2
         |FROM a1 JOIN a2 ON a2.domain = a1.domain ORDER BY a1.domain""".stripMargin,

    "quantile_interp" ->
      s"""WITH ranked AS (
         |  SELECT l_returnflag AS flag,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY
         |      CAST(round(l_extendedprice * 100) AS BIGINT)) AS rk,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem),
         |pos AS (
         |  SELECT flag, n, q,
         |    1 + (n - 1) * q // 100 AS lo_rk, (n - 1) * q % 100 AS frac_c
         |  FROM (SELECT DISTINCT flag, n FROM ranked) fn,
         |       (SELECT unnest([${Quantiles.mkString(", ")}]) AS q) qs)
         |SELECT pos.flag, CAST(pos.q AS BIGINT) AS q, CAST(pos.n AS BIGINT) AS n,
         |  CAST(lo.cents * 1000 + CASE WHEN pos.frac_c > 0
         |    THEN (hi.cents - lo.cents) * pos.frac_c * 10 ELSE 0 END AS BIGINT) AS v_milli
         |FROM pos
         |JOIN ranked lo ON lo.flag = pos.flag AND lo.rk = pos.lo_rk
         |LEFT JOIN ranked hi ON hi.flag = pos.flag AND hi.rk = pos.lo_rk + 1
         |ORDER BY pos.flag, q""".stripMargin,

    "rapid_fire_screen" ->
      s"""WITH seq AS (
         |  SELECT user_id,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
         |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $BurstGapUs
         |         THEN 1 ELSE 0 END AS brk,
         |    epoch_us(ts) AS ts_us, event_id
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         |runs AS (
         |  SELECT user_id,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM seq),
         |rl AS (
         |  SELECT user_id, run_id, CAST(count(*) AS BIGINT) AS run_len
         |  FROM runs GROUP BY user_id, run_id)
         |SELECT user_id, CAST(sum(run_len) AS BIGINT) AS n_events,
         |  CAST(max(run_len) AS BIGINT) AS max_run_len,
         |  CAST(sum(CASE WHEN run_len >= 3 THEN run_len ELSE 0 END) AS BIGINT)
         |    AS n_burst_events,
         |  CAST(sum(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_runs
         |FROM rl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "shingle_k_sweep" -> {
      def perK(k: Int) =
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  CAST(sum(cnt) AS BIGINT) AS n_total,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 1000 // sum(cnt)
           |    AS BIGINT) AS dup_mass_permille
           |FROM (
           |  SELECT s, count(*) AS cnt FROM (
           |    SELECT unnest(${Queries6.shinglesSql(k)}) AS s
           |    FROM (SELECT ${TextF.TokensSql} AS w FROM documents) t0) t1
           |  GROUP BY s) t2""".stripMargin
      Ks.map(perK).mkString("\nUNION ALL\n") + "\nORDER BY k"
    }
  )
}
