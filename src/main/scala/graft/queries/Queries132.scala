package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #52 — multi-probe LSH + token-mass accounting:
  *
  *  - `simhash_multiprobe`: the multi-probe trade (Lv et al. 2007) on
  *    the simhash Hamming search. `simhash_pairs` uses 4 exact bands of
  *    15 bits (pigeonhole: Hamming ≤ 3 ⇒ one band identical); this
  *    query uses HALF the tables — 2 bands of 30 bits — and probes each
  *    query band's 1-bit flips (31 keys per band). Pigeonhole again:
  *    3 flipped bits over 2 bands leave one band with ≤ 1 flip, so the
  *    probe set catches EVERY Hamming ≤ 3 pair — recall is identical by
  *    construction, and the oracle is pinned to `simhash_pairs`'
  *    VERBATIM (the driver hash proves it). The scale math is the
  *    point: candidate collisions scale ∝ N²/2^bandwidth, so 30-bit
  *    bands defer the quadratic term by 2^15 vs 15-bit bands at the
  *    cost of a constant 31× probe fan-out on distinct fingerprints —
  *    the memory/probe trade the multi-probe paper is about.
  *  - `token_mass_funnel`: `filter_funnel` weighted by what training
  *    actually consumes — TOKENS. Same first-fail stages, same one-scan
  *    flag pass (the factored `Queries38.flagged`), but each stage
  *    reports the token mass it removes; doc-count funnels hide that a
  *    "2% of docs" length gate can be 40% of tokens. */
object Queries132 extends QuerySet {
  private val BandBits = 30
  private val BandMask = (1L << BandBits) - 1
  private val NBands = 2 // 60-bit fingerprint / 30-bit bands

  val defs: Map[String, Q] = Map(
    "simhash_multiprobe" -> { (sp, dir) =>
      import Queries28.SimhashMaxDist
      val groups = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.simhash60(col("text")).as("f"))
        .groupBy("f").agg(collect_list(col("doc_id")).as("ids"), count(lit(1)).as("n")))
      groups.count()
      def bandVal(b: Int) =
        shiftright(col("f"), BandBits * b).bitwiseAND(lit(BandMask))
      // probe side: per band, the exact key + its 30 one-bit flips
      val probes = groups.select(col("f"),
          explode(array((0 until NBands).map(b => struct(
            lit(b).as("bi"),
            array(bandVal(b) +: (0 until BandBits).map(i =>
              bandVal(b).bitwiseXOR(lit(1L << i))): _*).as("pvs"))): _*)).as("e"))
        .select(col("f"), col("e.bi").as("bi"), explode(col("e.pvs")).as("bv"))
      // exact side: one key per band
      val exact = groups.select(col("f"),
          explode(array((0 until NBands).map(b => struct(
            lit(b).as("bi"), bandVal(b).as("bv"))): _*)).as("e"))
        .select(col("f"), col("e.bi").as("bi"), col("e.bv").as("bv"))
      val fpPairs = probes.select(col("bi"), col("bv"), col("f").as("fa"))
        .join(exact.select(col("bi"), col("bv"), col("f").as("fb")), Seq("bi", "bv"))
        .filter(col("fa") < col("fb"))
        .select(col("fa"), col("fb")).distinct()
        .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint"))
        .filter(col("hamming") <= SimhashMaxDist)
      val same = groups.filter(col("n") >= 2)
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
      val cross = fpPairs
        .join(groups.select(col("f").as("fa"), col("ids").as("ids_a")), Seq("fa"))
        .join(groups.select(col("f").as("fb"), col("ids").as("ids_b")), Seq("fb"))
        .select(col("hamming"), explode(col("ids_a")).as("ia"), col("ids_b"))
        .select(col("hamming"), col("ia"), explode(col("ids_b")).as("ib"))
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
      same.unionAll(cross).orderBy("id_a", "id_b")
    },

    "token_mass_funnel" -> { (sp, dir) =>
      val fl = graft.util.CacheScope.track(Queries38.flagged(sp, dir))
      val drops = fl.groupBy("first_fail")
        .agg(sum("n_tokens").as("tok"), count(lit(1)).as("cnt"))
      val total = fl.agg(sum("n_tokens").as("t")).collect()(0).getLong(0)
      val wBefore = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
      Queries38.stagesDf(sp)
        .join(drops.select(col("first_fail").cast("bigint").as("stage"),
          col("tok"), col("cnt")), Seq("stage"), "left")
        .withColumn("tokens_dropped", coalesce(col("tok"), lit(0L)))
        .withColumn("docs_dropped", coalesce(col("cnt"), lit(0L)))
        .withColumn("tokens_in",
          lit(total) - coalesce(sum("tokens_dropped").over(wBefore), lit(0L)))
        .select(col("stage"), col("stage_name"), col("tokens_in"),
          col("tokens_dropped"), col("docs_dropped"),
          (col("tokens_in") - col("tokens_dropped")).as("tokens_out"))
        .orderBy("stage")
    }
  )

  val oracles: Map[String, String] = Map(
    // pinned VERBATIM: 2 bands + 1-bit probes find exactly the 4-band pairs
    "simhash_multiprobe" -> Queries28.oracles("simhash_pairs"),

    "token_mass_funnel" ->
      s"""WITH ${Queries38.FlaggedCteSql},
         |drops AS (
         |  SELECT first_fail, CAST(sum(n_tokens) AS BIGINT) AS tok,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM flagged GROUP BY first_fail
         |),
         |stages(stage, stage_name) AS (VALUES ${Queries38.StageValuesSql}),
         |funnel AS (
         |  SELECT CAST(stage AS BIGINT) AS stage, stage_name,
         |    coalesce(tok, 0) AS tokens_dropped, coalesce(cnt, 0) AS docs_dropped,
         |    (SELECT CAST(sum(n_tokens) AS BIGINT) FROM flagged)
         |      - coalesce(sum(coalesce(tok, 0)) OVER (ORDER BY stage
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_in
         |  FROM stages LEFT JOIN drops ON drops.first_fail = stages.stage
         |)
         |SELECT stage, stage_name, CAST(tokens_in AS BIGINT) AS tokens_in,
         |  CAST(tokens_dropped AS BIGINT) AS tokens_dropped,
         |  CAST(docs_dropped AS BIGINT) AS docs_dropped,
         |  CAST(tokens_in - tokens_dropped AS BIGINT) AS tokens_out
         |FROM funnel ORDER BY stage""".stripMargin
  )
}
