package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-15 batch #3 — dedup-ensemble materialization, sketch-accuracy
  * audit, and long-range dependence screening:
  *
  *  - `minhash_estimate_error`: per banded CANDIDATE pair, the 4-component
  *    MinHash agreement estimate (quantized to {0,250,500,750,1000}‰)
  *    against the EXACT 3-shingle Jaccard — the audit that tells you what
  *    the k=4 sketch's resolution actually costs before trusting its
  *    threshold. Candidate-bounded: the exact set intersection runs only
  *    on band collisions (bands·N shuffle), never all pairs.
  *  - `dedup_ensemble_keep`: the ensemble dedup a production corpus
  *    actually ships — the UNION of MinHash-LSH and banded-SimHash pair
  *    sets closed under connected components
  *    (operators/ConnectedComponents, one shuffle per round), min-doc_id
  *    keeper per cluster. Catches what either detector alone misses;
  *    every shuffle carries ids/hashes, never text.
  *  - `rescaled_range`: the R/S long-range-dependence screen on daily
  *    order counts, exact-integer variant: within each full b-day block,
  *    deviations are scaled by b (dev_i = b·cum_i − i·total, integral),
  *    R = max−min of the deviation walk, S₁ = Σ|b·c_i − total| the
  *    L1 spread (one b-factor COARSER than R's walk scale, so the ratio
  *    carries an extra ·b to land at the classic R/S growth b^H);
  *    ratio_milli = R·b·1000 div S₁ per block,
  *    averaged per block size b ∈ {16, 64, 256}. Growth of the ratio with
  *    b reads the Hurst regime (persistent vs mean-reverting demand).
  *    Calendar-bounded: every window runs over the ~2.4k-day domain.
  */
object Queries202 extends QuerySet {
  private val BlockSizes = Seq(16, 64, 256)

  val defs: Map[String, Q] = Map(
    "minhash_estimate_error" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
      val sigs = Queries6.minhashSigsFromToks(toks)
        .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"))
      val sh = toks
        .select(col("doc_id"), array_distinct(TextF.shinglesFromTokens(col("toks"), 3)).as("sh"))
      val pairs = Queries6.minhashPairs(sp, dir)
      val agree = (a: String, b: String) =>
        when(col(a) <=> col(b), lit(1L)).otherwise(lit(0L))
      pairs
        .join(sigs.toDF("id_a", "a0", "a1", "a2", "a3"), "id_a")
        .join(sigs.toDF("id_b", "b0", "b1", "b2", "b3"), "id_b")
        .withColumn("est_permille",
          (agree("a0", "b0") + agree("a1", "b1") + agree("a2", "b2") + agree("a3", "b3")) * 250)
        .join(sh.toDF("id_a", "sh_a"), "id_a")
        .join(sh.toDF("id_b", "sh_b"), "id_b")
        .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
        .withColumn("jac_permille",
          round(lit(1000.0) * col("shared") /
            (size(col("sh_a")) + size(col("sh_b")) - col("shared"))).cast("bigint"))
        .select(col("id_a"), col("id_b"), col("est_permille"), col("jac_permille"),
          abs(col("est_permille") - col("jac_permille")).as("err_permille"))
        .orderBy("id_a", "id_b")
    },

    "dedup_ensemble_keep" -> { (sp, dir) =>
      // Connectivity needs a SPANNING structure, never all pairs: each
      // minhash band bucket and each identical-fingerprint clique
      // contributes a STAR to its min doc (k−1 edges, not k²/2), and
      // cross-fingerprint simhash matches connect group REPRESENTATIVES
      // (one edge per verified fp pair). Components — and therefore the
      // min-id keep set — are identical to the all-pairs union, but edge
      // volume stays ∝ bands·N (the all-pairs spelling probed 5.96× at
      // ×10: dup cliques grow quadratically under corpus copies).
      val bandEx = Queries6.minhashSigs(sp, dir).select(col("doc_id"),
          posexplode(array(col("band0"), col("band1"))))
        .select(col("doc_id"), col("pos").as("bi"), col("col").as("b"))
      val mStar = bandEx
        .withColumn("root", min("doc_id").over(Window.partitionBy("bi", "b")))
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("src"), col("doc_id").as("dst"))
      val groups = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .select(col("doc_id"), TextF.simhash60(col("text")).as("f"))
          .groupBy("f").agg(min("doc_id").as("gmin"), collect_list("doc_id").as("ids")))
      groups.count()
      val sStar = groups.select(col("gmin"), explode(col("ids")).as("doc_id"))
        .filter(col("doc_id") =!= col("gmin"))
        .select(col("gmin").as("src"), col("doc_id").as("dst"))
      val fbands = groups.select(col("f"), col("gmin"),
        explode(array((0 until Queries28.SimhashBands).map(b => struct(
          lit(b).as("bi"),
          shiftright(col("f"), Queries28.SimhashBandBits * b)
            .bitwiseAND(lit(Queries28.SimhashBandMask)).as("bv"))): _*)).as("e"))
        .select(col("f"), col("gmin"), col("e.bi").as("bi"), col("e.bv").as("bv"))
      val cross = fbands.select(col("bi"), col("bv"), col("f").as("fa"), col("gmin").as("ga"))
        .join(fbands.select(col("bi"), col("bv"), col("f").as("fb"), col("gmin").as("gb")),
          Seq("bi", "bv"))
        .filter(col("fa") < col("fb"))
        .select(col("fa"), col("fb"), col("ga"), col("gb")).distinct()
        .filter(bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint") <= Queries28.SimhashMaxDist)
        .select(col("ga").as("src"), col("gb").as("dst"))
      val comp = graft.operators.ConnectedComponents.run(
        mStar.unionAll(sStar).unionAll(cross).distinct())
      Tables.documents(sp, dir).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
        .filter(col("comp").isNull || col("comp") === col("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },

    "rescaled_range" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("c"))
        .withColumn("idx", row_number().over(Window.orderBy("d")).cast("long"))
      val blocks = daily.withColumn("bs",
          explode(array(BlockSizes.map(b => lit(b.toLong)): _*)))
        .withColumn("blk", expr("(idx - 1) div bs"))
        .withColumn("pos", expr("(idx - 1) % bs + 1"))
      val w = Window.partitionBy("bs", "blk").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("bs", "blk")
      val dev = blocks
        .withColumn("cum", sum("c").over(w))
        .withColumn("total", sum("c").over(wAll))
        .withColumn("nblk", count(lit(1)).over(wAll))
        .filter(col("nblk") === col("bs")) // full blocks only
        .withColumn("dev", col("bs") * col("cum") - col("pos") * col("total"))
        .withColumn("l1", abs(col("bs") * col("c") - col("total")))
      dev.groupBy("bs", "blk")
        .agg((max("dev") - min("dev")).as("r"), sum("l1").as("s1"))
        .filter(col("s1") > 0)
        .withColumn("ratio_milli", expr("r * bs * 1000 div s1"))
        .groupBy("bs")
        .agg(count(lit(1)).as("n_blocks"), sum("ratio_milli").as("sum_ratio"))
        .select(col("bs"), col("n_blocks"),
          expr("sum_ratio div n_blocks").as("avg_ratio_milli"))
        .orderBy("bs")
    }
  )

  private val normSql = TextF.NormalizeTextSql
  private val toksSql = s"string_split($normSql, ' ')"
  /** SQL twin of TextF.shingles(3) over a token list aliased `w`. */
  private val Shingles3Sql = {
    val parts = (0 until 3).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
    s"list_transform(range(1, len(w) - 1), i -> concat($parts))"
  }

  val oracles: Map[String, String] = Map(
    "minhash_estimate_error" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |sh AS (
         |  SELECT doc_id, list_distinct($Shingles3Sql) AS sh
         |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t
         |)
         |SELECT p.id_a, p.id_b,
         |  CAST(((CASE WHEN ca.c0 IS NOT DISTINCT FROM cb.c0 THEN 1 ELSE 0 END) +
         |        (CASE WHEN ca.c1 IS NOT DISTINCT FROM cb.c1 THEN 1 ELSE 0 END) +
         |        (CASE WHEN ca.c2 IS NOT DISTINCT FROM cb.c2 THEN 1 ELSE 0 END) +
         |        (CASE WHEN ca.c3 IS NOT DISTINCT FROM cb.c3 THEN 1 ELSE 0 END)) * 250 AS BIGINT)
         |    AS est_permille,
         |  CAST(round(1000.0 * len(list_intersect(sa.sh, sb.sh)) /
         |       (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) AS BIGINT)
         |    AS jac_permille,
         |  CAST(abs(((CASE WHEN ca.c0 IS NOT DISTINCT FROM cb.c0 THEN 1 ELSE 0 END) +
         |            (CASE WHEN ca.c1 IS NOT DISTINCT FROM cb.c1 THEN 1 ELSE 0 END) +
         |            (CASE WHEN ca.c2 IS NOT DISTINCT FROM cb.c2 THEN 1 ELSE 0 END) +
         |            (CASE WHEN ca.c3 IS NOT DISTINCT FROM cb.c3 THEN 1 ELSE 0 END)) * 250
         |    - CAST(round(1000.0 * len(list_intersect(sa.sh, sb.sh)) /
         |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))) AS BIGINT))
         |    AS BIGINT) AS err_permille
         |FROM pairs p
         |JOIN comps ca ON ca.doc_id = p.id_a
         |JOIN comps cb ON cb.doc_id = p.id_b
         |JOIN sh sa ON sa.doc_id = p.id_a
         |JOIN sh sb ON sb.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    "dedup_ensemble_keep" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
         |${Queries28.SimhashCandCteSql},
         |sp AS (
         |  SELECT id_a, id_b FROM cand
         |  WHERE bit_count(xor(fa, fb)) <= ${Queries28.SimhashMaxDist}
         |),
         |eg AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |  UNION SELECT id_a, id_b FROM sp
         |  UNION SELECT id_b, id_a FROM sp
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM eg
         |  UNION
         |  SELECT e.s, reach.r FROM eg e JOIN reach ON e.d = reach.id
         |),
         |cmp AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
         |SELECT doc_id FROM documents LEFT JOIN cmp ON doc_id = cmp.id
         |WHERE c IS NULL OR c = doc_id
         |ORDER BY doc_id""".stripMargin,

    "rescaled_range" ->
      s"""WITH daily AS (
         |  SELECT CAST(count(*) AS BIGINT) AS c,
         |    CAST(row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS BIGINT) AS idx
         |  FROM orders GROUP BY CAST(o_orderdate AS DATE)
         |), blocks AS (
         |  SELECT bs, c, (idx - 1) // bs AS blk, (idx - 1) % bs + 1 AS pos
         |  FROM daily CROSS JOIN (SELECT CAST(unnest([${BlockSizes.mkString(", ")}]) AS BIGINT) AS bs) b
         |), dev AS (
         |  SELECT bs, blk, pos, c,
         |    CAST(sum(c) OVER (PARTITION BY bs, blk ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY bs, blk) AS BIGINT) AS total,
         |    CAST(count(*) OVER (PARTITION BY bs, blk) AS BIGINT) AS nblk
         |  FROM blocks
         |), rs AS (
         |  SELECT bs, blk,
         |    CAST(max(bs * cum - pos * total) - min(bs * cum - pos * total) AS BIGINT) AS r,
         |    CAST(sum(abs(bs * c - total)) AS BIGINT) AS s1
         |  FROM dev WHERE nblk = bs GROUP BY bs, blk
         |)
         |SELECT bs, CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(CAST(sum(r * bs * 1000 // s1) AS BIGINT) // count(*) AS BIGINT) AS avg_ratio_milli
         |FROM rs WHERE s1 > 0
         |GROUP BY bs ORDER BY bs""".stripMargin
  )
}
