package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextF

/** Round-9 batch #14 — the Bloom sizing curve, completing the
  * sketch-calibration trilogy (kmv_size_tradeoff, hll_size_tradeoff):
  *
  *  - `bloom_size_tradeoff`: `bloom_fpr_audit`'s measurement swept across
  *    widths m ∈ {512, 1024, 4096} — measured false-positive rate over
  *    exactly-non-member probes next to the fill-based theoretical rate,
  *    per width, all exact integer milli. The same shipped fingerprint
  *    set builds every filter (one distinct pass, cached; each width's
  *    word map is ≤ m/32 longs — the centroid-literal collect pattern),
  *    so the sweep costs one corpus scan plus three narrow probe passes.
  *    The n/m sizing decision this table drives is the whole reason a
  *    100 TB dedup gate ships a Bloom filter at all.
  */
object Queries94 extends QuerySet {
  private[graft] val Widths = Seq(512, 1024, 4096)

  val defs: Map[String, Q] = Map(
    "bloom_size_tradeoff" -> { (sp, dir) =>
      val docs = Queries16.bloomDocs(sp, dir)
      val shipped = graft.util.CacheScope.track(
        docs.filter(col("doc_id") % 3 =!= 1).select("fp").distinct())
      val nonMembers = graft.util.CacheScope.track(
        docs.filter(col("doc_id") % 3 === 1).select("fp").distinct()
          .join(shipped, Seq("fp"), "left_anti"))
      nonMembers.count()
      val rows = Widths.map { m =>
        val words = m / 32
        val wordRows = shipped
          .select(explode(array(Queries16.BloomSalts.map(s =>
            Queries16.bloomPos(s, col("fp"), m)): _*)).as("pos"))
          .select((col("pos") / 32).cast("int").as("w"),
            Queries16.bloomBit(col("pos")).as("bitv"))
          .groupBy("w").agg(expr("bit_or(bitv)").as("bits"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val bloom = (0 until words).map(i => wordRows.getOrElse(i, 0L))
        val bitsSet = bloom.map(w => java.lang.Long.bitCount(w).toLong).sum
        val fillFprMilli = bitsSet * bitsSet * bitsSet * 1000L / (m.toLong * m * m)
        val posArr = array(Queries16.BloomSalts.map(s =>
          Queries16.bloomPos(s, col("fp"), m)): _*)
        val hit = forall(posArr, { pos =>
          val word = element_at(typedLit(bloom), (pos / 32).cast("int") + 1)
          ((word / Queries16.bloomBit(pos)).cast("bigint") % 2) === 1
        })
        nonMembers.select(hit.as("hit"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("false_positives"))
          .select(lit(m.toLong).as("m_bits"), lit(bitsSet).as("bits_set"),
            col("n_probes"), col("false_positives"),
            expr("false_positives * 1000 div n_probes").as("fpr_milli"),
            lit(fillFprMilli).as("fill_fpr_milli"))
      }
      rows.reduce(_.unionAll(_)).orderBy("m_bits")
    }
  )

  val oracles: Map[String, String] = {
    val fpSql = s"md5(${TextF.NormalizeTextSql})"
    def widthSelect(m: Int): String = {
      val posList = Queries16.BloomSalts.map(s =>
        Queries16.bloomPosSql(s, "fp", m)).mkString("[", ", ", "]")
      s"""SELECT CAST($m AS BIGINT) AS m_bits,
         |  (SELECT CAST(sum(bit_count(bits)) AS BIGINT) FROM (
         |     SELECT pos // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |     FROM (SELECT unnest($posList) AS pos FROM shipped) sp GROUP BY 1) b0) AS bits_set,
         |  CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(CASE WHEN all_hit THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
         |  CAST(sum(CASE WHEN all_hit THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS fpr_milli,
         |  (SELECT CAST(bs * bs * bs * 1000 // (CAST($m AS BIGINT) * $m * $m) AS BIGINT)
         |   FROM (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bs FROM (
         |     SELECT pos // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |     FROM (SELECT unnest($posList) AS pos FROM shipped) sp2 GROUP BY 1) b1) t)
         |    AS fill_fpr_milli
         |FROM (
         |  SELECT fp, bool_and(hit) AS all_hit FROM (
         |    SELECT bp.fp,
         |      coalesce((b.bits // (CAST(1 AS BIGINT) << CAST(bp.pos % 32 AS INT))) % 2, 0) = 1
         |        AS hit
         |    FROM (SELECT fp, unnest($posList) AS pos FROM nonmem) bp
         |    LEFT JOIN (
         |      SELECT pos // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |      FROM (SELECT unnest($posList) AS pos FROM shipped) sp3 GROUP BY 1) b
         |      ON b.w = bp.pos // 32
         |  ) probes GROUP BY fp
         |) perfp""".stripMargin
    }
    Map(
      "bloom_size_tradeoff" ->
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 11 = 5 OR (doc_id % 3 = 1 AND doc_id % 7 = 2)
           |         THEN '${Queries16.BloomBoiler}' ELSE text END AS text
           |  FROM documents
           |), fps AS (
           |  SELECT doc_id, $fpSql AS fp FROM d
           |), shipped AS (
           |  SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 1
           |), nonmem AS (
           |  SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 1
           |    AND fp NOT IN (SELECT fp FROM shipped)
           |)
           |${Widths.map(widthSelect).mkString("", "\nUNION ALL\n", "")}
           |ORDER BY m_bits""".stripMargin
    )
  }
}
