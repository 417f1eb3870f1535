package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-15 batch #10 — embedding label structure, market concentration
  * trend, and dup-cluster sanity:
  *
  *  - `label_centroid_alignment`: per embedding label, the cosine between
  *    the label's SUM vector and the global sum vector — how far each
  *    class's centroid leans away from the corpus mean direction (a label
  *    whose centroid aligns ~1.0 carries no linear class signal).
  *    Components quantize to exact e3 integers BEFORE summing, so the
  *    per-position sums are engine-exact and the one final cosine is a
  *    deterministic double over exact integers. (Integer products bound
  *    the corpus at ~10⁸ rows at this quantum; coarsen past that.)
  *  - `hhi_trend`: quarterly Herfindahl–Hirschman concentration of
  *    revenue across part brands, in exact ppm from per-mille shares —
  *    the market-power trend line, one scan + calendar-bounded rollup.
  *  - `cluster_size_span`: per MinHash dup cluster, the min/max document
  *    length and span ratio — clusters mixing wildly different-sized
  *    texts are the classic false-merge smell a keeper policy should see
  *    before dropping the "duplicates".
  */
object Queries209 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "label_centroid_alignment" -> { (sp, dir) =>
      val ex = Tables.embeddings(sp, dir)
        .select(col("label"), posexplode(
          expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))")))
        .toDF("label", "pos", "x")
      val byLabel = ex.groupBy("label", "pos").agg(sum("x").as("sx"), count(lit(1)).as("cnt"))
      val glob = ex.groupBy("pos").agg(sum("x").as("gx"))
      byLabel.join(glob, "pos")
        .groupBy("label")
        .agg((max("cnt")).as("n_vecs"),
          sum(col("sx") * col("gx")).as("dot"),
          sum(col("sx") * col("sx")).as("ss"),
          sum(col("gx") * col("gx")).as("gg"))
        .select(col("label"), col("n_vecs"),
          round(lit(1e6) * col("dot") / (sqrt(col("ss")) * sqrt(col("gg"))))
            .cast("bigint").as("cos_e6"))
        .orderBy("label")
    },

    "hhi_trend" -> { (sp, dir) =>
      val rev = Tables.lineitem(sp, dir)
        .join(Tables.orders(sp, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(sp, dir), col("l_partkey") === col("p_partkey"))
        .select(expr("year(o_orderdate) * 10 + quarter(o_orderdate)").as("yq"),
          col("p_brand"),
          expr("CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)").as("cents"))
        .groupBy("yq", "p_brand").agg(sum("cents").as("rev"))
      rev
        .withColumn("tot", sum("rev").over(
          org.apache.spark.sql.expressions.Window.partitionBy("yq")))
        .withColumn("share_pm", expr("rev * 1000 div tot"))
        .groupBy("yq")
        .agg(count(lit(1)).as("n_brands"),
          sum(expr("share_pm * share_pm")).as("hhi_ppm"))
        .orderBy("yq")
    },

    "cluster_size_span" -> { (sp, dir) =>
      val p = Queries6.minhashPairs(sp, dir)
      val comp = graft.operators.ConnectedComponents.run(
        p.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("doc_id"), col("comp"))
      Tables.documents(sp, dir).select(col("doc_id"), col("n_chars"))
        .join(comp, "doc_id")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_nodes"),
          min("n_chars").cast("bigint").as("min_chars"),
          max("n_chars").cast("bigint").as("max_chars"))
        .select(col("comp"), col("n_nodes"), col("min_chars"), col("max_chars"),
          expr("max_chars * 1000 div greatest(min_chars, 1)").as("span_milli"))
        .orderBy("comp")
    }
  )

  val oracles: Map[String, String] = Map(
    "label_centroid_alignment" ->
      """WITH ex0 AS (
        |  SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'pos': i,
        |          'x': CAST(round(list_extract(embedding, i) * 1000) AS BIGINT)})) AS u
        |  FROM embeddings
        |), ex AS (
        |  SELECT label, u.pos AS pos, u.x AS x FROM ex0
        |), byl AS (
        |  SELECT label, pos, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ex GROUP BY 1, 2
        |), gl AS (
        |  SELECT pos, CAST(sum(x) AS BIGINT) AS gx FROM ex GROUP BY pos
        |)
        |SELECT label, max(cnt) AS n_vecs,
        |  CAST(round(1e6 * sum(sx * gx) / (sqrt(sum(sx * sx)) * sqrt(sum(gx * gx)))) AS BIGINT)
        |    AS cos_e6
        |FROM byl JOIN gl USING (pos)
        |GROUP BY label ORDER BY label""".stripMargin,

    "hhi_trend" ->
      """WITH rev AS (
        |  SELECT year(o_orderdate) * 10 + quarter(o_orderdate) AS yq, p_brand,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |), shares AS (
        |  SELECT yq,
        |    rev * 1000 // CAST(sum(rev) OVER (PARTITION BY yq) AS BIGINT) AS share_pm
        |  FROM rev
        |)
        |SELECT yq, CAST(count(*) AS BIGINT) AS n_brands,
        |  CAST(sum(share_pm * share_pm) AS BIGINT) AS hhi_ppm
        |FROM shares GROUP BY yq ORDER BY yq""".stripMargin,

    "cluster_size_span" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
         |eg AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM eg
         |  UNION
         |  SELECT e.s, reach.r FROM eg e JOIN reach ON e.d = reach.id
         |),
         |cmp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT comp, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  CAST(CAST(max(n_chars) AS BIGINT) * 1000
         |       // greatest(CAST(min(n_chars) AS BIGINT), 1) AS BIGINT) AS span_milli
         |FROM documents JOIN cmp USING (doc_id)
         |GROUP BY comp ORDER BY comp""".stripMargin
  )
}
