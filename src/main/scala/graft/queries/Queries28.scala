package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 batch — duplicate-topology analytics, sketch-based counting and
  * corpus/RAG materialization:
  *
  *  - `triangle_count`: per-node triangle participation over the MinHash
  *    near-dup graph — the clustering-coefficient numerator that separates
  *    boilerplate cliques (dense, many triangles) from chain-shaped false
  *    positives (no triangles). Degree-ordered edge orientation (the
  *    Cohen / Suri-Vassilvitskii MapReduce algorithm): every edge points
  *    from the (deg, id)-smaller endpoint, so wedge fan-out is bounded by
  *    the SMALLER degree and the hub node of a star never explodes a
  *    reducer — the orientation IS the skew guard at 100 TB.
  *  - `graph_jaccard`: neighborhood-overlap strength for each candidate
  *    pair (|N(a)∩N(b)| / |N(a)∪N(b)| over the dup graph, exact milli) —
  *    the link-prediction feature that upgrades raw band collisions into
  *    weighted dedup edges. One shared-neighbor self-join bounded by the
  *    same orientation trick, then a broadcast-degree lookup.
  *  - `distinct_kmv`: K-minimum-values distinct sketch (Bar-Yossef et al.)
  *    of daily active (user, day) pairs per event type — the mergeable
  *    cardinality sketch a 100 TB pipeline ships instead of exact
  *    count-distinct. Deterministic and ORACLE-EXACT: both engines hash
  *    with the same Rabin–Karp polynomial, keep the k=32 smallest distinct
  *    hashes, and estimate (k−1)·M / h_k in integer arithmetic. The exact
  *    count rides along so the row also certifies the estimate's error.
  *  - `chunk_split`: RAG chunking — fixed 64-token windows with stride 48
  *    (16-token overlap), one row per chunk with an md5 content
  *    fingerprint; the explode carries only (doc_id, idx) and re-slices
  *    the cached token array, so no chunk text is ever wider than C tokens.
  *  - `record_linkage`: blocked entity resolution over a master/dirty
  *    customer universe — deterministic typo'd twins, (nation, name-prefix)
  *    blocking, Levenshtein≤1 verify inside the block. The candidate space
  *    is |block|² per block, never |master|·|dirty|; the prefix length is
  *    the knob that bounds block size at scale.
  *
  * Reference anchor: snowplow/enrich has no graph/sketch/linkage tier;
  * these extend SURVEY §2.D the way bm25/pagerank did, with the same
  * oracle-exactness discipline (integer milli units, md5/polynomial
  * hashes identical across engines).
  */
object Queries28 extends QuerySet {
  /** KMV sketch size (shared with streaming.StreamKmv — one estimator). */
  private[graft] val KmvK = 32
  /** Rolling-hash modulus (the hash universe M in the KMV estimator). */
  private[graft] val HashMod = 1000000007L

  /** The hashed (event_type, h) universe the KMV sketch runs over — ONE
    * spelling shared by the batch query, its oracle and the streaming
    * sketch, so the three can never drift. Input needs `event_type`,
    * `user_id`, `ts_us`. */
  private[graft] def kmvHashed(ev: DataFrame): DataFrame = {
    val key = concat(col("user_id").cast("string"), lit(":"),
      expr("ts_us div 86400000000").cast("string"))
    ev.select(col("event_type"), TextF.rollingHash(key).as("h"))
  }

  /** Chunk width / stride in tokens. */
  private[graft] val ChunkC = 64
  private[graft] val ChunkS = 48

  /** Dirty-twin spacing for record_linkage ids. */
  private[graft] val DirtyIdOffset = 1000000L

  /** simhash_pairs banding: 4 × 15-bit bands over the 60-bit fingerprint;
    * pigeonhole guarantees recall for Hamming ≤ bands − 1. Band width is
    * the collision knob — the ×10 probe measured the earlier 32-bit/8-bit
    * layout going 9.2× superlinear (collisions ∝ N²/2^bandwidth); 15-bit
    * bands defer the quadratic term by 2^7 and 60 bits is the widest
    * fingerprint whose per-token oracle value fits a signed BIGINT. */
  private[graft] val SimhashBands = 4
  private[graft] val SimhashBandBits = 15
  private[graft] val SimhashBandMask = (1L << 15) - 1
  private[graft] val SimhashMaxDist = 3

  // ---- record_linkage synthetic universe (Spark and SQL twins) ----------
  // master entity name: "cust <key> <segment-lower>"; every third customer
  // gets a dirty twin with ONE character deleted near the tail (the block
  // prefix below never sees the edit, so blocking stays deterministic).
  private[queries] def masterName(key: Column, seg: Column): Column =
    concat(lit("cust "), key.cast("string"), lit(" "), lower(seg))
  private[queries] val masterNameSql = "concat('cust ', c_custkey, ' ', lower(c_mktsegment))"
  private[queries] def dirtyName(name: Column, key: Column): Column = {
    val p = length(name) - (key % 4).cast("int") - 1
    concat(substring(name, lit(1), p - 1), substring(name, p + 1, lit(1 << 30)))
  }
  private[queries] val dirtyNameSql =
    s"""concat(substr(nm, 1, length(nm) - CAST(c_custkey % 4 AS INT) - 2),
       |       substr(nm, length(nm) - CAST(c_custkey % 4 AS INT)))""".stripMargin
  /** Blocking key: nation + the first 7 chars of the name. */
  private[queries] val BlockPrefix = 7

  /** Pigeonhole-banded Hamming search over any (doc_id, f) fingerprint
    * frame: 4 bands of 15 bits over the 60-bit fingerprint — Hamming ≤ 3
    * implies at least one band is IDENTICAL, so candidates come from
    * equi-joins on (band_idx, band_val) and the popcount verify runs only
    * on collisions. Collapses identical fingerprints FIRST: near-dup
    * cliques share a fingerprint, so the band self-join runs over DISTINCT
    * fingerprints (one node per clique — 5.3x fewer candidates on the
    * sf0.1 corpus) and doc pairs are regenerated only from VERIFIED fp
    * pairs. Factored out of `simhash_pairs` so dedup_method_venn can feed
    * fingerprints derived from its shared tokenization pass. */
  private[graft] def simhashPairsOf(fps: DataFrame): DataFrame = {
    val groups = graft.util.CacheScope.track(fps
      .groupBy("f").agg(collect_list(col("doc_id")).as("ids"), count(lit(1)).as("n")))
    groups.count()
    val bands = groups.select(col("f"),
      explode(array((0 until SimhashBands).map(b => struct(
        lit(b).as("bi"),
        shiftright(col("f"), SimhashBandBits * b).bitwiseAND(lit(SimhashBandMask)).as("bv"))): _*)).as("e"))
      .select(col("f"), col("e.bi").as("bi"), col("e.bv").as("bv"))
    val fpPairs = bands.select(col("bi"), col("bv"), col("f").as("fa"))
      .join(bands.select(col("bi"), col("bv"), col("f").as("fb")), Seq("bi", "bv"))
      .filter(col("fa") < col("fb"))
      .select(col("fa"), col("fb")).distinct()
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint"))
      .filter(col("hamming") <= SimhashMaxDist)
    // identical-fingerprint cliques: Hamming-0 pairs within each group
    val same = groups.filter(col("n") >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    // cross-fingerprint matches: expand the verified fp pairs' doc lists
    val cross = fpPairs
      .join(groups.select(col("f").as("fa"), col("ids").as("ids_a")), Seq("fa"))
      .join(groups.select(col("f").as("fb"), col("ids").as("ids_b")), Seq("fb"))
      .select(col("hamming"), explode(col("ids_a")).as("ia"), col("ids_b"))
      .select(col("hamming"), col("ia"), explode(col("ids_b")).as("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    same.unionAll(cross).orderBy("id_a", "id_b")
  }

  val defs: Map[String, Q] = Map(
    "triangle_count" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
      pairs.count() // materialized once; degrees + orientation + closure all read it
      val deg = Queries25.symEdges(pairs).groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      // orient every undirected pair from the (deg, id)-smaller endpoint;
      // carry the head's (deg, id) so the wedge join can canonicalize
      // without re-joining degrees
      val withDeg = pairs
        .join(deg.select(col("node").as("id_a"), col("deg").as("da")), Seq("id_a"))
        .join(deg.select(col("node").as("id_b"), col("deg").as("db")), Seq("id_b"))
      val aFirst = col("da") < col("db") || (col("da") === col("db") && col("id_a") < col("id_b"))
      val oriented = graft.util.CacheScope.track(withDeg.select(
        when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
        when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg")))
      oriented.count()
      // wedges at the (deg,id)-minimum apex, legs ordered by the same total
      // order; a triangle closes iff the (v,w) edge exists — and it can only
      // be oriented v→w, so ONE equi-join probes it
      val o1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("vd"))
      val o2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("wd"))
      val wedges = o1.join(o2, Seq("src"))
        .filter(col("vd") < col("wd") || (col("vd") === col("wd") && col("v") < col("w")))
      val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
      val tri = wedges.join(closing, Seq("v", "w"))
        .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
      val out = tri.select(col("x").as("doc_id"))
        .unionAll(tri.select(col("y").as("doc_id")))
        .unionAll(tri.select(col("z").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
        .orderBy("doc_id")
      out
    },

    "graph_jaccard" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
      pairs.count()
      val sym = graft.util.CacheScope.track(Queries25.symEdges(pairs))
      sym.count()
      val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      // shared-neighbor mass per candidate pair: two adjacency probes meet
      // on the common neighbor, canonicalized a<b so each pair counts once
      val e1 = sym.select(col("src").as("id_a"), col("dst").as("c"))
      val e2 = sym.select(col("src").as("id_b"), col("dst").as("c"))
      val common = e1.join(e2, Seq("c"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      pairs
        .join(common, Seq("id_a", "id_b"), "left")
        .join(deg.select(col("node").as("id_a"), col("deg").as("da")), Seq("id_a"))
        .join(deg.select(col("node").as("id_b"), col("deg").as("db")), Seq("id_b"))
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        // N(a)\{b} and N(b)\{a}: each side loses exactly the partner edge
        .withColumn("n_union", col("da") + col("db") - lit(2) - col("n_common"))
        .select(col("id_a"), col("id_b"), col("n_common"),
          when(col("n_union") === 0, lit(1000L))
            .otherwise(expr("(1000 * n_common) div n_union")).as("jacc_milli"))
        .orderBy("id_a", "id_b")
    },

    "distinct_kmv" -> { (sp, dir) =>
      val hashed = kmvHashed(Tables.events(sp, dir))
      val exact = hashed.groupBy("event_type")
        .agg(countDistinct(col("h")).as("n_exact"))
      // the sketch never sees more than k rows per group leave the shuffle:
      // distinct hashes, rank within type, keep ranks 1..k — a map-side
      // partial distinct runs first, so the (type) shuffle carries the
      // per-partition survivors, not the event stream
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("h")
      val kmin = hashed.distinct()
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KmvK)
      val sk = kmin.groupBy("event_type").agg(
        count(lit(1)).as("n_kept"),
        max(when(col("rk") === KmvK, col("h"))).as("h_k"))
      exact.join(sk, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_kept"), col("h_k"),
          when(col("n_kept") < KmvK, col("n_kept"))
            .otherwise(expr(s"((${KmvK} - 1) * ${HashMod}L) div h_k")).as("est_kmv"))
        .orderBy("event_type")
    },

    "chunk_split" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokens(col("text")).as("w"),
          TextF.tokenCount(col("text")).cast("bigint").as("n"))
        .filter(col("n") > 0)
      val nChunks = lit(1L) + greatest(lit(0L),
        expr(s"(n - ${ChunkC} + ${ChunkS} - 1) div ${ChunkS}"))
      toks
        .withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1)))
        .withColumn("chunk", slice(col("w"),
          (col("chunk_idx") * ChunkS + 1).cast("int"), lit(ChunkC)))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("bigint").as("n_chunk_toks"),
          md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    },

    "simhash_pairs" -> { (sp, dir) =>
      simhashPairsOf(Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.simhash60(col("text")).as("f")))
    },

    "record_linkage" -> { (sp, dir) =>
      val cust = Tables.customer(sp, dir)
      val master = cust.select(
        col("c_custkey").as("master_id"),
        col("c_nationkey").as("nation"),
        masterName(col("c_custkey"), col("c_mktsegment")).as("name"))
      val dirty = cust.filter(col("c_custkey") % 3 === 0).select(
        (col("c_custkey") + DirtyIdOffset).as("dirty_id"),
        col("c_nationkey").as("nation"),
        dirtyName(masterName(col("c_custkey"), col("c_mktsegment")), col("c_custkey"))
          .as("dirty_name"))
      // blocking: the candidate join runs on (nation, 7-char prefix) — the
      // deterministic edit never touches the prefix, so recall is exact here;
      // at scale the prefix length bounds |block| and the verify below is
      // |block|²-local, never cross-block
      val mB = master.withColumn("bk", substring(col("name"), 1, BlockPrefix))
      val dB = dirty.withColumn("bk", substring(col("dirty_name"), 1, BlockPrefix))
      mB.join(dB, Seq("nation", "bk"))
        .filter(levenshtein(col("name"), col("dirty_name")) <= 1)
        .select(col("master_id"), col("dirty_id"),
          levenshtein(col("name"), col("dirty_name")).cast("bigint").as("edit_dist"))
        .orderBy("master_id", "dirty_id")
    }
  )

  // ---- DuckDB twins ------------------------------------------------------

  /** Rolling hash of an arbitrary SQL string expression — the DuckDB twin of
    * TextF.rollingHash (same base/mod as doc_rolling_hash's oracle). */
  /** CTE chain ending at `cand(id_a, id_b, fa, fb)` — the banded simhash
    * candidate pairs; `simhash_pairs` and the dedup-method Venn both
    * filter it at Hamming ≤ [[SimhashMaxDist]]. */
  private[queries] lazy val SimhashCandCteSql: String = {
    val bitSum = (0 until 60).map(b =>
      s"CASE WHEN 2 * len(list_filter(vs, v -> (v >> $b) & 1 = 1)) >= len(vs) " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""vals AS (
       |  SELECT doc_id, list_transform(list_distinct($toksSql),
       |    t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS vs
       |  FROM documents
       |),
       |fp AS (
       |  SELECT doc_id,
       |    CASE WHEN len(vs) = 0 THEN 0 ELSE $bitSum END AS f
       |  FROM vals
       |),
       |bands AS (
       |  SELECT doc_id, f, bi, (f >> ($SimhashBandBits * bi)) & $SimhashBandMask AS bv
       |  FROM fp CROSS JOIN (SELECT unnest(range(0, $SimhashBands)) AS bi) bix
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f AS fa, b.f AS fb
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private[queries] def rollingHashSql(e: String): String =
    s"""CASE WHEN length($e) = 0 THEN 0
       |     ELSE list_reduce(
       |       list_transform(range(1, length($e) + 1), i -> CAST(unicode(substr($e, i, 1)) AS BIGINT)),
       |       (h, c) -> (h * 257 + c) % $HashMod)
       |END""".stripMargin

  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "triangle_count" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |symedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM symedges GROUP BY src),
         |oriented AS (
         |  SELECT
         |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN p.id_a ELSE p.id_b END AS src,
         |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN p.id_b ELSE p.id_a END AS dst,
         |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN db.deg ELSE da.deg END AS ddeg
         |  FROM pairs p
         |  JOIN deg da ON da.node = p.id_a
         |  JOIN deg db ON db.node = p.id_b
         |),
         |tri AS (
         |  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
         |  FROM oriented o1
         |  JOIN oriented o2 ON o1.src = o2.src
         |    AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)
         |  JOIN oriented o3 ON o3.src = o1.dst AND o3.dst = o2.dst
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |  SELECT x AS doc_id FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri
         |) u GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "graph_jaccard" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |symedges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM symedges GROUP BY src),
         |common AS (
         |  SELECT e1.src AS id_a, e2.src AS id_b, CAST(count(*) AS BIGINT) AS n_common
         |  FROM symedges e1 JOIN symedges e2
         |    ON e1.dst = e2.dst AND e1.src < e2.src
         |  GROUP BY e1.src, e2.src
         |)
         |SELECT p.id_a, p.id_b,
         |  coalesce(c.n_common, 0) AS n_common,
         |  CASE WHEN da.deg + db.deg - 2 - coalesce(c.n_common, 0) = 0 THEN 1000
         |       ELSE (1000 * coalesce(c.n_common, 0))
         |            // (da.deg + db.deg - 2 - coalesce(c.n_common, 0))
         |  END AS jacc_milli
         |FROM pairs p
         |LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
         |JOIN deg da ON da.node = p.id_a
         |JOIN deg db ON db.node = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,

    "distinct_kmv" -> {
      val h = rollingHashSql("k").replace("\n", " ")
      s"""WITH keys AS (
         |  SELECT event_type,
         |    concat(CAST(user_id AS VARCHAR), ':', CAST(epoch_us(ts) // 86400000000 AS VARCHAR)) AS k
         |  FROM events
         |),
         |hashed AS (SELECT DISTINCT event_type, $h AS h FROM keys),
         |exact AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM hashed GROUP BY event_type
         |),
         |ranked AS (
         |  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM hashed
         |),
         |sk AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
         |    max(CASE WHEN rk = $KmvK THEN h END) AS h_k
         |  FROM ranked WHERE rk <= $KmvK GROUP BY event_type
         |)
         |SELECT e.event_type, e.n_exact, s.n_kept, s.h_k,
         |  CASE WHEN s.n_kept < $KmvK THEN s.n_kept
         |       ELSE (CAST(${KmvK} - 1 AS BIGINT) * $HashMod) // s.h_k END AS est_kmv
         |FROM exact e JOIN sk s USING (event_type)
         |ORDER BY e.event_type""".stripMargin
    },

    "chunk_split" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS w,
         |    CAST(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |              ELSE len($toksSql) END AS BIGINT) AS n
         |  FROM documents
         |),
         |idx AS (
         |  SELECT doc_id, w,
         |    unnest(range(0, 1 + greatest(0, (n - $ChunkC + $ChunkS - 1) // $ChunkS))) AS chunk_idx
         |  FROM toks WHERE n > 0
         |)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(w[chunk_idx * $ChunkS + 1 : chunk_idx * $ChunkS + $ChunkC]) AS BIGINT)
         |    AS n_chunk_toks,
         |  md5(array_to_string(w[chunk_idx * $ChunkS + 1 : chunk_idx * $ChunkS + $ChunkC], ' '))
         |    AS chunk_fp
         |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,

    "simhash_pairs" ->
      s"""WITH $SimhashCandCteSql
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= $SimhashMaxDist
         |ORDER BY id_a, id_b""".stripMargin,

    "record_linkage" ->
      s"""WITH master AS (
         |  SELECT c_custkey AS master_id, c_nationkey AS nation, $masterNameSql AS name
         |  FROM customer
         |),
         |dirty AS (
         |  SELECT c_custkey + $DirtyIdOffset AS dirty_id, c_nationkey AS nation,
         |    ${dirtyNameSql.replace("\n", " ")} AS dirty_name
         |  FROM (SELECT c_custkey, c_nationkey, $masterNameSql AS nm FROM customer
         |        WHERE c_custkey % 3 = 0) s
         |)
         |SELECT m.master_id, d.dirty_id,
         |  CAST(levenshtein(m.name, d.dirty_name) AS BIGINT) AS edit_dist
         |FROM master m JOIN dirty d
         |  ON m.nation = d.nation
         |  AND substr(m.name, 1, $BlockPrefix) = substr(d.dirty_name, 1, $BlockPrefix)
         |WHERE levenshtein(m.name, d.dirty_name) <= 1
         |ORDER BY m.master_id, d.dirty_id""".stripMargin
  )
}
