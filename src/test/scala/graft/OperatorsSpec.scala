package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin}

class OperatorsSpec extends SparkSpec {

  test("AsOfJoin picks latest reference row at or before probe time, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, "e1"), // before any obs → null
      (1L, 205L, "e2"), // after obs@200 → 20
      (1L, 300L, "e3"), // exactly at obs@300 → 30 (inclusive)
      (2L, 250L, "e4")  // key 2: obs@240 → 24
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 200L, 20L), (1L, 300L, 30L), (2L, 240L, 24L), (2L, 400L, 40L)
    ).toDF("k", "rt", "v")
    val out = AsOfJoin.leftAsOf(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("tag", "v").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("e1").isEmpty)
    assert(out("e2").contains(20L))
    assert(out("e3").contains(30L))
    assert(out("e4").contains(24L))
  }

  test("RangeJoin: bucket-spanning ranges, misses keep left row with nulls") {
    import spark.implicits._
    val facts = Seq((1L, 5L), (2L, 300L), (3L, 1000L)).toDF("id", "v")
    // range [0,520] spans buckets 0..2 with bucketBits=8 (bucket width 256)
    val ranges = Seq((0L, 520L, "A"), (600L, 700L, "B")).toDF("lo", "hi", "name")
    val out = RangeJoin.leftJoinRanges(facts, col("v"), ranges, "lo", "hi", bucketBits = 8)
      .select("id", "name").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains("A"))
    assert(out(2L).contains("A")) // 300 is in bucket 1, range exploded across buckets
    assert(out(3L).isEmpty)       // no matching range, left row survives
  }

  test("RangeJoin boundary inclusivity") {
    import spark.implicits._
    val facts = Seq((1L, 0L), (2L, 520L), (3L, 521L)).toDF("id", "v")
    val ranges = Seq((0L, 520L, "A")).toDF("lo", "hi", "name")
    val out = RangeJoin.leftJoinRanges(facts, col("v"), ranges, "lo", "hi", bucketBits = 8)
      .select("id", "name").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains("A") && out(2L).contains("A") && out(3L).isEmpty)
  }

  test("AsOfJoin.leftAsOfBucketed matches leftAsOf incl. empty buckets") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // refs clustered early; probes span far later times → probe buckets with
    // zero refs must still pick up the carry-in from much earlier buckets
    // negative times exercise the exact integer floor-division bucketing
    val refs = Seq((1L, 10L, "a"), (1L, 95L, "b"), (2L, 5L, "x"), (4L, -250L, "n"))
      .toDF("k", "rt", "v")
    val probes = Seq((1L, 9L), (1L, 10L), (1L, 94L), (1L, 1000L), (2L, 4L), (2L, 999L), (3L, 50L),
      (4L, -260L), (4L, -250L), (4L, -1L), (4L, 75L))
      .toDF("k", "pt")
    def collectOut(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "pt", "v").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val plain = collectOut(AsOfJoin.leftAsOf(probes, refs, Seq("k"), "pt", "rt", Seq("v")))
    val bucketed = collectOut(
      AsOfJoin.leftAsOfBucketed(probes, refs, Seq("k"), "pt", "rt", Seq("v"), bucketWidth = 100L))
    assert(bucketed == plain)
    assert(plain((1L, 9L)) == null) // before first ref
    assert(plain((1L, 10L)) == "a") // inclusive at equality
    assert(plain((1L, 1000L)) == "b") // carried across 9 empty buckets
    assert(plain((3L, 50L)) == null) // key with no refs at all
    assert(plain((4L, -260L)) == null) // before a negative-time ref
    assert(plain((4L, -250L)) == "n") // inclusive at negative equality
    assert(plain((4L, 75L)) == "n") // carried across the zero boundary
  }

  test("ConnectedComponents: transitive closure, chains, isolated pairs") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // chain 1-2-3-4 (diameter 3, needs >1 round), pair 10-11, triangle
    // 20-21-22 plus bridge 22-23
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (23L, 22L)).toDF("src", "dst")
    val out = ConnectedComponents.run(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("ConnectedComponents.run leaves a caller's cached pair set cached") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b").cache()
    try {
      pairs.count()
      val out = ConnectedComponents.run(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      assert(out.count() == 5)
      assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "run must not unpersist a cache it did not create")
    } finally pairs.unpersist()
  }

  test("ConnectedComponents: local union-find path == distributed round loop") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // randomized sparse graph (fixed seed): both the r15 size-gated
    // union-find fast path and the distributed fixpoint loop must emit the
    // identical min-reachable-id labeling
    val rng = new scala.util.Random(1234)
    val edges = Seq.fill(300)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("src", "dst")
    val local = ConnectedComponents.run(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set(ConnectedComponents.LocalEdgeThresholdConf, "0")
    try {
      val dist = ConnectedComponents.run(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist)
    } finally spark.conf.unset(ConnectedComponents.LocalEdgeThresholdConf)
  }

  test("pagerankFromSym: local driver loop == distributed iterations") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val rng = new scala.util.Random(99)
    val pairs = Seq.fill(200)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (pairs ++ pairs.map(_.swap)).toDF("src", "dst").persist()
    sym.count()
    val local = graft.queries.Queries25.pagerankFromSym(sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set(ConnectedComponents.LocalEdgeThresholdConf, "0")
    try {
      val dist = graft.queries.Queries25.pagerankFromSym(sym)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist)
    } finally {
      spark.conf.unset(ConnectedComponents.LocalEdgeThresholdConf)
      sym.unpersist()
    }
  }

  test("GraphCounts.kcorePeel: local driver loop == distributed rounds") {
    import spark.implicits._
    import graft.operators.{ConnectedComponents, GraphCounts}
    val rng = new scala.util.Random(4321)
    val pairs = Seq.fill(260)((rng.nextInt(90).toLong, rng.nextInt(90).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val local = rows(GraphCounts.kcorePeel(pairs, 2, 6))
    spark.conf.set(ConnectedComponents.LocalEdgeThresholdConf, "0")
    try {
      val dist = rows(GraphCounts.kcorePeel(pairs, 2, 6))
      assert(local == dist)
    } finally spark.conf.unset(ConnectedComponents.LocalEdgeThresholdConf)
  }

  test("GraphCounts.bfsHops: local driver loop == distributed rounds") {
    import spark.implicits._
    import graft.operators.{ConnectedComponents, GraphCounts}
    val rng = new scala.util.Random(777)
    // sparse graph with several components so the -1 (unreached) row is
    // non-zero and some rounds empty their frontier
    val pairs = Seq.fill(60)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val local = rows(GraphCounts.bfsHops(pairs, 4))
    spark.conf.set(ConnectedComponents.LocalEdgeThresholdConf, "0")
    try {
      val dist = rows(GraphCounts.bfsHops(pairs, 4))
      assert(local == dist)
    } finally spark.conf.unset(ConnectedComponents.LocalEdgeThresholdConf)
  }

  test("KMeans: separates three well-separated direction clusters") {
    import spark.implicits._
    import graft.operators.KMeans
    // 30 points in 3 tight cones around orthogonal axes (deterministic jitter)
    // ids interleave cones (j*3+c) so the deterministic lowest-id seeds
    // start one centroid in each cone
    val pts = for {
      c <- 0 until 3
      j <- 0 until 10
    } yield {
      val base = Array.fill(4)(0.05 * ((c * 10 + j) % 7))
      base(c) = 10.0 + j * 0.1
      ((j * 3 + c).toLong, base.toSeq)
    }
    val df = pts.toDF("id", "v")
    val cents = KMeans.fit(df, "v", "id", k = 3, maxIter = 4)
    assert(cents.size == 3)
    // every point of a cone lands in one cell; distinct cones → distinct cells
    val assigned = df.select(col("id"), KMeans.assignCell(col("v"), cents).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cones = (0 until 3).map(c => (0 until 10).map(j => assigned((j * 3 + c).toLong)).toSet)
    assert(cones.forall(_.size == 1), s"each cone maps to one cell: $cones")
    assert(cones.flatten.toSet.size == 3, s"cones map to distinct cells: $cones")
    // centroid of each cell points dominantly along its cone's axis
    cones.zipWithIndex.foreach { case (cellSet, c) =>
      val cent = cents(cellSet.head.toInt)
      assert(cent.indexOf(cent.max) == c, s"centroid $cellSet dominated by axis $c")
    }
  }

  test("KMeans.fitMicro: partition-invariant (exact integer sums) and separates cones") {
    import spark.implicits._
    import graft.operators.KMeans
    val pts = for {
      c <- 0 until 3
      j <- 0 until 10
    } yield {
      val base = Array.fill(4)(0.05 * ((c * 10 + j) % 7))
      base(c) = 10.0 + j * 0.1
      ((j * 3 + c).toLong, base.toSeq.map(_.toFloat))
    }
    val df = pts.toDF("id", "v")
    val a = KMeans.fitMicro(df, "v", "id", k = 3, maxIter = 4)
    val b = KMeans.fitMicro(df.repartition(7), "v", "id", k = 3, maxIter = 4)
    val c1 = KMeans.fitMicro(df.coalesce(1), "v", "id", k = 3, maxIter = 4)
    // bit-identical centroids regardless of partitioning — the property the
    // hash-exact ann_ivf_kmeans oracle rests on
    assert(a.map(_.toSeq) == b.map(_.toSeq) && a.map(_.toSeq) == c1.map(_.toSeq))
    // and it still clusters: each cone lands in one distinct cell
    val q = df.select(col("id"), KMeans.quantizeMicro(col("v")).as("qv"))
    val assigned = q.select(col("id"), KMeans.assignCellMicro(col("qv"), a).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cones = (0 until 3).map(c => (0 until 10).map(j => assigned((j * 3 + c).toLong)).toSet)
    assert(cones.forall(_.size == 1) && cones.flatten.toSet.size == 3, s"cones: $cones")
  }

  test("KMeans.assignCell ties break to the lowest cell id") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 0.0))).toDF("id", "v")
    val cents = Seq(Array(2.0, 0.0), Array(4.0, 0.0)) // same direction → cosine tie
    val cell = df.select(graft.operators.KMeans.assignCell(col("v"), cents).as("c"))
      .collect()(0).getLong(0)
    assert(cell == 0L)
  }
}
