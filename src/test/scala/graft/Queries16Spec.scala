package graft

import org.apache.spark.sql.functions._

/** Round-7 operators: planted-path guarantees the oracle rows alone don't
  * pin — Bloom has NO false negatives (its defining property), every
  * dominant-script branch fires, and embedding decontamination catches
  * both exact and near-duplicate benchmark leaks.
  */
class Queries16Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("dedup_bloom: no false negatives — every batch fp present in shipped is flagged") {
    val out = SparkEntry.queries("dedup_bloom")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // planted cross-side duplicates (batch %3==1 ∧ %7==2 share the shipped
    // boilerplate) MUST hit
    val planted = out.keys.filter(id => id % 3 == 1 && id % 7 == 2)
    assert(planted.nonEmpty)
    planted.foreach(id => assert(out(id), s"planted duplicate $id missed — Bloom false negative"))
    // and some batch docs must NOT be in the filter (it's not all-ones)
    assert(out.values.count(_ == false) > 0, "filter saturated — m too small for the corpus")
  }

  test("dedup_bloom: flagged set ⊇ true membership (false positives allowed, bounded)") {
    import graft.queries.Queries16
    val docs = Queries16.bloomDocs(spark, dir)
    val shippedFps = docs.filter(col("doc_id") % 3 =!= 1)
      .select("fp").distinct().collect().map(_.getString(0)).toSet
    val batch = docs.filter(col("doc_id") % 3 === 1)
      .select("doc_id", "fp").collect().map(r => r.getLong(0) -> r.getString(1))
    val out = SparkEntry.queries("dedup_bloom")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val trueMembers = batch.filter(p => shippedFps.contains(p._2)).map(_._1).toSet
    trueMembers.foreach(id => assert(out(id), s"true member $id not flagged"))
    val fp = out.count { case (id, in) => in && !trueMembers.contains(id) }
    assert(fp.toDouble / out.size < 0.2, s"false-positive rate $fp/${out.size} — m/k mistuned")
  }

  test("text_script: every dominant-script branch fires and counts are consistent") {
    val rows = SparkEntry.queries("text_script")(spark, dir).collect()
    val scripts = rows.map(_.getAs[String]("script")).toSet
    assert(Set("Latin", "Cyrillic", "Han", "Arabic", "Greek").subsetOf(scripts), scripts.toString)
    rows.foreach { r =>
      val counts = Map(
        "Latin" -> r.getAs[Long]("n_latin"), "Cyrillic" -> r.getAs[Long]("n_cyrillic"),
        "Han" -> r.getAs[Long]("n_han"), "Arabic" -> r.getAs[Long]("n_arabic"),
        "Greek" -> r.getAs[Long]("n_greek"))
      assert(counts(r.getAs[String]("script")) == counts.values.max,
        s"dominant script is not the max count: $counts vs ${r.getAs[String]("script")}")
    }
  }

  test("perplexity_bucket: per-source terciles are ordered, exhaustive, and balanced") {
    val rows = SparkEntry.queries("perplexity_bucket")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("lp_avg_milli"),
        r.getAs[String]("bucket"), r.getAs[Boolean]("keep")))
    rows.foreach { case (_, _, b, keep) => assert(keep == (b != "tail")) }
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val byBucket = docs.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"), s"$src missing a bucket: ${byBucket.keySet}")
      // value-ordered: every head score >= every middle score >= every tail score
      assert(byBucket("head").min >= byBucket("middle").max, s"$src head/middle overlap")
      assert(byBucket("middle").min >= byBucket("tail").max, s"$src middle/tail overlap")
      // balanced up to tie-straddle slop: no bucket under 1/5 of the source
      byBucket.foreach { case (b, xs) =>
        assert(xs.size * 5 >= docs.size, s"$src bucket $b too small: ${xs.size}/${docs.size}")
      }
    }
  }

  test("decontaminate_embedding: exact and near-dup benchmark leaks both flag") {
    val out = SparkEntry.queries("decontaminate_embedding")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(r => r._1 -> r).toMap
    // the benchmark vectors themselves are in the corpus: cos exactly 1
    val self = out.filter(r => r._1 % 50 == 0 && r._1 < 1000000L)
    assert(self.nonEmpty && self.forall(r => r._3 && r._2 == 1000000L),
      "benchmark self-matches must flag at cos 1.0")
    // planted near-dups of %100==0 bases (plant stride 25 ∧ bench stride 50)
    val near = out.filter(r => r._1 >= 1000000L &&
      (r._1 - 1000000L) % 100 == 0)
    assert(near.nonEmpty && near.forall(_._3), "planted near-dup leaks must flag")
    assert(near.forall(r => r._2 < 1000000L && r._2 > 950000L), "near-dup cos should be ~0.996")
    assert(out.count(!_._3) > 0, "unrelated vectors must not flag")
  }

  test("bloom_fpr_audit: probes are exactly the non-members, both error branches fire, theory sane") {
    val Array(r) = SparkEntry.queries("bloom_fpr_audit")(spark, dir).collect()
    val (m, k, nMembers, bitsSet, nProbes, fps, fprMilli, fillMilli) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
    assert(m == 1024L && k == 3L)
    // ground truth from the shared doc universe
    val docs = graft.queries.Queries16.bloomDocs(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("fp")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val shipped = docs.filter(_._1 % 3 != 1).map(_._2).toSet
    val batchNonMembers = docs.filter(_._1 % 3 == 1).map(_._2).toSet -- shipped
    assert(nMembers == shipped.size.toLong)
    assert(nProbes == batchNonMembers.size.toLong)
    // the audited width is small enough that false positives actually occur,
    // and the filter still never false-negatives (checked via dedup_bloom's
    // own spec); measured rate must match its own columns
    assert(fps > 0 && fps < nProbes, "both branches fire")
    assert(fprMilli == fps * 1000 / nProbes)
    // fill-based theory: (bits_set/m)^3 in milli, and the fill is consistent
    assert(bitsSet > 0 && bitsSet <= m)
    assert(fillMilli == bitsSet * bitsSet * bitsSet * 1000 / (m * m * m))
    // measured within 3x of theory either way (same order of magnitude)
    assert(fprMilli * 3 >= fillMilli && fillMilli * 3 >= fprMilli,
      s"measured $fprMilli vs theory $fillMilli")
  }
}
