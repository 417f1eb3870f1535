package graft

import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.queries.Queries13

/** Batch 13: Unicode normalization kernel, unigram-LM scoring, mixture
  * sampling. The oracle gate proves engine agreement; these pin kernel
  * semantics (composition actually happens, scores are exact, the binding
  * source survives whole). */
class Queries13Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  import org.apache.spark.sql.Row

  test("NormalizeExpression composes decomposed accents and folds under NFKC") {
    val df = spark.range(1).select(
      TextF.unicodeNormalize(lit("café")).as("nfc"),
      TextF.unicodeNormalize(lit("ﬃ")).as("lig_nfc"),
      TextF.unicodeNormalize(lit("ﬃ"), "NFKC").as("lig_nfkc"),
      TextF.unicodeNormalize(lit("plain")).as("ascii"),
      TextF.unicodeNormalize(lit(null).cast("string")).as("nul"))
    val r = df.head()
    assert(r.getString(0) == "café") // composed
    assert(r.getString(1) == "ﬃ") // NFC keeps the ligature
    assert(r.getString(2) == "ffi") // NFKC folds it
    assert(r.getString(3) == "plain") // ASCII fast path
    assert(r.isNullAt(4)) // null propagates
  }

  test("graft_normalize is registered as a SQL function") {
    graft.plans.GraftFunctions.install(spark)
    val r = spark.sql("SELECT graft_normalize('café') AS a, " +
      "graft_normalize('ﬃ', 'NFKC') AS b").head()
    assert(r.getString(0) == "café" && r.getString(1) == "ffi")
  }

  test("text_normalize: decomposed suffixes compose, fixpoints don't") {
    val out = Queries13.defs("text_normalize")(spark, dir).cache()
    try {
      // idx 0..4 are decomposed (combining marks vanish under NFC)
      val decomposed = out.filter((col("doc_id") % 8) < 5)
      assert(decomposed.count() > 0)
      assert(decomposed.filter(!col("changed")).count() == 0)
      assert(decomposed.filter(col("n_nfc") >= col("n_raw")).count() == 0)
      // idx 5 (precomposed), 6 (NFC-invariant ligature), 7 (ascii) are fixpoints
      val fix = out.filter((col("doc_id") % 8) >= 5)
      assert(fix.filter(col("changed")).count() == 0)
    } finally { out.unpersist(blocking = false); () }
  }

  test("text_logprob scores are exact milli-nat sums") {
    import spark.implicits._
    val df = Seq((0L, "the the zebra"), (1L, "spark window"))
      .toDF("doc_id", "text")
    val lm = Queries13.UnigramLm.toMap
    val out = df
      .select(col("doc_id"), explode(TextF.tokens(col("text"))).as("tok"))
      .withColumn("lp", coalesce(
        element_at(map(Queries13.UnigramLm.flatMap { case (w, lp) => Seq(lit(w), lit(lp)) }: _*),
          col("tok")), lit(Queries13.OovMilli)))
      .groupBy("doc_id").agg(sum("lp").as("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == lm("the") * 2 + Queries13.OovMilli)
    assert(out(1L) == lm("spark") + lm("window"))
    // corpus-wide: averages live in [OOV, best vocab word]
    val corpus = Queries13.defs("text_logprob")(spark, dir)
    val mm = corpus.agg(min("lp_avg_milli"), max("lp_avg_milli")).head()
    assert(mm.getLong(0) >= Queries13.OovMilli)
    assert(mm.getLong(1) <= lm.values.max)
  }

  test("corpus_mix: the binding source survives whole; the rest downsample") {
    val out = Queries13.defs("corpus_mix")(spark, dir).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      // exactly the binding source(s) carry an uncapped threshold
      val whole = rows.filter(_.getAs[Long]("th") == 65536L)
      assert(whole.nonEmpty)
      // kept never exceeds population; achieved shares sum to ~10000
      assert(rows.forall(r => r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs")))
      val bpSum = rows.map(_.getAs[Long]("achieved_bp")).sum
      assert(bpSum > 9000 && bpSum <= 10000, s"bp sum was $bpSum")
      // deterministic: a second run is identical
      val again = Queries13.defs("corpus_mix")(spark, dir).collect()
      assert(rows.toSeq == again.toSeq)
    } finally { out.unpersist(blocking = false); () }
  }
}
