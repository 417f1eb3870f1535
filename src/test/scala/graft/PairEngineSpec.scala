package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.PairEngine

/** The shingle-set Jaccard engine against a plain-Scala model: exact pairs
  * below the df cap, the cap's boundary, and the short-doc rule. */
class PairEngineSpec extends SparkSpec {

  /** `PairEngine.shared` over literal shingle sets: (id_a, id_b, shared). */
  private def sharedOf(docs: Seq[(Long, Seq[String])]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    PairEngine.shared(docs.toDF("doc_id", "sh")).select("id_a", "id_b", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("jaccard == brute-force set Jaccard (permille, >= 200) when every df <= cap") {
    import spark.implicits._
    val vocab = (0 until 24).map(i => s"s$i")
    val docGen = Gen.choose(0, 10).flatMap(n => Gen.pick(n, vocab)).map(_.toSeq.sorted)
    val docs = (0 until 48).map { i =>
      i.toLong -> docGen.apply(Gen.Parameters.default, Seed(7L + i)).get
    }
    assert(docs.flatMap(_._2).groupBy(identity).values.forall(_.size <= PairEngine.StopShingleDf))
    val expected = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      shared = sa.toSet.intersect(sb.toSet).size if shared > 0
      jac = BigDecimal(1000.0 * shared / (sa.size + sb.size - shared))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      if jac >= PairEngine.MinJaccardPermille
    } yield (a, b, shared.toLong, jac)).toSet
    val got = PairEngine.jaccard(docs.toDF("doc_id", "sh"))
      .select("id_a", "id_b", "shared", "jac_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty && expected.size < docs.size * (docs.size - 1) / 2,
      "the sample must keep some pairs and gate out others")
    assert(got == expected)
  }

  test("df cap boundary: a shingle held by 64 docs pairs them, held by 65 it does not") {
    def corpus(holders: Int): Seq[(Long, Seq[String])] = (1 to holders).map { i =>
      // docs 1 and 2 also share a rare shingle; every other shingle is unique
      val rare = if (i <= 2) Seq("rare") else Seq.empty
      i.toLong -> (Seq("hot", s"own$i") ++ rare)
    }
    val atCap = sharedOf(corpus(PairEngine.StopShingleDf))
    assert(atCap.size == 64 * 63 / 2)
    assert(atCap.forall { case (a, b, s) => s == (if (a == 1 && b == 2) 2 else 1) })
    val overCap = sharedOf(corpus(PairEngine.StopShingleDf + 1))
    assert(overCap == Set((1L, 2L, 1L)), "above the cap only the rare shingle counts")
  }

  test("a doc with fewer than 5 tokens never appears in a pair") {
    import spark.implicits._
    val five = Seq("a", "b", "c", "d", "e")
    val docs = Seq(1L -> five.take(4), 2L -> five.take(4), 3L -> five, 4L -> five,
      5L -> Seq.empty[String])
      .toDF("doc_id", "toks")
      .select(col("doc_id"), PairEngine.shingleSets(col("toks")).as("sh"))
    assert(docs.filter(col("doc_id") <= 2).select(size(col("sh"))).as[Int].collect().toSeq == Seq(0, 0))
    val got = PairEngine.jaccard(docs).select("id_a", "id_b", "jac_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, 4L, 1000L)))
  }
}
