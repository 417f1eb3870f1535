package graft

import org.apache.spark.sql.functions._

import graft.queries.{Queries13, Queries14}

/** Batch 14: the LM-training counter and the Z-order clustering layout. */
class Queries14Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("vocab_count: ranked, non-increasing, df bounded") {
    val rows = Queries14.defs("vocab_count")(spark, dir).collect()
    assert(rows.nonEmpty)
    // ranks contiguous from 1
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length).toSeq)
    // counts non-increasing in rank order; df never exceeds cnt or corpus size
    val cnts = rows.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts == cnts.sorted.reverse)
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.forall(r => r.getAs[Long]("df") <= r.getAs[Long]("cnt")))
    assert(rows.forall(r => r.getAs[Long]("df") <= nDocs))
    // the trained table covers the scoring table's vocabulary source: the
    // corpus really contains the words text_logprob scores
    val words = rows.map(_.getAs[String]("word")).toSet
    assert(Queries13.UnigramLm.map(_._1).count(words) > 8)
  }

  test("graft_zorder_key is registered as a SQL function") {
    graft.plans.GraftFunctions.install(spark)
    val r = spark.sql("SELECT graft_zorder_key(3, 5) AS z, graft_zorder_key(3, 5, 8) AS z8").head()
    // 3 = 0b011 (even positions), 5 = 0b101 (odd): z = 0b100111 = 39
    assert(r.getLong(0) == 39L && r.getLong(1) == 39L)
  }

  test("incremental_dedup: both rejection paths fire on the planted dups") {
    // needs the 400/100 shipped/batch split → sf0.01 (sf0.001 has no batch)
    val out = Queries14.defs("incremental_dedup")(spark, "/root/testdata/sf0.01")
    val kept = out.collect().map(_.getAs[Long]("doc_id")).toSet
    // cross-batch plants (%10==7 re-carry a shipped text) are rejected
    assert((400L until 500L).filter(_ % 10 == 7).forall(!kept(_)))
    // within-batch plants (449/499 copy 440/490) lose to their sibling
    assert(!kept(449L) && !kept(499L) && kept(440L) && kept(490L))
    // everything else ships
    assert(kept.size == 88)
  }

  test("retention_cohorts: offset-0 row counts the whole cohort") {
    val rows = Queries14.defs("retention_cohorts")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_wk"))
    byCohort.foreach { case (_, rs) =>
      val zero = rs.find(_.getAs[Long]("week_offset") == 0L).get.getAs[Long]("n_users")
      // every cohort starts at offset 0 (its defining week) and no later
      // week can retain more users than the cohort holds
      assert(rs.forall(_.getAs[Long]("n_users") <= zero))
      assert(rs.forall(_.getAs[Long]("week_offset") >= 0L))
    }
    // cohort sizes cover every user exactly once
    val totalUsers = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_.getAs[Long]("week_offset") == 0L).get
      .getAs[Long]("n_users")).sum == totalUsers)
  }

  test("pii_luhn: checksum separates the planted valid/invalid cards") {
    val rows = Queries14.defs("pii_luhn")(spark, dir).collect()
    assert(rows.nonEmpty)
    // exactly one planted card per doc; Luhn verdict follows the plant parity
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_cards") == 1, s"doc $id")
      assert(r.getAs[Boolean]("has_pii") == (id % 2 == 0), s"doc $id")
      assert(r.getAs[Long]("n_valid") == (if (id % 2 == 0) 1 else 0), s"doc $id")
    }
    // independent model: the plant formula with a plain-Scala Luhn agrees
    def luhn(s: String): Int = s.zipWithIndex.map { case (c, i0) =>
      val d = c - '0'
      if ((i0 + 1) % 2 == 1) { val dd = d * 2; if (dd > 9) dd - 9 else dd } else d
    }.sum
    (0L to 10L).foreach { id =>
      val payload = f"${(id * 48271 + 11) % 1000000000L}%015d"
      val chk = (10 - luhn(payload) % 10) % 10
      val digit = if (id % 2 == 0) chk else (chk + 1) % 10
      assert((luhn(payload + digit) % 10 == 0) == (id % 2 == 0), s"model doc $id")
    }
  }

  test("percentiles_exact matches a collect-and-index model") {
    val rows = Queries14.defs("percentiles_exact")(spark, dir).collect()
    assert(rows.nonEmpty)
    val byType = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("v"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val vs = byType(r.getString(0)).map(_.getLong(1)).sorted
      def model(p: Int) = vs((p * (vs.length - 1)) / 100)
      assert(r.getAs[Long]("n") == vs.length)
      assert(r.getAs[Long]("p50_cents") == model(50), r.getString(0))
      assert(r.getAs[Long]("p95_cents") == model(95), r.getString(0))
      assert(r.getAs[Long]("p99_cents") == model(99), r.getString(0))
    }
  }

  test("zorder_layout: every bucket confines BOTH dimensions") {
    val rows = Queries14.defs("zorder_layout")(spark, dir).collect()
    // non-vacuous: several buckets (8 at sf0.001, 40 at sf0.01), all
    // events accounted for
    assert(rows.length > 4)
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.events(spark, dir).count())
    // the property Z-ORDER exists for: a bucket (top 3 bits per dim) pins
    // each dimension into one 32-wide window — min/max file stats prune
    // range predicates on EITHER dimension
    rows.foreach { r =>
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") <= 31,
        s"bucket ${r.getAs[Long]("bucket")} x-window too wide")
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") <= 31,
        s"bucket ${r.getAs[Long]("bucket")} y-window too wide")
    }
  }
}
