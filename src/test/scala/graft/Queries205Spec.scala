package graft

/** Round-15 batch #6: dispersion, tier migration, NFC audit, cluster calib. */
class Queries205Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("dispersion_trend: monthly rows, cv2 consistent with the moment pieces") {
    val out = SparkEntry.queries("dispersion_trend")(spark, dir).collect()
    assert(out.length > 50, "the calendar spans years of months")
    out.foreach { r =>
      val (n, s1, s2) = (r.getAs[Long]("n"), r.getAs[Long]("s1"), r.getAs[Long]("s2"))
      assert(r.getAs[Long]("cv2_micro") == (s2 * 1000000L / s1) * n / s1 - 1000000L)
      assert(BigInt(s1) * BigInt(s1) <= BigInt(n) * BigInt(s2), "cv2 >= 0 by Cauchy-Schwarz")
    }
  }

  test("priority_switching: matrix covers customers once, switched flag consistent") {
    val out = SparkEntry.queries("priority_switching")(spark, dir).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_customers")).sum
    val nCust = Tables.orders(spark, dir).select("o_custkey").distinct().count()
    assert(total == nCust, "every ordering customer appears in exactly one cell")
    out.foreach { r =>
      assert(r.getAs[Boolean]("switched") ==
        (r.getAs[String]("first_mode") != r.getAs[String]("last_mode")))
    }
  }

  test("normalization_impact: planted decorations produce changes, mass conserved") {
    val out = SparkEntry.queries("normalization_impact")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("changed_docs")).sum > 0,
      "the planted decomposed decorations must trigger NFC changes")
    out.foreach { r =>
      assert(r.getAs[Long]("changed_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("changed_pm") <= 1000)
    }
  }

  test("cluster_candidate_precision: clusters of >=2, densities bounded") {
    val out = SparkEntry.queries("cluster_candidate_precision")(spark, dir).collect()
    assert(out.nonEmpty, "verified clusters exist")
    out.foreach { r =>
      val n = r.getAs[Long]("n_nodes")
      assert(n >= 2, "a component needs at least one edge")
      assert(r.getAs[Long]("n_verified") >= n - 1, "spanning edges at minimum")
      assert(r.getAs[Long]("n_verified") <= n * (n - 1) / 2)
      assert(r.getAs[Long]("density_pm") <= 1000)
    }
  }

  test("cluster_candidate_precision: the returned plan reads the cached verified pairs") {
    val df = SparkEntry.queries("cluster_candidate_precision")(spark, dir)
    // the shingle self-join (PairEngine.shared, keyed on the shingle `s`)
    // runs once, into the cached pair set; the plan must not redo it
    val shingleJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "s")) => j
    }
    assert(shingleJoins.isEmpty, df.queryExecution.optimizedPlan.treeString)
    assert(df.count() > 0)
  }
}
