package graft.streaming

import graft.SparkSpec
import graft.operators.Relational

/** Q5/Q10 as specs of the one fold ([[IncrementalQ3.step]]): each
  * converged incremental answer must equal its batch query EXACTLY, and
  * the ± cycle must cancel to exactly empty — at sf0.001, against the
  * in-process batch plans (the driver re-checks both against DuckDB at
  * sf0.01). Both also ride the fold's spill path.
  */
class IncrementalIvmSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toIndexedSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.doubleValue()
      case x => x
    })

  test("incremental Q10 converges to the batch Q10 answer exactly") {
    val inc = rows(IvmQueries.q10Incremental(spark, sfDir))
    val batch = rows(Relational.q10Returned(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS c_custkey", "c_name", "n_name",
        "revenue", "n_returned"))
    assert(inc.nonEmpty, "empty Q10 result at sf0.001")
    assert(inc == batch)
  }

  test("incremental Q5 converges to the batch Q5 answer exactly") {
    val inc = rows(IvmQueries.q5Incremental(spark, sfDir))
    val batch = rows(Relational.q5LocalSupplier(spark, sfDir))
    assert(inc.nonEmpty, "empty Q5 result at sf0.001")
    assert(inc == batch)
  }

  test("live Q10: the same fold under Structured Streaming equals batch Q10") {
    val live = rows(IvmQueries.q10Live(spark, sfDir))
    val batch = rows(Relational.q10Returned(spark, sfDir)
      .selectExpr("CAST(c_custkey AS BIGINT) AS c_custkey", "c_name", "n_name",
        "revenue", "n_returned"))
    assert(live == batch)
  }

  test("incremental Q1 (agg-only member) equals the batch Q1 exactly") {
    val inc = rows(IvmQueries.q1Incremental(spark, sfDir))
    val batch = rows(Relational.q1Pricing(spark, sfDir))
    assert(inc.nonEmpty, "empty Q1 result at sf0.001")
    assert(inc == batch)
  }

  test("Q5 full ± cycle cancels to exactly empty through the parametric fold") {
    val out = IvmQueries.q5IncrementalCycle(spark, sfDir)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("n_name", "revenue", "n_lines"))
  }

  test("mid-fold state is a consistent prefix view (batch 1 of 3 is a plain subset)") {
    // After one of three insert-only batches the maintained Q10 aggregate
    // must itself be a valid aggregate of SOME event-time prefix: every
    // (customer, revenue, cnt) it reports is reproducible from the raw
    // tables restricted to the orders whose keys appear in the state.
    val events = Changelog.generateCached(spark, sfDir, insertOnly = true)
    val tMax = events.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("t"))).head().getLong(0)
    val b0 = events.filter(Changelog.batchOf(3, tMax) === 0).select("line")
    val st = IncrementalQ3.step(
      IncrementalQ3.init(spark, IvmQueries.q10Grains, IvmQueries.q10Spec), b0,
      spillDir = None)
    // state invariants: all weights are positive (insert-only), agg cnt > 0
    assert(st.c.filter(s"${ZSet.W} <= 0").isEmpty)
    assert(st.agg.filter("cnt <= 0").isEmpty)
    // the co state joins back consistently: every co row's order exists in o
    val orphans = st.co.join(st.o,
      st.co("o_orderkey") === st.o("o_orderkey"), "left_anti")
    assert(orphans.isEmpty)
  }

  private def spillVersions(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq.map(_.getName).filter(_.matches("v\\d+"))

  private def tempRoot(prefix: String): String =
    tempDir(prefix)

  test("Q5 ± cycle through the spilled fold cancels to an empty aggregate and cleans up") {
    assert(java.lang.Boolean.getBoolean("graft.strict"), "the spec relies on strict mode")
    val events = Changelog.generateCached(spark, sfDir, insertOnly = false)
    val root = tempRoot("graft-q5-spill")
    // 8 batches: under a spill dir the fold compacts (and so spills) every
    // 4th batch, so the cycle ends on a spilled state
    val st = IncrementalQ3.runBatches(spark, events, 8, IvmQueries.q5Grains,
      IvmQueries.q5Spec, spillDir = Some(root))
    assert(st.spillHistory.nonEmpty, "the Q5 fold never spilled")
    assert(spillVersions(root).nonEmpty)
    assert(st.agg.isEmpty, "the ± cycle left groups in the maintained aggregate")
    IncrementalQ3.cleanupSpillRoot(root)
    assert(spillVersions(root).isEmpty, s"spill versions left: ${spillVersions(root)}")
  }

  test("Q10 insert-only through the spilled fold equals the in-memory fold") {
    val events = Changelog.generateCached(spark, sfDir, insertOnly = true)
    def aggRows(spillDir: Option[String]): Seq[Seq[Any]] = {
      val st = IncrementalQ3.runBatches(spark, events, 6, IvmQueries.q10Grains,
        IvmQueries.q10Spec, spillDir = spillDir)
      assert(st.spillHistory.nonEmpty == spillDir.nonEmpty)
      rows(st.agg.orderBy("c_custkey"))
    }
    val root = tempRoot("graft-q10-spill")
    val spilled = try aggRows(Some(root))
    finally IncrementalQ3.cleanupSpillRoot(root)
    val inMemory = aggRows(None)
    assert(inMemory.nonEmpty)
    assert(spilled == inMemory)
  }
}
