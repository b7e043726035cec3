package graft.streaming

import graft.SparkSpec
import graft.operators.Relational

/** Consumer groups over the PARTITIONED transport
  * ([[ReplayIngest.q3TwoConsumersPartitioned]]): two groups on a
  * three-partition CDC topic, sessions/flow-control/eviction per
  * partition, the fold group killed mid-stream and resumed from its
  * vector offset + snapshot. The structural pins (mid-production kill,
  * per-partition eviction advance, exact drain) are `require`s inside the
  * query; this spec pins the semantics on top: the converged fold answer
  * must be the exact batch Q3 top-20 — arrival-order-invariant across the
  * apportioned partition interleave AND the kill/evict/re-admit cycle.
  * The single-log full matrix cell (retraction × kill × eviction) is
  * pinned here too, on its counts answer.
  */
class PartitionedConsumersSpec extends SparkSpec {

  test("two groups on the partitioned topic: killed, evicted per partition, resumed, exact") {
    val got = ReplayIngest.q3TwoConsumersPartitioned(spark, sfDir)
    val events = got.select("ingest_events").head().getLong(0)
    val batch = Relational.q3Batch(spark, sfDir)
      .selectExpr("l_orderkey",
        "CAST(to_date(o_orderdate) AS STRING) AS o_orderdate",
        "o_orderpriority", "revenue")
      .collect().map(_.toSeq).toSeq
    assert(got.drop("ingest_events").collect().map(_.toSeq).toSeq == batch,
      "the resumed fold group must land the exact batch Q3 top-20 — a " +
        "batch lost or double-applied on any partition's offsets moves " +
        "the revenue")
    val expected = Seq("customer", "orders", "lineitem")
      .map(t => graft.sources.Tables.table(spark, sfDir, t).count()).sum
    assert(events == expected,
      s"counts group saw $events of $expected events — its independent " +
        "offsets lost or double-applied a batch")
  }

  test("the full matrix cell: groups × retraction × kill × eviction, exact counts") {
    // stream_q3_two_consumers_cycle_resume over the single log: the fold
    // group killed mid-teardown and evicted, the counts group draining the
    // ± stream through it, the fold resumed and converged exactly empty
    // (pinned in-query). The gated answer is the counts grain: every
    // relation's Insert and Delete totals both equal its cardinality
    val got = ReplayIngest.q3TwoConsumersCycleResume(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = Seq("customer", "orders", "lineitem").flatMap { t =>
      val n = graft.sources.Tables.table(spark, sfDir, t).count()
      Seq((t, "Insert") -> n, (t, "Delete") -> n)
    }.toMap
    assert(got == expected,
      "each relation's Insert and Delete totals must both equal its table " +
        "cardinality — a batch lost or double-applied on either group's " +
        "offsets moves a total")
  }
}
