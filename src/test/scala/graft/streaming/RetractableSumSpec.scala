package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The transformWithState literal port: insert batch builds the per-order
  * revenue, delete batch retracts every group to exactly zero.
  */
class RetractableSumSpec extends SparkSpec {

  test("transformWithState retractable sum: build up, then exact teardown") {
    val dir = tempDir("graft-tws")
    val ev = Changelog.generate(spark, sfDir).localCheckpoint()
    // file 0 = all inserts, file 1 = all deletes (capacity=nL two-phase);
    // written sequentially so the file source's mtime ordering replays
    // inserts first
    ev.filter(col("sub") < 3).orderBy("t", "sub", "idx")
      .coalesce(1).select("line").write.mode("overwrite").text(dir)
    Thread.sleep(1100)
    ev.filter(col("sub") >= 3).orderBy("t", "sub", "idx")
      .coalesce(1).select("line").write.mode("append").text(dir)

    val results = scala.collection.mutable.Map[Long, Array[(Long, Long)]]()
    val q = RetractableSum.start(spark, dir,
      (id, rows) => results.synchronized { results(id) = rows })
    assert(q.awaitTermination(300000), "streaming query did not finish in time")

    assert(results.size >= 2, s"expected >=2 micro-batches, got ${results.size}")
    // after the insert phase: totals equal the batch lineitem-only revenue
    val insertTotals = results(0L).toMap
    val expected = RetractableSum.deltas(ev.filter(col("sub") < 3).select("line"))
      .groupBy("l_orderkey").agg(sum("delta").as("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(insertTotals == expected)
    assert(insertTotals.values.forall(_ != 0L))
    // after the delete phase: every touched group retracted to exactly 0
    val finalTotals = results.keys.filter(_ > 0).flatMap(k => results(k)).toSeq
    assert(finalTotals.nonEmpty && finalTotals.forall(_._2 == 0L))
    assert(finalTotals.map(_._1).toSet == expected.keySet)
  }
}
