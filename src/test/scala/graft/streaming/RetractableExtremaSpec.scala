package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The non-invertible transformWithState processor: insert batch builds
  * per-priority extrema equal to the batch answer; delete batch drains
  * every key's support and reports the retraction explicitly.
  */
class RetractableExtremaSpec extends SparkSpec {

  test("transformWithState retractable extrema: build up, then exact drain") {
    val dir = tempDir("graft-tws-ext")
    val ev = Changelog.generate(spark, sfDir).localCheckpoint()
    ev.filter(col("sub") < 3).orderBy("t", "sub", "idx")
      .coalesce(1).select("line").write.mode("overwrite").text(dir)
    Thread.sleep(1100)
    ev.filter(col("sub") >= 3).orderBy("t", "sub", "idx")
      .coalesce(1).select("line").write.mode("append").text(dir)

    val results = scala.collection.mutable.Map[Long, Array[(String, Long, Long, Long)]]()
    val q = RetractableExtrema.start(spark, dir,
      (id, rows) => results.synchronized { results(id) = rows })
    assert(q.awaitTermination(300000), "streaming query did not finish in time")
    assert(results.size >= 2, s"expected >=2 micro-batches, got ${results.size}")

    // after the insert phase: extrema equal the batch per-priority answer
    val got = results(0L).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = RetractableExtrema.deltas(ev.filter(col("sub") < 3).select("line"))
      .groupBy("o_orderpriority")
      .agg(min("price_e4"), max("price_e4"), sum("w"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want, "insert-phase extrema must equal the batch aggregate")
    // after the delete phase: every key drained and the retraction reported
    val fin = results.keys.filter(_ > 0).flatMap(k => results(k)).toSeq
    assert(fin.nonEmpty && fin.forall(r => r._2 == 0L && r._3 == 0L && r._4 == 0L),
      s"all supports must drain to the explicit empty emission: $fin")
    assert(fin.map(_._1).toSet == want.keySet)
  }
}
