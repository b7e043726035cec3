package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec

/** The LIVE event-time Q3 path ([[StreamingEventTime]]) under its full
  * operational contract: killed mid-stream and resumed, it must land
  * exactly the batch-simulated [[StreamQueries.q3EventTime]] answer —
  * same top-20, same dropped-late count. The kill exercises both resume
  * watermarks at once: the IVM snapshot skip (fold exactly once) and the
  * meta file's accounting watermark (drop-count exactly once, under the
  * watermark the original processing used).
  */
class EventTimeLiveSpec extends SparkSpec {

  test("live event-time Q3 killed mid-stream resumes to the exact answer") {
    val staged = StreamingEventTime.stageArrivals(spark, sfDir)
    val work = tempDir("graft-etlive-spec")
    try {
      val lastId = StreamingEventTime.K.toLong // ids 0..K (K on-time + 1 late)
      val applied = new AtomicLong(-1L)
      def awaitOrFail(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 300L * 1000000000L
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
        assert(cond, s"timeout waiting for $what")
      }
      // phase A: fold at least two arrivals, then KILL — at least one
      // on-time arrival and the late batch remain unread
      val qa = StreamingEventTime.start(spark, staged, work,
        onApplied = applied.set)
      try awaitOrFail(applied.get() >= 1, "two arrivals folded") finally qa.stop()
      assert(applied.get() < lastId,
        s"the kill must land mid-stream (applied through ${applied.get()})")
      // phase B: resume from checkpoint + snapshot + accounting meta
      val qb = StreamingEventTime.start(spark, staged, work,
        onApplied = applied.set)
      try awaitOrFail(StreamingEventTime.drained(work, lastId),
        "all arrivals folded after resume")
      finally qb.stop()
      val live = StreamingEventTime.result(spark, work)
        .collect().map(_.toSeq).toSeq
      val simulated = StreamQueries.q3EventTime(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(live == simulated,
        "killed-and-resumed live path must equal the batch-simulated " +
          "event-time Q3 (top-20 AND dropped count)")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }
}
