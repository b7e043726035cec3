package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The replay-transport event-time path ([[EventTimeReplay]]).
  *
  * The load-bearing claim is BOUNDARY-INDEPENDENCE: lateness under the
  * prefix watermark is a pure function of the (offset-ordered) stream, so
  * however the growing broker's admission races slice the micro-batches —
  * including a batch that straddles the on-time/late boundary — the late
  * set is identical. The first test pins that on a hand-built out-of-order
  * stream cut at every possible boundary; the second runs the full driver
  * query (growing broker, kill mid-production, resume) and requires the
  * exact batch-simulated answer.
  */
class EventTimeReplaySpec extends SparkSpec {

  test("prefix late split is identical under every batch slicing") {
    import spark.implicits._
    // event times with genuine out-of-orderness: a high-water event early,
    // dips below it later (late), ties (NOT late — strict <), a new max,
    // then stragglers under both maxima
    val ts = Seq(5L, 9L, 7L, 9L, 2L, 12L, 11L, 12L, 3L, 14L, 1L)
    val truth = ts.indices.map { i =>
      val before = ts.take(i)
      before.nonEmpty && ts(i) < before.max
    }
    // tiny block size (2) forces multi-block carry-in chains; also try a
    // block larger than the stream (single-block degenerate case)
    for (block <- Seq(2L, 3L, 64L); cut <- 0 to ts.size) {
      // slice the stream at `cut` into two "batches": flags must agree
      // with the whole-stream truth on both sides, with the second batch
      // seeded by the running max of the first (what the ledger's wm.0 carries)
      val first = ts.take(cut).zipWithIndex
        .map { case (t, i) => (0, i.toLong, t) }.toDF("partition", "offset", "t")
      val second = ts.drop(cut).zipWithIndex
        .map { case (t, i) => (0, (cut + i).toLong, t) }.toDF("partition", "offset", "t")
      val wmAfterFirst = if (cut == 0) Long.MinValue else ts.take(cut).max
      val got =
        EventTimeReplay.prefixLateFlag(first, Map(0 -> Long.MinValue), block)
          .select("offset", "late").collect().map(r => r.getLong(0) -> r.getBoolean(1)) ++
        EventTimeReplay.prefixLateFlag(second, Map(0 -> wmAfterFirst), block)
          .select("offset", "late").collect().map(r => r.getLong(0) -> r.getBoolean(1))
      assert(got.sortBy(_._1).map(_._2).toSeq == truth,
        s"late flags diverged at cut=$cut block=$block")
    }
  }

  test("bounded-delay split: dropped AND admitted identical under every slicing") {
    import spark.implicits._
    // same out-of-order fixture, δ = 3: an event within δ of the running
    // frontier is ADMITTED-late (folds, accounted), only > δ behind drops
    val ts = Seq(5L, 9L, 7L, 9L, 2L, 12L, 11L, 12L, 3L, 14L, 1L)
    val delay = 3L
    def frontier(i: Int): Option[Long] =
      if (i == 0) None else Some(ts.take(i).max)
    val truth = ts.indices.map { i =>
      frontier(i) match {
        case Some(f) => (ts(i) < f - delay, ts(i) >= f - delay && ts(i) < f)
        case None => (false, false)
      }
    }
    for (block <- Seq(2L, 64L); cut <- 0 to ts.size) {
      val first = ts.take(cut).zipWithIndex
        .map { case (t, i) => (0, i.toLong, t) }.toDF("partition", "offset", "t")
      val second = ts.drop(cut).zipWithIndex
        .map { case (t, i) => (0, (cut + i).toLong, t) }.toDF("partition", "offset", "t")
      val wmAfterFirst = if (cut == 0) Long.MinValue else ts.take(cut).max
      def flags(df: org.apache.spark.sql.DataFrame, wm: Long) =
        EventTimeReplay.prefixLateFlag(df, Map(0 -> wm), block, delay)
          .select("offset", "late", "late_admitted").collect()
          .map(r => (r.getLong(0), (r.getBoolean(1), r.getBoolean(2))))
      val got = (flags(first, Long.MinValue) ++ flags(second, wmAfterFirst))
        .sortBy(_._1).map(_._2).toSeq
      assert(got == truth,
        s"bounded-delay flags diverged at cut=$cut block=$block")
    }
  }

  test("bounded-delay replay Q3 equals the batch-simulated delayed answer") {
    // the full driver query (growing broker, δ-trailing frontier, kill
    // mid-production, resume) must land EXACTLY q3EventTimeDelayed's
    // answer: top-20 AND both lateness totals — the window arithmetic
    // must not care whether the fold survived a restart
    val replay = EventTimeReplay.q3EventTimeDelayedReplay(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val simulated = StreamQueries.q3EventTimeDelayed(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(replay == simulated,
      "bounded-delay replay Q3 must equal the batch-simulated bounded-" +
        "delay Q3 (top-20, dropped AND admitted totals)")
  }

  test("replay-fed event-time Q3 equals the batch-simulated answer") {
    // the full driver query at spec scale: growing broker with flow
    // control, kill pinned mid-production, resume, drain — and the result
    // (top-20 AND dropped count) must be exactly q3EventTime's
    val replay = EventTimeReplay.q3EventTimeReplay(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val simulated = StreamQueries.q3EventTime(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(replay == simulated,
      "replay-transport event-time Q3 must equal the batch-simulated " +
        "event-time Q3 (top-20 AND dropped count)")
  }

  test("replay source exposes offsets when asked") {
    import spark.implicits._
    val lines = (0 until 50).map(i => s"v$i").toDF("line")
    val handle = graft.sources.ReplayServer.serve(lines.orderBy(col("line")))
    try {
      // the DSv2 reader attaches range-start + position; spot-check via a
      // direct partition read of a mid-stream range
      val factory = new graft.sources.ReplayReaderFactory(includeOffset = true)
      val reader = factory.createReader(
        graft.sources.ReplayRange("127.0.0.1", handle.port, 7, 12))
      val got = Iterator.continually(reader)
        .takeWhile(_.next()).map(r => (r.get().getLong(0),
          r.get().getUTF8String(1).toString)).toVector
      reader.close()
      assert(got.map(_._1) == (7L to 11L).toVector,
        "offsets must be the events' sequence numbers")
      assert(got.map(_._2).forall(_.startsWith("v")))
    } finally handle.close()
  }
}
