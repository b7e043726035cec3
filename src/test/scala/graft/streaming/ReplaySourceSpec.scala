package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{PartitionedReplayStream, ReplayServer, VectorOffset}

/** The replayable transport — the [[graft.sources.ReplayServer]] broker
  * and the one DSv2 source over it,
  * [[graft.sources.PartitionedReplayProvider]] (a single log is its
  * one-partition topic) — what makes exactly-once COMPOSABLE, unlike the
  * at-most-once plain socket:
  *  - REPLAYABILITY: any offset range can be fetched any number of times
  *    and always yields the identical lines (the broker contract);
  *  - the vector offset round-trips through its checkpoint JSON form;
  *  - admission and split planning, on one port and on three;
  *  - the full composition: a checkpointed streaming query over the
  *    source is KILLED mid-stream, restarted, and the accumulated totals
  *    equal the changelog's ground truth exactly (no loss, no double).
  */
class ReplaySourceSpec extends SparkSpec {
  import ReplaySourceSpec.published

  test("any offset range replays identically, any number of times") {
    val lines = Changelog.generate(spark, sfDir)
      .orderBy(col("t"), col("sub"), col("idx")).select(col("line"))
    val handle = published(lines)
    try {
      val n = handle.expected
      assert(n > 100, s"fixture too small: $n events")
      assert(ReplayServer.count("127.0.0.1", handle.port) == n)
      // a mid-stream range, fetched twice → byte-identical; a prefix and
      // the full stream → consistent overlaps
      val mid1 = ReplayServer.fetch("127.0.0.1", handle.port, 37, 137).toVector
      val mid2 = ReplayServer.fetch("127.0.0.1", handle.port, 37, 137).toVector
      assert(mid1.size == 100 && mid1 == mid2,
        "re-fetching an offset range must return the identical events")
      val head = ReplayServer.fetch("127.0.0.1", handle.port, 0, 140).toVector
      assert(head.slice(37, 137) == mid1,
        "overlapping ranges must agree event-for-event")
      // ranges clamp to the stream: the tail past the end is empty
      assert(ReplayServer.fetch("127.0.0.1", handle.port, n, n + 50).isEmpty)
    } finally handle.close()
  }

  test("growing server: the count watermark rises, served ranges stay stable") {
    import spark.implicits._
    val lines = (0 until 4000).map(i => f"line_$i%05d").toDF("line")
    val handle = ReplayServer.serveGrowing(lines, chunks = 8, intervalMs = 120L)
    try {
      def cnt() = ReplayServer.count("127.0.0.1", handle.port)
      // the end must NOT exist at the start: observe a strictly growing
      // watermark before completion
      val deadline = System.nanoTime() + 60L * 1000000000L
      var seen = Vector.empty[Long]
      var midFetch: Option[Vector[String]] = None
      while ((seen.isEmpty || seen.last < handle.expected) &&
             System.nanoTime() < deadline) {
        val c = cnt()
        if (seen.isEmpty || c != seen.last) seen :+= c
        // fetch a range WHILE the tail is still being produced
        if (midFetch.isEmpty && c >= 110 && c < handle.expected)
          midFetch = Some(
            ReplayServer.fetch("127.0.0.1", handle.port, 10, 110).toVector)
        Thread.sleep(15)
      }
      assert(seen.last == handle.expected, s"producer never finished: $seen")
      assert(seen.count(_ < handle.expected) >= 2,
        s"never observed a growing mid-production watermark: $seen")
      // a range served MID-production must replay identically AFTER it
      // (immutability of published events — the broker contract)
      val truth = (10 until 110).map(i => f"line_$i%05d").toVector
      assert(midFetch.contains(truth), "mid-production fetch disagreed")
      val late = ReplayServer.fetch("127.0.0.1", handle.port, 10, 110).toVector
      assert(late == truth, "post-production re-fetch disagreed")
      // a RANGE past the watermark clamps to what is published (here: all)
      assert(ReplayServer.fetch("127.0.0.1", handle.port,
        handle.expected, handle.expected + 9).isEmpty)
    } finally handle.close()
  }

  test("flow-controlled producer never outruns the consumer by more than its window") {
    import spark.implicits._
    // 8 chunks of 500, producer allowed at most 2 chunks (1000 events)
    // past the consumer's read watermark — however slowly we consume
    val lines = (0 until 4000).map(i => f"fc_$i%05d").toDF("line")
    val handle = ReplayServer.serveGrowing(lines, chunks = 8,
      intervalMs = 10L, maxAheadChunks = 2)
    try {
      def cnt() = ReplayServer.count("127.0.0.1", handle.port)
      val deadline = System.nanoTime() + 60L * 1000000000L
      // consume deliberately slowly, 250 events at a time; at every poll
      // the published watermark must respect the backpressure window
      var read = 0L
      var maxViolation = 0L
      while (read < handle.expected && System.nanoTime() < deadline) {
        val c = cnt()
        maxViolation = math.max(maxViolation, c - read - 1000L)
        val to = math.min(read + 250L, c)
        if (to > read) {
          val got = ReplayServer.fetch("127.0.0.1", handle.port, read, to).size
          assert(got == to - read, s"short range [$read,$to): $got")
          read = to
        } else Thread.sleep(10)
      }
      assert(read == handle.expected, s"never drained: $read of ${handle.expected}")
      // the producer may be mid-chunk when a poll lands, so allow one
      // chunk of slack beyond the 2-chunk window — but NOT a free run
      assert(maxViolation <= 500L,
        s"producer ran ${maxViolation + 1000} events past the consumer " +
          "despite a 1000-event flow-control window")
      // once drained, everything is published
      assert(cnt() == handle.expected)
    } finally handle.close()
  }

  test("two consumer groups: flow control keys on the SLOWEST group") {
    import spark.implicits._
    // 8 chunks of 500; window 2 chunks (1000 events). A FAST group reads
    // at the published edge throughout — if pacing keyed to it (or to the
    // max watermark, the pre-r13 behavior), production would run free;
    // keyed to the min, the published watermark must stay within the
    // window of the SLOW group's progress at every poll.
    val lines = (0 until 4000).map(i => f"cg_$i%05d").toDF("line")
    val handle = ReplayServer.serveGrowing(lines, chunks = 8,
      intervalMs = 10L, maxAheadChunks = 2, groups = Seq("fast", "slow"))
    try {
      def cnt() = ReplayServer.count("127.0.0.1", handle.port)
      val deadline = System.nanoTime() + 60L * 1000000000L
      var fastRead = 0L
      var slowRead = 0L
      var maxViolation = 0L
      while (slowRead < handle.expected && System.nanoTime() < deadline) {
        val c = cnt()
        maxViolation = math.max(maxViolation, c - slowRead - 1000L)
        // fast group: drain to the published edge immediately
        if (c > fastRead) {
          val got = ReplayServer
            .fetch("127.0.0.1", handle.port, fastRead, c, group = "fast").size
          assert(got == c - fastRead, s"fast short range: $got")
          fastRead = c
        }
        // slow group: 250 events per poll
        val to = math.min(slowRead + 250L, c)
        if (to > slowRead) {
          val got = ReplayServer
            .fetch("127.0.0.1", handle.port, slowRead, to, group = "slow").size
          assert(got == to - slowRead, s"slow short range: $got")
          slowRead = to
        } else Thread.sleep(10)
      }
      assert(slowRead == handle.expected,
        s"slow group never drained: $slowRead of ${handle.expected}")
      assert(fastRead == handle.expected)
      // one mid-chunk of slack, same as the single-group test — but the
      // fast group's progress must NOT have bought the producer a free run
      assert(maxViolation <= 500L,
        s"producer ran ${maxViolation + 1000} events past the SLOW group " +
          "despite a 1000-event window — flow control keyed to the wrong " +
          "watermark")
      assert(ReplayServer.servedOf("127.0.0.1", handle.port, "slow") ==
        handle.expected)
    } finally handle.close()
  }

  test("a silent consumer group is evicted after its session times out") {
    import spark.implicits._
    // 8 chunks of 300; window 1 chunk. The "dead" group registers and
    // never sends a request; the live group reads at the published edge.
    // While dead's session lasts (grace from registration), production
    // must hold inside its window (0 + window + mid-chunk = 600); after
    // the timeout the dead group is EVICTED and production must run to
    // the end — the one-dead-consumer-halts-the-fleet failure mode, with
    // eviction as the broker's fix (Kafka session.timeout.ms).
    val lines = (0 until 2400).map(i => f"sx_$i%05d").toDF("line")
    val handle = ReplayServer.serveGrowing(lines, chunks = 8,
      intervalMs = 10L, maxAheadChunks = 1, groups = Seq("live", "dead"),
      sessionTimeoutMs = 2000L)
    try {
      def cnt() = ReplayServer.count("127.0.0.1", handle.port)
      val t0 = System.nanoTime()
      def elapsedMs = (System.nanoTime() - t0) / 1000000L
      var liveRead = 0L
      def drainLive(): Unit = {
        val c = cnt()
        if (c > liveRead) {
          val got = ReplayServer
            .fetch("127.0.0.1", handle.port, liveRead, c, group = "live").size
          assert(got == c - liveRead, s"live short range: $got")
          liveRead = c
        }
      }
      // inside the dead group's grace window: paced on ITS zero watermark.
      // Samples are only trusted while provably pre-timeout (elapsed
      // re-checked AFTER the count lands, so a slow host can't smear a
      // post-eviction count into a pre-eviction sample).
      var stalledMax = 0L
      while (elapsedMs < 1200L) {
        drainLive()
        val c = cnt()
        if (elapsedMs < 1600L) stalledMax = math.max(stalledMax, c)
        Thread.sleep(20)
      }
      assert(stalledMax <= 600L,
        s"production ran to $stalledMax inside the dead group's session — " +
          "pacing ignored a registered (not-yet-evicted) group")
      // after the timeout: the dead group no longer paces — production
      // must drain to the end while only the live group reads
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (liveRead < handle.expected && System.nanoTime() < deadline) {
        drainLive()
        Thread.sleep(10)
      }
      assert(liveRead == handle.expected,
        s"production never advanced past the dead group's window " +
          s"($liveRead of ${handle.expected}) — eviction failed, one dead " +
          "consumer halted the fleet")
      // reconnection: the evicted group's watermark was RETAINED; a new
      // request from it is tracked again (re-admission is pacing-relevant
      // only mid-production; here the bookkeeping contract is what's left)
      val got = ReplayServer
        .fetch("127.0.0.1", handle.port, 0, 900, group = "dead").size
      assert(got == 900)
      assert(ReplayServer.servedOf("127.0.0.1", handle.port, "dead") == 900L,
        "a reconnected group's watermark must be tracked again")
    } finally handle.close()
  }

  test("offset JSON round-trip") {
    val one = new PartitionedReplayStream("h", IndexedSeq(1), 10L, 1L, 500L)
    val o1 = VectorOffset(Map(0 -> 123456789L))
    assert(o1.json() == "0:123456789")
    assert(one.deserializeOffset(o1.json()) == o1)
    val three = new PartitionedReplayStream("h", IndexedSeq(1, 2, 3), 10L, 1L, 500L)
    val o3 = VectorOffset(Map(2 -> 7L, 0 -> 5000000000L, 1 -> 0L))
    assert(o3.json() == "0:5000000000,1:0,2:7")
    assert(three.deserializeOffset(o3.json()) == o3)
  }

  test("one port: admission takes min(batchSize, available), holding below minBatchSize until the delay flush") {
    import spark.implicits._
    val handle = published((0 until 1000).map(i => f"a_$i%04d").toDF("line"))
    try {
      def at(n: Long) = VectorOffset(Map(0 -> n))
      val s = new PartitionedReplayStream("127.0.0.1", IndexedSeq(handle.port),
        batchSize = 600L, minBatchSize = 500L, maxTriggerDelayMs = 1500L)
      val limit = s.getDefaultReadLimit
      assert(s.latestOffset(at(0L), limit) == at(600L))
      assert(s.latestOffset(at(0L), ReadLimit.maxRows(250L)) == at(250L))
      // 400 available < minBatchSize: held (the offset does not move) …
      assert(s.latestOffset(at(600L), limit) == at(600L))
      // … until maxTriggerDelayMs has passed since the last admission
      Thread.sleep(1600L)
      assert(s.latestOffset(at(600L), limit) == at(1000L))
      // nothing left: no batch
      assert(s.latestOffset(at(1000L), limit) == at(1000L))
    } finally handle.close()
  }

  test("three ports: admission apportions the batch budget by each partition's backlog") {
    import spark.implicits._
    val handles = Seq(100, 200, 400).map(n =>
      published((0 until n).map(i => f"p_$i%04d").toDF("line")))
    try {
      val s = new PartitionedReplayStream("127.0.0.1", handles.map(_.port).toIndexedSeq,
        batchSize = 500L, minBatchSize = 1L, maxTriggerDelayMs = 500L)
      val limit = s.getDefaultReadLimit
      def at(a: Long, b: Long, c: Long) = VectorOffset(Map(0 -> a, 1 -> b, 2 -> c))
      // backlogs 100/200/400 of 700: floor shares 71/142/285, and the
      // 2-event remainder goes to the largest backlog
      assert(s.latestOffset(at(0L, 0L, 0L), limit) == at(71L, 142L, 287L))
      // partition 0 drained: its share is 0, the rest split 200/400 of 600
      assert(s.latestOffset(at(100L, 0L, 0L), limit) == at(100L, 166L, 334L))
      // a budget above the total backlog admits everything
      assert(s.latestOffset(at(50L, 150L, 300L), limit) == at(100L, 200L, 400L))
    } finally handles.foreach(_.close())
  }

  test("adaptive split planning covers each admitted range exactly") {
    import graft.sources.PartitionedReplayRange
    // splitCount arithmetic: derived from rows, floored at 1 and capped at
    // the scheduler parallelism
    assert(ReplayServer.splitCount(100L, 32) == 1)
    assert(ReplayServer.splitCount(4096L * 8, 32) == 8)
    assert(ReplayServer.splitCount(10000000L, 32) == 32)
    assert(ReplayServer.splitCount(0L, 32) == 1)
    // one port (a single log): the planned sub-ranges tile [a, b)
    // contiguously, in order, with no gaps or overlaps — identical row
    // set to one range
    val s = new PartitionedReplayStream("h", IndexedSeq(1), 200000L, 1L, 500L)
    val parts = s.planInputPartitions(
        VectorOffset(Map(0 -> 1000L)), VectorOffset(Map(0 -> 131000L)))
      .map { case PartitionedReplayRange(p, _, _, f, t, _) =>
        assert(p == 0)
        (f, t)
      }
    assert(parts.length > 1, "a big batch must fan out")
    assert(parts.head._1 == 1000L && parts.last._2 == 131000L)
    parts.sliding(2).foreach { case Array((_, t0), (f1, _)) =>
      assert(t0 == f1, "sub-ranges must tile without gaps or overlaps")
    }
    // partitioned: each topic's range is tiled; the dominant log gets the
    // larger share of the split budget, small ones at least one task
    val ps = new PartitionedReplayStream("h", IndexedSeq(1, 2, 3), 200000L, 1L, 500L)
    val pparts = ps.planInputPartitions(
        VectorOffset(Map(0 -> 0L, 1 -> 0L, 2 -> 0L)),
        VectorOffset(Map(0 -> 5000L, 1 -> 10000L, 2 -> 120000L)))
      .map { case PartitionedReplayRange(p, _, _, f, t, _) => (p, f, t) }
    val byP = pparts.groupBy(_._1)
    assert(byP.keySet == Set(0, 1, 2))
    Seq(0 -> 5000L, 1 -> 10000L, 2 -> 120000L).foreach { case (p, end) =>
      val rs = byP(p).sortBy(_._2)
      assert(rs.head._2 == 0L && rs.last._3 == end)
      rs.sliding(2).foreach {
        case Array((_, _, t0), (_, f1, _)) => assert(t0 == f1)
        case _ => ()
      }
    }
    assert(byP(2).length > byP(0).length,
      "the dominant partition must receive the larger fan-out share")
  }

  test("kill-and-resume over the replay source loses and duplicates nothing") {
    // the whole exactly-once composition at spec scale: the driver query
    // (kill after ~a third, resume from checkpoint, drain) must land on
    // the exact per-(relation, action) changelog totals
    val result = ReplayIngest.replayExactlyOnce(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val truth = StreamQueries.changelogCounts(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(result == truth,
      "resumed totals must equal the changelog ground truth exactly")
  }
}

object ReplaySourceSpec {

  /** `lines` served as one log, staged in a single chunk: returns once the
    * whole stream is published.
    */
  def published(lines: DataFrame): ReplayServer.Handle = {
    val handle = ReplayServer.serveGrowing(lines, chunks = 1, intervalMs = 0L)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (ReplayServer.count("127.0.0.1", handle.port) < handle.expected &&
           System.nanoTime() < deadline)
      Thread.sleep(10)
    handle
  }
}
