package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Relational

/** Retraction-correctness invariants for the changelog engine (SURVEY §5):
  * converged streaming ≡ batch; insert-then-delete cancels exactly; the
  * real Structured Streaming wiring reaches the same answer.
  */
class StreamingSpec extends SparkSpec {

  private def batchQ3AsStrings = Relational.q3Batch(spark, sfDir)
    .select(col("l_orderkey"), to_date(col("o_orderdate")).cast("string").as("o_orderdate"),
      col("o_orderpriority"), col("revenue"))
    .collect().map(_.toSeq).toSeq

  test("generator: full changelog has 2x(nL+nO+nC) events at table ratios") {
    val counts = StreamQueries.changelogCounts(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    import graft.sources.Tables
    for (t <- Seq("customer", "orders", "lineitem")) {
      val n = Tables.table(spark, sfDir, t).count()
      assert(counts((t, "Insert")) == n, s"$t inserts")
      assert(counts((t, "Delete")) == n, s"$t deletes")
    }
  }

  test("parser roundtrips typed values exactly") {
    val ev = Changelog.generate(spark, sfDir, insertOnly = true)
    val parsed = Changelog.parse(ev)
    val li = Changelog.lineitems(parsed)
    import graft.sources.Tables
    val orig = Tables.table(spark, sfDir, "lineitem")
    assert(li.count() == orig.count())
    // exact numeric roundtrip through the decimal(18,2) text format
    val a = li.agg(sum(col("l_extendedprice").cast("decimal(18,2)"))).head.getDecimal(0)
    val b = orig.agg(sum(col("l_extendedprice").cast("decimal(18,2)"))).head.getDecimal(0)
    assert(a == b)
  }

  test("parser drops malformed lines instead of minting spurious deletes") {
    import spark.implicits._
    val good = Seq("+CU|1|Name|7|100.00|BUILDING", "-LI|1|2|3|4|1.00|2.00|0.10|0.05|N|O|1995-01-01")
    val bad = Seq("", "garbage", "xCU|1|oops", "+XX|1|unknown tag", "+CU_missing pipe")
    val parsed = Changelog.parse((good ++ bad).toDF("line")).collect()
    assert(parsed.length == good.length, "only well-formed lines survive")
    assert(parsed.map(_.getAs[Long](ZSet.W)).sorted.toSeq == Seq(-1L, 1L))
  }

  test("converged insert-only stream == batch Q3 (exact)") {
    val got = StreamQueries.q3Converged(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == batchQ3AsStrings)
  }

  test("full insert+delete cycle cancels to an empty aggregate") {
    assert(StreamQueries.q3FullCycle(spark, sfDir).collect().isEmpty)
  }

  test("non-invertible extrema: full ±cycle leaves EMPTY support; insert-only == batch") {
    // min/max can't apply deltas — the maintained support multiset must
    // cancel to exactly nothing under the full retraction cycle
    val support = StreamQueries.extremaFold(spark,
      Changelog.generateCached(spark, sfDir), k = 2)
    assert(support.collect().isEmpty,
      "retracting every insert must empty the (priority, price) support")
    val got = StreamQueries.priorityExtremaConverged(spark, sfDir).collect()
    val want = graft.sources.Tables.table(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(min(col("o_totalprice")), max(col("o_totalprice")),
        count(lit(1)))
      .orderBy("o_orderpriority").collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("shared fold: prefix snapshot == standalone fold of the same prefix") {
    // q3PrefixSnapshot now reads the batch-2/3 state of the SAME fold
    // q3FullCycle consumes (one fold, two queries). Pin the refactor: the
    // snapshot must equal folding exactly the prefix events in isolation
    // (batching-invariance is the algebraic license for the sharing).
    val got = StreamQueries.q3PrefixSnapshot(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val ev = Changelog.generate(spark, sfDir).localCheckpoint()
    val tMax = ev.agg(max(col("t"))).head().getLong(0)
    val boundary = (2L * tMax + 2L) / 3L // largest t in batch ≤ 1 of 3
    val st = IncrementalQ3.step(IncrementalQ3.init(spark),
      ev.filter(col("t") <= boundary).select("line"))
    val want = IncrementalQ3.topN(st)
      .select(col("l_orderkey"), col("o_orderdate").cast("string").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("changelog well-formedness: every delete mirrors an insert exactly") {
    // IncrementalQ3.newAgg drops groups on cnt=0 alone; that silently
    // discards any revenue residue a malformed changelog (delete payload ≠
    // insert payload) would leave behind (ADVICE r1). Assert the generator
    // upholds the invariant the engine relies on: consolidating the FULL
    // cycle per relation over ALL payload columns cancels to the empty
    // z-set, so cnt=0 groups necessarily carry revenue=0 too.
    val parsed = Changelog.parse(
      Changelog.generate(spark, sfDir).select("line")).localCheckpoint()
    for (rel <- Seq(Changelog.customers(parsed), Changelog.orders(parsed),
                    Changelog.lineitems(parsed)))
      assert(ZSet.consolidate(rel).isEmpty, "full cycle must consolidate to ∅")
  }

  test("retraction: inserting A∪B then deleting B converges to state(A)") {
    val ins = Changelog.generate(spark, sfDir, insertOnly = true).localCheckpoint()
    // B = every 3rd event; its deletes are the same lines with flipped sign
    val a = ins.filter(col("idx") % 3 =!= 0)
    val b = ins.filter(col("idx") % 3 === 0)
    val bDel = b.withColumn("line",
      concat(lit("-"), expr("substring(line, 2)")))
    val st = Seq(a, b, bDel).foldLeft(IncrementalQ3.init(spark)) {
      (s, batch) => IncrementalQ3.step(s, batch.select("line"))
    }
    val stA = IncrementalQ3.step(IncrementalQ3.init(spark), a.select("line"))
    val got = IncrementalQ3.topN(st).collect().map(_.toSeq).toSeq
    val want = IncrementalQ3.topN(stA).collect().map(_.toSeq).toSeq
    assert(got == want)
    // and the full aggregate state matches, not just the top-20
    val full = st.agg.orderBy("l_orderkey").collect().map(_.toSeq).toSeq
    val fullA = stA.agg.orderBy("l_orderkey").collect().map(_.toSeq).toSeq
    assert(full == fullA)
  }

  test("sliding-window capacity: mid-stream live set has exactly W lineitems") {
    import graft.sources.Tables
    val nL = Tables.table(spark, sfDir, "lineitem").count()
    val w = nL / 2
    val ev = Changelog.generate(spark, sfDir, capacity = Some(w)).localCheckpoint()
    // mid-stream cut: all events up to trigger tb are processed
    val tb = (3L * nL) / 4
    val prefix = ev.filter(col("t") <= tb)
    // net live lineitems = inserts (t≤tb) − deletes (t≤tb) = tb − (tb−w) = w
    val li = Changelog.lineitems(Changelog.parse(prefix.select("line")))
    assert(li.agg(sum(col(ZSet.W))).head().getLong(0) == w)
    // and the engine's converged mid-stream answer is batching-invariant:
    // folding the prefix in 3 slices == one shot
    val sliced = (0 until 3).foldLeft(IncrementalQ3.init(spark)) { (st, b) =>
      IncrementalQ3.step(st,
        prefix.filter(col("t") % 3 === b).select("line"))
    }
    val oneShot = IncrementalQ3.step(IncrementalQ3.init(spark), prefix.select("line"))
    assert(IncrementalQ3.topN(sliced).collect().map(_.toSeq).toSeq ==
      IncrementalQ3.topN(oneShot).collect().map(_.toSeq).toSeq)
  }

  test("file replay preserves event order: no negative mid-stream revenue") {
    // One write job used to give all part files the same mtime, letting the
    // file source's tie-break replay delete batches before their inserts —
    // converged state is order-invariant, but mid-stream top-N then showed
    // negative-revenue groups. With stamped mtimes every emission of a
    // well-formed insert-then-delete cycle stays non-negative and the
    // stream still cancels to empty.
    val dir = tempDir("graft-ordered")
    Changelog.write(Changelog.generate(spark, sfDir), dir, nFiles = 6)
    @volatile var minRevenue = Double.MaxValue
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamingQ3.start(spark, dir,
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      onEmit = (rows, _) => {
        last = rows
        rows.foreach(r => minRevenue = math.min(minRevenue, r.getDouble(3)))
      })
    assert(q.awaitTermination(300000), "streaming query did not finish in time")
    assert(minRevenue >= 0.0,
      s"mid-stream top-N went negative ($minRevenue): replay out of order")
    assert(last.isEmpty, "full cycle must converge to an empty top-N")
  }

  test("live cadence: ProcessingTime trigger emits periodically, pushed JSON timestamps monotone") {
    // The reference emits continuously on processing-time timers while
    // ingesting (agg 2 s, no_websocket.java:526; top-N 1 s,
    // StreamProcessor.java:988). Same contract here with the interval as
    // a parameter: throttled file replay (1 file per trigger) under
    // Trigger.ProcessingTime must produce one emission per micro-batch,
    // paced by the trigger clock, with strictly increasing timestamps in
    // the JSON pushed through the real sink.
    import scala.jdk.CollectionConverters._
    val dir = tempDir("graft-cadence")
    val nFiles = 5
    Changelog.write(Changelog.generate(spark, sfDir, insertOnly = true), dir, nFiles = nFiles)
    val sink = new JsonPushSink()
    val emitTimes = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val intervalMs = 1000L
    val q = StreamingQ3.start(spark, dir,
      trigger = Trigger.ProcessingTime(s"$intervalMs milliseconds"),
      maxFilesPerTrigger = 1,
      onEmit = (rows, _) => {
        val now = System.currentTimeMillis()
        last = rows
        sink.push(rows, now) // push BEFORE recording: the poll below keys
        emitTimes.add(now)   // off emitTimes, so every recorded emission
      })                     // is already visible at the sink
    try {
      val deadline = System.currentTimeMillis() + 300000
      while (emitTimes.size < nFiles && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(emitTimes.size >= nFiles,
        s"expected $nFiles paced emissions, got ${emitTimes.size}")
      // pushed JSON carries the latest timestamp (transport really ran)
      val in = new java.net.URL(s"http://127.0.0.1:${sink.boundPort}/top")
        .openConnection().getInputStream
      val top = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val pushedTs = """"timestamp":(\d+)""".r.findFirstMatchIn(top).get.group(1).toLong
      // the sink's latest must be a RECORDED emission at least as new as
      // the one that satisfied the poll — not equality with .last, which
      // races against emissions landing after the poll exits (and the
      // push→record window needs a beat to close)
      val recorded = (1 to 50).exists { _ =>
        emitTimes.asScala.contains(pushedTs) || { Thread.sleep(20); false }
      }
      assert(recorded, s"/top timestamp $pushedTs is not a recorded emission")
      assert(pushedTs >= emitTimes.asScala.toSeq(nFiles - 1),
        s"/top timestamp $pushedTs older than the ${nFiles}th emission")
    } finally { q.stop(); sink.stop() }
    val times = emitTimes.asScala.toSeq
    // strictly monotone emission timestamps (what the JSON messages carry)
    assert(times == times.sorted && times.distinct.size == times.size,
      s"emission timestamps not strictly increasing: $times")
    // paced, not burst-drained: the trigger clock aligns batch starts to
    // the interval, so inter-emission gaps sit near the interval when the
    // fold is fast and at the fold duration when it overruns; a backlog
    // catch-up batch can land early, so require the MAJORITY of gaps at
    // ≥ interval/2 rather than all
    val gaps = times.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(gaps.count(_ >= intervalMs / 2) * 2 >= gaps.size,
      s"emissions burst-drained rather than paced: gaps $gaps")
    // and the paced run still converges to the batch answer
    val got = last.map(r => Seq(r.getLong(0), r.getDate(1).toString,
      r.getString(2), r.getDouble(3))).toSeq
    assert(got == batchQ3AsStrings)
  }

  test("structured streaming wiring (readStream → foreachBatch) converges") {
    val dir = tempDir("graft-changelog")
    Changelog.write(Changelog.generate(spark, sfDir, insertOnly = true), dir, nFiles = 3)
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    var emissions = 0
    val q = StreamingQ3.start(spark, dir,
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      onEmit = (rows, _) => { last = rows; emissions += 1 })
    assert(q.awaitTermination(300000), "streaming query did not finish in time")
    assert(emissions >= 3, s"expected >=3 micro-batches, got $emissions")
    val got = last.map(r => Seq(r.getLong(0), r.getDate(1).toString,
      r.getString(2), r.getDouble(3))).toSeq
    assert(got == batchQ3AsStrings)
    // JSON sink contract shape (StreamProcessor.java:1037–1052)
    val msg = StreamingQ3.jsonMessage(last, 123L)
    assert(msg.startsWith("""{"timestamp":123,"data":[{"rank":1,"""))
  }
}
