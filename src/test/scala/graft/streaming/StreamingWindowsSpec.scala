package graft.streaming

import graft.SparkSpec
import graft.operators.Windows

/** Watermarked event-time windows through real Structured Streaming. */
class StreamingWindowsSpec extends SparkSpec {

  test("append-mode tumbling windows finalize exactly once and match batch") {
    val staged = tempDir("graft-events")
    StreamingWindows.stage(spark, sfDir, staged, nFiles = 3)
    val q = StreamingWindows.startTumbling(spark, staged, "tumbling_sink")
    assert(q.awaitTermination(300000), "streaming query did not finish in time")
    val emitted = spark.table("tumbling_sink").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(emitted.nonEmpty, "watermark must have finalized some windows")
    // append-mode rows must be unique per (window, type)
    assert(emitted.size == spark.table("tumbling_sink").count())
    // every finalized window agrees exactly with the batch computation
    val batch = Windows.tumbling(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    emitted.foreach { case (k, v) =>
      assert(batch(k) == v, s"window $k: stream=$v batch=${batch(k)}")
    }
    // and the watermark really held data back: strictly fewer than batch
    assert(emitted.size < batch.size)
  }

  test("append-mode session windows merge across batches and match batch") {
    val staged = tempDir("graft-events-s")
    StreamingWindows.stage(spark, sfDir, staged, nFiles = 3)
    val q = StreamingWindows.startSession(spark, staged, "session_sink")
    assert(q.awaitTermination(300000), "streaming query did not finish in time")
    val emitted = spark.table("session_sink").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(emitted.nonEmpty, "watermark must have finalized some sessions")
    assert(emitted.size == spark.table("session_sink").count(),
      "append mode must emit each session exactly once")
    // Every finalized session agrees exactly with the batch twin — this is
    // the merge proof: a session whose events span multiple micro-batches
    // only matches batch (session_start, n_events, value_sum) if the state
    // store merged its fragments instead of emitting them separately.
    val batch = Windows.session(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    emitted.foreach { case (k, v) =>
      assert(batch(k) == v, s"session $k: stream=$v batch=${batch(k)}")
    }
    // sessions still open at the terminal watermark were held back
    assert(emitted.size < batch.size)
  }

  test("streaming dedup emits each distinct key exactly once, equal to batch DISTINCT") {
    val got = StreamingWindows.streamDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == got.distinct.length, "append dedup must never re-emit a key")
    val batch = graft.sources.Tables.table(spark, sfDir, "events")
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == batch.toSet)
    assert(got.length < graft.sources.Tables.table(spark, sfDir, "events").count(),
      "fixture events must contain duplicates for the test to mean anything")
  }

  test("checkpointed tumbling query resumes after a stop: kill-and-resume ≡ uninterrupted") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val base = tempDir("graft-recover")
    val staged = s"$base/events"
    StreamingWindows.stage(spark, sfDir, staged)
    // uninterrupted twin: all files, one run, its own checkpoint
    val q0 = StreamingWindows.startTumblingCheckpointed(
      spark, staged, s"$base/ckpt_full", s"$base/out_full")
    q0.awaitTermination()
    val full = spark.read.parquet(s"$base/out_full").collect().map(_.toSeq).toSet
    assert(full.nonEmpty)

    // interrupted run: only chunk1 visible, query drains it and STOPS
    // (AvailableNow terminates at end-of-available = the crash stand-in)
    val hidden = Files.createDirectory(Paths.get(s"$base/hidden"))
    val later = scala.util.Using.resource(Files.list(Paths.get(staged))) {
      _.iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith("chunk1-"))
    }
    later.foreach { p =>
      val dest = hidden.resolve(p.getFileName)
      val t = Files.getLastModifiedTime(p)
      Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, t) // mtimes encode event order
    }
    val q1 = StreamingWindows.startTumblingCheckpointed(
      spark, staged, s"$base/ckpt", s"$base/out")
    q1.awaitTermination()
    val partial = spark.read.parquet(s"$base/out").collect().map(_.toSeq).toSet
    assert(partial.nonEmpty && partial != full,
      "the interrupted run must have committed a strict subset")

    // "restart": the rest of the stream arrives, a NEW query resumes from
    // the same checkpoint — offsets skip chunk1, state + watermark resume
    later.foreach { p =>
      val src = hidden.resolve(p.getFileName)
      val t = Files.getLastModifiedTime(src)
      Files.move(src, p, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(p, t)
    }
    val q2 = StreamingWindows.startTumblingCheckpointed(
      spark, staged, s"$base/ckpt", s"$base/out")
    q2.awaitTermination()
    val resumed = spark.read.parquet(s"$base/out").collect().map(_.toSeq).toSet
    assert(resumed == full,
      s"kill-and-resume must equal the uninterrupted run " +
        s"(resumed ${resumed.size} vs full ${full.size} rows)")
  }

  test("checkpointed interval JOIN resumes after a stop: kill-and-resume ≡ uninterrupted") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val base = tempDir("graft-recover-j")
    val staged = s"$base/events"
    StreamingWindows.stage(spark, sfDir, staged)
    // uninterrupted twin: all files, one run, its own checkpoint
    val q0 = StreamingWindows.startJoinIntervalCheckpointed(
      spark, staged, s"$base/ckpt_full", s"$base/out_full")
    q0.awaitTermination()
    val full = spark.read.parquet(s"$base/out_full").collect().map(_.toSeq).toSet
    assert(full.nonEmpty)

    // interrupted run: only chunk1 visible, query drains it and STOPS —
    // the checkpoint now holds real JOIN state: both sides' buffered rows
    // (views/clicks still inside the 1 h bound) plus offsets + watermark
    val hidden = Files.createDirectory(Paths.get(s"$base/hidden"))
    val later = scala.util.Using.resource(Files.list(Paths.get(staged))) {
      _.iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith("chunk1-"))
    }
    later.foreach { p =>
      val dest = hidden.resolve(p.getFileName)
      val t = Files.getLastModifiedTime(p)
      Files.move(p, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, t) // mtimes encode event order
    }
    val q1 = StreamingWindows.startJoinIntervalCheckpointed(
      spark, staged, s"$base/ckpt", s"$base/out")
    q1.awaitTermination()
    val partial = spark.read.parquet(s"$base/out").collect().map(_.toSeq).toSet
    assert(partial.nonEmpty && partial != full,
      "the interrupted run must have committed a strict subset")

    // "restart": the rest of the stream arrives, a NEW query resumes from
    // the same checkpoint — matches that pair a RESTORED buffered row with
    // a post-restart arrival only appear if the join state truly resumed
    later.foreach { p =>
      val src = hidden.resolve(p.getFileName)
      val t = Files.getLastModifiedTime(src)
      Files.move(src, p, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(p, t)
    }
    val q2 = StreamingWindows.startJoinIntervalCheckpointed(
      spark, staged, s"$base/ckpt", s"$base/out")
    q2.awaitTermination()
    val resumed = spark.read.parquet(s"$base/out").collect().map(_.toSeq).toSet
    assert(resumed == full,
      s"kill-and-resume must equal the uninterrupted run " +
        s"(resumed ${resumed.size} vs full ${full.size} rows)")
  }

  test("stream-static enrichment equals the batch join, covering every event") {
    import org.apache.spark.sql.functions._
    val agg = StreamingWindows.streamEnrichStatic(spark, sfDir)
    val enriched = agg.agg(sum(col("n"))).head().getLong(0)
    val events = graft.sources.Tables.table(spark, sfDir, "events").count()
    // every fixture user_id has a customer row, so the inner join is total
    assert(enriched == events, s"enriched $enriched of $events events")
    val batch = graft.sources.Tables.table(spark, sfDir, "events")
      .join(graft.sources.Tables.table(spark, sfDir, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
    assert(agg.collect().map(_.toSeq).toSet == batch.collect().map(_.toSeq).toSet)
  }

  test("stream-SCD2 enrichment tags each purchase with the interval live at its ts") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val agg = StreamingWindows.streamScdEnrich(spark, sfDir)
    val rows = agg.collect()
    assert(rows.nonEmpty, "some purchases must fall inside a state interval")
    // batch twin: the same SCD2 collapse + point-in-interval join
    val ev = graft.sources.Tables.table(spark, sfDir, "events")
    val w = Window.partitionBy(col("d_user")).orderBy(col("d_ts"), col("event_id"))
    val dim = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("d_user"), col("ts").as("d_ts"),
        col("event_id"), col("event_type").as("state"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .withColumn("valid_to", lead(col("d_ts"), 1).over(w))
    val batch = ev.filter(col("event_type") === "purchase")
      .join(dim, col("user_id") === col("d_user") &&
        col("ts") >= col("d_ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
    assert(rows.map(_.toSeq).toSet == batch.collect().map(_.toSeq).toSet)
    // intervals partition each user's timeline: no purchase can match twice,
    // so the enriched count never exceeds the purchase count
    val purchases = ev.filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n")).sum <= purchases)
  }

  test("stream-stream interval join matches batch and EVICTS watermark-expired state") {
    import org.apache.spark.sql.functions._
    val staged = tempDir("graft-events-j")
    StreamingWindows.stage(spark, sfDir, staged, nFiles = 3)
    val q = StreamingWindows.startJoinInterval(spark, staged, "joinint_sink")
    assert(q.awaitTermination(300000), "streaming query did not finish in time")
    val got = spark.table("joinint_sink").collect().map(_.toSeq)
    assert(got.nonEmpty && got.length == got.distinct.length,
      "append mode must emit each match exactly once")
    // converged output ≡ the batch interval join
    val ev = graft.sources.Tables.table(spark, sfDir, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = v.join(c, col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("v_user"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        date_format(col("c_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .collect().map(_.toSeq)
    assert(got.toSet == batch.toSet,
      s"stream join ${got.length} rows vs batch ${batch.length}")
    // THE scale property: buffered join state is bounded by the event-time
    // interval, not the stream length. With the fixture spanning days and
    // a 1 h watermark + 1 h join bound, the terminal state must hold far
    // fewer rows than the full view+click history — if eviction broke,
    // state would equal the whole filtered stream.
    val streamed = v.count() + c.count()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows > 0, "join state metrics missing")
    assert(stateRows < streamed / 2,
      s"state not evicted: $stateRows rows buffered of $streamed streamed")
  }

  test("foreachBatch upsert merges per micro-batch and equals the one-shot answer") {
    import org.apache.spark.sql.functions._
    val out = StreamingWindows.streamCdcUpsert(spark, sfDir)
    val got = out.collect().map(_.toSeq)
    // one-shot latest-per-user over the raw table (same total order)
    val want = graft.sources.Tables.table(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_type"), col("value"))).as("s"))
      .select(col("user_id"), col("s.ts"), col("s.event_type"), col("s.value"))
      .collect().map(_.toSeq)
    assert(got.toSet == want.toSet && got.nonEmpty,
      "batching-invariant merge must equal the one-shot answer")
    // the merge really ran incrementally: the staged archive is 3 chunks
    // at maxFilesPerTrigger=1, so ≥ 3 state versions exist on disk
    val base = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith(
        s"graft_upsert_${spark.sparkContext.applicationId}"))
    assert(base.nonEmpty && base.exists(
      _.listFiles().count(_.getName.startsWith("v")) >= 3),
      "expected one state version per micro-batch")
  }

  test("late rows beyond the watermark are dropped, not aggregated") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.table(spark, sfDir, "events")
    val bounds = ev.agg(
      (date_trunc("hour", min(col("ts"))) + expr("INTERVAL 1 HOUR")).as("fhe"),
      max(col("ts")).as("mx")).head()
    val fhe = bounds.getTimestamp(0)
    val lateCond = col("ts") < lit(fhe) && col("user_id") % 2 === 0
    val nLate = ev.filter(lateCond).count()
    assert(nLate > 0, "the fixture must actually contain held-back rows")
    val got = StreamingWindows.streamLate(spark, sfDir).collect()
      .map(_.toSeq).toSet
    // batch replay over the ON-TIME prefix, finalized windows only
    def replay(rows: org.apache.spark.sql.DataFrame) = rows
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .crossJoin(ev.agg(max(col("ts")).as("mx")))
      .filter(col("window.end") <= col("mx") - expr("INTERVAL 1 HOUR"))
      .select(col("window.start").cast("string").as("window_start"),
        col("event_type"), col("n"), col("value_sum"))
      .collect().map(_.toSeq).toSet
    assert(got == replay(ev.filter(!lateCond)),
      "the streaming result must equal the batch replay over on-time rows")
    assert(got != replay(ev),
      "the drop must be observable: all-rows replay differs (held-back " +
        "rows land in a finalized window)")
  }
}
