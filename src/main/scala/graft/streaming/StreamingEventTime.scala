package graft.streaming

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** LIVE event-time Q3 — [[StreamQueries.q3EventTime]]'s semantics (the
  * watermarked extension the processing-time-only reference lacks, SURVEY
  * §2.8) run as a REAL Structured Streaming query instead of a driver
  * arrival loop (r11 verdict item 2): `readStream.text` over arrival-
  * ordered staged files (`maxFilesPerTrigger = 1` — one arrival per
  * micro-batch, the engine path `StreamingQ3.start` uses for processing
  * time), event time carried as a column, the late split driven by the
  * maintained watermark inside `foreachBatch`, and the dropped count part
  * of the asserted output.
  *
  * Recovery is [[FoldDriver.foldSink]]'s: the IVM state is snapshotted
  * with its batch id BEFORE the offset commit, and the watermark/dropped
  * accounting advances the ledger on its OWN id watermark — a crash
  * between the two re-delivers a batch whose FOLD is skipped while the
  * ACCOUNTING still takes it, using exactly the watermark it was
  * originally processed under (the ledger's, one batch behind). Killed
  * mid-stream and resumed, the query lands the identical answer — pinned
  * by EventTimeLiveSpec.
  *
  * Why the split lives in `foreachBatch` and not `withWatermark` +
  * built-in dedup: built-in Structured Streaming cannot chain a
  * stream-stream join into an update-mode aggregate (the same constraint
  * that puts [[IncrementalQ3]]'s deltas in `foreachBatch`), and the
  * dropped-count CONTRACT — late rows counted, not silently discarded —
  * is an output of this query, which `withWatermark`'s internal drop
  * never surfaces.
  */
object StreamingEventTime {

  /** Arrival batches for the on-time phase (matches
    * [[StreamQueries.q3EventTime]]'s K so the two paths share the oracle).
    */
  private[streaming] val K = 3

  /** The late split at the watermark as of the PREVIOUS batch: the
    * ledger's `wm.0`, the max event time accounted through it (absent =
    * nothing seen yet). One aggregate job for both statistics, late count
    * and max event time.
    */
  private val batchWatermark: FoldDriver.Admit = (batch, ledger) => {
    val parts = split(col("value"), "\t", 2)
    val stamped = batch.select(
      parts.getItem(0).cast("long").as("t"),
      parts.getItem(1).as("line"))
    val late = ledger.get("wm.0").fold(lit(false))(col("t") < _)
    FoldDriver.Admitted(stamped.filter(!late).select("line"),
      stamped.agg(sum(when(late, 1L).otherwise(0L)).as("dropped"),
        max(col("t")).as("wm")))
  }

  /** Stage the arrival-ordered event files once per (session, fixture):
    * K on-time batches (by event time) then ONE deliberately-late file
    * holding the withheld lineitem events (`l_orderkey % 10 == 3`) —
    * exactly [[StreamQueries.q3EventTime]]'s deterministic lateness
    * injection. Each file's lines are `<t>\t<line>` (event time carried
    * with the event, the way a real transport stamps it); file
    * modification times are forced strictly increasing so
    * FileStreamSource delivers arrivals in order.
    */
  private[streaming] def stageArrivals(spark: SparkSession, dir: String): String =
    graft.sources.Staging.ensure(
      graft.sources.Staging.dirFor(spark, "etlive", dir)) { out =>
      val events = Changelog.generateCached(spark, dir, insertOnly = true)
      val fields = split(substring(col("line"), 5, Int.MaxValue), "\\|")
      val withDef = events.withColumn("deferred",
        substring(col("line"), 2, 2) === "LI" &&
          element_at(fields, 1).cast("long") % 10 === 3)
      val tMax = events.agg(max(col("t"))).head().getLong(0)
      val batched = withDef.filter(!col("deferred")).withColumn("batch",
        Changelog.batchOf(K, tMax))
      val arrivals: Seq[DataFrame] =
        (0 until K).map(b => batched.filter(col("batch") === b)) :+
          withDef.filter(col("deferred"))
      arrivals.zipWithIndex.foreach { case (a, k) =>
        val tmp = s"$out/.tmp_$k"
        a.select(concat_ws("\t", col("t").cast("string"), col("line")))
          .coalesce(1).write.mode("overwrite").text(tmp)
        val part = Option(new java.io.File(tmp).listFiles())
          .getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
          .getOrElse(sys.error(s"staging wrote no part file under $tmp"))
        val dst = new java.io.File(out, f"arrival_$k%02d.txt")
        Files.move(part.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        // strictly increasing mtimes: FileStreamSource orders by them
        dst.setLastModified(1600000000000L + k * 60000L)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }

  /** Start (or RESUME) the live query over staged arrivals. `work` holds
    * the checkpoint, snapshots, and the ledger; restart with it unchanged
    * to resume. `onApplied(batchId)` fires after each genuinely-folded
    * batch (specs use it to time the kill).
    */
  def start(spark: SparkSession, stagedDir: String, work: String,
            onApplied: Long => Unit = _ => ()): StreamingQuery = {
    val sink = FoldDriver.foldSink(spark, "etlive", work,
      IncrementalQ3.spillRoot, spillAtRows = 0L, batchWatermark,
      (_, id) => onApplied(id))
    StreamTune.prepare(spark)
    spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(stagedDir)
      .writeStream
      .queryName("graft_q3_event_time_live")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .foreachBatch(sink)
      .start()
  }

  /** True once arrivals 0..`lastId` are all folded AND accounted —
    * the drain condition for the driver query and the specs.
    */
  private[streaming] def drained(spark: SparkSession, work: String,
                                 lastId: Long): Boolean =
    FoldDriver.progress(work).read()._1 >= lastId &&
      Snapshots.loadLatest(spark, s"$work/snap").exists(_._2 >= lastId)

  /** The query's answer from a drained `work` dir: on-time Q3 top-20 with
    * the dropped-late count on every row.
    */
  private[streaming] def result(spark: SparkSession, work: String): DataFrame = {
    val dropped = FoldDriver.progress(work)("dropped")
    require(dropped > 0, "event-time Q3 (live): no late events were " +
      "dropped — the deterministic lateness injection failed, the query " +
      "is testing nothing")
    FoldDriver.q3Top(Snapshots.loadLatest(spark, s"$work/snap").get._1,
      "dropped_late" -> dropped)
  }

  /** `stream_q3_event_time_live` — the driver query: stage, run the live
    * query until all K+1 arrivals are folded, return the on-time Q3
    * top-20 with the dropped-late count. Oracle: IDENTICAL to the
    * batch-simulated `stream_q3_event_time` (same injection, same
    * watermark discipline — the live path must land the same answer).
    */
  def q3EventTimeLive(spark: SparkSession, dir: String): DataFrame = {
    val staged = stageArrivals(spark, dir)
    val work = Files.createTempDirectory("graft-etlive").toString
    try {
      val q = start(spark, staged, work)
      try {
        val lastId = K.toLong // K on-time files + 1 late file → ids 0..K
        val deadline = System.nanoTime() + 300L * 1000000000L
        while (!drained(spark, work, lastId) && q.isActive &&
               System.nanoTime() < deadline)
          Thread.sleep(25)
        require(drained(spark, work, lastId),
          s"live event-time Q3: not all ${lastId + 1} arrivals " +
            s"folded before timeout (query active: ${q.isActive})")
      } finally q.stop()
      result(spark, work)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }
}
