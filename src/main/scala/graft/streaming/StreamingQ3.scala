package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming entry for incremental Q3 — the Spark realization of
  * the reference's `TPCHQuery3_StreamProcessor[_no_websocket].main`
  * (no_websocket.java:168–241):
  *
  * {{{
  *   readStream.text(changelogDir)            // UnifiedStreamSource, :248–326
  *     → foreachBatch { IncrementalQ3.step }  // joins + retractable agg
  *     → emit(topN)                           // TopNFunction, :590–650
  * }}}
  *
  * The reference throttles its source (~1 ms/1000 events, :270–274) and
  * emits on processing-time timers (2 s agg / 3 s top-N). Here ingest
  * pacing is `maxFilesPerTrigger` + `Trigger.ProcessingTime`, and emission
  * happens once per micro-batch — same cadence contract, no custom timers.
  */
object StreamingQ3 {

  /** Start the continuous query. `onEmit` receives the current top-20 rows
    * and micro-batch id after every batch (console/JSON sinks below).
    *
    * Recovery: Structured Streaming's checkpoint persists only SOURCE
    * offsets for a `foreachBatch` query; the IVM state lives on the driver.
    * With `snapshotDir` set, the state is snapshotted durably after every
    * batch ([[Snapshots.saveBatch]]: this batch's delta, linked over the
    * previous snapshot) and `start` auto-resumes: it loads the latest
    * complete snapshot ([[Snapshots.loadLatest]]) and skips any
    * re-delivered batch already folded into it (a batch can be
    * re-delivered when the driver dies
    * between the snapshot flip and the offset-log commit — exactly-once
    * comes from the skip, not from luck). Pair `snapshotDir` with
    * `checkpointDir` on the same query; restart with both unchanged.
    *
    * Without `snapshotDir`, resuming from an existing checkpoint would
    * replay only post-restart offsets against an empty state and silently
    * under-count — the batch-id guard turns that into a loud failure. The
    * reference checkpoints nothing at all (SURVEY §2.8).
    */
  def start(spark: SparkSession, changelogDir: String,
            trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
            maxFilesPerTrigger: Int = 1,
            checkpointDir: Option[String] = None,
            snapshotDir: Option[String] = None,
            onEmit: (Array[Row], Long) => Unit = consoleSink): StreamingQuery = {
    val resumed = snapshotDir.flatMap(d => Snapshots.loadLatest(spark, d))
    var state = resumed.fold(IncrementalQ3.init(spark))(_._1)
    // next batch id this state expects; ids below it are already applied
    var expectedBatch = resumed.fold(0L)(_._2 + 1)
    StreamTune.prepare(spark)
    val writer = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(changelogDir)
      .writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (id < expectedBatch) {
          // re-delivered batch already folded into the loaded snapshot:
          // skip the fold, re-emit the current answer (idempotent sink)
          onEmit(IncrementalQ3.topN(state).collect(), id)
        } else if (id > expectedBatch) {
          throw new IllegalStateException(
            s"batch $id delivered but IVM state is at $expectedBatch — " +
              "resumed/replayed batches would corrupt the aggregate; pass " +
              "snapshotDir for auto-resume or start from a fresh checkpoint")
        } else {
          expectedBatch += 1
          state = IncrementalQ3.step(state, batch)
          // snapshot BEFORE the offset commit: a crash after this point
          // re-delivers `id`, which the branch above then skips
          snapshotDir.foreach(d => Snapshots.saveBatch(state, d, id))
          onEmit(IncrementalQ3.topN(state).collect(), id)
        }
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Console top-N table — the no-WebSocket variant's sink contract
    * (no_websocket.java:627–649).
    */
  def consoleSink(rows: Array[Row], batchId: Long): Unit = {
    println(f"=== Top-${rows.length} after batch $batchId ===")
    println(f"${"rank"}%4s ${"orderkey"}%10s ${"revenue"}%14s ${"orderdate"}%12s  priority")
    rows.zipWithIndex.foreach { case (r, i) =>
      println(f"${i + 1}%4d ${r.getLong(0)}%10d ${r.getDouble(3)}%14.2f ${r.getDate(1).toString}%12s  ${r.getString(2)}")
    }
  }

  /** The reference's WebSocket JSON message
    * (TPCHQuery3_StreamProcessor.java:1037–1052):
    * `{"timestamp":…,"data":[{"rank":…,"orderkey":…,"revenue":…,"orderdate":…,"shippriority":…}]}`.
    * Kept as a pure formatter so any push transport (HTTP/WebSocket) can
    * wrap it; transport is presentation, not query semantics (SURVEY §2.2).
    */
  def jsonMessage(rows: Array[Row], timestampMs: Long): String = {
    val data = rows.zipWithIndex.map { case (r, i) =>
      // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
      val rev = String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(r.getDouble(3)))
      s"""{"rank":${i + 1},"orderkey":${r.getLong(0)},"revenue":$rev,""" +
        s""""orderdate":"${r.getDate(1)}","shippriority":"${r.getString(2)}"}"""
    }.mkString(",")
    s"""{"timestamp":$timestampMs,"data":[$data]}"""
  }
}
