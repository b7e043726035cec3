package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.FoldDriver.{Admit, Admitted, Broker, Fold, StopAt}

/** EVENT-TIME Q3 OVER THE REPLAYABLE TRANSPORT — the three pillars the
  * reference lacks (SURVEY §2.8: no event time, no recovery, no replayable
  * ingest) composed into ONE pipeline: a GROWING replay broker feeds the
  * offset-tracking DSv2 source, lateness is decided by a WATERMARK, the
  * state is snapshotted exactly-once per batch, and the query is KILLED
  * mid-stream and resumed from checkpoint + snapshot ([[FoldDriver.run]]).
  *
  * The watermark is the PER-PARTITION PREFIX watermark of the ordered
  * transport: an event is late iff an earlier event IN ITS OWN PARTITION
  * carried a greater event time. A broker-fed query's batch boundaries are
  * admission accidents, so batch-quantized lateness
  * ([[StreamingEventTime]]'s discipline, deterministic only because its
  * arrival files ARE the batches) would be un-oracle-able; the prefix
  * watermark is a pure function of the partition logs — Flink-style
  * continuous watermarks over Kafka's per-partition order (the VLDB 2021
  * watermarks paper). A GLOBAL watermark over several partitions would
  * depend on how the consumer interleaves them at runtime, so it is never
  * merged. A single log is the one-partition case (partition 0), so one
  * late split serves both transports:
  *
  *  - single log: on-time events by event time, then the withheld late
  *    ones, one totally ordered stream — the same oracle as the batch-
  *    simulated and file-staged event-time paths;
  *  - partitioned: one ordered log per relation (the CDC topic layout),
  *    vector offsets — the withheld lineitems land at the END of the
  *    lineitem log, so one is late iff its rank precedes the last ON-TIME
  *    lineitem's rank (the other tables' event times live in other
  *    partitions and must not gate this one).
  */
object EventTimeReplay {

  /** Contiguous-offset block size for the distributed prefix-max. Small
    * enough that per-block windows parallelize across the cluster, large
    * enough that the per-batch driver carry-in stays tiny (batchSize/G
    * rows).
    */
  private val G = 4096L

  /** Flag each event of a batch under the per-partition prefix watermark
    * with an allowed-lateness window of `delay`:
    *
    *  - frontier(e) = max(carryIn(p), max{t(e') : e' in partition p,
    *    offset(e') < offset(e)})
    *  - `late(e)`          ⇔ t(e) < frontier(e) − delay   (DROPPED)
    *  - `late_admitted(e)` ⇔ frontier − delay ≤ t(e) < frontier
    *    (a straggler inside the window: FOLDS, but is accounted)
    *
    * `delay = 0` is the plain prefix watermark (empty window — no event is
    * ever `late_admitted`); a partition absent from `carryIn` has seen
    * nothing yet.
    *
    * Input columns: `partition INT, offset LONG, t LONG` (plus anything
    * else, preserved). Distributed shape: blocks are (partition,
    * offset-range) cells; one small aggregate (≤ rows/`blockSize` cells,
    * collected) gives each cell's carry-in via a per-partition driver scan,
    * and a window scoped to one cell finishes the job. Exposed for the
    * specs, which pin boundary-independence on hand-built out-of-order
    * fixtures.
    */
  private[streaming] def prefixLateFlag(batch: DataFrame,
                                        carryIn: Map[Int, Long],
                                        blockSize: Long = G,
                                        delay: Long = 0L): DataFrame = {
    require(delay >= 0L, s"allowed lateness must be >= 0, got $delay")
    val withBlock = batch.withColumn("_blk", floor(col("offset") / blockSize))
    val cells = withBlock.groupBy(col("partition"), col("_blk"))
      .agg(max(col("t")).as("_mx")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val carry = cells.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
      var running = carryIn.getOrElse(p, Long.MinValue)
      cs.sortBy(_._2).map { case (_, b, mx) =>
        val c = running; running = math.max(running, mx); (p, b, c)
      }
    }
    val spark = batch.sparkSession
    import spark.implicits._
    val carryDf = carry.toDF("partition", "_blk", "_carry")
    val w = Window.partitionBy(col("partition"), col("_blk"))
      .orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // frontier = MinValue means "no event precedes this one in its
    // partition": nothing can be late against it. The drop cutoff is
    // guarded with CASE WHEN, not `&&`: ANSI mode + whole-stage codegen's
    // common-subexpression elimination can hoist `frontier − delay` past a
    // conjunct guard and throw ARITHMETIC_OVERFLOW on the MinValue
    // sentinel; CaseWhen branches stay conditional under CSE.
    val frontier = greatest(col("_carry"),
      coalesce(col("_pm"), lit(Long.MinValue)))
    withBlock.join(broadcast(carryDf), Seq("partition", "_blk"))
      .withColumn("_pm", max(col("t")).over(w))
      .withColumn("_frontier", frontier)
      .withColumn("_cut",
        when(col("_frontier") === Long.MinValue, lit(Long.MinValue))
          .otherwise(col("_frontier") - lit(delay)))
      .withColumn("late", col("t") < col("_cut"))
      .withColumn("late_admitted",
        col("t") >= col("_cut") && col("t") < col("_frontier"))
      .drop("_blk", "_carry", "_pm", "_frontier", "_cut")
  }

  /** The fold's late split: on-time and admitted-late lines fold; the
    * ledger takes events, dropped and admitted counts and the per-partition
    * watermarks, all from one aggregate. The carry-in is the ledger's
    * watermarks through the last ACCOUNTED batch, unchanged on a
    * re-delivery — so the replayed batch recomputes the identical flags.
    */
  private def lateSplit(delay: Long): Admit = (batch, ledger) => {
    val parts = split(col("value"), "\t", 2)
    val stamped = batch.select(col("partition"), col("offset"),
      parts.getItem(0).cast("long").as("t"), parts.getItem(1).as("line"))
    // LAZY checkpoint: the first consumer (the fold's parse pin, or the
    // stats aggregate on a fold-skipped re-delivery) computes and pins it
    // in its own job; every later consumer hits the cached blocks
    val flagged = prefixLateFlag(stamped, FoldDriver.watermarks(ledger),
      delay = delay).localCheckpoint(eager = false)
    Admitted(flagged.filter(!col("late")).select("line"),
      flagged.groupBy(col("partition")).agg(
        count(lit(1)).as("events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("dropped"),
        sum(when(col("late_admitted"), 1L).otherwise(0L)).as("admitted"),
        max(col("t")).as("wm")),
      () => flagged.unpersist())
  }

  /** The arrival-ordered event logs, each line `<t>\t<line>` (event time
    * carried with the event, the way a real transport stamps it): on-time
    * events by event time, then the deliberately withheld late ones —
    * [[Changelog.withheld]], the event-time family's deterministic
    * lateness injection. One log, or one per relation.
    */
  private def arrivals(spark: SparkSession, dir: String,
                       perRelation: Boolean): Seq[DataFrame] = {
    val events = Changelog.generateCached(spark, dir, insertOnly = true)
    val tag = substring(col("line"), 2, 2)
    val tagged = events.withColumn("deferred", Changelog.withheld)
    def log(rows: DataFrame) = rows
      .orderBy(col("deferred").asc, col("t"), col("sub"), col("idx"))
      .select(concat_ws("\t", col("t").cast("string"), col("line")).as("line"))
    if (perRelation) Seq("CU", "OR", "LI").map(r => log(tagged.filter(tag === r)))
    else Seq(log(tagged))
  }

  /** `stream_q3_event_time_replay` — the single-log driver query. Phase A
    * folds a third and is KILLED while the broker is still producing;
    * phase B resumes from checkpoint + snapshot and drains. On-time events
    * feed the Q3 IVM fold; late ones are counted, never folded. Oracle:
    * IDENTICAL to `stream_q3_event_time` / `stream_q3_event_time_live`.
    */
  def q3EventTimeReplay(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, perRelation = false, delay = 0L)

  /** `stream_q3_event_time_delayed_replay` — the BOUNDED-DELAY watermark
    * over the real transport: the watermark trails the prefix frontier by
    * δ = nL/20, so a straggler within δ is ADMITTED and folds, only events
    * more than δ behind are dropped — and the running frontier and both
    * totals persist through the mid-production KILL on the ledger's own id
    * watermark, so the resumed query re-derives the identical admission
    * decisions (the flags are a pure function of (offset, stream, δ)).
    * Oracle: IDENTICAL to `stream_q3_event_time_delayed`.
    */
  def q3EventTimeDelayedReplay(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, perRelation = false, delay = nL(spark, dir) / 20)

  /** `stream_q3_event_time_partitioned` — three growing partition logs,
    * vector offsets, per-partition prefix watermarks, the kill landing
    * mid-production, resume from checkpoint + snapshot.
    */
  def q3EventTimePartitioned(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, perRelation = true, delay = 0L)

  /** `stream_q3_event_time_delayed_partitioned` — the BOUNDED-DELAY
    * watermark over the PARTITIONED transport: each partition's drop
    * cutoff trails ITS OWN prefix frontier by δ = nL/20 — allowed lateness
    * judged against the partition an event actually rides, never a merged
    * clock. Oracle closed form: each withheld lineitem's frontier is m =
    * the last ON-TIME lineitem's rank — dropped iff rk < m − δ, admitted
    * iff m − δ ≤ rk < m.
    */
  def q3EventTimeDelayedPartitioned(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, perRelation = true, delay = nL(spark, dir) / 20)

  private def nL(spark: SparkSession, dir: String): Long =
    graft.sources.Tables.table(spark, dir, "lineitem").count()

  /** Both transports: 6 fold batches with ADAPTIVE spill (in-memory below
    * the state-size threshold, bucketed-table MERGE above it), the kill at
    * a third. The single log is the 24-chunk, 6-chunk-window broker; each
    * partition log has 16 chunks and a 3-chunk window — each window is
    * 3/16 OF ITS OWN LOG, so once the small customer/orders logs drain the
    * remaining lineitem window can sit below the fold's batch, and the
    * tail drains through the reader's delay flush.
    */
  private def run(spark: SparkSession, dir: String, perRelation: Boolean,
                  delay: Long): DataFrame = {
    val logs = arrivals(spark, dir, perRelation)
    val broker =
      if (perRelation) Broker(logs, chunks = 16, maxAhead = 3)
      else Broker(logs, chunks = 24, maxAhead = 6)
    FoldDriver.run(spark, "etreplay", broker,
      fold = Some(Fold(batches = 6,
        spillAtRows = _ => IncrementalQ3.adaptiveSpillThreshold,
        admit = lateSplit(delay))),
      kill = StopAt(_ / 3)) { fin =>
      val dropped = fin.progress.getOrElse("dropped", 0L)
      val admitted = fin.progress.getOrElse("admitted", 0L)
      require(dropped > 0, "event-time Q3 (replay): no late events were " +
        "dropped — the deterministic lateness injection failed, the query " +
        "is testing nothing")
      if (delay > 0L)
        require(admitted > 0, "bounded-delay event-time Q3 (replay): no " +
          "straggler fell inside the lateness window — the δ-admission " +
          "semantics went untested")
      FoldDriver.q3Top(fin.state,
        Seq("dropped_late" -> dropped) ++
          (if (delay > 0L) Seq("admitted_late" -> admitted) else Nil): _*)
    }
  }
}
