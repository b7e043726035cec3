package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.FoldDriver.{Broker, CrashAt, Fold, NoKill, StopAt}

/** EXACTLY-ONCE OVER THE UNBOUNDED REPLAYABLE TRANSPORT: the changelog
  * served by a GROWING [[graft.sources.ReplayServer]] (the stream's end
  * does not exist when the query starts; backpressure flow control keeps
  * the producer a bounded window ahead of the slowest consumer group) is
  * consumed through the offset-tracking DSv2 sources, the query is KILLED
  * mid-stream and restarted from its checkpoint, and the answer must still
  * be the oracle's — any lost batch under-counts, any double-applied batch
  * over-counts.
  *
  * Each composition below is a description on top of [[FoldDriver.run]],
  * which owns the protocol: snapshot before the offset commit, re-delivered
  * ids skipped, accounting on its own id watermark, and the structural
  * pins (mid-production kill, exact drain, spill policy) that make the
  * answer an exactly-once proof.
  *
  * Sizing: flow control bounds what is staged at the kill by
  * `killTarget + batch (await overshoot) + batch (in-flight fetch) +
  * window (producer run-ahead)`, which every broker below keeps < 1 of the
  * stream on ANY host — mid-production by arithmetic, not timing. The
  * window stays ≥ the fold's batch so admission can always accumulate a
  * full batch without waiting on the delay flush.
  */
object ReplayIngest {

  private def ordered(events: DataFrame): DataFrame =
    events.orderBy(col("t"), col("sub"), col("idx")).select(col("line"))

  /** `stream_replay_exactly_once` — the per-(relation, action) counts
    * grain alone, 9 batches: phase A consumes a third and is killed while
    * the producer is still staging (32 chunks, 4-chunk window); phase B
    * restarts from the checkpoint and drains. The totals must equal the
    * file-staged `changelog_counts` oracle.
    */
  def replayExactlyOnce(spark: SparkSession, dir: String): DataFrame =
    FoldDriver.run(spark, "replay_ingest",
      Broker(Seq(ordered(Changelog.generate(spark, dir))), chunks = 32, maxAhead = 4),
      fold = None, counts = true, kill = StopAt(_ / 3)) { fin =>
      FoldDriver.countsFrame(spark, fin.counts)
    }

  /** `stream_q3_replay_resume` — EXACTLY-ONCE Q3 IVM OVER THE REPLAY
    * TRANSPORT, the full production pipeline as ONE composition: growing
    * broker → DSv2 micro-batches → [[IncrementalQ3.step]] with the
    * bucketed-table spill engaged (compaction MERGEs into spill tables
    * mid-stream) → snapshot before the offset commit → kill at a third →
    * resume from checkpoint + snapshot → drain.
    *
    * The insert-only changelog makes the converged answer the batch Q3
    * top-20 — bit-equal to the DuckDB oracle: a lost batch loses revenue,
    * a double-applied one doubles it, so the oracle match IS the
    * exactly-once proof over the full fold. Sizing: 6 batches, 6-chunk
    * window → 1/3 + 1/6 + 1/6 + 1/4 = 0.917.
    */
  def q3ReplayResume(spark: SparkSession, dir: String): DataFrame =
    q3ReplayRun(spark, dir, fullCycle = false)

  /** `stream_q3_replay_resume_cycle` — RETRACTION THROUGH RECOVERY: the
    * same composition over the capacity-windowed FULL ± changelog
    * ([[Changelog.windowed]]), with the kill PINNED TO THE TEARDOWN —
    * deletes folded before the kill AND deletes left after it (structural,
    * from the ledger), so the resume crosses a snapshot/offset boundary
    * with retraction state in flight on both sides, through the spill
    * store's manifest MERGE, refcounted GC and delta snapshots end to
    * end. The converged answer is EXACTLY EMPTY: a lost
    * DELETE batch leaves positive residue, a lost INSERT batch negative,
    * a double-applied one either sign. Sizing: kill at 4/9, 8 batches,
    * 4-chunk window → 4/9 + 1/8 + 1/8 + 1/6 = 0.86.
    */
  def q3ReplayResumeCycle(spark: SparkSession, dir: String): DataFrame =
    q3ReplayRun(spark, dir, fullCycle = true)

  private def q3ReplayRun(spark: SparkSession, dir: String,
                          fullCycle: Boolean): DataFrame = {
    val events =
      if (fullCycle) Changelog.windowed(spark, dir)
      else Changelog.generate(spark, dir, insertOnly = true)
    FoldDriver.run(spark, "replay_q3",
      Broker(Seq(ordered(events)), chunks = 24, maxAhead = if (fullCycle) 4 else 6),
      fold = Some(Fold(batches = if (fullCycle) 8 else 6, spillAtRows = _ => 0L)),
      kill = StopAt(if (fullCycle) 4 * _ / 9 else _ / 3),
      cycle = fullCycle)(fin => FoldDriver.q3Top(fin.state))
  }

  /** `stream_q3_two_consumers` — TWO CONSUMER GROUPS, ONE BROKER: the Q3
    * IVM fold and the counts grain run as two CONCURRENT queries over one
    * growing broker, each with its own checkpointed offsets and cadence,
    * with flow control keyed to the SLOWEST group's read watermark —
    * pinned STRUCTURALLY (the producer's window bound against the minimum
    * watermark when the slow fold reaches a third; max-keyed pacing would
    * have raced production to the end). Both drain and land their own
    * oracles: the fold the batch Q3 top-20, the counts grain the exact
    * event total, carried as a constant column.
    */
  def q3TwoConsumers(spark: SparkSession, dir: String): DataFrame =
    twoConsumersRun(spark, dir, fullCycle = false, killResume = false)

  /** `stream_q3_two_consumers_resume` — CONSUMER-GROUP KILL/RESUME WITH
    * SESSION EVICTION: the FOLD group is KILLED mid-stream while the counts
    * group keeps draining. Without liveness this deadlocks by design (the
    * broker paces on the slowest registered group, and a dead group's
    * watermark never moves); with a session timeout the dead group is
    * EVICTED once its heartbeats stop ([[graft.sources.ReplayServer.heartbeat]],
    * Kafka's model — "alive but mid-batch" vs "dead"), production provably
    * ADVANCES past its window while it is down, and the resumed fold
    * re-admits, catches up from checkpoint + snapshot, and still lands the
    * batch Q3 oracle.
    */
  def q3TwoConsumersResume(spark: SparkSession, dir: String): DataFrame =
    twoConsumersRun(spark, dir, fullCycle = false, killResume = true)

  /** `stream_q3_two_consumers_cycle` — CONSUMER GROUPS × RETRACTION: both
    * grains over ONE broker serving the capacity-windowed FULL ± cycle.
    * The fold's converged aggregate must cancel to EXACTLY EMPTY (pinned
    * in-query), and the returned per-(relation, action) totals gate on the
    * closed-form counts oracle: every relation's Insert and Delete totals
    * both equal its table cardinality.
    */
  def q3TwoConsumersCycle(spark: SparkSession, dir: String): DataFrame =
    twoConsumersRun(spark, dir, fullCycle = true, killResume = false)

  /** `stream_q3_two_consumers_cycle_resume` — the FULL MATRIX CELL:
    * consumer groups × retraction × kill/resume × eviction. The fold group
    * is killed MID-TEARDOWN (the delete pins), evicted so the counts group
    * keeps draining the ± stream, resumed, and still converges to EXACTLY
    * EMPTY — retraction state crossing a snapshot/offset boundary while a
    * second group's offsets advance independently. Sizing: kill at 4/9,
    * 8 fold batches, 4-chunk window → 4/9 + 1/8 + 1/8 + 5/24 = 0.90.
    */
  def q3TwoConsumersCycleResume(spark: SparkSession, dir: String): DataFrame =
    twoConsumersRun(spark, dir, fullCycle = true, killResume = true)

  /** `stream_q3_two_consumers_partitioned` — CONSUMER GROUPS × THE
    * PARTITIONED TRANSPORT: the two groups over the three-partition CDC
    * topic layout (one ordered log per relation, vector offsets), so flow
    * control, session liveness and eviction all operate PER PARTITION —
    * three independent control loops. The fold group is killed at a
    * quarter (query + its three per-partition heartbeats), EVERY partition
    * must evict it independently while the counts group drains, and the
    * resumed fold re-admits on all three and lands the batch Q3 top-20 —
    * the z-set fold is arrival-order-invariant across relations, so the
    * apportioned interleave cannot move the answer. Sizing: 6 fold batches,
    * 16 chunks, 3-chunk windows → 1/4 + 1/6 + 1/6 + 3/16 ≈ 0.77.
    */
  def q3TwoConsumersPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val events = Changelog.generateCached(spark, dir, insertOnly = true)
    val logs = Seq("CU", "OR", "LI")
      .map(tag => ordered(events.filter(substring(col("line"), 2, 2) === tag)))
    consumerGroups(spark, Broker(logs, chunks = 16, maxAhead = 3,
      sessionTimeoutMs = 3000L), cycle = false, kill = StopAt(_ / 4))
  }

  private def twoConsumersRun(spark: SparkSession, dir: String,
                              fullCycle: Boolean,
                              killResume: Boolean): DataFrame = {
    val events =
      if (fullCycle) Changelog.windowed(spark, dir)
      else Changelog.generate(spark, dir, insertOnly = true)
    // eviction only where the contract needs it: the kill/resume variants
    // prove liveness; the kill-free ones keep registered groups pacing
    // forever (a paused-but-alive consumer must NOT be dropped there —
    // that is exactly the min-keyed guarantee they pin)
    consumerGroups(spark,
      Broker(Seq(ordered(events)), chunks = 24,
        maxAhead = if (fullCycle && killResume) 4 else 6,
        sessionTimeoutMs = if (killResume) 3000L else 0L),
      cycle = fullCycle,
      kill = if (!killResume) NoKill
             else StopAt(if (fullCycle) 4 * _ / 9 else _ / 4))
  }

  /** The fold group (ADAPTIVE spill, the session policy: in-memory below
    * the state-size threshold, bucketed-table MERGE above it) and the
    * counts group over one broker. The ± cycle's gated answer is the
    * counts grain; the insert-only one is the fold's top-20 with the
    * counts group's event total.
    */
  private def consumerGroups(spark: SparkSession, broker: Broker,
                             cycle: Boolean, kill: FoldDriver.Kill): DataFrame =
    FoldDriver.run(spark, "2c", broker,
      fold = Some(Fold(batches = if (cycle) 8 else 6,
        spillAtRows = _ => IncrementalQ3.adaptiveSpillThreshold)),
      counts = true, kill = kill, cycle = cycle) { fin =>
      if (cycle) FoldDriver.countsFrame(spark, fin.counts)
      else FoldDriver.q3Top(fin.state, "ingest_events" -> fin.counts.values.sum)
    }

  /** `stream_q3_spill_adaptive_resume` — the ADAPTIVE SPILL POLICY ACROSS
    * A CRASH/RESUME BOUNDARY. [[StreamQueries.q3SpillAdaptive]] proves the
    * mid-run threshold crossing in an unkilled fold; this query CRASHES the
    * fold — a fault injected at the top of the foreachBatch, not a graceful
    * stop — exactly ON the measurement batch (the first compaction, id 3
    * of 8 under the CompactEvery=4 cadence), so the state-size
    * measurement, the threshold crossing, the engagement latch and the
    * bucketed-table MERGE all happen in the RESUMED process, against a
    * recovered in-memory snapshot:
    *
    *  - the crash lands BEFORE batch 3's offsets commit, so the resume
    *    re-delivers it — the measurement batch itself crosses the snapshot
    *    boundary;
    *  - the pre-crash snapshot is structurally REQUIRED to be batch 2,
    *    un-engaged and un-spilled, so any engagement is provably
    *    post-resume;
    *  - the threshold is DATA-DERIVED (τ = n/8 consolidated rows: below the
    *    converged state's ~0.55·n at any SF, above the first compaction's
    *    share), so the resumed batch-3 compaction measures in-memory,
    *    crosses, latches, and the batch-7 compaction MERGEs;
    *  - the converged answer must still be the batch Q3 top-20.
    *
    * Sizing: the crash lands at 3/8 consumed, 6-chunk window → 3/8 + 1/8 +
    * 7/24 = 0.79.
    */
  def q3SpillAdaptiveResume(spark: SparkSession, dir: String): DataFrame = {
    val events = Changelog.generateCached(spark, dir, insertOnly = true)
    // the latch flips inside the fold's own thread, so volatile vars see it
    @volatile var engagedAtBatch = -1L
    @volatile var sawInMemCompaction = false
    FoldDriver.run(spark, "replay_adapt",
      Broker(Seq(ordered(events)), chunks = 24, maxAhead = 6),
      fold = Some(Fold(batches = 8, spillAtRows = n => math.max(1L, n / 8),
        onApplied = (st, id) => {
          if (st.dirty == 0 && st.spillHistory.isEmpty) sawInMemCompaction = true
          if (st.spillEngaged && engagedAtBatch < 0) engagedAtBatch = id
        })),
      kill = CrashAt(3L)) { fin =>
      require(sawInMemCompaction,
        "adaptive resume: no in-memory compaction ran post-resume — the " +
          "measurement batch did not re-deliver as an in-memory fold")
      require(engagedAtBatch >= 3L,
        s"adaptive resume: engagement at batch $engagedAtBatch — the " +
          "latch flipped outside the resumed process")
      require(fin.state.spillEngaged,
        "adaptive resume: the τ = n/8 threshold was never crossed " +
          "post-resume — the policy went unexercised")
      FoldDriver.q3Top(fin.state)
    }
  }
}
