package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.sources.{PartitionedReplayProvider, ReplayProvider, ReplayServer}

/** THE EXACTLY-ONCE FOLD DRIVER — the snapshot-skip protocol every
  * replay-fed composition runs ([[ReplayIngest]], [[EventTimeReplay]],
  * [[StreamingEventTime.start]]), written once. The reference has no
  * recovery story at all (SURVEY §2.8).
  *
  * ORDERING INVARIANT, per micro-batch `id` of the fold consumer
  * ([[foldSink]]):
  *
  *  1. resume: the state is the latest consistent snapshot, and ids below
  *     the one it expects are already folded — skipped; an id above it is
  *     a gap and fails loudly (`require`);
  *  2. SNAPSHOT BEFORE THE OFFSET COMMIT: the folded state is snapshotted
  *     with `id` ([[Snapshots.saveBatchAuto]]) before `foreachBatch`
  *     returns, i.e. before Spark commits the batch's offsets — a crash
  *     after the snapshot re-delivers `id`, which step 1 then skips;
  *  3. ACCOUNTING ON ITS OWN ID WATERMARK: events, deletes, lateness and
  *     watermarks advance a [[Ledger]] keyed by its own last id — a crash
  *     between the snapshot and the ledger write re-delivers a batch whose
  *     FOLD is skipped while the LEDGER still takes it, computed under the
  *     ledger's previous record (the late split's carry-in is a pure
  *     function of it), so each side counts the batch exactly once.
  *
  * [[run]] is the kill/resume harness around it: a growing broker, the
  * fold (and optionally a second, per-(relation, action) counts consumer
  * group), a mid-production kill or an injected crash, the resume, the
  * drain, and the structural pins that make the converged answer an
  * exactly-once proof rather than a lucky timing.
  */
object FoldDriver {

  private val Host = "127.0.0.1"

  /** One atomic per-id record `(lastId, values)`: a consumer's accounting,
    * written tmp + `ATOMIC_MOVE`, so a reader sees the previous record or
    * the next, never a torn one — a `.tmp` left by a crash before the
    * rename is ignored and overwritten. A missing file is `(-1, empty)`;
    * an absent value reads as 0.
    */
  final class Ledger(path: String) {
    def read(): (Long, Map[String, Long]) = {
      val p = Paths.get(path)
      if (!Files.exists(p)) (-1L, Map.empty)
      else {
        val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .split("\n").toSeq.filter(_.nonEmpty)
        (lines.head.toLong, lines.tail.map { l =>
          val i = l.lastIndexOf('=')
          l.take(i) -> l.drop(i + 1).toLong
        }.toMap)
      }
    }

    def apply(key: String): Long = read()._2.getOrElse(key, 0L)

    /** Record `id` with `f` applied to the values — only when `id` is past
      * the last recorded id (a re-delivered batch is a no-op).
      */
    def advance(id: Long)(f: Map[String, Long] => Map[String, Long]): Unit = {
      val (lastId, values) = read()
      if (id > lastId) {
        val body = (id.toString +: f(values).toSeq.sorted
          .map { case (k, v) => s"$k=$v" }).mkString("\n")
        val tmp = Paths.get(path + ".tmp")
        Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, Paths.get(path),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** The fold consumer's ledger under a work dir. */
  def progress(work: String): Ledger = new Ledger(s"$work/progress")

  /** One batch as the fold takes it: the `lines` it folds, and the `stats`
    * aggregate the ledger advances from (one job, one row per partition).
    * Each `stats` column adds to the ledger value of its name, except
    * `partition` (the row's key; absent = partition 0) and `wm`, the max
    * event time, kept as a running max per partition (`wm.<p>`).
    * `release` frees what the split cached.
    */
  final case class Admitted(lines: DataFrame, stats: DataFrame,
                            release: () => Unit = () => ())

  /** Where the event-time late split goes: the pinned batch and the
    * ledger's values as of the last accounted batch (the watermark
    * carry-in) → what the fold admits.
    */
  type Admit = (DataFrame, Map[String, Long]) => Admitted

  /** Every line folds; the ledger counts events and deletes. */
  val admitAll: Admit = (batch, _) => Admitted(batch, batch.agg(
    count(lit(1)).as("events"),
    sum(when(substring(col("value"), 1, 1) === "-", 1L).otherwise(0L))
      .as("deletes")))

  /** The per-partition watermarks a ledger holds. */
  def watermarks(values: Map[String, Long]): Map[Int, Long] =
    values.collect { case (k, v) if k.startsWith("wm.") =>
      k.stripPrefix("wm.").toInt -> v
    }

  private def account(values: Map[String, Long],
                      stats: Array[Row]): Map[String, Long] =
    stats.foldLeft(values) { (m0, r) =>
      val names = r.schema.fieldNames
      val p = if (names.contains("partition")) r.getAs[Int]("partition") else 0
      names.indices.filterNot(r.isNullAt).foldLeft(m0) { (m, i) =>
        names(i) match {
          case "partition" => m
          case "wm" =>
            val k = s"wm.$p"
            m.updated(k, m.get(k).fold(r.getLong(i))(math.max(_, r.getLong(i))))
          case k => m.updated(k, m.getOrElse(k, 0L) + r.getLong(i))
        }
      }
    }

  private val CrashMarker = "graft-injected-crash"

  /** The fold consumer's `foreachBatch` body over `work` (snapshots in
    * `snap`, the ledger in `progress`), resumed from the latest snapshot
    * there — the ordering invariant above. `onApplied` sees each genuinely
    * folded batch; `crashAt` injects a fault at the top of every batch
    * from that id on, before any work: no snapshot, no ledger write, no
    * offset commit.
    */
  def foldSink(spark: SparkSession, name: String, work: String,
               spill: Option[String], spillAtRows: Long, admit: Admit,
               onApplied: (IncrementalQ3.State, Long) => Unit,
               crashAt: Option[Long] = None): (DataFrame, Long) => Unit = {
    val snapDir = s"$work/snap"
    val ledger = progress(work)
    val resumed = Snapshots.loadLatest(spark, snapDir)
    var state = resumed.fold(IncrementalQ3.init(spark))(_._1)
    var expectedBatch = resumed.fold(0L)(_._2 + 1)
    (batch, id) => graft.Phase(s"$name.b$id") {
      if (crashAt.exists(id >= _))
        throw new RuntimeException(s"$CrashMarker at batch $id")
      // pin the batch: the DSv2 frame re-executes the transport fetch per
      // action, and the fold and the accounting both scan it
      val pinned = batch.persist(StorageLevel.MEMORY_AND_DISK)
      val in = admit(pinned, ledger.read()._2)
      try {
        if (id >= expectedBatch) {
          require(id == expectedBatch,
            s"batch $id delivered but IVM state is at $expectedBatch — " +
              "a gap would corrupt the aggregate")
          state = IncrementalQ3.step(state, in.lines, spill, spillAtRows)
          Snapshots.saveBatchAuto(state, snapDir, id)
          expectedBatch = id + 1
          onApplied(state, id)
        } // else: already folded into the loaded snapshot — skipped
        ledger.advance(id)(account(_, in.stats.collect()))
      } finally {
        in.release()
        pinned.unpersist(blocking = false)
      }
    }
  }

  /** The per-(relation, action) counts consumer: totals folded exactly
    * once per batch id into the `counts` ledger (`<relation>/<action>`).
    */
  private def countsSink(work: String): (DataFrame, Long) => Unit = {
    val ledger = new Ledger(s"$work/counts")
    (batch, id) => ledger.advance(id) { values =>
      Changelog.parse(batch)
        .select(
          when(col("tag") === "CU", "customer")
            .when(col("tag") === "OR", "orders")
            .otherwise("lineitem").as("relation"),
          when(col(ZSet.W) === 1, "Insert").otherwise("Delete").as("action"))
        .groupBy("relation", "action").agg(count(lit(1)).as("n"))
        .collect() // ≤ 6 rows — the per-batch summary, not the data
        .foldLeft(values) { (m, r) =>
          val k = s"${r.getString(0)}/${r.getString(1)}"
          m.updated(k, m.getOrElse(k, 0L) + r.getLong(2))
        }
    }
  }

  /** What a run serves: the ordered logs — one, or one per partition (the
    * CDC topic layout) — the producer's chunk count and flow-control
    * window in chunks, the session timeout after which a silent group is
    * evicted (0 = never), and whether a single log's rows carry their
    * offsets.
    */
  final case class Broker(logs: Seq[DataFrame], chunks: Int, maxAhead: Int,
                          sessionTimeoutMs: Long = 0L, offsets: Boolean = false)

  /** A served broker: one handle per partition, and the reader a consumer
    * group consumes it with. A single log is the one-partition case: with
    * offsets, its rows carry `partition` 0 and their `offset`, the columns
    * every partitioned row has.
    */
  final case class Transport(handles: Seq[ReplayServer.Handle], broker: Broker,
                             reader: (String, Long) => DataFrame) {
    def expected: Long = handles.map(_.expected).sum
    def staged(i: Int): Long = ReplayServer.count(Host, handles(i).port)
    def served(i: Int, group: String): Long =
      ReplayServer.servedOf(Host, handles(i).port, group)
    /** The producer's run-ahead bound on partition `i` past the slowest
      * live group's watermark: the window plus a chunk of publish slack
      * and one of final-chunk remainder.
      */
    def window(i: Int): Long =
      (broker.maxAhead + 2) * math.max(1L, handles(i).expected / broker.chunks)
  }

  private def serve(spark: SparkSession, b: Broker,
                    groups: Seq[String]): Transport = {
    val handles = b.logs.map(l => ReplayServer.serveGrowing(l,
      chunks = b.chunks, intervalMs = 10L, maxAheadChunks = b.maxAhead,
      groups = groups, sessionTimeoutMs = b.sessionTimeoutMs))
    def reader(group: String, batchSize: Long): DataFrame = {
      val r = spark.readStream.option("host", Host)
        .option("batchSize", batchSize.toString)
        // hold admission for a REAL batch: per-chunk admission would pay a
        // full fold + snapshot per producer step
        .option("minBatchSize", batchSize.toString)
        .option("group", group)
      if (handles.size == 1) {
        val log = r.format(classOf[ReplayProvider].getName)
          .option("port", handles.head.port.toString)
          .option("splits", "0") // 0 = adaptive per-batch fan-out
          .option("includeOffset", b.offsets.toString)
          .load()
        if (b.offsets) log.withColumn("partition", lit(0)) else log
      } else r.format(classOf[PartitionedReplayProvider].getName)
        .option("ports", handles.map(_.port).mkString(","))
        // the tail-drain contract: once the small partitions drain, the
        // remaining window can sit below minBatchSize — this flush bounds
        // the hold, stated rather than inherited as the source default
        .option("maxTriggerDelayMs", "500")
        .load()
    }
    Transport(handles, b, reader)
  }

  /** How phase A ends. */
  sealed trait Kill
  /** Stop the first consumer once it has accounted `at(expected)` events. */
  final case class StopAt(at: Long => Long) extends Kill
  /** Fail the fold with a fault injected at the top of `batch`: unlike a
    * graceful stop (which drains the in-flight batch and commits its
    * offsets), a genuine mid-batch failure leaves `batch` uncommitted, so
    * the resume re-delivers it — no timing assumption at all.
    */
  final case class CrashAt(batch: Long) extends Kill
  /** No kill: with two groups running, pin instead that flow control keys
    * on the slowest group's watermark.
    */
  case object NoKill extends Kill

  /** The fold consumer of a run: batches per stream (its batch size is
    * `expected / batches`), the spill threshold given the stream's event
    * count (0 = spill unconditionally), the late split, an observer of
    * each folded batch, and an optional spill-format pin.
    */
  final case class Fold(batches: Int, spillAtRows: Long => Long,
                        admit: Admit = admitAll,
                        onApplied: (IncrementalQ3.State, Long) => Unit = (_, _) => (),
                        format: Option[String] = None)

  /** A drained run, as its answer reads it. */
  final class Finished private[FoldDriver] (spark: SparkSession, work: String) {
    lazy val state: IncrementalQ3.State = Snapshots.loadLatest(spark, s"$work/snap")
      .getOrElse(sys.error("no snapshot after drain"))._1
    lazy val progress: Map[String, Long] = FoldDriver.progress(work).read()._2
    lazy val counts: Map[String, Long] = new Ledger(s"$work/counts").read()._2
  }

  /** The deadline of every wait in a run: 180 s plus 1 s per 20k events,
    * so a 10× sweep on a slow host still fits.
    */
  private def deadlineS(events: Long): Long = 180L + events / 20000L

  /** Polls every 25 ms until `done`, a query stops, or the deadline. */
  private def waitFor(events: Long, queries: Seq[StreamingQuery])
                     (done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + deadlineS(events) * 1000000000L
    while (!done && queries.forall(_.isActive) && System.nanoTime() < deadline)
      Thread.sleep(25)
    done
  }

  private def await(what: String, target: Long, queries: Seq[StreamingQuery])
                   (seen: => Long): Unit =
    require(waitFor(target, queries)(seen >= target),
      s"$what: saw $seen of $target events before timeout " +
        s"(query active: ${queries.forall(_.isActive)})")

  /** Awaits `q`'s termination by the injected fault — a failure of any
    * other cause is a latent bug, not the crash under test.
    */
  private def awaitCrash(q: StreamingQuery, events: Long): Unit = {
    val terminated =
      try q.awaitTermination(deadlineS(events) * 1000L)
      catch {
        case e: StreamingQueryException =>
          require(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(c => Option(c.getMessage).exists(_.contains(CrashMarker))),
            s"phase A died of an unexpected error: $e")
          true
      }
    require(terminated, "phase A did not terminate within the deadline")
  }

  /** ONE KILL/RESUME RUN over `broker`: the fold consumer and/or the counts
    * consumer (group `counts`, batches of `expected / 9`), phase A ended
    * by `kill`, phase B resumed from checkpoint + snapshot and drained to
    * exact count equality. `cycle` marks the full ± changelog (one delete
    * per insert): the kill must then land mid-TEARDOWN, the delete half
    * must drain exactly, and the converged aggregate must be exactly
    * empty. `answer` reads the drained run before the spill tables and the
    * work dir are dropped.
    */
  def run(spark: SparkSession, name: String, broker: Broker,
          fold: Option[Fold], counts: Boolean = false, kill: Kill,
          cycle: Boolean = false)(answer: Finished => DataFrame): DataFrame = {
    val groups = fold.map(_ => "fold").toSeq ++ (if (counts) Seq("counts") else Nil)
    val t = serve(spark, broker, groups)
    val work = Files.createTempDirectory(s"graft-$name").toString
    val spillRoot = s"$work/spill"
    try {
      val expected = t.expected
      require(expected > 0, "empty changelog — nothing to replay")
      fold.flatMap(_.format).foreach(SpillFormat.pin(spillRoot, _))
      StreamTune.prepare(spark)
      def start(group: String, batches: Int,
                sink: (DataFrame, Long) => Unit): StreamingQuery =
        t.reader(group, math.max(1L, expected / batches)).writeStream
          .queryName(s"graft_${name}_${group}_${t.handles.head.port}")
          .option("checkpointLocation", s"$work/ckpt_$group")
          .trigger(Trigger.ProcessingTime("50 milliseconds"))
          .foreachBatch(sink)
          .start()
      val ledger = progress(work)
      val totals = new Ledger(s"$work/counts")
      def foldSeen: Long = ledger("events")
      def countsSeen: Long = totals.read()._2.values.sum
      def startCounts(): StreamingQuery = start("counts", 9, countsSink(work))
      // the killable consumer: the fold, or the counts grain when alone
      def startFirst(crashAt: Option[Long]): StreamingQuery = fold match {
        case Some(f) => start("fold", f.batches, foldSink(spark, name, work,
          Some(spillRoot), f.spillAtRows(expected), f.admit, f.onApplied, crashAt))
        case None => startCounts()
      }
      def firstSeen: Long = if (fold.isDefined) foldSeen else countsSeen
      // the fold's session heartbeat on every partition, where the broker
      // evicts: stopped WITH the query, so the broker sees the kill as
      // silence, not a clean goodbye
      val evicts = broker.sessionTimeoutMs > 0L
      def pulses(): Seq[AutoCloseable] =
        if (!evicts) Nil
        else t.handles.map(h => ReplayServer.heartbeat(Host, h.port, "fold"))
      var first = startFirst(kill match { case CrashAt(b) => Some(b); case _ => None })
      var beats = pulses()
      val second = if (fold.isDefined && counts) Some(startCounts()) else None
      def queries = first +: second.toSeq
      try {
        kill match {
          case NoKill =>
            // the min-keyed flow-control pin: when the SLOW fold reaches a
            // third, staged − min(group watermarks) must sit inside the
            // producer's window. Reading staged FIRST and the watermarks
            // AFTER can only shrink the gap (watermarks are monotone), so
            // the bound holds on ANY host at ANY probe instant; max-keyed
            // pacing would put it near 2/3 of the stream
            await("fold consumer", expected / 3, queries)(foldSeen)
            t.handles.indices.foreach { i =>
              val staged = t.staged(i)
              val minServed = groups.map(t.served(i, _)).min
              require(staged - minServed <= t.window(i),
                "production outran the slow consumer group — flow control " +
                  s"is not keyed to the minimum watermark (staged=$staged, " +
                  s"minServed=$minServed, window=${t.window(i)})")
            }
          case _ =>
            kill match {
              case StopAt(at) => await("phase A", at(expected), Seq(first))(firstSeen)
              case CrashAt(b) =>
                awaitCrash(first, expected)
                // the pre-crash snapshot: EXACTLY the batch before the fault,
                // in-memory and un-engaged — so everything the spill policy
                // does is provably post-resume
                val (pre, preId) = Snapshots.loadLatest(spark, s"$work/snap")
                  .getOrElse(sys.error("no snapshot survived the crash"))
                require(preId == b - 1,
                  s"crash landed at snapshot b$preId, not b${b - 1} — the " +
                    "fault injection missed its batch")
                require(pre.spillHistory.isEmpty && !pre.spillEngaged,
                  "the pre-crash state already engaged the spill — nothing " +
                    "about the adaptive policy crosses the resume boundary")
              case NoKill =>
            }
            val servedAtKill =
              if (!evicts) Nil else t.handles.indices.map(t.served(_, "fold"))
            // captured BEFORE the stop (stop itself takes time): the kill
            // must land while the tail is still being produced, or the
            // arrival-driven path went unexercised
            val stagedAtKill = t.handles.indices.map(t.staged).sum
            require(stagedAtKill < expected,
              "the producer finished before the kill — the arrival-driven " +
                s"path went unexercised ($stagedAtKill of $expected staged)")
            first.stop()
            beats.foreach(_.close()); beats = Nil
            val afterKill = firstSeen
            require(afterKill < expected,
              "the kill must land mid-stream or the resume proves nothing " +
                s"(saw $afterKill of $expected before restart)")
            if (cycle) {
              // the TEARDOWN pins (structural, from the exactly-once ledger,
              // not timing): retraction folded into the killed state AND
              // retraction left for the resumed fold
              val deletesAtKill = ledger("deletes")
              require(deletesAtKill > 0,
                "the kill landed before any delete was folded — " +
                  "retraction never crossed the snapshot boundary")
              require(deletesAtKill < expected / 2,
                s"the kill landed after the teardown finished " +
                  s"($deletesAtKill of ${expected / 2} deletes)")
            }
            if (servedAtKill.nonEmpty) {
              // THE LIVENESS PIN: while the fold group is down, EVERY
              // partition's producer must advance past the dead group's
              // window — impossible while its frozen watermark still
              // paces, so reaching all targets proves every eviction (one
              // un-evicted partition stalls its producer and fails here)
              val targets = t.handles.indices.map(i => math.min(
                t.handles(i).expected, servedAtKill(i) + t.window(i) + 1))
              waitFor(expected, Nil)(t.handles.indices.forall(i => t.staged(i) >= targets(i)))
              t.handles.indices.foreach { i =>
                val staged = t.staged(i)
                require(staged >= targets(i),
                  s"partition $i did not advance while the dead group was " +
                    s"down — session eviction failed (staged=$staged, " +
                    s"target=${targets(i)}, foldServedAtKill=${servedAtKill(i)})")
              }
            }
            // phase B: restart from checkpoint + snapshot
            first = startFirst(None)
            beats = pulses()
        }
        await("drain", expected, queries)(
          if (second.isEmpty) firstSeen else math.min(foldSeen, countsSeen))
        require(
          (fold.isEmpty || foldSeen == expected) && (!counts || countsSeen == expected),
          s"exactly-once violated: fold=$foldSeen counts=$countsSeen of $expected")
        if (cycle) require(ledger("deletes") == expected / 2,
          s"exactly-once violated on the delete half: ${ledger("deletes")} " +
            s"!= ${expected / 2}")
      } finally {
        queries.foreach(_.stop())
        beats.foreach(_.close())
      }
      val fin = new Finished(spark, work)
      fold.foreach { f =>
        val st = fin.state
        val threshold = f.spillAtRows(expected)
        // TWO-SIDED spill pin: spilled ⇔ the state warranted it. Unspilled,
        // the final CONSOLIDATED state (an upper bound on every compaction-
        // time measurement) must be under the threshold — not spilling was
        // the policy's call, not a silent miss (threshold 0: must spill)
        if (st.spillHistory.isEmpty) {
          require(!st.spillEngaged, "threshold crossed but no spill version " +
            "was written — the engagement latch is broken")
          val rows = Seq(st.c, st.o, st.l, st.co)
            .map(z => ZSet.consolidate(z).count()).sum +
            st.aggs.map(_._2.count()).sum
          require(rows < threshold, s"the fold never spilled: its state grew " +
            s"to $rows rows, past the $threshold-row threshold")
        }
        if (cycle) {
          // exact cancellation: every insert was retracted through the
          // kill — decimal ± pairs cancel to 0, not ≈0
          val live = st.agg.count()
          require(live == 0, s"the ± cycle left $live live groups — " +
            "retraction lost or double-applied across the resume")
        }
      }
      answer(fin)
    } finally {
      t.handles.foreach(_.close())
      IncrementalQ3.cleanupSpillRoot(spark, spillRoot)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    }
  }

  /** The Q3 top-20 of `st` with `extra` constant columns, materialized —
    * it must outlive the spill tables it reads.
    */
  def q3Top(st: IncrementalQ3.State, extra: (String, Long)*): DataFrame = {
    val top = extra.foldLeft(IncrementalQ3.topN(st)
      .select(col("l_orderkey"),
        col("o_orderdate").cast("string").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))) { case (df, (c, v)) =>
      df.withColumn(c, lit(v))
    }
    val rows = top.collect().toIndexedSeq
    import scala.jdk.CollectionConverters._
    top.sparkSession.createDataFrame(rows.asJava, top.schema)
  }

  /** The counts consumer's totals as `(relation, action, n)` rows. */
  def countsFrame(spark: SparkSession, counts: Map[String, Long]): DataFrame = {
    import spark.implicits._
    counts.toSeq.map { case (k, n) =>
      val Array(rel, act) = k.split("/")
      (rel, act, n)
    }.toDF("relation", "action", "n").orderBy("relation", "action")
  }
}
