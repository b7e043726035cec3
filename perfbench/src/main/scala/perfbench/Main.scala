package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.Relational
import graft.streaming.{Changelog, IncrementalQ3}

/** The Changelog-Q3 benchmark: TPC-H Q3 kept incrementally over a ±CU/OR/LI
  * insert/delete changelog, the reference's headline workload.
  *
  * {{{ java -cp … perfbench.Main --workload q3_cycle_bulk --seed 1 --seconds 12 --trace 0 \
  *       --smoke 0 --work DIR --record FILE }}}
  *
  * One JVM, one Spark session sized to the host's cores. Setup stages the
  * seeded tables, generates and pins the changelog, computes the batch
  * oracle and runs an untimed warm-up pass. The timed passes then run
  * until `--seconds` is spent; every batch and every correctness check is
  * one operation. The result (last stdout line) carries the end-to-end
  * metrics, or with `--trace 1` the per-layer metrics of one traced pass
  * that follows one untraced pass. `--record` receives the result with
  * the host stamp and the samples behind it.
  *
  * The library is called only through `Changelog.generate`,
  * `IncrementalQ3.init`/`step`/`topN`, `Relational.q3Batch` and the
  * `SparkEntry.queries` registry.
  */
object Main {

  /** A fold workload: fixture scale, micro-batches per pass, and the
    * changelog's sliding-window capacity as a divisor of the lineitem count
    * (1 = the reference's build-up-then-tear-down stream). `oracleAfter`
    * is the batch count after which every insert and no delete has been
    * applied, where the top-20 must equal the batch Q3. */
  final case class FoldShape(sf: Double, batches: Int, windowDiv: Long, oracleAfter: Option[Int])

  val Workloads = Seq("q3_cycle_bulk", "q3_window_fine", "q3_replay_resume")

  /** The reference's stream shape, the full build-up-then-tear-down cycle
    * (capacity = nL), in 8 micro-batches: 4 insert-only ones, then 4 with
    * deletes, the last of which compacts the base state in memory. After
    * batch 4 every insert and no delete has been applied. */
  def bulk(smoke: Boolean) = FoldShape(if (smoke) 0.001 else 0.01, 8, 1, Some(4))
  /** A sliding window (capacity nL/4, deletes from a quarter of the way
    * in) in 16 small micro-batches: per-batch fixed cost dominates
    * (scheduling, planning, pins, emission). */
  def fine(smoke: Boolean) = FoldShape(if (smoke) 0.001 else 0.002, 16, 4, None)
  /** Scale of the tables the replay composition stages its changelog from. */
  val ReplaySf = 0.001

  /** Untimed passes of the measured workload before the timed ones. The
    * first pass in a fresh JVM is the slowest (JIT compilation, class
    * loading, heap growth); the untimed pass moves that into setup. */
  val WarmupPasses = 1

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, work: String, record: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("smoke").contains("1"), need("work"), need("record"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  /** Counts operations (micro-batches and correctness checks). */
  final class Ops {
    var attempted = 0L
    var failed = 0L
    def check(what: String)(ok: => Boolean): Boolean = {
      attempted += 1
      val r = try ok catch { case e: Exception => System.err.println(s"[perfbench] $what: $e"); false }
      if (!r) { failed += 1; System.err.println(s"[perfbench] CHECK FAILED: $what") }
      r
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples above it; the median
    * when there are too few samples for that. */
  def tail(xs: Seq[Double]): Double =
    quantile(xs, math.max(0.5, 1.0 - 10.0 / xs.size))

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Top-20 rows as comparable tuples: (orderkey, orderdate, priority, revenue). */
  def rowsOf(rows: Seq[Row]): Seq[(Long, String, String, Double)] = rows.map { r =>
    (r.getAs[Number]("l_orderkey").longValue, String.valueOf(r.getAs[Any]("o_orderdate")),
      r.getAs[String]("o_orderpriority"), r.getAs[Number]("revenue").doubleValue)
  }

  def sameTop(got: Seq[Row], want: Seq[Row]): Boolean = {
    val (g, w) = (rowsOf(got), rowsOf(want))
    g.size == w.size && w.nonEmpty && g.zip(w).forall { case (a, b) =>
      a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && math.abs(a._4 - b._4) < 0.005
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(!java.lang.Boolean.getBoolean("graft.strict"),
      "graft.strict adds a full aggregate merge to every step: not a measured configuration")
    val cores = Runtime.getRuntime.availableProcessors
    val steal0 = Host.cpuTimes()
    val spark = session(cores, o.work)
    val gc = new Gc
    val trace = new Trace(spark)
    val ops = new Ops
    val run = new Run(spark, o, cores, gc, trace, ops)
    run.note("session ready")
    val metrics = o.workload match {
      case "q3_cycle_bulk" => run.fold(bulk(o.smoke))
      case "q3_window_fine" => run.fold(fine(o.smoke))
      case "q3_replay_resume" => run.replay(ReplaySf)
    }
    run.note("measured")
    trace.close()
    spark.stop()
    run.note("session stopped")
    val stamp = Host.stamp(cores, steal0)
    val result = Json.obj(
      "correct" -> (ops.failed == 0 && ops.attempted > 0),
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    Files.write(Paths.get(o.record), Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "stamp" -> stamp,
      "detail" -> Json.obj(run.detail.toSeq: _*), "result" -> result)
      .s.getBytes(StandardCharsets.UTF_8))
    println(result)
  }
}

/** One run of one workload. */
final class Run(spark: SparkSession, o: Main.Opts, cores: Int, gc: Gc, trace: Trace, ops: Main.Ops) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Extra record fields: sample counts, per-pass heap peaks, trace spans. */
  val detail = mutable.LinkedHashMap.empty[String, Any]

  private type Metrics = Seq[(String, (Double, String))]

  /** A changelog split into pinned micro-batches. */
  private final case class Batches(pins: Vector[DataFrame], counts: Vector[Long], generateS: Double) {
    def events: Long = counts.sum
  }

  /** Per-pass measurements. */
  private final case class Pass(batchMs: Vector[Double], events: Long, heapMb: Double, gcS: Double)

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr, seconds since JVM start. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s: $what")

  /** Drop every cached block except `keep` (the pinned inputs): the state a
    * finished pass leaves must not crowd the next pass's storage. */
  private def release(keep: Set[Int]): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Stages the seeded tables: their directory and sizes. */
  private def stageTables(sf: Double): (String, Stage.Sizes) = {
    val t0 = System.nanoTime()
    val dir = s"${o.work}/tables"
    val n = trace.span("stage")(Stage.write(spark, sf, o.seed, dir))
    detail += "stage_s" -> secondsSince(t0)
    (dir, n)
  }

  /** Generates the changelog and pins it as `k` trigger-ordered
    * micro-batches, the slicing `IncrementalQ3.runBatches` uses. */
  private def batches(dir: String, n: Stage.Sizes, k: Int, capacity: Long): Batches = {
    // the last event is the last lineitem's delete, at trigger nL + capacity
    val tMax = n.lineitems + capacity
    val g0 = System.nanoTime()
    // hash-spread over the cores once, so that each batch below is a
    // narrow filter with its events spread evenly over `cores` partitions
    val events = trace.span("changelog.generate") {
      Changelog.generate(spark, dir, capacity = Some(capacity))
        .select(least(expr(s"CAST(((t - 1L) * ${k}L) DIV ${tMax}L AS INT)"), lit(k - 1)).as("batch"),
          col("idx"), col("line"))
        .repartition(cores, col("batch"), col("idx"))
        .localCheckpoint(eager = true)
    }
    val generateS = secondsSince(g0)
    // each batch is handed over as its own pinned frame, so a step reads
    // exactly its batch
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pins = (0 until k).toVector.map { b =>
      events.filter(col("batch") === b).select("line").localCheckpoint(eager = true)
    }
    val perBatch = events.groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // keep only the batch pins: the whole-changelog checkpoint is done
    release(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
    Batches(pins, Vector.tabulate(k)(b => perBatch.getOrElse(b, 0L)), generateS)
  }

  /** One pass over pinned batches, closed loop: batch b+1 is handed over
    * only after batch b's top-20 is collected. A timed pass counts each
    * batch and check as an operation; `checks(b, top)` runs after batch b.
    * Returns None when a batch fails. */
  private def foldPass(in: Batches, timed: Boolean, keep: Set[Int])(
      checks: (Int, Seq[Row]) => Unit): Option[Pass] = {
    trace.clear()
    if (timed) gc.begin()
    val ms = Vector.newBuilder[Double]
    var state = IncrementalQ3.init(spark)
    var ok = true
    var b = 0
    while (ok && b < in.pins.size) {
      val t0 = System.nanoTime()
      val top = try {
        state = trace.span("step", b)(IncrementalQ3.step(state, in.pins(b), spillDir = None))
        Some(trace.span("emit", b)(IncrementalQ3.topN(state).collect().toSeq))
      } catch { case e: Exception => System.err.println(s"[perfbench] batch $b: $e"); None }
      ms += (System.nanoTime() - t0) / 1e6
      ok = if (timed) ops.check(s"batch $b folded and emitted")(top.nonEmpty) else top.nonEmpty
      if (ok && timed) {
        if (trace.recording) stateRowsMax = math.max(stateRowsMax,
          trace.span("state_count", b)(state.all.map(_.count()).sum))
        checks(b, top.get)
      }
      b += 1
    }
    val (heap, gcS) = if (timed) gc.end() else (0.0, 0.0)
    trace.drain()
    val jobs = trace.jobs.values.toSeq
    val read = jobs.map(_.recordsRead).sum
    if (timed && ok) ops.check(s"the pass ran Spark jobs (${jobs.size}) and read at " +
        s"least the rows it folded ($read >= ${in.events})")(jobs.nonEmpty && read >= in.events)
    release(keep)
    if (ok) Some(Pass(ms.result(), in.events, heap, gcS)) else None
  }

  private var stateRowsMax = 0L

  private def oracle(dir: String): Seq[Row] = {
    val o0 = System.nanoTime()
    val rows = trace.span("q3Batch")(Relational.q3Batch(spark, dir).collect().toSeq)
    detail += "oracle_s" -> secondsSince(o0)
    ops.check("batch oracle is non-empty")(rows.nonEmpty)
    rows
  }

  /** `setup_s`: JVM start to now. */
  private def setupDone(warm0: Long): Double = {
    detail += "warmup_s" -> secondsSince(warm0)
    note("set up")
    (System.currentTimeMillis() - jvmStartMs) / 1000.0
  }

  /** End-to-end metrics over the timed passes: events/s is all events
    * over all batch time, the batch latency the median over all batches,
    * the heap peak the median of the per-pass peaks. */
  private def endToEnd(passes: Seq[Pass], setupS: Double): Metrics = {
    val ms = passes.flatMap(_.batchMs)
    detail ++= Seq("passes" -> passes.size, "batch_samples" -> ms.size,
      "events_per_s_by_pass" -> passes.map(p => eps(Some(p))),
      "heap_peak_mb_by_pass" -> passes.map(_.heapMb))
    Seq(
      "events_per_s" -> (passes.map(_.events).sum / math.max(1e-9, ms.sum / 1000), "1/s"),
      "batch_ms_p50" -> (median(ms), "ms"),
      "setup_s" -> (setupS, "s"),
      "heap_peak_mb" -> (median(passes.map(_.heapMb)), "MB"))
  }

  private def eps(p: Option[Pass]): Double =
    p.map(x => x.events / math.max(1e-9, x.batchMs.sum / 1000)).getOrElse(0.0)

  /** Runs timed passes until `o.seconds` is spent; the last pass may run
    * past it. */
  private def timedPasses[P](pass: Boolean => Option[P]): Vector[P] = {
    val out = Vector.newBuilder[P]
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || secondsSince(t0) < o.seconds) {
      val p0 = System.nanoTime()
      pass(true).foreach(out += _)
      note(f"timed pass $n: ${secondsSince(p0)}%.2f s")
      n += 1
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // q3_cycle_bulk / q3_window_fine: the benchmark drives IncrementalQ3
  // ------------------------------------------------------------------

  def fold(shape: FoldShape): Metrics = {
    val (dir, n) = stageTables(shape.sf)
    val in = batches(dir, n, shape.batches, math.max(1L, n.lineitems / shape.windowDiv))
    ops.check(s"events folded per pass ${in.events} == 2 x (nL + nO + nC) = ${2 * n.rows}")(
      in.events == 2 * n.rows)
    val want = oracle(dir)
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    detail ++= Seq("generate_s" -> in.generateS, "batch_events" -> in.counts)
    def pass(timed: Boolean) = foldPass(in, timed, keep) { (b, top) =>
      if (shape.oracleAfter.contains(b + 1))
        ops.check(s"top-20 after batch ${b + 1} of ${shape.batches} equals q3Batch")(sameTop(top, want))
      if (b == shape.batches - 1) ops.check("converged top-20 is empty")(top.isEmpty)
    }
    note("staged")
    val w0 = System.nanoTime()
    for (i <- 1 to WarmupPasses) ops.check(s"warm-up pass $i completed")(pass(timed = false).nonEmpty)
    val setupS = setupDone(w0)
    if (!o.trace) endToEnd(timedPasses(pass), setupS)
    else {
      val plain = pass(true)
      trace.recording = true
      val traced = pass(true)
      trace.recording = false
      detail += "heap_peak_mb_by_pass" -> Seq(plain, traced).flatten.map(_.heapMb)
      foldLayers(shape.batches, traced, in.generateS, eps(plain) / math.max(1e-9, eps(traced)) - 1)
    }
  }

  private def foldLayers(batches: Int, traced: Option[Pass], generateS: Double,
                         overhead: Double): Metrics = {
    val jobs = trace.jobs.values.toSeq
    val spans = trace.spans.toSeq
    def inSpans(name: String) = jobs.filter(j => spans.exists(s => s.name == name && s.holds(j)))
    val step = inSpans("step")
    val emit = inSpans("emit")
    def taskS(js: Seq[Trace.Job], labels: String*) =
      js.filter(j => labels.exists(j.desc.contains)).map(_.runMs).sum / 1000.0
    val stepMs = spans.filter(_.name == "step").map(_.ms)
    val emitMs = spans.filter(_.name == "emit").map(_.ms)
    val window = spans.filter(s => s.name == "step" || s.name == "emit")
    val plans = trace.plans.toSeq.filter(p => window.exists(s => p.startMs >= s.startMs && p.startMs <= s.endMs))
    val tasks = step.map(_.tasks).sum
    detail ++= Seq("spans" -> spans.map(s => Json.obj("name" -> s.name, "batch" -> s.batch,
      "start_ms" -> s.startMs, "ms" -> s.ms)), "step_samples" -> stepMs.size)
    layerMetrics(
      generateS = generateS,
      parseTaskS = taskS(step, "ivm.step.parsePin"),
      deltaJoinTaskS = taskS(step, "ivm.step.build.dco", "ivm.step.build.daggs"),
      shuffleWriteMb = step.map(_.shuffleWriteBytes).sum / 1048576.0,
      stepMs = stepMs,
      jobsPerBatch = step.size.toDouble / batches,
      tasksPerBatch = tasks.toDouble / batches,
      emptyTaskFrac = step.map(_.emptyTasks).sum.toDouble / math.max(1L, tasks),
      busyFrac = step.map(_.runMs).sum / math.max(1e-9, stepMs.sum * cores),
      upkeepTaskS = taskS(step, "ivm.step.upkeepPin"),
      stateRowsMax = stateRowsMax,
      emitMsP50 = median(emitMs),
      emitJobsPerBatch = emit.size.toDouble / batches,
      planMsPerBatch = plans.map(_.ms).sum.toDouble / batches,
      actionsPerBatch = plans.size.toDouble / batches,
      replay = (0.0, 0.0, 0.0, 0.0, 0.0),
      writeMb = jobs.map(_.outputBytes).sum / 1048576.0,
      gcS = traced.map(_.gcS).getOrElse(0.0),
      overhead = overhead)
  }

  private def layerMetrics(generateS: Double, parseTaskS: Double, deltaJoinTaskS: Double,
                           shuffleWriteMb: Double, stepMs: Seq[Double], jobsPerBatch: Double,
                           tasksPerBatch: Double, emptyTaskFrac: Double, busyFrac: Double,
                           upkeepTaskS: Double, stateRowsMax: Long, emitMsP50: Double,
                           emitJobsPerBatch: Double, planMsPerBatch: Double,
                           actionsPerBatch: Double,
                           replay: (Double, Double, Double, Double, Double),
                           writeMb: Double, gcS: Double, overhead: Double): Metrics = Seq(
    "changelog.generate_s" -> (generateS, "s"),
    "changelog.parse_task_s" -> (parseTaskS, "s"),
    "zset.delta_join_task_s" -> (deltaJoinTaskS, "s"),
    "zset.shuffle_write_mb" -> (shuffleWriteMb, "MB"),
    "incrementalq3.step_ms_p50" -> (median(stepMs), "ms"),
    "incrementalq3.step_ms_tail" -> (tail(stepMs), "ms"),
    "incrementalq3.jobs_per_batch" -> (jobsPerBatch, "count"),
    "incrementalq3.tasks_per_batch" -> (tasksPerBatch, "count"),
    "incrementalq3.empty_task_frac" -> (emptyTaskFrac, "frac"),
    "incrementalq3.busy_frac" -> (busyFrac, "frac"),
    "incrementalq3.upkeep_task_s" -> (upkeepTaskS, "s"),
    "incrementalq3.state_rows_max" -> (stateRowsMax.toDouble, "rows"),
    "emit.topn_ms_p50" -> (emitMsP50, "ms"),
    "emit.jobs_per_batch" -> (emitJobsPerBatch, "count"),
    "catalyst.plan_ms_per_batch" -> (planMsPerBatch, "ms"),
    "catalyst.actions_per_batch" -> (actionsPerBatch, "count"),
    "replay.offset_ms_per_batch" -> (replay._1, "ms"),
    "replay.add_batch_ms_p50" -> (replay._2, "ms"),
    "replay.commit_ms_per_batch" -> (replay._3, "ms"),
    "replay.useful_batch_frac" -> (replay._4, "frac"),
    "replay.recovery_s" -> (replay._5, "s"),
    "storage.write_mb" -> (writeMb, "MB"),
    "jvm.gc_s" -> (gcS, "s"),
    "trace.overhead_frac" -> (overhead, "frac"))

  // ------------------------------------------------------------------
  // q3_replay_resume: the registered composition, observed from outside
  // ------------------------------------------------------------------

  def replay(sf: Double): Metrics = {
    val (dir, _) = stageTables(sf)
    val want = oracle(dir)
    val query = SparkEntry.queries("stream_q3_replay_resume")

    /** One kill-and-resume composition. Its data micro-batches are the
      * samples, as the streaming-query listener reports them; a batch
      * that completes just as the first run is stopped may go unreported
      * and then counts neither its events nor its time. */
    def pass(timed: Boolean): Option[Pass] = {
      trace.clear()
      if (timed) gc.begin()
      val out = try Some(trace.span("stream_q3_replay_resume")(query(spark, dir).collect().toSeq))
        catch { case e: Exception => System.err.println(s"[perfbench] replay: $e"); None }
      val (heap, gcS) = if (timed) gc.end() else (0.0, 0.0)
      trace.drain()
      val data = trace.progress.filter(_.rows > 0).toVector
      val events = data.groupBy(_.batchId).values.map(_.head.rows).sum
      val jobs = trace.jobs.values.toSeq
      val read = jobs.map(_.recordsRead).sum
      if (timed) {
        ops.attempted += data.size
        if (ops.check("stream_q3_replay_resume completed")(out.nonEmpty)) {
          ops.check("stream_q3_replay_resume equals q3Batch")(sameTop(out.get, want))
          ops.check(s"the pass ran Spark jobs (${jobs.size}) and read at least the rows " +
            s"it folded ($read >= $events)")(data.nonEmpty && read >= events)
        }
      }
      release(Set.empty)
      out.map(_ => Pass(data.map(_.triggerMs), events, heap, gcS))
    }

    note("staged")
    val w0 = System.nanoTime()
    for (i <- 1 to WarmupPasses)
      ops.check(s"warm-up composition $i completed")(pass(timed = false).nonEmpty)
    val setupS = setupDone(w0)
    if (!o.trace) endToEnd(timedPasses(pass), setupS)
    else {
      val plain = pass(true)
      trace.recording = true
      val p0 = System.currentTimeMillis()
      val traced = pass(true)
      val p1 = System.currentTimeMillis()
      trace.recording = false
      detail += "heap_peak_mb_by_pass" -> Seq(plain, traced).flatten.map(_.heapMb)
      replayLayers(traced, p0, p1, eps(plain) / math.max(1e-9, eps(traced)) - 1)
    }
  }

  /** Per-layer metrics of a traced composition. The library, not the
    * benchmark, calls `step` here, so a step is the jobs the library
    * labels `phase:ivm.step.*` that started within one data micro-batch's
    * trigger window, as the streaming-query listener reports it, timed
    * from the first one's start to the last one's end. (A job property
    * cannot tell the batch: `step` submits some of its jobs from pool
    * threads, which keep the properties of the moment they were made.)
    * The composition generates its own changelog, so
    * `changelog.generate_s` reads 0 here. */
  private def replayLayers(traced: Option[Pass], startMs: Long, endMs: Long,
                           overhead: Double): Metrics = {
    val jobs = trace.jobs.values.toSeq
    val data = trace.progress.filter(_.rows > 0).toVector
    val perBatch = data.map(p => jobs.filter(j => j.desc.startsWith("phase:ivm.step") &&
      j.startMs >= p.startMs && j.startMs <= p.endMs)).filter(_.nonEmpty)
    val step = perBatch.flatten
    val stepMs = perBatch.map(js => (js.map(_.endMs).max - js.map(_.startMs).min).toDouble)
    val batches = math.max(1, perBatch.size)
    val tasks = step.map(_.tasks).sum
    def taskS(labels: String*) =
      step.filter(j => labels.exists(j.desc.contains)).map(_.runMs).sum / 1000.0
    val plans = trace.plans.toSeq.filter(p => p.startMs >= startMs && p.startMs <= endMs)
    val execs = math.max(1, data.size)
    val runA = trace.terminated.headOption
    val recoveryS = runA.flatMap { case (id, at) =>
      data.find(p => p.runId != id && p.seenMs >= at).map(p => (p.seenMs - at) / 1000.0)
    }.getOrElse(0.0)
    detail ++= Seq("step_samples" -> stepMs.size, "batch_executions" -> data.size,
      "progress" -> data.map(p => Json.obj("run" -> p.runId.toString, "batch" -> p.batchId,
        "rows" -> p.rows, "trigger_ms" -> p.triggerMs, "add_batch_ms" -> p.addBatchMs)))
    layerMetrics(
      generateS = 0.0,
      parseTaskS = taskS("ivm.step.parsePin"),
      deltaJoinTaskS = taskS("ivm.step.build.dco", "ivm.step.build.daggs"),
      shuffleWriteMb = step.map(_.shuffleWriteBytes).sum / 1048576.0,
      stepMs = stepMs,
      jobsPerBatch = step.size.toDouble / batches,
      tasksPerBatch = tasks.toDouble / batches,
      emptyTaskFrac = step.map(_.emptyTasks).sum.toDouble / math.max(1L, tasks),
      busyFrac = step.map(_.runMs).sum / math.max(1e-9, stepMs.sum * cores),
      upkeepTaskS = taskS("ivm.step.upkeepPin"),
      stateRowsMax = 0L,
      emitMsP50 = 0.0,
      emitJobsPerBatch = 0.0,
      planMsPerBatch = plans.map(_.ms).sum.toDouble / execs,
      actionsPerBatch = plans.size.toDouble / execs,
      replay = (data.map(_.offsetMs).sum / execs, median(data.map(_.addBatchMs)),
        data.map(_.commitMs).sum / execs, data.map(_.batchId).distinct.size.toDouble / execs,
        recoveryS),
      writeMb = jobs.map(_.outputBytes).sum / 1048576.0,
      gcS = traced.map(_.gcS).getOrElse(0.0),
      overhead = overhead)
  }
}
