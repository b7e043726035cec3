package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the library, and the Spark,
  * query-execution and streaming-query listener counts that fall in them.
  *
  * Every Spark job is attributed to the benchmark span it started in, by
  * time: the benchmark makes its calls one at a time from one thread, so
  * span windows do not overlap. (A thread-local job property would not do:
  * the library submits some jobs from pool threads, which keep the
  * properties of the moment they were created.) Within a `step`, the
  * library's own `-Dgraft.phase.log` job labels (`phase:ivm.step.*`) split
  * the work further. Spans are kept in memory and written out at the end
  * of the run. Jobs and streaming progress are always collected (the
  * measuring runs need them for the memo guard and the replay batch
  * times); spans and query plans only while the trace is [[recording]].
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  @volatile var recording = false

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val plans = mutable.ArrayBuffer.empty[Plan]
  val progress = mutable.ArrayBuffer.empty[Progress]
  val terminated = mutable.ArrayBuffer.empty[(java.util.UUID, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def span[A](name: String, batch: Int = -1)(body: => A): A = {
    val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.nanoTime()
      if (recording) spans.synchronized {
        spans += Span(spans.size, name, batch, m0, System.currentTimeMillis(), (t1 - t0) / 1e6)
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.job.description"), e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        j.recordsRead += read
        if (read == 0) j.emptyTasks += 1
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) plans.synchronized {
          plans += Plan(ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress += Progress(p.runId, p.batchId, p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"),
          d("latestOffset") + d("getBatch"), d("addBatch"),
          d("walCommit") + d("commitOffsets"), System.currentTimeMillis())
      }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      progress.synchronized(terminated += (e.runId -> System.currentTimeMillis()))
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Blocks until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(sc)

  def clear(): Unit = synchronized {
    spans.clear(); jobs.clear(); plans.clear(); stageJob.clear()
    progress.synchronized { progress.clear(); terminated.clear() }
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  final case class Span(id: Int, name: String, batch: Int, startMs: Long, endMs: Long, ms: Double) {
    def holds(j: Job): Boolean = j.startMs >= startMs && j.startMs < endMs
  }
  final case class Job(id: Int, desc: String, startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0L
    var emptyTasks = 0L
    var runMs = 0L
    var recordsRead = 0L
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
  }
  final case class Plan(startMs: Long, ms: Long)
  /** One micro-batch execution: its trigger started at `startMs` and took
    * `triggerMs`; the listener saw it at `seenMs`. */
  final case class Progress(runId: java.util.UUID, batchId: Long, rows: Long, startMs: Long,
                            triggerMs: Double, offsetMs: Double, addBatchMs: Double,
                            commitMs: Double, seenMs: Long) {
    def endMs: Long = startMs + triggerMs.toLong
  }
}
