package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Per-job attribution for a registered query (guide §1: decide whether
  * time goes to shuffle, compute, or scheduling BEFORE changing code).
  * Times each named query in a fresh JVM, isolated like [[Bench]]
  * isolates (resetSession between queries, the fold memo invalidated
  * before each), with a listener that records every Spark job's wall
  * time, summed task time, task count, and shuffle bytes — the local-mode
  * stand-in for the Spark UI's Jobs/Stages pages (the UI is disabled in
  * this harness). The tool for separating a genuine per-query regression
  * from bench-session or host effects; run a name twice to see warm-vs-cold
  * codegen cost.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Prof changelog_counts" }}}
  */
object Prof {

  private final class JobRec(val id: Int) {
    @volatile var start = 0L
    @volatile var end = 0L
    @volatile var desc = ""
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.range(1000).selectExpr("sum(id)").collect()

    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = new JobRec(e.jobId)
        r.start = e.time
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, r)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // a stage can be absent (dropped listener-bus event, or a task end
        // racing its job start): skip it instead of NPE-unboxing inside
        // the listener, which would silently drop the metrics AND spam
        // the listener-bus error log (ADVICE r14). Entries are only ever
        // cleared between queries, so containsKey→get cannot race a remove.
        val r = if (!stageToJob.containsKey(e.stageId)) null
                else jobs.get(stageToJob.get(e.stageId))
        if (r != null && e.taskMetrics != null) {
          r.tasks.incrementAndGet()
          r.taskTimeMs.addAndGet(e.taskMetrics.executorRunTime)
          r.shuffleRead.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
          r.shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          r.stages.add(e.stageId)
        }
      }
    })

    for (name <- args) {
      jobs.clear(); stageToJob.clear()
      // the fold memo outlives resetSession: without this a repeated name
      // would time a memo read, not a second execution
      streaming.StreamQueries.invalidateFold(spark)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async — let the tail land
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val rs = jobs.values.asScala.toSeq.sortBy(_.id)
      println(f"[prof] $name: $wall%.1f s wall, ${rs.size} jobs, " +
        f"${rs.map(r => (r.end - r.start) / 1e3).sum}%.1f s in-job")
      rs.foreach { r =>
        println(f"[prof]   job ${r.id}%4d ${(r.end - r.start) / 1e3}%7.2fs " +
          f"tasks=${r.tasks.get}%4d taskTime=${r.taskTimeMs.get / 1e3}%8.2fs " +
          f"sRead=${r.shuffleRead.get / 1e6}%8.1fMB sWrite=${r.shuffleWrite.get / 1e6}%8.1fMB " +
          s"${r.desc.take(110)}")
      }
      streaming.Changelog.resetSession(spark)
    }
    spark.stop()
  }
}
