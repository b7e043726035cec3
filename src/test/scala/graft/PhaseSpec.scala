package graft

/** Phase job labels nest: leaving a phase restores the label that was set
  * when it was entered, never clears it. Jobs a fold fans out to the global
  * pool carry the label of the thread that started them.
  */
class PhaseSpec extends SparkSpec {

  test("a nested phase label restores the outer label, and the caller's on exit") {
    val sc = spark.sparkContext
    def label = sc.getLocalProperty("spark.job.description")
    val prev = label
    sc.setJobDescription("batch 7 of a streaming query")
    try {
      Phase.labelled("phase:outer") {
        assert(label == "phase:outer")
        Phase.labelled("phase:inner") {
          assert(label == "phase:inner")
        }
        assert(label == "phase:outer", "the inner phase erased the outer label")
      }
      assert(label == "batch 7 of a streaming query",
        "the phase erased the caller's own description")
      // restored on the failure path too
      intercept[IllegalStateException] {
        Phase.labelled("phase:failing") { throw new IllegalStateException("boom") }
      }
      assert(label == "batch 7 of a streaming query")
    } finally sc.setJobDescription(prev)
    // with no caller description, leaving a phase leaves none
    sc.setJobDescription(null)
    try {
      Phase.labelled("phase:only") { assert(label == "phase:only") }
      assert(label == null)
    } finally sc.setJobDescription(prev)
  }

  /** The job labels of every job `body` starts while every global-pool
    * worker carries the label "stale" — the way a worker made during an
    * earlier phase keeps that phase's label. `body` runs under "caller".
    */
  private def labelsUnderStalePool(body: => Unit): Seq[String] = {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def label = sc.getLocalProperty("spark.job.description")
    // set `l` on every worker of the global pool at once (each task holds
    // its worker until all have run): a worker keeps the label it last had
    def labelPool(l: String): Unit = {
      val n = Runtime.getRuntime.availableProcessors
      val all = new CountDownLatch(n)
      Await.result(Future.sequence((1 to n).map(_ => Future {
        sc.setJobDescription(l); all.countDown(); all.await(30, TimeUnit.SECONDS)
      })), 60.seconds)
    }
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    val prev = label
    labelPool("stale")
    sc.addSparkListener(listener)
    try {
      assert(Await.result(Future(label), 10.seconds) == "stale",
        "fixture bug: the pool workers must carry the stale label")
      sc.setJobDescription("caller")
      body
      // the listener bus delivers in order: once this job is seen, every
      // job the body started has been too
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("sentinel"), "listener never saw the sentinel job")
      seen.toArray(Array.empty[String]).toSeq.takeWhile(_ != "sentinel")
    } finally {
      sc.removeSparkListener(listener)
      labelPool(null)
      sc.setJobDescription(prev)
    }
  }

  test("upkeep pins run under the caller's job label, not a pool thread's stale one") {
    import streaming.{Changelog, IncrementalQ3}
    val seen = labelsUnderStalePool {
      IncrementalQ3.step(IncrementalQ3.init(spark),
        Changelog.generateCached(spark, sfDir, insertOnly = true).select("line"))
    }
    assert(seen.contains("caller"), s"the step ran no job under its caller's label: $seen")
    assert(!seen.contains("stale"), s"a pin job ran under a pool worker's stale label: $seen")
  }

  test("spilled compactions: probe and MERGE jobs run under the caller's job label") {
    // eight batches over a spill root compact twice: a full write, then an
    // incremental one that probes its dirty buckets; both MERGE every
    // state concurrently from the global pool
    import spark.implicits._
    import streaming.IncrementalQ3
    def li(ok: Long) = s"+LI|$ok|1|1|1|1.0|100.0|0.05|0.02|N|O|1995-06-01"
    val batches = (1L to 40L).map(k => Seq(s"+CU|$k|c$k|0|100.0|BUILDING",
      s"+OR|$k|$k|O|100.0|1995-01-01|1-URGENT", li(k))).flatten +:
      (100L to 106L).map(k => Seq(li(k)))
    val root = tempDir("graft-phase-spill")
    var fin: IncrementalQ3.State = null
    val seen = labelsUnderStalePool {
      fin = batches.foldLeft(IncrementalQ3.init(spark)) { (st, ls) =>
        IncrementalQ3.step(st, ls.toDF("line"), spillDir = Some(root))
      }
    }
    assert(fin.spillHistory.length == 2,
      s"fixture bug: expected two compactions, got history ${fin.spillHistory}")
    assert(seen.contains("caller"), s"the fold ran no job under its caller's label: $seen")
    assert(!seen.contains("stale"),
      s"a probe or MERGE job ran under a pool worker's stale label: $seen")
  }
}
