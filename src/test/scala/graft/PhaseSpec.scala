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

  test("upkeep pins run under the caller's job label, not a pool thread's stale one") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import streaming.{Changelog, IncrementalQ3}
    val sc = spark.sparkContext
    def label = sc.getLocalProperty("spark.job.description")
    // set `l` on every worker of the global pool at once (each task holds
    // its worker until all have run): a worker keeps the label it last had,
    // the way one made during an earlier phase keeps that phase's label
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
      IncrementalQ3.step(IncrementalQ3.init(spark),
        Changelog.generateCached(spark, sfDir, insertOnly = true).select("line"))
      // the listener bus delivers in order: once this job is seen, every
      // job the step started has been too
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("sentinel"), "listener never saw the sentinel job")
      assert(seen.contains("caller"), s"the step ran no job under its caller's label: $seen")
      assert(!seen.contains("stale"), s"a pin job ran under a pool worker's stale label: $seen")
    } finally {
      sc.removeSparkListener(listener)
      labelPool(null)
      sc.setJobDescription(prev)
    }
  }
}
