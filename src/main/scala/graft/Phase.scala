package graft

/** Wall-clock phase logging for the composed streaming queries, off by
  * default (`-Dgraft.phase.log=true` enables). The bench's per-query
  * seconds say WHICH composition is expensive; this says WHERE inside it
  * the time goes (staging, per-batch fold, snapshot I/O, drain waits) —
  * the measure-first loop of the optimization guide applied to queries
  * whose cost is a composition of driver-side phases rather than one
  * Catalyst plan.
  */
object Phase {
  private val on = java.lang.Boolean.getBoolean("graft.phase.log")
  def enabled: Boolean = on
  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      // label the phase's Spark jobs too (guide §1.5) so graft.Prof's
      // per-job rows attribute to phases — thread-local, diagnostic-only
      val t0 = System.nanoTime()
      try labelled(s"phase:$name")(body)
      finally System.err.println(
        f"[phase] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

  /** Run `body` with this thread's Spark job description set to `label`,
    * then put back the caller's description (or none). Restoring rather
    * than clearing keeps an outer label alive across a nested phase (an
    * `ivm.step.*` phase inside a replay micro-batch's phase) and leaves
    * Structured Streaming's own per-batch description intact for the rest
    * of a `foreachBatch`.
    */
  private[graft] def labelled[A](label: String)(body: => A): A =
    context match {
      case None => body
      case Some(sc) =>
        val prev = sc.getLocalProperty(JobDescription)
        sc.setJobDescription(label)
        try body finally sc.setJobDescription(prev)
    }

  /** Run `bodies` concurrently on the global pool and wait for all of
    * them, each under the calling thread's job label. A pool thread keeps
    * the label of the moment it was made, which would file its jobs under
    * whatever phase happened to start that thread.
    */
  private[graft] def concurrently[A](bodies: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val label = context.map(_.getLocalProperty(JobDescription)).orNull
    Await.result(Future.sequence(bodies.map(b => Future(labelled(label)(b())))),
      Duration.Inf)
  }

  private def context: Option[org.apache.spark.SparkContext] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)

  private val JobDescription = "spark.job.description"
}
