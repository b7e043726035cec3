package graft
import org.apache.spark.sql.SparkSession

/** Time individual queries in a fresh JVM, isolated like Bench isolates
  * (resetSession between queries, the fold memo invalidated before each)
  * — the tool for separating a genuine per-query regression from
  * bench-session or host effects:
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Solo q3_batch changelog_counts" }}}
  *
  * Run a name twice to see warm-vs-cold codegen cost.
  */
object Solo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.envCpus()
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    for (name <- args) {
      // the fold memo outlives resetSession: without this a repeated name
      // would time a memo read, not a second execution
      streaming.StreamQueries.invalidateFold(spark)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[solo] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      streaming.Changelog.resetSession(spark)
    }
    spark.stop()
  }
}
