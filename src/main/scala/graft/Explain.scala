package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection utility: print the formatted physical plan of any
  * registered query. `sbt "runMain graft.Explain q3_batch [sfDir]"` —
  * the review loop for checking PushedFilters / pruned ReadSchema /
  * broadcast choices / WholeStageCodegen spans per operator.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q3_batch")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, dir)
    println(df.queryExecution.explainString(ExplainMode.fromString(
      sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted"))))
    spark.stop()
  }
}
