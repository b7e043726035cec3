package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.ZSet

/** Plan-inspection utility for the IVM delta join (the one plan the
  * registered-query `Explain` cannot reach: it lives inside the folds'
  * foreachBatch, consumed before any driver query returns). Builds a
  * representative term set — checkpointed unknown-stats STATE frames, tiny
  * checkpointed DELTA frames — exactly like [[graft.streaming.IncrementalQ3.step]]
  * does per micro-batch, executes the join, and prints the AQE FINAL plan.
  *
  * `sbt "runMain graft.ZSetPlanDump"` shows the r15 broadcast-delta shape
  * (plans/r15/ivm_delta_join_after.txt; the unhinted shape it replaced is
  * plans/r15/ivm_delta_join_before.txt).
  */
object ZSetPlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val state = (1L to 200000L).map(k => (k, 1L)).toDF("a_k", ZSet.W)
      .localCheckpoint()
    val bState = (1L to 200000L).map(k => (k % 50, 1L)).toDF("b_k", ZSet.W)
      .localCheckpoint()
    val dA = Seq((3L, 1L), (7L, -1L)).toDF("a_k", ZSet.W).localCheckpoint()
    val dB = Seq((3L, 1L)).toDF("b_k", ZSet.W).localCheckpoint()
    val dj = ZSet.deltaJoin(state, dA, bState, dB, col("a_k") === col("b_k"))
    dj.collect()
    println("=== ZSet.deltaJoin executed plan (AQE final) ===")
    println(dj.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
