package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.{Changelog, IncrementalQ3}

/** Plan/width-inspection utility for the IVM fold's STATE partitioning
  * (the r15 delta-checkpoint coalesce, guide §2.2): runs the three-grain
  * insert-only fold batch by batch and prints each state's partition
  * count after every batch, plus the final batch's shared-ΔJ physical
  * plan. Before the coalesce, every per-batch delta checkpoint inherited
  * its input's width (the batch source's 96 partitions for dC/dO/dL; the
  * sum of all three join terms' — i.e. the accumulated state's — for
  * dCO/dJ), so union-upkeep state width grew O(batches × inherited) and
  * the last batch's dAgg mapped over 1000+ near-empty partitions.
  *
  * {{{ sbt "runMain graft.FoldWidthDump [sfDir] [k]" }}}
  */
object FoldWidthDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    val events = Changelog.generateCached(spark, dir, insertOnly = true)
    val tMax = events.agg(max(col("t"))).head().getLong(0)
    val batched = events.withColumn("batch", Changelog.batchOf(k, tMax))
    println(s"=== IncrementalQ3 three-grain fold, k=$k, sfDir=$dir ===")
    println(s"events partitions: ${events.rdd.getNumPartitions}")
    var st = IncrementalQ3.init(spark, grains = Seq(
      IncrementalQ3.DefaultAggKeys, Seq("o_orderdate"), Seq("o_orderpriority")))
    (0 until k).foreach { b =>
      st = IncrementalQ3.step(st,
        batched.filter(col("batch") === b).select("line"), spillDir = None)
      val widths = st.names.zip(st.all.map(_.rdd.getNumPartitions))
        .map { case (n, w) => s"$n=$w" }.mkString(" ")
      println(s"after batch $b: state partitions $widths")
    }
    println(s"total state partitions: ${st.all.map(_.rdd.getNumPartitions).sum}")
    spark.stop()
  }
}
