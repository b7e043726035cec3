package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured proof of the ADAPTIVE spill policy at its design point: fold
  * the insert-only changelog of a large fixture (intended: the 100×
  * key-shifted corpus, `graft.ScaleData 100 … customer,orders,lineitem`)
  * with the SESSION-DEFAULT engagement threshold
  * ([[graft.streaming.IncrementalQ3.adaptiveSpillThreshold]], 8 M
  * consolidated rows) — NOT a data-derived one — and require the run to
  * show the policy's whole arc:
  *
  *  1. at least one compaction consolidates ON THE HEAP before the
  *     threshold is crossed (the fold genuinely starts in-memory);
  *  2. engagement latches MID-RUN and the post-engagement compactions
  *     merge into the bucketed spill tables;
  *  3. the converged top-20 equals the batch Q3 over the same fixture,
  *     computed independently — where the state lived must not change a
  *     digit.
  *
  * At the 10× fixture the same configuration must NOT engage (consolidated
  * Q3 state ≈ 0.5·nEvents stays under 8 M) — that side is pinned by
  * `stream_q3_spill_adaptive`'s two-sided gate in the driver run; this
  * main is the other side, which only a genuinely large fold can exercise.
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/repo/bench_sf100 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.SpillScale" }}}
  *
  * Prints one JSON line: fold + batch-reference seconds, event count,
  * engagement batch, spill versions written.
  */
object SpillScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/bench_sf100")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import streaming.{Changelog, IncrementalQ3}

    val k = args.headOption.map(_.toInt).getOrElse(8)
    // optional 2nd arg: threshold override for smoke-testing the arc at a
    // small fixture; the 100× proof runs with the session default
    val tau = args.lift(1).map(_.toLong)
      .getOrElse(IncrementalQ3.adaptiveSpillThreshold)
    val root = java.nio.file.Files.createTempDirectory("graft-spillscale").toString
    try {
      val t0 = System.nanoTime()
      // staged once to parquet: the fold re-reads its batch slice per step,
      // and at 100× a re-generation per batch would dominate the run.
      // Staged OUTSIDE the fixture dir (testdata fixtures are read-only),
      // keyed by its path so repeat runs reuse it.
      val stagedDir = System.getProperty("java.io.tmpdir") +
        s"/graft_spillscale_${Integer.toHexString(sfDir.hashCode)}"
      if (!new java.io.File(stagedDir).exists()) {
        Changelog.generate(spark, sfDir, insertOnly = true)
          .write.mode("overwrite").parquet(stagedDir)
      }
      val events = spark.read.parquet(stagedDir)
      val n = events.count()
      val tStage = (System.nanoTime() - t0) / 1e9

      var inMemCompactions = 0
      var engagedAtBatch = -1
      val t1 = System.nanoTime()
      val fin = IncrementalQ3.runBatches(spark, events, k,
        spillDir = Some(root), spillAtRows = tau,
        onBatch = (b, st) => {
          if (st.dirty == 0 && st.spillHistory.isEmpty) inMemCompactions += 1
          if (st.spillEngaged && engagedAtBatch < 0) engagedAtBatch = b
        })
      val incTop = IncrementalQ3.topN(fin)
        .select(col("l_orderkey"), col("o_orderdate").cast("string").as("o_orderdate"),
          col("o_orderpriority"), col("revenue").cast("double").as("revenue"))
        .collect().toIndexedSeq.map(_.toSeq)
      val tFold = (System.nanoTime() - t1) / 1e9

      require(inMemCompactions >= 1,
        "spill-scale: no in-memory compaction before engagement — the fold " +
          "never ran below the threshold (fixture too large for the arc?)")
      require(engagedAtBatch >= 0 && fin.spillHistory.nonEmpty,
        s"spill-scale: the session-default threshold ($tau rows) never " +
          s"engaged over $n events — fixture too small for this proof")

      // independent reference: plain batch Q3 over the same fixture
      val t2 = System.nanoTime()
      val batchTop = operators.Relational.q3Batch(spark, sfDir)
        .select(col("l_orderkey").cast("long"),
          to_date(col("o_orderdate")).cast("string"),
          col("o_orderpriority"), col("revenue").cast("double"))
        .collect().toIndexedSeq.map(_.toSeq)
      val tBatch = (System.nanoTime() - t2) / 1e9
      require(incTop == batchTop,
        s"spill-scale: converged top-20 diverged from batch Q3\n" +
          s"inc:   ${incTop.take(3)}\nbatch: ${batchTop.take(3)}")

      println(s"""{"metric":"spill_scale","events":$n,"k":$k,""" +
        s""""threshold":$tau,"engaged_at_batch":$engagedAtBatch,""" +
        s""""in_mem_compactions":$inMemCompactions,""" +
        s""""spill_versions":${fin.spillHistory.size},""" +
        s""""stage_s":${f"$tStage%.1f"},"fold_s":${f"$tFold%.1f"},""" +
        s""""batch_q3_s":${f"$tBatch%.1f"},"top20_match":true}""")
    } finally IncrementalQ3.cleanupSpillRoot(root)
    spark.stop()
  }
}
