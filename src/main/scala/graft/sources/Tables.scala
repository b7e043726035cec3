package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch table loaders over the driver-provided parquet fixtures
  * (TESTDATA.md: `region nation customer supplier part orders lineitem
  * events documents embeddings`).
  *
  * Replaces the reference's per-table filesystem CSV sources — the SQL DDL
  * connectors (TPCHQuery3SQL_Batch.java:32–95) and the three hand-rolled
  * `SourceFunction` CSV parsers (TPCHQuery3_BatchProcessor.java:382–619).
  * Spark's columnar parquet reader subsumes all of them and adds predicate
  * pushdown + column pruning at the scan, which the reference did manually
  * at parse time (no_websocket.java:292–315).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Fixture generations encode events.ts differently: older ones carry
    // TIMESTAMP(NANOS), which Spark's reader rejects unless the legacy
    // conf maps it to a nanos long; newer ones TIMESTAMP(MICROS,
    // isAdjustedToUTC=false), which reads as TIMESTAMP_NTZ. Normalize
    // both to a session-zone TIMESTAMP (the session is pinned UTC, so
    // the instant is identical) — downstream epoch arithmetic
    // (`unix_micros`) and the streaming schemas require the zoned type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // callers stage fixture-derived work dirs named for this application
    Staging.cleanupAtEnd(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // NB: integer division (`div`), not `/`: ns-epoch longs
          // (~1.7e18) overflow double's 53-bit mantissa and `/` would
          // round ±1µs.
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => df
      }
    else df
  }

  /** Spread a CPU-bound input across the available cores when its scan
    * under-parallelizes (guide §2.5 "input skew: one huge unsplittable
    * file … repartition immediately after the read"). The small fixture
    * corpora arrive as ONE parquet file with one row group, so the scan —
    * and, via AQE coalescing of the tiny shuffles, everything downstream
    * — runs in a single task; the shingle/signature/vector math these
    * inputs feed is compute-heavy per byte (measured: `dedup_simhash`'s
    * verify stage 3.3 s in ONE task, `ann_mmr` 39 nearly-all-single-task
    * jobs). Conditional on the scan's partition count so it is a NO-OP at
    * scale: a corpus wider than the cluster's parallelism keeps its
    * layout and never pays the extra exchange.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // Estimate the scan width WITHOUT materializing the plan (ADVICE r14:
    // `df.rdd` under AQE forces getFinalPhysicalPlan, eagerly executing a
    // derived input's upstream shuffle stages — which then run AGAIN in
    // the consumer, since repartition() re-plans from the logical tree).
    // File-scan leaves reproduce FilePartition.maxSplitBytes' split
    // arithmetic from listing metadata alone; a plan with any non-file
    // leaf (local relation, checkpointed RDD) keeps the caller's layout.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val fileRels = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (fileRels.size != leaves.size || fileRels.isEmpty) df
    else {
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val files = fileRels.map(_.location.inputFiles.length.toLong).sum
      val totalBytes = fileRels.map(_.location.sizeInBytes).sum + files * openCost
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, totalBytes / math.max(1, p)))
      val scanParts = ((totalBytes + maxSplit - 1) / math.max(1L, maxSplit)).toInt
      if (scanParts < p) df.repartition(p) else df
    }
  }

  /** Register every fixture table as a temp view (for the `spark.sql` path,
    * mirroring the reference's Table-API catalog registration).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
