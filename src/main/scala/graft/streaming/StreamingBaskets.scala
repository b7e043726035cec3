package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Association
import graft.sources.{Staging, Tables}

/** CONTINUOUS ASSOCIATION-RULE MINING — the streaming twin of
  * [[Association.basketRules]], and the interesting one among the twins:
  * a basket (order) is NOT a point event — its items may arrive across
  * micro-batches, so naive per-batch pair counting would miss every
  * cross-batch pair. The incremental identity that fixes it: an
  * unordered pair {x, y} inside one basket is counted exactly once if it
  * is emitted when the LATER of the two items arrives — new items pair
  * against the basket's already-seen items (delta × base, the
  * StreamingDedup discipline keyed by order) plus against the batch's
  * other new items of the same basket (delta × delta). Pair-count DELTAS
  * are then plain-additive, which is what makes the accumulated counts
  * batching-invariant and lets the stream share the batch oracle.
  *
  * Everything is distributed and resumable: no driver state at all. Each
  * micro-batch appends its deduped arrivals to `seen/batch_<id>` and its
  * pair deltas to `delta/batch_<id>` (both overwrite ⇒ retry-idempotent;
  * source offsets are checkpointed). A batch reads only STRICTLY EARLIER
  * `seen` directories as its base — reading its own partial prior
  * attempt would anti-join its rows to nothing and silently drop deltas
  * on retry. The finisher derives item counts and the basket total from
  * the seen store and feeds the SAME [[Association.rulesFrom]] the batch
  * operator uses. Per-batch cost: delta-sized anti join + two
  * basket-width-bounded pair joins; the glob re-list of prior seen dirs
  * is the sandbox stand-in for a transactional table / state store.
  */
object StreamingBaskets {

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private def stagedLineitem(spark: SparkSession, dir: String): String =
    Staging.ensure(Staging.dirFor(spark, "streambaskets", dir)) { out =>
      Tables.table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .repartition(6) // raw rows, duplicates included — dedupe is in-stream
        .write.mode("overwrite").parquet(out)
    }

  /** Seen dirs with batch id strictly below `id` (see class doc).
    * Only `batch_<digits>` names are considered — a stray entry under
    * `seen/` (a `_SUCCESS` marker, an editor backup, a `.crc`) must be
    * IGNORED, not throw NumberFormatException inside foreachBatch and
    * kill the stream; `toLongOption` makes the parse total.
    */
  private[graft] def priorSeen(spark: SparkSession, root: String, id: Long): DataFrame = {
    val dirs = Option(new java.io.File(s"$root/seen").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_") &&
        f.getName.stripPrefix("batch_").toLongOption.exists(_ < id))
      .map(_.getAbsolutePath)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("ok bigint, p bigint"))
    else spark.read.parquet(dirs.toIndexedSeq: _*)
  }

  def startCheckpointed(spark: SparkSession, staged: String, run: String,
                        maxFilesPerTrigger: Int = 1): StreamingQuery = {
    StreamTune.prepare(spark)
    spark.readStream.schema("ok bigint, p bigint")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "*.parquet")
      .parquet(staged)
      .writeStream
      .option("checkpointLocation", s"$run/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val seen = priorSeen(spark, run, id)
        // in-batch dedupe, then cross-batch dedupe against the base
        val newRows = batch.distinct()
          .join(seen, Seq("ok", "p"), "left_anti")
          .localCheckpoint() // feeds the seen append + both pair joins
        val newXseen = newRows.toDF("ok", "np").join(seen, "ok")
          .select(least(col("np"), col("p")).as("a"),
            greatest(col("np"), col("p")).as("b"))
        val newXnew = newRows.toDF("ok", "p1")
          .join(newRows.toDF("ok", "p2"), "ok")
          .filter(col("p1") < col("p2"))
          .select(col("p1").as("a"), col("p2").as("b"))
        // the delta and seen writes are independent jobs over the pinned
        // newRows blocks — overlap them (r15, guide §2.6)
        graft.Phase.concurrently(Seq(
          () => newXseen.union(newXnew)
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(s"$run/delta/batch_$id"),
          () => newRows.write.mode("overwrite").parquet(s"$run/seen/batch_$id")))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Rules from everything accumulated so far under `run`. */
  def accumulatedRules(spark: SparkSession, run: String): DataFrame = {
    val seen = spark.read.parquet(s"$run/seen/batch_*")
    val pairs = spark.read.parquet(s"$run/delta/batch_*")
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val items = seen.groupBy(col("p")).agg(count(lit(1)).as("n_i"))
    val total = seen.select(col("ok")).distinct().agg(count(lit(1)).as("n"))
    Association.rulesFrom(pairs, items, total)
  }

  def streamBasketRules(spark: SparkSession, dir: String): DataFrame =
    streamBasketRules(spark, dir, maxFilesPerTrigger = 1)

  def streamBasketRules(spark: SparkSession, dir: String,
                        maxFilesPerTrigger: Int): DataFrame = {
    val staged = stagedLineitem(spark, dir)
    val run = System.getProperty("java.io.tmpdir") +
      s"/graft_streambaskets_run_${spark.sparkContext.applicationId}_${runCounter.incrementAndGet()}"
    val q = startCheckpointed(spark, staged, run, maxFilesPerTrigger)
    q.awaitTermination()
    accumulatedRules(spark, run)
  }
}
