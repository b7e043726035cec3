package graft.streaming

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.{CmSketch, KllSketch, TextOps}
import graft.operators.{Profiling, Sketches, Temporal}
import graft.sources.{Staging, Tables}

/** THE MERGEABLE-SUMMARY STREAMS — the streaming twins of the batch
  * summaries, each a row over one driver ([[fold]]): a fixture table's
  * columns are staged as several parquet files and replayed through a real
  * `readStream` with `maxFilesPerTrigger`; every micro-batch computes the
  * batch operator's own PARTIAL (a summary-sized collect, never the data),
  * the driver MERGES it into the accumulator, and the batch operator's own
  * FINISHER turns the accumulated summary into the answer. Because each
  * merge is exact (integer or decimal addition, element-wise counter sums)
  * or a mergeable sketch (KLL ladders, Misra–Gries counters) whose answer
  * is audited exactly, every twin equals its batch operator — and shares
  * its DuckDB oracle — at ANY batching (SummaryStreamSpec pins two).
  *
  * Driver state is O(summary), not O(stream): each batch's partial is
  * folded into the accumulator as it arrives; rows are never buffered.
  */
object SummaryStream {

  private val runCounter = new AtomicInteger(0)

  /** Stage `cols` of fixture `table` as 6 parquet files (once per session
    * and fixture, marker-gated by [[Staging]]), stream them with
    * `maxFilesPerTrigger` to end-of-available, and fold every micro-batch's
    * `partial` into `zero` with `merge`. The stream thread hands the
    * accumulator back through an atomic reference.
    */
  def fold[A](spark: SparkSession, dir: String, kind: String, table: String,
              cols: Seq[String], maxFilesPerTrigger: Int)(zero: A)(
      partial: DataFrame => Array[Row])(merge: (A, Array[Row]) => A): A = {
    val staged = Staging.ensure(Staging.dirFor(spark, s"stream_$kind", dir)) { out =>
      Tables.table(spark, dir, table).select(cols.map(col): _*)
        .repartition(6)
        .write.mode("overwrite").parquet(out)
    }
    val acc = new AtomicReference[A](zero)
    StreamTune.prepare(spark)
    val q = spark.readStream
      .schema(spark.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "*.parquet")
      .parquet(staged)
      .writeStream
      .queryName(s"graft_stream_${kind}_${runCounter.incrementAndGet()}")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        acc.set(merge(acc.get, partial(batch)))
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    acc.get
  }

  /** [[fold]] for keyed additive partials: the first `keys` columns of
    * `partial`'s rows key a summary row, the rest are `Long` or
    * `BigDecimal` sums added per key. Returns the accumulated partial as a
    * frame with `partial`'s own schema, ready for the batch finisher.
    */
  private def summed(spark: SparkSession, dir: String, kind: String, table: String,
                     cols: Seq[String], maxFilesPerTrigger: Int, keys: Int)(
      partial: DataFrame => DataFrame): DataFrame = {
    val acc = fold(spark, dir, kind, table, cols, maxFilesPerTrigger)(
      Map.empty[Seq[Any], Seq[Any]])(partial(_).collect()) { (m, rows) =>
      rows.foldLeft(m) { (m, r) =>
        val (k, v) = r.toSeq.splitAt(keys)
        m.updated(k, m.get(k).fold(v)(_.zip(v).map(add.tupled)))
      }
    }
    val schema = partial(Tables.table(spark, dir, table).select(cols.map(col): _*).limit(0)).schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(acc.toSeq.map { case (k, v) => Row.fromSeq(k ++ v) }, 1),
      schema)
  }

  /** SUM semantics per counter column: a NULL partial adds nothing. */
  private val add: (Any, Any) => Any = {
    case (null, b) => b
    case (a, null) => a
    case (a: Long, b: Long) => a + b
    case (a: java.math.BigDecimal, b: java.math.BigDecimal) => a.add(b)
  }

  /** Twin of [[Sketches.cmFrequencyBound]]: one keyless Count-Min
    * aggregate per batch, counters summed element-wise — bit-identical to
    * the one-shot sketch — then the shared [[Sketches.cmFinish]] audit.
    */
  def streamCmFrequencies(spark: SparkSession, dir: String,
                          maxFilesPerTrigger: Int = 1): DataFrame = {
    CmSketch.register(spark)
    val (total, counters) = fold(spark, dir, "cm", "documents", Seq("doc_id", "text"),
      maxFilesPerTrigger)((0L, new Array[Long](CmSketch.Depth * CmSketch.Width))) { batch =>
      batch.select(explode(TextOps.tokens).as("t"))
        .filter(length(col("t")) > 0)
        .agg(count(lit(1)), CmSketch(col("t")))
        .collect() // the partial: 1 row, depth·width longs
    } { case ((n, acc), Array(r)) =>
      val part = r.getSeq[Long](1)
      acc.indices.foreach(i => acc(i) += part(i))
      (n + r.getLong(0), acc)
    }
    import spark.implicits._
    Sketches.cmFinish(Sketches.cmTokens(spark, dir),
      Seq((total, counters.toSeq)).toDF("n_total", "sk"))
  }

  /** Twin of [[Profiling.profileBenford]]: ≤9 first-digit counts per
    * batch, added per digit, then the shared [[Profiling.benfordFinish]].
    */
  def streamBenford(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Int = 1): DataFrame =
    Profiling.benfordFinish(summed(spark, dir, "benford", "orders",
      Seq("o_orderkey", "o_totalprice"), maxFilesPerTrigger, keys = 1)(
      Profiling.benfordCounts))

  /** Twin of [[Temporal.decayedSum]]: per-(user, day) integer partials
    * added per key; the shared [[Temporal.decayedFinish]] weights them at
    * read time against the newest day seen, so the stream never peeks
    * ahead and re-weighting costs O(state), not a history rescan.
    */
  def streamDecayedSum(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Int = 1): DataFrame =
    Temporal.decayedFinish(summed(spark, dir, "decay", "events",
      Seq("user_id", "ts", "event_type", "value"), maxFilesPerTrigger, keys = 2)(
      Temporal.decayedPartials))

  /** Twin of [[Profiling.profileDrift]]: ≤11 per-bucket train/val counts
    * per batch, added per bucket, then the shared [[Profiling.driftFinish]].
    */
  def streamDrift(spark: SparkSession, dir: String,
                  maxFilesPerTrigger: Int = 1): DataFrame =
    Profiling.driftFinish(summed(spark, dir, "drift", "documents",
      Seq("doc_id", "n_chars"), maxFilesPerTrigger, keys = 1)(
      b => Profiling.driftCounts(Profiling.driftSliced(b))))

  /** Twin of [[Profiling.profileCorrelation]]: the nine exact decimal
    * co-moment sums per return flag, added per flag, then the shared
    * [[Profiling.correlationFinish]].
    */
  def streamCorrelation(spark: SparkSession, dir: String,
                        maxFilesPerTrigger: Int = 1): DataFrame =
    Profiling.correlationFinish(summed(spark, dir, "profile", "lineitem",
      Seq("l_returnflag", "l_quantity", "l_extendedprice", "l_discount"),
      maxFilesPerTrigger, keys = 1)(Profiling.correlationSums))

  /** Twin of [[Sketches.kllQuantileBound]]: one serialized KLL ladder per
    * event type per batch, folded with the aggregate's own `mergeIn`. The
    * ladders may differ across batchings within the bound; the emitted
    * answer is the shared [[Sketches.kllFinish]] exact audit, which does
    * not.
    */
  def streamKllQuantiles(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Int = 1): DataFrame = {
    KllSketch.register(spark)
    val acc = fold(spark, dir, "kll", "events", Seq("event_type", "value"),
      maxFilesPerTrigger)(Map.empty[String, (KllSketch.Buffer, Long)]) { batch =>
      batch.groupBy(col("event_type"))
        .agg(KllSketch.state(col("value")), count(lit(1)))
        .collect()
    } { (m, rows) =>
      rows.foldLeft(m) { (m, r) =>
        val in = KllSketch.Buffer.fromBytes(r.getAs[Array[Byte]](1))
        m.updated(r.getString(0), m.get(r.getString(0)) match {
          case Some((buf, n)) => buf.mergeIn(in, KllSketch.DefaultCapacity); (buf, n + r.getLong(2))
          case None => (in, r.getLong(2))
        })
      }
    }
    val est = acc.toSeq.sortBy(_._1).map { case (et, (buf, n)) =>
      Row(et, n, buf.quantiles(KllSketch.DefaultPs))
    }
    val estSchema = StructType(Seq(
      StructField("event_type", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("est", ArrayType(DoubleType, containsNull = false), nullable = false)))
    Sketches.kllFinish(Tables.table(spark, dir, "events"),
      spark.createDataFrame(spark.sparkContext.parallelize(est, 1), estSchema))
  }

  /** Twin of [[TextOps.frequentTokens]]: per-partition
    * Misra–Gries summaries per batch, merged by adding counters then
    * decrementing all by the (capacity+1)-th largest (Agarwal et al.,
    * "Mergeable Summaries", PODS'12 — the N/(c+1) bound survives any merge
    * tree), so the driver holds ≤ capacity counters. The sketch only
    * nominates candidates: an exact count-join over the corpus returns the
    * top-k, and the completeness gate (k-th count > N/(c+1)) proves no
    * heavy hitter is missing — or fails loudly.
    */
  def streamFrequentTokens(spark: SparkSession, dir: String,
                           maxFilesPerTrigger: Int = 1, k: Int = 20,
                           capacity: Int = 4096): DataFrame = {
    import spark.implicits._
    def tokens(docs: DataFrame) = docs.select(explode(TextOps.tokens).as("token"))
    val (counters, total) = fold(spark, dir, "tokens", "documents", Seq("doc_id", "text"),
      maxFilesPerTrigger)((Map.empty[String, Long], 0L)) { batch =>
      // per partition: ≤ capacity (token, count, 0) rows plus one ("", 0, n) length row
      tokens(batch).as[String].mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        var n = 0L
        it.foreach { t =>
          n += 1
          counts.get(t) match {
            case Some(c) => counts.update(t, c + 1)
            case None if counts.size < capacity => counts.update(t, 1L)
            case None =>
              counts.mapValuesInPlace((_, c) => c - 1)
              counts.filterInPlace((_, c) => c > 0)
          }
        }
        counts.iterator.map { case (t, c) => (t, c, 0L) } ++ Iterator(("", 0L, n))
      }.toDF().collect()
    } { case ((m, n), rows) =>
      val merged = rows.filter(_.getLong(1) > 0L).foldLeft(m) { (m, r) =>
        m.updated(r.getString(0), m.getOrElse(r.getString(0), 0L) + r.getLong(1))
      }
      val pruned =
        if (merged.size <= capacity) merged
        else {
          // decrement by the (capacity+1)-th largest so ≤ capacity survive
          val d = merged.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
          merged.collect { case (t, c) if c > d => t -> (c - d) }
        }
      (pruned, n + rows.map(_.getLong(2)).sum)
    }
    // exact verify over the corpus, exactly as the batch operator does
    val exact = tokens(Tables.table(spark, dir, "documents"))
      .join(broadcast(counters.keys.toSeq.toDF("token")), "token")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)
      .localCheckpoint()
    val kth = exact.agg(coalesce(min(col("n")), lit(0L))).head().getLong(0)
    require(kth > total / (capacity + 1),
      s"recall bound violated after streaming merge: k-th count $kth ≤ " +
        s"N/(c+1) = ${total / (capacity + 1)} — raise capacity")
    exact
  }
}
