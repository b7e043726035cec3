package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Staging, Tables}

/** INCREMENTAL CEP — the streaming twin of
  * [[graft.operators.Temporal.patternMatch]]: per-user pattern counts
  * maintained across micro-batches by a tiny per-key automaton instead of
  * re-reading history. This is Flink-CEP's core deployment shape
  * (per-key pattern state over an ordered stream), built from frames:
  *
  *  - the per-user STATE is six longs — the two non-overlapping match
  *    automata's prefix positions (the "greedy leftmost" literal-match
  *    DFA: advance on the next expected char, else restart iff the char
  *    re-opens the prefix), the current/max error-run, and the two match
  *    counts. State size is independent of history length — the whole
  *    point of CEP state;
  *  - each micro-batch folds its per-user (time-ordered) chars through
  *    the automaton with ONE `aggregate` higher-order expression
  *    (codegen'd CASE arithmetic, no UDF), seeded from the prior state
  *    via a full-outer join — users absent from the batch carry state,
  *    new users start at zeros;
  *  - the updated state lands in a per-batch `state_<id>` directory
  *    (overwrite = retry-idempotent), and the final projection of the
  *    last state equals the batch operator — and its DuckDB oracle —
  *    bit for bit.
  *
  * Ordering contract: arrival must be event-time-ordered per user, which
  * the staging guarantees (disjoint time slices written sequentially, so
  * the file source's oldest-first modification-time order replays time
  * order); the ingest ASSERTS it per batch (min us ≥ previous max) rather
  * than silently accepting disorder. Batching cannot change the answer —
  * any grouping of ordered slices folds to the same state (function
  * composition is associative) — which the spec pins at two trigger
  * sizes.
  */
object StreamingPattern {

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private val chExpr =
    """CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
      |WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'v' END""".stripMargin

  /** Stage events as 6 DISJOINT time slices written oldest-first, with
    * each slice's files EXPLICITLY mtime-stamped `base + sliceIdx` seconds
    * — the file source replays oldest-modification-first, and the stamp
    * makes slice order independent of filesystem timestamp granularity
    * (ADVICE r7: the old `Thread.sleep(50)` between writes relied on
    * sub-second mtime resolution; a coarse-granularity FS could tie two
    * slices and trip the per-batch ordering assert).
    */
  private def stagedEvents(spark: SparkSession, dir: String): String =
    Staging.ensure(Staging.dirFor(spark, "streamcep", dir)) { path =>
      val ev = Tables.table(spark, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          expr(chExpr).as("ch"))
        .localCheckpoint()
      val Array(lo, hi) = ev.agg(min(col("us")), max(col("us"))).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val span = hi - lo + 1
      import java.nio.file.{Files, Paths}
      val stamped = scala.collection.mutable.Set.empty[java.nio.file.Path]
      val base = System.currentTimeMillis()
      (0 until 6).foreach { b =>
        ev.filter(expr(s"(us - ${lo}L) * 6 DIV ${span}L") === b)
          .coalesce(1)
          .write.mode(if (b == 0) "overwrite" else "append").parquet(path)
        // stamp every not-yet-stamped data file with the slice index
        scala.util.Using.resource(Files.list(Paths.get(path))) { s =>
          s.iterator().forEachRemaining { f =>
            if (!stamped(f) && f.getFileName.toString.endsWith(".parquet")) {
              Files.setLastModifiedTime(f,
                java.nio.file.attribute.FileTime.fromMillis(base + b * 1000L))
              stamped += f
            }
          }
        }
      }
    }

  private val ZeroState =
    "named_struct('nvc', 0L, 'nvcp', 0L, 'maxrun', 0L, 'currun', 0L, 'kvc', 0L, 'kvcp', 0L)"

  /** One automaton step per char, as a pure SQL lambda body. */
  private val foldExpr =
    s"""aggregate(chars,
       |  coalesce(st, $ZeroState),
       |  (a, c) -> named_struct(
       |    'nvc',  a.nvc + CASE WHEN a.kvc = 1 AND c = 'c' THEN 1L ELSE 0L END,
       |    'nvcp', a.nvcp + CASE WHEN a.kvcp = 2 AND c = 'p' THEN 1L ELSE 0L END,
       |    'maxrun', greatest(a.maxrun,
       |      CASE WHEN c = 'e' THEN a.currun + 1L ELSE 0L END),
       |    'currun', CASE WHEN c = 'e' THEN a.currun + 1L ELSE 0L END,
       |    'kvc', CASE WHEN a.kvc = 1 AND c = 'c' THEN 0L
       |                WHEN c = 'v' THEN 1L ELSE 0L END,
       |    'kvcp', CASE WHEN a.kvcp = 2 AND c = 'p' THEN 0L
       |                 WHEN a.kvcp = 1 AND c = 'c' THEN 2L
       |                 WHEN c = 'v' THEN 1L ELSE 0L END))""".stripMargin

  def streamPatternMatch(spark: SparkSession, dir: String): DataFrame =
    streamPatternMatch(spark, dir, maxFilesPerTrigger = 1)

  def streamPatternMatch(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Int): DataFrame = {
    val staged = stagedEvents(spark, dir)
    val run = runCounter.incrementAndGet()
    val stateRoot = System.getProperty("java.io.tmpdir") +
      s"/graft_streamcep_state_${spark.sparkContext.applicationId}_$run"
    // driver holds only the PATH of the latest state and the time
    // high-water mark; the state itself stays a distributed table.
    // Atomics, not vars: foreachBatch runs on the stream thread while the
    // final read happens on the caller thread after awaitTermination —
    // the same publication guard the other streaming classes use
    // (ADVICE r7; awaitTermination happens-before is not guaranteed for
    // plain captured locals)
    val statePath = new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
    val highWater = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    StreamTune.prepare(spark)
    val q = spark.readStream
      .schema("user_id bigint, us bigint, ch string")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(staged)
      .writeStream
      .queryName(s"graft_stream_cep_$run")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.localCheckpoint()
        val Row2 = b.agg(min(col("us")), max(col("us"))).head()
        if (!Row2.isNullAt(0)) {
          val (bMin, bMax) = (Row2.getLong(0), Row2.getLong(1))
          require(bMin >= highWater.get(),
            s"batch $id violates event-time order: min $bMin < water ${highWater.get()}")
          highWater.set(bMax)
        }
        val seq = b.groupBy(col("user_id"))
          .agg(count(lit(1)).as("dn"),
            expr("transform(array_sort(collect_list(struct(us, ch))), x -> x.ch)")
              .as("chars"))
        val prev = statePath.get().map(spark.read.parquet(_))
          .getOrElse(spark.emptyDataFrame
            .sparkSession.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL(
                "user_id bigint, n_events bigint, " +
                  "st struct<nvc:bigint,nvcp:bigint,maxrun:bigint,currun:bigint,kvc:bigint,kvcp:bigint>")))
        val next = prev.join(seq, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("n_events"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_events"),
            expr(s"CASE WHEN chars IS NULL THEN coalesce(st, $ZeroState) " +
              s"ELSE $foldExpr END").as("st"))
        val out = s"$stateRoot/state_$id"
        next.write.mode("overwrite").parquet(out)
        statePath.set(Some(out))
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(statePath.get().getOrElse(
      sys.error("stream produced no batches")))
      .select(col("user_id"), col("n_events"),
        col("st.nvc").as("n_view_click"),
        col("st.nvcp").as("n_funnel_vcp"),
        col("st.maxrun").as("max_error_run"))
      .orderBy(col("user_id"))
  }
}
