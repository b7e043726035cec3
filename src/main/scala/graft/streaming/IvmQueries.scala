package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational.d2
import graft.sources.Tables

/** TPC-H Q10, Q5 and Q1 maintained incrementally over the SAME changelog
  * the Q3 pipeline streams, converged and checked against the plain batch
  * oracles (`q10_returned` / `q5_local_supplier` / `q1_pricing` share the
  * SQL).
  *
  * There is one fold, [[IncrementalQ3.step]], and a query is an
  * [[IncrementalQ3.IvmSpec]] plus a grain: Q10 carries no customer filter
  * but a lineitem RETURNFLAG filter and a per-customer grain; Q5 threads
  * c_nationkey through the join tree and maintains a (nation, supplier)
  * grain. Neither adds a line of fold code, and both get what Q3 gets:
  * amortized compaction, spill, multi-grain state.
  *
  * Design rule the specs follow (and a real deployment would): STATIC
  * dimensions stay OUT of the incremental state. Q5 joins supplier ⋈
  * nation ⋈ region and Q10 joins nation/customer display columns, but
  * none of those relations arrive on the stream — so the fold maintains
  * the aggregate at the finest grain the STREAMED relations determine,
  * and the driver query finishes with broadcast joins against the parquet
  * dims at emission. Sound because the maintained measure is additive and
  * the dim attributes are functionally dependent on the grain keys;
  * scale-critical because the incremental state never widens with
  * dimension payload, and a dim UPDATE (repriced region, renamed
  * customer) needs no state rebuild at all — the next emission just joins
  * the new dim rows.
  */
object IvmQueries {

  /** Q10's streamed shape: all customers, one quarter of orders, returned
    * lineitems; grain = customer. Display columns (c_name, n_name) are
    * emission-time dims.
    */
  private[streaming] val q10Spec = IncrementalQ3.IvmSpec(
    dC = p => Changelog.customers(p).select(col("c_custkey"), col(ZSet.W)),
    dO = p => Changelog.orders(p)
      .filter(col("o_orderdate") >= to_date(lit("1996-01-01")) &&
        col("o_orderdate") < to_date(lit("1996-04-01")))
      .select(col("o_orderkey"), col("o_custkey"), col(ZSet.W)),
    dL = p => Changelog.lineitems(p)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), IncrementalQ3.revenue, col(ZSet.W)),
    coCols = Seq("o_orderkey", "c_custkey"))
  private[streaming] val q10Grains = Seq(Seq("c_custkey"))

  /** Q5's streamed shape: customers carry their nation key, one year of
    * orders, lineitems carry their supplier key; grain =
    * (c_nationkey, l_suppkey) — the finest grain the streamed relations
    * determine, so the ASIA/supplier co-location predicate and the
    * nation names can all be applied by broadcast dims at emission.
    */
  private[streaming] val q5Spec = IncrementalQ3.IvmSpec(
    dC = p => Changelog.customers(p)
      .select(col("c_custkey"), col("c_nationkey"), col(ZSet.W)),
    dO = p => Changelog.orders(p)
      .filter(col("o_orderdate") >= to_date(lit("1996-01-01")) &&
        col("o_orderdate") < to_date(lit("1997-01-01")))
      .select(col("o_orderkey"), col("o_custkey"), col(ZSet.W)),
    dL = p => Changelog.lineitems(p)
      .select(col("l_orderkey"), col("l_suppkey"), IncrementalQ3.revenue,
        col(ZSet.W)),
    coCols = Seq("o_orderkey", "c_nationkey"))
  private[streaming] val q5Grains = Seq(Seq("c_nationkey", "l_suppkey"))

  // Micro-batch count — same phase geometry as StreamQueries' folds.
  private val K = 3

  /** Converged incremental Q10: fold the insert-only changelog, then
    * finish with the display dims — customer (broadcast; name is
    * functionally dependent on the grain key) and nation. Must equal
    * `q10_returned` exactly.
    */
  def q10Incremental(spark: SparkSession, dir: String): DataFrame = {
    val st = IncrementalQ3.runBatches(spark,
      Changelog.generateCached(spark, dir, insertOnly = true), K, q10Grains,
      q10Spec)
    emitQ10(spark, dir, st)
  }

  private def emitQ10(spark: SparkSession, dir: String,
                      st: IncrementalQ3.State): DataFrame = {
    val cust = Tables.table(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("ck"), col("c_name"),
        col("c_nationkey"))
    val nat = Tables.table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    st.agg
      .join(broadcast(cust), col("c_custkey") === col("ck"))
      .join(broadcast(nat), col("n_nationkey") === col("c_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue").cast("double").as("revenue"),
        col("cnt").as("n_returned"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** The parametric fold under a REAL streaming runtime: the insert-only
    * changelog staged as ordered text files, read back through
    * Structured Streaming's file source (`Trigger.AvailableNow`,
    * `maxFilesPerTrigger` so the run is genuinely multi-micro-batch),
    * folded by `foreachBatch` → [[IncrementalQ3.step]] — the same step
    * the batch simulation uses, byte-for-byte. Converges to the batch
    * Q10 answer; the structural pin requires the runtime actually split
    * the stream (≥ 3 micro-batches saw rows).
    */
  def q10Live(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val events = Changelog.generateCached(spark, dir, insertOnly = true)
    val stage = java.nio.file.Files.createTempDirectory("graft-ivmlive").toString
    try {
      Changelog.write(events, stage, nFiles = 6)
      @volatile var st = IncrementalQ3.init(spark, q10Grains, q10Spec)
      @volatile var fedBatches = 0
      StreamTune.prepare(spark)
      val q = spark.readStream
        .option("maxFilesPerTrigger", 2)
        .text(stage)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            st = IncrementalQ3.step(st, batch)
            fedBatches += 1
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(fedBatches >= 3,
        s"live IVM fold: expected a multi-micro-batch run, got $fedBatches")
      emitQ10(spark, dir, st)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
  }

  /** Converged incremental Q5: the (nation, supplier) grain re-aggregated
    * through the static supplier⋈nation⋈region(ASIA) dims. Must equal
    * `q5_local_supplier` exactly.
    */
  def q5Incremental(spark: SparkSession, dir: String): DataFrame = {
    val st = IncrementalQ3.runBatches(spark,
      Changelog.generateCached(spark, dir, insertOnly = true), K, q5Grains,
      q5Spec)
    emitQ5(spark, dir, st)
  }

  /** The (nation, supplier) aggregate re-aggregated per ASIA nation. */
  private def emitQ5(spark: SparkSession, dir: String,
                     st: IncrementalQ3.State): DataFrame =
    st.agg.join(broadcast(asiaSuppliers(spark, dir)),
        col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("revenue")).cast("double").as("revenue"),
        sum(col("cnt")).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** ASIA's suppliers with their nation names — the static dim leg of Q5,
    * dictionary-sized (suppliers of 5 nations), hence broadcast.
    */
  private def asiaSuppliers(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "region").filter(col("r_name") === "ASIA")
      .join(Tables.table(spark, dir, "nation"),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.table(spark, dir, "supplier"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").cast("long").as("s_suppkey"),
        col("s_nationkey").cast("long").as("s_nationkey"), col("n_name"))

  /** Incremental TPC-H Q1 — the AGG-ONLY member of the family (no join
    * states at all): the fold maintains the five ADDITIVE measures per
    * (returnflag, linestatus) as exact weighted decimal sums, and the
    * non-additive outputs (the three averages) are DERIVED at emission as
    * double division of exact sums — the standard IVM treatment of AVG.
    * Decimal scales follow the inputs ((38,2) for the plain sums, (38,4)
    * for disc_price, (38,6) for charge): truncating the per-row products
    * to a narrower scale would diverge from the oracle's exact sums.
    */
  def q1Incremental(spark: SparkSession, dir: String): DataFrame = {
    val events = Changelog.generateCached(spark, dir, insertOnly = true)
    val tMax = events.agg(max(col("t"))).head().getLong(0)
    val batched = events.withColumn("batch", Changelog.batchOf(K, tMax))
    val cutoff = to_date(lit(graft.operators.Relational.Q3Date))
    val disc = lit(1) - d2(col("l_discount"))
    val measures = Seq[(String, org.apache.spark.sql.Column, String)](
      ("sum_qty", d2(col("l_quantity")), "decimal(38,2)"),
      ("sum_base_price", d2(col("l_extendedprice")), "decimal(38,2)"),
      ("sum_disc_price", d2(col("l_extendedprice")) * disc, "decimal(38,4)"),
      ("sum_charge",
        d2(col("l_extendedprice")) * disc * (lit(1) + d2(col("l_tax"))),
        "decimal(38,6)"),
      ("sum_disc", d2(col("l_discount")), "decimal(38,2)"))
    val keys = Seq(col("l_returnflag"), col("l_linestatus"))
    def partial(lines: DataFrame): DataFrame = {
      val outs = measures.map { case (n, e, t) =>
        sum(col(ZSet.W) * e).cast(t).as(n) } :+ sum(col(ZSet.W)).as("cnt")
      Changelog.lineitems(Changelog.parse(lines))
        .filter(col("l_shipdate") <= cutoff)
        .groupBy(keys: _*)
        .agg(outs.head, outs.tail: _*)
    }
    val sums = measures.map { case (n, _, t) => sum(col(n)).cast(t).as(n) }
    // a real fold: the maintained per-group sums are MERGED with each
    // batch's partial and cut from lineage, exactly the join family's
    // state upkeep — never a union-all-then-aggregate over the whole run
    val st = (0 until K).foldLeft(Option.empty[DataFrame]) { (acc, b) =>
      val p = partial(batched.filter(col("batch") === b).select("line"))
      Some(acc.fold(p) { a =>
        a.unionByName(p)
          .groupBy(keys: _*)
          .agg(sums.head, sums.tail :+ sum(col("cnt")).as("cnt"): _*)
          .filter(col("cnt") =!= 0)
      }.localCheckpoint(eager = false))
    }.get
    st.select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("sum_base_price").cast("double").as("sum_base_price"),
        col("sum_disc_price").cast("double").as("sum_disc_price"),
        col("sum_charge").cast("double").as("sum_charge"),
        (col("sum_qty").cast("double") / col("cnt").cast("double")).as("avg_qty"),
        (col("sum_base_price").cast("double") / col("cnt").cast("double")).as("avg_price"),
        (col("sum_disc").cast("double") / col("cnt").cast("double")).as("avg_disc"),
        col("cnt").as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Full ± cycle through the Q5 spec: every insert retracted, so the
    * maintained (nation, supplier) aggregate — and therefore the emitted
    * per-nation frame — converges EXACT-EMPTY (net-cnt-0 groups dropped,
    * weighted revenue cancels to exactly 0 in decimal). The retraction
    * algebra is shared fold code, so this one query extends the
    * exact-cancellation contract from Q3 to the whole parametric family.
    */
  def q5IncrementalCycle(spark: SparkSession, dir: String): DataFrame = {
    val st = IncrementalQ3.runBatches(spark,
      Changelog.generateCached(spark, dir, insertOnly = false), K, q5Grains,
      q5Spec)
    // Structural pin: convergence must come from cancellation inside the
    // maintained state, not from the dim join filtering rows away.
    val leftover = st.agg.count()
    require(leftover == 0L, s"q5 cycle: maintained aggregate has $leftover surviving groups")
    emitQ5(spark, dir, st)
  }
}
