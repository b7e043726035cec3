package graft.streaming

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Signed-weight relation (z-set) algebra over DataFrames.
  *
  * Replaces the reference's `StreamEvent.action ∈ {Insert, Delete}` string
  * plumbing (no_websocket.java:60–86) with a weight column `__w ∈ {+1,−1}`:
  *  - join: output weight = product of input weights — exactly the
  *    reference's "output action = Insert iff both inputs Insert" rule
  *    (no_websocket.java:430, 499) generalized to multiplicities;
  *  - aggregation: `sum(__w · x)` — Insert adds, Delete subtracts, the
  *    reference's IncrementalAggregateFunction (no_websocket.java:546–550)
  *    with zero custom state code;
  *  - consolidation: identical rows merge by summing weights; net-zero rows
  *    vanish (the state-cleanup the reference does imperatively via
  *    `state.clear()`/`MapState.remove`, no_websocket.java:404–425).
  *
  * Every operation is a plain Catalyst plan — joins shuffle on their keys,
  * aggregates get partial/final hash aggregation, all codegen'd. State
  * lives one of two ways: cached DataFrames cut from their lineage via
  * `localCheckpoint` (the default, executor storage memory), or — with
  * [[IncrementalQ3]]'s spill mode on — bucketed-by-join-key tables that
  * each compaction MERGEs, bounding the memory envelope to the deltas
  * since the last compaction while the delta joins read the state
  * shuffle-free.
  */
object ZSet {
  /** The weight column name, reserved on every z-set DataFrame. */
  val W = "__w"

  /** Merge duplicate rows (all columns but weight) and drop net-zero rows. */
  def consolidate(df: DataFrame): DataFrame = {
    val keys = df.columns.filterNot(_ == W).toIndexedSeq.map(col)
    df.groupBy(keys: _*).agg(sum(col(W)).as(W)).filter(col(W) =!= 0)
  }

  /** `state ∪ delta` as state upkeep: the plain union a non-compacting
    * batch applies, nothing rewritten.
    *
    * When both sides are pinned leaves — a `localCheckpoint`, an earlier
    * append, or an empty frame from `createDataFrame` — with the same
    * column names and types, the result is ONE new leaf over an RDD-level
    * union of their RDDs (nested unions flattened). `unionByName` would
    * instead add a `Union` child per batch, and each child is its own
    * whole-stage-codegen stage: every plan reading the state (delta joins,
    * aggregate partials, emission) grows one branch per batch, and since
    * Spark names generated classes by stage id, a growing chain renames
    * otherwise identical classes, so they miss the codegen cache and get
    * recompiled every batch. The RDD is the same `UnionRDD` that
    * `UnionExec` would build, so partitions and tasks do not change; only
    * the plan keeps a constant shape between compactions.
    *
    * The leaf's output attributes are fresh, nullability merged the way
    * `Union` merges it, and its statistics are the sum of the sides' (row
    * count only when both have one), so the planner sizes it as it sized
    * the `Union`. Any other side — a spilled state is a bucketed file scan
    * and must stay one so delta joins read it pre-partitioned — keeps
    * `unionByName`.
    */
  def append(state: DataFrame, delta: DataFrame): DataFrame =
    (state.queryExecution.analyzed, delta.queryExecution.analyzed) match {
      case (a: LogicalRDD, b: LogicalRDD) if !a.isStreaming && !b.isStreaming &&
          a.output.map(x => (x.name, x.dataType)) == b.output.map(x => (x.name, x.dataType)) =>
        val output = a.output.zip(b.output).map { case (x, y) =>
          x.withNullability(x.nullable || y.nullable).newInstance()
        }
        def parts(rdd: RDD[InternalRow]): Seq[RDD[InternalRow]] = rdd match {
          case u: UnionRDD[InternalRow @unchecked] => u.rdds
          case r => Seq(r)
        }
        val rdd = new UnionRDD(a.rdd.sparkContext, parts(a.rdd) ++ parts(b.rdd))
        val (sa, sb) = (a.stats, b.stats)
        val stats = Statistics(sa.sizeInBytes + sb.sizeInBytes,
          for (x <- sa.rowCount; y <- sb.rowCount) yield x + y)
        val spark = state.sparkSession
        Bridge.ofRows(spark, LogicalRDD(output, rdd)(
          spark.asInstanceOf[ClassicSparkSession], Some(stats)))
      case _ => state.unionByName(delta)
    }

  /** Weighted inner join: weights multiply through. */
  def join(l: DataFrame, r: DataFrame, cond: Column): DataFrame = {
    val lw = l.withColumnRenamed(W, "__wl")
    val rw = r.withColumnRenamed(W, "__wr")
    lw.join(rw, cond)
      .withColumn(W, col("__wl") * col("__wr"))
      .drop("__wl", "__wr")
  }

  /** Broadcast the micro-batch delta sides of [[deltaJoin]] (r15, guide
    * §3.1: size ESTIMATES "are often badly wrong … use an explicit
    * broadcast hint when you know a side is small"). Today the stats that
    * checkpointed frames propagate happen to keep every term a broadcast
    * join already (verified with graft.Prof at sf0.1: zero shuffle bytes
    * on the per-batch jobs, hint on or off — so this is measured NEUTRAL
    * locally, not claimed as a local win). What the hint buys is the
    * guarantee: the DELTA side is the one quantity micro-batching BOUNDS
    * by construction (source admission control sizes the trigger), while
    * the state side is unbounded — if a future plan shape or a bad
    * estimate ever flipped a term to sort-merge, the planner would
    * shuffle-WRITE the whole accumulated state once per batch before
    * AQE's runtime stats could downgrade it. A deployment whose triggers
    * exceed broadcast capacity (8 GB / 512 M rows per relation) sets
    * `-Dgraft.ivm.broadcast.delta=false` to fall back to the planner's
    * choice — the hint changes strategy only, never the result
    * (ZSetPropertySpec pins both).
    */
  private[streaming] def broadcastDelta: Boolean =
    sys.props.get("graft.ivm.broadcast.delta").forall(_.toBoolean)

  private def asBuildSide(delta: DataFrame): DataFrame =
    if (broadcastDelta) broadcast(delta) else delta

  /** Delta of `A ⋈ B` given old states and this batch's deltas (the bilinear
    * delta rule Δ(A⋈B) = ΔA⋈B ∪ ΔA⋈ΔB ∪ A⋈ΔB): everything the reference's
    * two-sided symmetric-join state machine computes record-at-a-time
    * (no_websocket.java:378–512), as three batch joins per micro-batch.
    *
    * Spelled fully distributed (three joins, not `ΔA⋈(B∪ΔB)` two) so each
    * STATE side sits directly under its join — and each term BROADCASTS
    * its batch-bounded delta side ([[asBuildSide]]), so the state side
    * never shuffles at all: not in-memory (where the unknown-stats
    * checkpoint scan used to sort-merge, reshuffling the accumulated
    * state every batch) and not spilled (where the bucketed scan already
    * avoided the exchange but still paid the merge sort).
    */
  def deltaJoin(aOld: DataFrame, dA: DataFrame,
                bOld: DataFrame, dB: DataFrame, cond: Column): DataFrame =
    join(asBuildSide(dA), bOld, cond)
      .unionByName(join(dA, asBuildSide(dB), cond))
      .unionByName(join(aOld, asBuildSide(dB), cond))
}
