package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** KLL-family mergeable quantile sketch (Karnin–Lang–Liberty FOCS'16 /
  * the MRL'98 compactor scheme) — the bounded-memory quantile summary the
  * sketch surface was missing next to KMV (distinct), HLL, and
  * Misra–Gries (frequency): at 100 TB, the exact `percentile` aggregate's
  * per-group value multiset does not fit an executor, and a quantile
  * monitor must run as constant state per group with map-side combine.
  *
  * Structure: a ladder of levels; items at level `i` carry weight `2^i`.
  * Updates append to level 0; a level reaching `capacity` is sorted and
  * every other item promoted (half the items, double the weight), the
  * rest discarded. Merge concatenates ladders level-wise then re-runs the
  * same compaction cascade, so partial aggregation is sound and the
  * buffer is ≤ `capacity · levels` doubles regardless of input size.
  *
  * Determinism: compaction keeps ODD-indexed items when the level's
  * compaction counter is even and EVEN-indexed otherwise — no RNG, so a
  * given execution DAG reproduces bit-identically. Across different merge
  * orders the ESTIMATE may vary within the error bound (inherent to every
  * compactor sketch), which is why the driver query emits the CHECKED
  * BOUND (estimate's true rank within ε·n of target), not the raw
  * estimate — same contract as Misra–Gries in `text_frequent_tokens`.
  * Worst-case rank error: each compaction at level `l` perturbs any rank
  * by ≤ 2^l; with ~n/(capacity·2^l)·2 compactions per level the total is
  * ≤ ~2·levels·n/capacity — at capacity 4096 and fixture scales that is
  * ≲0.4% of n, checked against a 2% gate for margin.
  */
case class KllSketch(
    child: Expression,
    capacity: Int,
    ps: Seq[Double],
    emitState: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch.Buffer] {

  override def prettyName: String =
    if (emitState) "graft_kll_state" else "graft_kll_quantiles"
  override def dataType: DataType =
    if (emitState) org.apache.spark.sql.types.BinaryType
    else ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): KllSketch.Buffer = new KllSketch.Buffer

  override def update(buf: KllSketch.Buffer, input: InternalRow): KllSketch.Buffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Double], capacity)
    buf
  }

  override def merge(a: KllSketch.Buffer, b: KllSketch.Buffer): KllSketch.Buffer = {
    a.mergeIn(b, capacity); a
  }

  override def eval(buf: KllSketch.Buffer): Any =
    if (emitState) buf.toBytes
    else new GenericArrayData(buf.quantiles(ps).map(v => v: Any).toArray)

  override def serialize(buf: KllSketch.Buffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): KllSketch.Buffer =
    KllSketch.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KllSketch {
  val DefaultCapacity = 4096

  final class Buffer {
    // levels(i): unsorted items of weight 2^i; compactions(i): parity source
    val levels = ArrayBuffer(ArrayBuffer.empty[Double])
    val compactions = ArrayBuffer(0L)

    def insert(v: Double, capacity: Int): Unit = {
      levels(0) += v
      cascade(capacity)
    }

    private def cascade(capacity: Int): Unit = {
      var l = 0
      while (l < levels.length) {
        if (levels(l).length >= capacity) {
          if (l + 1 == levels.length) { levels += ArrayBuffer.empty[Double]; compactions += 0L }
          val sorted = levels(l).sortInPlace()
          val keepOdd = compactions(l) % 2 == 0
          val up = levels(l + 1)
          var i = if (keepOdd) 1 else 0
          while (i < sorted.length) { up += sorted(i); i += 2 }
          compactions(l) += 1
          levels(l) = ArrayBuffer.empty[Double]
        }
        l += 1
      }
    }

    def mergeIn(other: Buffer, capacity: Int): Unit = {
      var l = 0
      while (l < other.levels.length) {
        if (l == levels.length) { levels += ArrayBuffer.empty[Double]; compactions += 0L }
        levels(l) ++= other.levels(l)
        compactions(l) += other.compactions(l)
        l += 1
      }
      cascade(capacity)
    }

    /** Smallest value whose cumulative weight reaches ⌈p·W⌉ (W = total
      * weight), over the weight-expanded sorted items.
      */
    def quantiles(ps: Seq[Double]): Seq[Double] = {
      val items = ArrayBuffer.empty[(Double, Long)]
      var l = 0
      while (l < levels.length) {
        val w = 1L << l
        levels(l).foreach(v => items += ((v, w)))
        l += 1
      }
      if (items.isEmpty) return ps.map(_ => Double.NaN)
      val sorted = items.sortBy(_._1)
      val total = sorted.iterator.map(_._2).sum
      ps.map { p =>
        val target = math.max(1L, math.ceil(p * total).toLong)
        var cum = 0L
        var i = 0
        var res = sorted.last._1
        var found = false
        while (i < sorted.length && !found) {
          cum += sorted(i)._2
          if (cum >= target) { res = sorted(i)._1; found = true }
          i += 1
        }
        res
      }
    }

    def toBytes: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(levels.length)
      var l = 0
      while (l < levels.length) {
        out.writeLong(compactions(l))
        out.writeInt(levels(l).length)
        levels(l).foreach(out.writeDouble)
        l += 1
      }
      out.flush(); bos.toByteArray
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val buf = new Buffer
      buf.levels.clear(); buf.compactions.clear()
      val nLevels = in.readInt()
      var l = 0
      while (l < nLevels) {
        buf.compactions += in.readLong()
        val n = in.readInt()
        val level = new ArrayBuffer[Double](n)
        var i = 0
        while (i < n) { level += in.readDouble(); i += 1 }
        buf.levels += level
        l += 1
      }
      buf
    }
  }

  /** `graft_kll_quantiles(x)` over the default p-lattice. */
  val DefaultPs: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  def apply(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_kll_quantiles", c)

  /** The serialized ladder itself — the mergeable partial a streaming
    * fold accumulates across micro-batches ([[graft.streaming
    * .SummaryStream.streamKllQuantiles]]); fold with [[Buffer.fromBytes]]+`mergeIn`.
    */
  def state(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_kll_state", c)

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kll_quantiles",
      exprs => KllSketch(exprs.head, DefaultCapacity, DefaultPs), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kll_state",
      exprs => KllSketch(exprs.head, DefaultCapacity, DefaultPs,
        emitState = true), "built-in")
  }
}
