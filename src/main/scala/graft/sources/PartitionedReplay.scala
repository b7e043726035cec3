package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** PARTITIONED replayable transport — the real broker shape. A Kafka topic
  * is not one totally-ordered stream: it is P independently-ordered
  * partitions, ordered WITHIN each and arbitrary ACROSS them, each with
  * its own offset sequence. This source consumes a set of
  * [[ReplayServer]] instances as the partitions of one logical topic (the
  * standard CDC layout — one ordered log per table — is exactly this with
  * partition = relation):
  *
  *  - offsets are a VECTOR, one sequence number per partition,
  *    checkpointed through Structured Streaming's offset log as
  *    `p:n,p:n,…` and re-served on demand per partition;
  *  - admission control is global-budget, apportioned: the batch takes
  *    up to `batchSize` events split across partitions in proportion to
  *    what each has available (Kafka's `maxOffsetsPerTrigger` shape),
  *    holding until `minBatchSize` have accumulated in total
  *    (`minOffsetsPerTrigger` + `maxTriggerDelayMs`);
  *  - each admitted partition range is its own input split, so P
  *    partitions are fetched by P parallel readers;
  *  - schema is Kafka's: `(partition INT, offset LONG, value STRING)` —
  *    per-partition order is the ONLY order the transport promises, which
  *    is why event-time semantics over it must be per-partition-prefix
  *    ([[graft.streaming.EventTimeReplay]]).
  */
class PartitionedReplayProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-replay-partitioned"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PartitionedReplayProvider.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new PartitionedReplayTable
}

object PartitionedReplayProvider {
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("value", StringType)))
}

/** `p:n,p:n,…` — one committed sequence number per partition. */
final case class VectorOffset(ns: Map[Int, Long]) extends Offset {
  override def json(): String =
    ns.toSeq.sortBy(_._1).map { case (p, n) => s"$p:$n" }.mkString(",")
}

object VectorOffset {
  def parse(s: String): VectorOffset = VectorOffset(
    s.trim.split(",").filter(_.nonEmpty).map { kv =>
      val Array(p, n) = kv.split(":")
      p.trim.toInt -> n.trim.toLong
    }.toMap)
}

class PartitionedReplayTable extends Table with SupportsRead {
  override def name(): String = "graft_replay_partitioned"
  override def schema(): StructType = PartitionedReplayProvider.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val host = Option(options.get("host")).getOrElse("127.0.0.1")
    val portsRaw = options.get("ports")
    require(portsRaw != null && portsRaw.nonEmpty,
      "graft-replay-partitioned: option 'ports' (comma-separated, one per " +
        "partition) is required")
    val ports = portsRaw.split(",").map(_.trim.toInt).toIndexedSeq
    val batchSize = Option(options.get("batchsize")).map(_.toLong).getOrElse(10000L)
    val minBatchSize = Option(options.get("minbatchsize")).map(_.toLong).getOrElse(1L)
    val maxTriggerDelayMs =
      Option(options.get("maxtriggerdelayms")).map(_.toLong).getOrElse(500L)
    // consumer group: each partition's ReplayServer tracks this group's
    // read watermark independently — flow control and session liveness
    // are per partition, the Kafka shape
    val group = Option(options.get("group")).getOrElse("")
    () => new PartitionedReplayScan(host, ports, batchSize, minBatchSize,
      maxTriggerDelayMs, group)
  }
}

class PartitionedReplayScan(host: String, ports: IndexedSeq[Int],
                            batchSize: Long, minBatchSize: Long,
                            maxTriggerDelayMs: Long, group: String = "")
    extends Scan {
  override def readSchema(): StructType = PartitionedReplayProvider.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PartitionedReplayStream(host, ports, batchSize, minBatchSize,
      maxTriggerDelayMs, group)
}

class PartitionedReplayStream(host: String, ports: IndexedSeq[Int],
                              batchSize: Long, minBatchSize: Long,
                              maxTriggerDelayMs: Long, group: String = "")
    extends MicroBatchStream with SupportsAdmissionControl {

  private def counts(): IndexedSeq[Long] =
    ports.map(p => ReplayServer.count(host, p))

  private var lastAdmitNanos: Long = 0L

  override def initialOffset(): Offset =
    VectorOffset(ports.indices.map(_ -> 0L).toMap)

  override def deserializeOffset(json: String): Offset = VectorOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  /** Global-budget apportioned admission: take up to the limit's rows,
    * split across partitions in proportion to each one's published
    * backlog (so one hot partition cannot starve the rest of the batch),
    * holding for `minBatchSize` total with the `maxTriggerDelayMs` flush.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VectorOffset].ns
    val max = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => batchSize
    }
    if (lastAdmitNanos == 0L) lastAdmitNanos = System.nanoTime()
    val avail = counts().zipWithIndex
      .map { case (c, p) => p -> math.max(0L, c - from.getOrElse(p, 0L)) }
    val total = avail.map(_._2).sum
    val delayed = System.nanoTime() - lastAdmitNanos >=
      maxTriggerDelayMs * 1000000L
    if (total <= 0 || (total < minBatchSize && !delayed)) start
    else {
      lastAdmitNanos = System.nanoTime()
      val budget = math.min(max, total)
      // proportional floor allocation, remainder round-robin by backlog
      val base = avail.map { case (p, a) => p -> math.min(a, budget * a / total) }
      var left = budget - base.map(_._2).sum
      val extra = avail.sortBy(-_._2).map { case (p, a) =>
        val baseP = base.find(_._1 == p).get._2
        val add = math.min(a - baseP, left)
        left -= add
        p -> add
      }.toMap
      VectorOffset(base.map { case (p, b) =>
        p -> (from.getOrElse(p, 0L) + b + extra.getOrElse(p, 0L))
      }.toMap)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-replay-partitioned uses admission control: latestOffset(start, limit)")

  // captured at construction like ReplayStream's (driver-side)
  private val parallelism: Int = ReplayServer.schedulerParallelism

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[VectorOffset].ns
    val b = end.asInstanceOf[VectorOffset].ns
    // SUB-SPLIT each topic partition's admitted range (r15, guide §2.5:
    // the old one-task-per-partition plan made the dominant log — lineitem,
    // ~80% of events at TPC-H ratios — fetch AND decode serially, and left
    // the downstream per-batch cache 3-partitioned and skewed). The batch's
    // split budget (scheduler parallelism, floored per split like the
    // single-log source) is apportioned across partitions in proportion to
    // their admitted rows, ≥ 1 each — a broker consumer fanning one
    // partition's fetch across readers is sound here because offsets are
    // stamped from range start + position, so sub-ranges reproduce the
    // identical (partition, offset, value) rows.
    val ranges = ports.indices.map { p =>
      (p, a.getOrElse(p, 0L), b.getOrElse(p, 0L))
    }.filter { case (_, f, t) => t > f }
    val total = ranges.map { case (_, f, t) => t - f }.sum
    val budget = ReplayServer.splitCount(0, total, parallelism)
    ranges.flatMap { case (p, f, t) =>
      val rows = t - f
      val k = math.max(1L, math.min(rows, budget * rows / math.max(1L, total))).toInt
      (0 until k).map { i =>
        PartitionedReplayRange(p, host, ports(p),
          f + rows * i / k, f + rows * (i + 1) / k, group): InputPartition
      }
    }.filter {
      case PartitionedReplayRange(_, _, _, f, t, _) => t > f
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionedReplayReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class PartitionedReplayRange(part: Int, host: String, port: Int,
                                        from: Long, to: Long,
                                        group: String = "")
    extends InputPartition

class PartitionedReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val PartitionedReplayRange(part, host, port, from, to, group) =
      partition: @unchecked
    new PartitionReader[InternalRow] {
      private val it = ReplayServer.fetch(host, port, from, to, group)
      private var row: InternalRow = _
      private var served = 0L
      override def next(): Boolean =
        if (it.hasNext) {
          row = InternalRow(part, from + served,
            UTF8String.fromString(it.next()))
          served += 1
          true
        } else {
          require(served == to - from,
            s"replay partition $part range [$from,$to) delivered $served " +
              s"of ${to - from} events")
          false
        }
      override def get(): InternalRow = row
      override def close(): Unit = it.close()
    }
  }
}
