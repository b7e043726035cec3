package graft.sources

import java.io.{BufferedReader, InputStreamReader, RandomAccessFile}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** REPLAYABLE unbounded transport — the exactly-once half of the
  * "Kafka-shaped" ingest story (r10 verdict item 2; the at-most-once half
  * is [[graft.streaming.SocketIngest]]'s plain socket).
  *
  * [[ReplayServer]] is the broker stand-in: it stages the ordered event
  * stream (all up front in [[ReplayServer.serve]], or ARRIVAL-DRIVEN in
  * [[ReplayServer.serveGrowing]] — per-partition segments written BY THE
  * TASKS in one distributed job, published in partition order by a pure
  * byte-copy producer thread, so no row ever serializes through the
  * driver — where the published count grows while consumers run) and
  * serves ARBITRARY OFFSET RANGES over TCP, any number of times — the
  * replayability contract a broker provides and a bare socket cannot.
  *
  * [[ReplayProvider]] is a full DataSource V2 `MicroBatchStream` over that
  * protocol (the Spark-first upgrade of the reference's `SourceFunction`
  * surface, no_websocket.java:248–326): offsets are event sequence
  * numbers, checkpointed by Structured Streaming's offset log, and
  * `planInputPartitions(start, end)` fans the range out to parallel
  * readers — so a killed-and-restarted query resumes from its committed
  * offset and re-reads exactly the events an in-flight batch had, which is
  * what makes end-to-end exactly-once composable on top (the snapshot-skip
  * protocol, [[graft.streaming.FoldDriver]]). Admission control
  * (`ReadLimit.maxRows`) paces the stream into real micro-batches instead
  * of one giant catch-up batch.
  */
object ReplayServer {

  /** A live replay server: `port` to connect to, `expected` total events,
    * `close()` to shut down (also deletes the staging file).
    */
  final case class Handle(port: Int, expected: Long,
                          private[ReplayServer] val server: ServerSocket,
                          private[ReplayServer] val staged: java.nio.file.Path) {
    def close(): Unit = {
      try server.close() catch { case _: Throwable => () }
      Files.deleteIfExists(staged)
    }
  }

  /** The staged stream a worker serves from: the byte-offset index plus
    * the PUBLISHED event count. For the fully-staged server the count is
    * fixed at construction; the growing server appends to the index and
    * advances `published` as chunks arrive — workers only ever serve up
    * to the published watermark, so a reader never sees a torn tail.
    */
  private final class StageState(initialIndex: Seq[Long], initialN: Long,
                                 groups: Seq[String],
                                 sessionTimeoutMs: Long = 0L) {
    private val index = scala.collection.mutable.ArrayBuffer[Long](initialIndex: _*)
    // watermarks are Long like the offset domain (ADVICE r12 — Int
    // truncates past 2^31 events; the byte index itself bounds a staged
    // stream at Int.MaxValue entries, enforced loudly in append)
    @volatile private var publishedN: Long = initialN
    /** Per-CONSUMER-GROUP progress watermarks (highest event index each
      * group's RANGE requests have read past). Groups are REGISTERED up
      * front: the flow-controlled producer paces against the SLOWEST
      * LIVE registered group, so a fast consumer draining ahead can never
      * let production outrun a slow one — the consumer-group contract a
      * real broker's quota/pause machinery provides. An unregistered
      * group name in a request merges into the anonymous group "".
      *
      * LIVENESS (r13 verdict item 2 — one dead group must not halt the
      * fleet): with `sessionTimeoutMs > 0`, a registered group whose last
      * heartbeat (`PING`/`RANGE`) is older than the timeout is EVICTED
      * from pacing — its watermark stops holding production back, exactly
      * Kafka's session.timeout.ms group-membership contract — and
      * re-admitted the moment it reconnects (any request naming it
      * refreshes `lastSeen`). Its progress watermark is retained across
      * the eviction: re-admission paces on where it actually is.
      * `0` (the default) disables eviction — every registered group paces
      * forever, the pre-r14 behavior the kill-free compositions rely on.
      */
    private val registered: Seq[String] =
      if (groups.isEmpty) Seq("") else groups
    private val served = scala.collection.concurrent.TrieMap[String, Long](
      registered.map(_ -> 0L): _*)
    // registration grants a full session's grace to connect
    private val lastSeen = scala.collection.concurrent.TrieMap[String, Long](
      registered.map(_ -> System.nanoTime()): _*)
    def published: Long = publishedN
    private def isLive(g: String): Boolean =
      sessionTimeoutMs <= 0L ||
        System.nanoTime() - lastSeen.getOrElse(g, 0L) <
          sessionTimeoutMs * 1000000L
    /** The SLOWEST LIVE registered group's watermark — what flow control
      * keys on. With every group evicted, production is unconstrained
      * (MaxValue): a fleet of dead consumers must not stall the producer.
      */
    def minServed: Long = {
      val live = registered.filter(isLive)
      if (live.isEmpty) Long.MaxValue
      else live.map(g => served.getOrElse(g, 0L)).min
    }
    /** One group's watermark (spec/diagnostic surface: `SERVED <group>`). */
    def servedOf(group: String): Long =
      served.getOrElse(normalize(group), 0L)
    /** Requests naming an unregistered group merge into the anonymous
      * group "" when one is registered (single-consumer back-compat);
      * otherwise they are tracked under their own name but never pace
      * production (only registered groups do).
      */
    private def normalize(group: String): String =
      if (served.contains(group) || !served.contains("")) group else ""
    /** Heartbeat: refresh the group's session (PING and RANGE both count —
      * Kafka's background heartbeat thread, reduced to a protocol verb).
      */
    def touch(group: String): Unit =
      lastSeen.update(normalize(group), System.nanoTime())
    def noteServed(group: String, upTo: Long): Unit = {
      val g = normalize(group)
      served.updateWith(g)(cur => Some(math.max(cur.getOrElse(0L), upTo)))
    }
    def append(offset: Long): Unit = synchronized {
      require(index.length <= Int.MaxValue - 1,
        "replay staging is index-bounded at Int.MaxValue events")
      index += offset
    }
    def publishAll(): Unit = synchronized { publishedN = index.length - 1L }
    /** Byte offsets of events [a, b] — only valid for a,b ≤ published. */
    def offsets(a: Long, b: Long): (Long, Long) = synchronized {
      (index(a.toInt), index(b.toInt))
    }
  }

  /** Stage `lines` (one string column, already ordered) fully up front and
    * serve them.
    *
    * Protocol, one request line per connection:
    *  - `COUNT`            → one line: the number of events published SO FAR
    *  - `RANGE <from> <to>` → events [from, to) as lines, then EOF
    *
    * The staging is a local text file plus an in-memory byte-offset index
    * (8 B/event — the price of random access; a production broker keeps
    * this per-segment). Requests are served on a thread per connection:
    * concurrent partition readers of one batch never serialize behind
    * each other.
    */
  def serve(lines: DataFrame): Handle = {
    val staged = Files.createTempFile("graft-replay", ".txt")
    val index = scala.collection.mutable.ArrayBuffer[Long](0L)
    val out = Files.newOutputStream(staged)
    try {
      var pos = 0L
      val it = lines.toLocalIterator()
      while (it.hasNext) {
        val b = (it.next().getString(0) + "\n").getBytes(StandardCharsets.UTF_8)
        out.write(b)
        pos += b.length
        index += pos
      }
    } finally out.close()
    val n = index.length - 1
    listen(staged, new StageState(index.toSeq, n.toLong, Seq("")), n.toLong)
  }

  /** ARRIVAL-DRIVEN variant (r11 verdict item 6): the stream's end does
    * not exist when the server starts. A producer thread stages the
    * ordered events in `chunks` installments, `intervalMs` apart,
    * publishing the count watermark after each flush — so a consumer's
    * COUNT polls observe a GROWING stream and a kill can land while the
    * tail is still being produced. `expected` on the handle is the final
    * total (the test contract needs it); the protocol itself never
    * reveals it early. `maxAheadChunks > 0` adds backpressure: the
    * producer stalls whenever the published watermark runs more than that
    * many chunks past the highest offset any consumer has actually read —
    * a bounded-buffer producer, which is what turns "the kill lands while
    * the tail is still being produced" from a host-speed race into a
    * structural guarantee when the consumer is slow (the Q3 IVM folds).
    *
    * `groups` pre-registers the CONSUMER GROUPS that will read this broker
    * (default: one anonymous group). With several, flow control keys on
    * the SLOWEST group's watermark — two concurrent queries with
    * independent offset progress share one broker, and the fast one can
    * never let production outrun the slow one (r12 verdict item 4).
    *
    * `sessionTimeoutMs > 0` adds group LIVENESS (r13 verdict item 2): a
    * registered group that stops heartbeating (`PING`/`RANGE`) for that
    * long is evicted from flow-control pacing — a dead consumer no longer
    * stalls production and starves the healthy groups — and re-admitted,
    * watermark intact, the moment it reconnects. Kafka's
    * session.timeout.ms contract, reduced to its pacing consequence.
    */
  def serveGrowing(lines: DataFrame, chunks: Int = 32,
                   intervalMs: Long = 150L,
                   maxAheadChunks: Int = 0,
                   groups: Seq[String] = Seq(""),
                   sessionTimeoutMs: Long = 0L): Handle = {
    // DE-DRIVERED STAGING (r13 verdict item 7 — `toLocalIterator` pulled
    // every row through one driver thread, the last driver-side
    // serialization point in the transport harness): the ordered frame is
    // written as per-partition text segments + line-length indexes BY THE
    // TASKS, in ONE distributed job that also returns the counts (no
    // separate count() job). `orderBy` output is range-partitioned —
    // partition i's rows all precede partition i+1's — so publishing the
    // segments in partition order IS the total order, and the producer
    // thread degrades to pure sequential byte copy + index arithmetic
    // (never touches a row). Segment files are a local-harness stand-in
    // for broker segment uploads; the offset contract is unchanged.
    val segDir = Files.createTempDirectory("graft-replay-seg")
    val segDirStr = segDir.toString
    val segs: IndexedSeq[(Int, Long)] = lines.rdd.mapPartitionsWithIndex {
      (pid, it) =>
        val data = new java.io.BufferedOutputStream(
          Files.newOutputStream(java.nio.file.Paths.get(s"$segDirStr/seg-$pid.txt")))
        val idx = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          Files.newOutputStream(java.nio.file.Paths.get(s"$segDirStr/seg-$pid.idx"))))
        var n = 0L
        try it.foreach { row =>
          val b = (row.getString(0) + "\n").getBytes(StandardCharsets.UTF_8)
          data.write(b)
          idx.writeLong(b.length.toLong)
          n += 1
        } finally { data.close(); idx.close() }
        Iterator.single((pid, n))
    }.collect().toIndexedSeq.sortBy(_._1)
    val expected = segs.map(_._2).sum
    val staged = Files.createTempFile("graft-replay-grow", ".txt")
    val st = new StageState(Seq(0L), 0L, groups, sessionTimeoutMs)
    val h = listen(staged, st, expected)
    val chunkSize = math.max(1L, expected / math.max(1, chunks))
    // `maxAheadChunks > 0` adds BACKPRESSURE flow control: after each
    // publish the producer waits until the consumer's read watermark
    // (highest RANGE end served) is within that many chunks of the
    // published count. Time pacing alone makes "the kill lands while the
    // tail is still being produced" a host-speed race when the consumer
    // is slow (the Q3 IVM fold); pacing by consumption makes it a
    // structural guarantee — production can never run more than
    // `maxAheadChunks` chunks past what has actually been read.
    val producer = new Thread(() => {
      val out = Files.newOutputStream(staged)
      try {
        var pos = 0L
        var inChunk = 0L
        val buf = new Array[Byte](1 << 16)
        for ((pid, n) <- segs if n > 0 && !h.server.isClosed) {
          val idxIn = new java.io.DataInputStream(new java.io.BufferedInputStream(
            Files.newInputStream(java.nio.file.Paths.get(s"$segDirStr/seg-$pid.idx"))))
          val dataIn = new java.io.BufferedInputStream(
            Files.newInputStream(java.nio.file.Paths.get(s"$segDirStr/seg-$pid.txt")))
          try {
            var i = 0L
            while (i < n && !h.server.isClosed) {
              val len = idxIn.readLong()
              var remaining = len
              while (remaining > 0) {
                val got = dataIn.read(buf, 0,
                  math.min(buf.length.toLong, remaining).toInt)
                if (got < 0) throw new java.io.EOFException(
                  s"segment seg-$pid.txt truncated")
                out.write(buf, 0, got)
                remaining -= got
              }
              pos += len
              st.append(pos)
              i += 1
              inChunk += 1
              if (inChunk >= chunkSize) {
                out.flush() // bytes durable BEFORE the watermark moves
                st.publishAll()
                inChunk = 0
                Thread.sleep(intervalMs)
                // paced against the SLOWEST LIVE registered consumer group
                while (maxAheadChunks > 0 && !h.server.isClosed &&
                       st.published - st.minServed > maxAheadChunks * chunkSize)
                  Thread.sleep(10)
              }
            }
          } finally { idxIn.close(); dataIn.close() }
        }
        out.flush()
        st.publishAll()
      } catch { case _: Throwable => () /* server closed mid-production */
      } finally {
        try out.close() catch { case _: Throwable => () }
        org.apache.commons.io.FileUtils.deleteQuietly(segDir.toFile)
      }
    }, "graft-replay-producer")
    producer.setDaemon(true)
    producer.start()
    h
  }

  private def listen(staged: java.nio.file.Path, st: StageState,
                     expected: Long): Handle = {
    val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
    val acceptor = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          val worker = new Thread(() => handle(sock, staged, st),
            "graft-replay-worker")
          worker.setDaemon(true)
          worker.start()
        }
      } catch { case _: Throwable => () /* server closed */ }
    }, "graft-replay-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    Handle(server.getLocalPort, expected, server, staged)
  }

  private def handle(sock: Socket, staged: java.nio.file.Path,
                     st: StageState): Unit = {
    try {
      val in = new BufferedReader(new InputStreamReader(
        sock.getInputStream, StandardCharsets.UTF_8))
      val req = Option(in.readLine()).getOrElse("")
      val out = sock.getOutputStream
      val n = st.published // one watermark read per request
      req.split("\\s+").toSeq match {
        case Seq("COUNT") =>
          out.write(s"$n\n".getBytes(StandardCharsets.UTF_8))
        case Seq("SERVED", group) => // a group's progress watermark (specs)
          out.write(s"${st.servedOf(group)}\n".getBytes(StandardCharsets.UTF_8))
        case Seq("PING", group) => // session heartbeat — keeps the group
          st.touch(group)         // live in flow-control pacing
          out.write("OK\n".getBytes(StandardCharsets.UTF_8))
        case "RANGE" +: from +: to +: rest if rest.size <= 1 =>
          val group = rest.headOption.getOrElse("")
          st.touch(group) // a read IS a heartbeat (and re-admits an
                          // evicted group before the range is served)
          val a = math.max(0L, from.toLong).min(n)
          val b = math.max(a, to.toLong).min(n)
          if (b > a) {
            val (offA, offB) = st.offsets(a, b)
            val raf = new RandomAccessFile(staged.toFile, "r")
            try {
              raf.seek(offA)
              val buf = new Array[Byte](8192)
              var remaining = offB - offA
              while (remaining > 0) {
                val got = raf.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
                if (got < 0) remaining = 0
                else { out.write(buf, 0, got); remaining -= got }
              }
            } finally raf.close()
            st.noteServed(group, b) // group progress watermark (flow control)
          }
        case _ => () // unknown request: close with no payload
      }
      out.flush()
    } catch { case _: Throwable => () /* client gone */
    } finally { try sock.close() catch { case _: Throwable => () } }
  }

  /** One client fetch of [from, to) — an Iterator that ALSO exposes
    * `close()`: the partition reader must be able to release the socket on
    * task cancellation (a kill mid-range would otherwise leak the client
    * socket and leave a server worker blocked writing to it — ADVICE r11),
    * not only at natural exhaustion.
    */
  final class Fetch(host: String, port: Int, from: Long, to: Long,
                    group: String = "")
      extends Iterator[String] with AutoCloseable {
    private val sock = new Socket(host, port)
    private val in = {
      val out = sock.getOutputStream
      val g = if (group.isEmpty) "" else s" $group"
      out.write(s"RANGE $from $to$g\n".getBytes(StandardCharsets.UTF_8))
      out.flush()
      new BufferedReader(new InputStreamReader(
        sock.getInputStream, StandardCharsets.UTF_8))
    }
    private var nextLine = in.readLine()
    override def hasNext: Boolean = {
      val has = nextLine != null
      if (!has) close()
      has
    }
    override def next(): String = {
      val l = nextLine; nextLine = in.readLine(); l
    }
    override def close(): Unit =
      try sock.close() catch { case _: Throwable => () }
  }

  /** Shared by the partition reader and specs (re-fetching a range twice
    * MUST return identical lines).
    */
  def fetch(host: String, port: Int, from: Long, to: Long,
            group: String = ""): Fetch =
    new Fetch(host, port, from, to, group)

  private def oneLine(host: String, port: Int, req: String): Long = {
    val sock = new Socket(host, port)
    try {
      sock.getOutputStream.write(s"$req\n".getBytes(StandardCharsets.UTF_8))
      sock.getOutputStream.flush()
      new BufferedReader(new InputStreamReader(
        sock.getInputStream, StandardCharsets.UTF_8)).readLine().trim.toLong
    } finally sock.close()
  }

  def count(host: String, port: Int): Long = oneLine(host, port, "COUNT")

  /** A consumer group's read watermark (spec/diagnostic surface). */
  def servedOf(host: String, port: Int, group: String): Long =
    oneLine(host, port, s"SERVED $group")

  /** One session heartbeat for `group`. */
  def ping(host: String, port: Int, group: String): Unit = {
    val sock = new Socket(host, port)
    try {
      sock.getOutputStream.write(
        s"PING $group\n".getBytes(StandardCharsets.UTF_8))
      sock.getOutputStream.flush()
      new BufferedReader(new InputStreamReader(
        sock.getInputStream, StandardCharsets.UTF_8)).readLine()
    } finally sock.close()
  }

  /** Scheduler-visible parallelism on the driver — the cap for adaptive
    * per-batch split fan-out. Captured via the active/default session so a
    * cluster deployment's core count flows through; 4 (the historical
    * fixed split count) when no session is up yet.
    */
  def schedulerParallelism: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.defaultParallelism)
      .getOrElse(4)

  /** Rows per split below which fanning out further is pure connection +
    * task overhead (a few hundred KB of line text per split).
    */
  private val MinRowsPerSplit = 4096L

  /** Per-batch split count: `pinned` if > 0 (explicit `splits` option),
    * else `min(parallelism, ceil(rows / MinRowsPerSplit))`, at least 1 —
    * a 100-row tail batch stays one task, a full trigger saturates the
    * scheduler (guide §2: parallelism derived from input size, capped at
    * the cluster-sized knob).
    */
  def splitCount(pinned: Int, rows: Long, parallelism: Int): Int =
    if (pinned > 0) math.max(1L, math.min(pinned.toLong, rows)).toInt
    else {
      val derived = (rows + MinRowsPerSplit - 1) / MinRowsPerSplit
      math.max(1L, math.min(parallelism.toLong, derived)).toInt
    }

  /** A daemon heartbeat thread pinging `group` every `intervalMs` until
    * the returned handle is closed — Kafka's consumer-side background
    * heartbeat, which is what distinguishes "alive but mid-batch" (the
    * fold working through a big trigger sends no RANGEs for a while)
    * from "dead" (a killed query stops heartbeating and gets evicted).
    */
  def heartbeat(host: String, port: Int, group: String,
                intervalMs: Long = 500L): AutoCloseable = {
    @volatile var closed = false
    val t = new Thread(() => {
      while (!closed) {
        try ping(host, port, group)
        catch { case _: Throwable => () /* broker gone — stop quietly */ }
        Thread.sleep(intervalMs)
      }
    }, s"graft-replay-heartbeat-$group")
    t.setDaemon(true)
    t.start()
    () => closed = true
  }
}

/** Event-sequence-number offset (json = the number). */
final case class ReplayOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** `spark.readStream.format(classOf[ReplayProvider].getName)` with options
  * `host`, `port` (a [[ReplayServer]]), `batchSize` (events admitted per
  * trigger), `splits` (partitions per batch; > 0 pins the count, 0/absent
  * derives it from batch rows and scheduler parallelism). Schema:
  * `value STRING` — or
  * `(offset LONG, value STRING)` with `includeOffset=true`, the way a real
  * broker source (Kafka) exposes its per-partition sequence metadata;
  * prefix-watermark event-time semantics need it
  * ([[graft.streaming.EventTimeReplay]]).
  */
class ReplayProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplayProvider.schemaFor(options.getBoolean("includeoffset", false))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ReplayTable(schema)
}

object ReplayProvider {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))
  def schemaFor(includeOffset: Boolean): StructType =
    if (includeOffset)
      StructType(Seq(StructField("offset", LongType), StructField("value", StringType)))
    else schema
}

class ReplayTable(tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = "graft_replay"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def req(k: String): String = {
      val v = options.get(k)
      require(v != null && v.nonEmpty, s"graft-replay: option '$k' is required")
      v
    }
    val host = Option(options.get("host")).getOrElse("127.0.0.1")
    val port = req("port").toInt
    val batchSize = Option(options.get("batchsize")).map(_.toLong).getOrElse(10000L)
    // splits > 0 pins the per-batch partition count; 0 (the default since
    // r15) derives it from batch size and scheduler parallelism
    val splits = Option(options.get("splits")).map(_.toInt).getOrElse(0)
    val includeOffset = options.getBoolean("includeoffset", false)
    val minBatchSize = Option(options.get("minbatchsize")).map(_.toLong).getOrElse(1L)
    val maxTriggerDelayMs =
      Option(options.get("maxtriggerdelayms")).map(_.toLong).getOrElse(500L)
    val group = Option(options.get("group")).getOrElse("")
    () => new ReplayScan(host, port, batchSize, splits, includeOffset,
      minBatchSize, maxTriggerDelayMs, group)
  }
}

class ReplayScan(host: String, port: Int, batchSize: Long, splits: Int,
                 includeOffset: Boolean = false, minBatchSize: Long = 1L,
                 maxTriggerDelayMs: Long = 500L, group: String = "")
    extends Scan {
  override def readSchema(): StructType = ReplayProvider.schemaFor(includeOffset)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ReplayStream(host, port, batchSize, splits, includeOffset,
      minBatchSize, maxTriggerDelayMs, group)
}

class ReplayStream(host: String, port: Int, batchSize: Long, splits: Int,
                   includeOffset: Boolean = false, minBatchSize: Long = 1L,
                   maxTriggerDelayMs: Long = 500L, group: String = "")
    extends MicroBatchStream with SupportsAdmissionControl {

  // set on construction (driver-side, like a real source's conf capture):
  // the scheduler-visible core count that caps the adaptive split fan-out
  private val parallelism: Int = ReplayServer.schedulerParallelism

  // the server's COUNT is POLLED per admission decision, never cached:
  // against an arrival-driven server ([[ReplayServer.serveGrowing]]) the
  // published watermark grows while the query runs, and a cached total
  // would freeze the stream at whatever had arrived by the first trigger.
  // One localhost round-trip per trigger — the price of a live tail.
  private def total: Long = ReplayServer.count(host, port)

  override def initialOffset(): Offset = ReplayOffset(0L)

  override def deserializeOffset(json: String): Offset =
    ReplayOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  // set on the first admission decision; a batch with fewer than
  // minBatchSize rows fires once maxTriggerDelayMs has elapsed since the
  // last admitted batch (or since start), so a slow-growing tail always
  // drains — Kafka's minOffsetsPerTrigger + maxTriggerDelay contract
  private var lastAdmitNanos: Long = 0L

  // admission-controlled form: pace the stream into real micro-batches
  // (start + maxRows), never one giant catch-up batch. Against a GROWING
  // broker the published watermark advances in producer-chunk steps; a
  // 50 ms trigger would otherwise admit each step as its own tiny batch,
  // and a stateful consumer (the Q3 IVM folds) pays a full fold + state
  // snapshot per batch — minBatchSize holds admission until a real batch
  // has accumulated, maxTriggerDelayMs bounds how long it can hold.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ReplayOffset].n
    val max = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => batchSize
    }
    if (lastAdmitNanos == 0L) lastAdmitNanos = System.nanoTime()
    val available = total - from
    val delayed = System.nanoTime() - lastAdmitNanos >=
      maxTriggerDelayMs * 1000000L
    if (available <= 0 || (available < minBatchSize && !delayed)) start
    else {
      lastAdmitNanos = System.nanoTime()
      ReplayOffset(math.min(from + max, from + available))
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-replay uses admission control: latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[ReplayOffset].n
    val b = end.asInstanceOf[ReplayOffset].n
    // ADAPTIVE split count (r15, guide §2: derive parallelism from the
    // input, never a constant tuned to one host). The old fixed splits=4
    // made every per-batch stage upstream of a shuffle — transport fetch,
    // line decode, the foreachBatch persist cache and everything scanning
    // it — run 4-wide on a 32-core host. An explicit `splits` option still
    // pins the count (back-compat / test determinism); otherwise fan out
    // to the scheduler parallelism, floored so a small batch doesn't pay
    // one socket per core for a few hundred rows. Row-set semantics are
    // split-invariant: offsets are stamped from range start + position,
    // so any contiguous partitioning yields identical (offset, value) rows.
    val k = ReplayServer.splitCount(splits, b - a, parallelism)
    (0 until k).map { i =>
      val from = a + (b - a) * i / k
      val to = a + (b - a) * (i + 1) / k
      ReplayRange(host, port, from, to, group): InputPartition
    }.filter { case ReplayRange(_, _, f, t, _) => t > f }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayReaderFactory(includeOffset)

  override def commit(end: Offset): Unit = () // the server retains all —
                                              // replayability IS the point
  override def stop(): Unit = ()
}

final case class ReplayRange(host: String, port: Int, from: Long, to: Long,
                             group: String = "")
    extends InputPartition

class ReplayReaderFactory(includeOffset: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ReplayRange(host, port, from, to, group) = partition: @unchecked
    new PartitionReader[InternalRow] {
      private val it = ReplayServer.fetch(host, port, from, to, group)
      private var row: InternalRow = _
      private var served = 0L
      override def next(): Boolean =
        if (it.hasNext) {
          val line = UTF8String.fromString(it.next())
          // the event's sequence number: range start + position within it
          row = if (includeOffset) InternalRow(from + served, line)
                else InternalRow(line)
          served += 1
          true
        } else {
          // the offset range is a CONTRACT: short delivery would silently
          // drop events and break exactly-once — fail loudly instead
          require(served == to - from,
            s"replay range [$from,$to) delivered $served of ${to - from} events")
          false
        }
      override def get(): InternalRow = row
      // a cancelled/early-terminated task (the deliberate mid-stream kill
      // in replayExactlyOnce) must release its socket, or the server-side
      // worker stays blocked writing to it (ADVICE r11)
      override def close(): Unit = it.close()
    }
  }
}
