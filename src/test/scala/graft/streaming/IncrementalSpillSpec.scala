package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The state spill ([[IncrementalQ3]]'s 100× memory story, stored by
  * [[MergeLogSpill]]):
  *  - SEMANTICS: a spilled fold is bit-identical to the in-memory fold at
  *    every batch boundary, including exact empty convergence;
  *  - PHYSICS: every manifest entry's file holds exactly its bucket's
  *    rows, and a compaction rewrites only the buckets its deltas touched;
  *  - HYGIENE: at most the two newest spill versions stay on disk.
  *
  * The changelog is capacity-windowed so deletes interleave mid-stream
  * and a compaction (hence a spill) fires well before teardown ends.
  */
class IncrementalSpillSpec extends SparkSpec {

  private val K = 8

  private lazy val events: DataFrame =
    Changelog.generate(spark, sfDir, capacity = Some(1500L)).localCheckpoint()

  private def tops(spillDir: Option[String] = None): Seq[Seq[Seq[Any]]] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    IncrementalQ3.runBatches(spark, events, K, spillDir = spillDir,
      onBatch = (_, st) => buf += IncrementalQ3.topN(st).collect().map(_.toSeq).toSeq)
    buf.toSeq
  }

  private lazy val plainTops: Seq[Seq[Seq[Any]]] = tops()

  /** `events` cut into `k` trigger-ordered micro-batches of raw lines. */
  private def slices(k: Int): Seq[DataFrame] = {
    val tMax = events.agg(max(col("t"))).head().getLong(0)
    val batched = events.withColumn("batch", Changelog.batchOf(k, tMax)).localCheckpoint()
    (0 until k).map(i => batched.filter(col("batch") === i).select("line"))
  }

  /** `name`@`v`'s manifest: bucket → root-relative data file. */
  private def entries(root: String, v: Long, name: String): Map[Int, String] =
    MergeLogSpill.readManifest(root, v, name).toMap

  /** Buckets whose data file version `v` of `name` WROTE into the pool
    * (the writing task names each file after its bucket).
    */
  private def poolBuckets(root: String, name: String, v: Long): Set[Int] =
    Option(new java.io.File(s"$root/pool/$name/v$v").listFiles())
      .getOrElse(Array.empty).toSet[java.io.File]
      .flatMap(f => "-b(\\d{5})\\.parquet$".r.findFirstMatchIn(f.getName))
      .map(_.group(1).toInt)

  test("spilled fold ≡ in-memory fold at every batch; versions pruned to two") {
    val plain = plainTops
    val root = tempDir("graft-ivm-spill")
    val spilled = tops(Some(root))
    assert(spilled == plain,
      "state spill is a storage change, never a semantic one")
    assert(plain.last.isEmpty, "full cycle converges to exactly-empty state")
    val versions = Option(new java.io.File(root).listFiles()).getOrElse(Array())
      .filter(_.getName.startsWith("v")).map(_.getName)
    assert(versions.nonEmpty,
      "interleaved deletes must have compacted — and so spilled — mid-fold")
    assert(versions.length <= 2, s"stale spill versions not pruned: ${versions.toSeq}")
  }

  test("bucket probe contract: pmod(hash(k), n) IS the writer's bucket id") {
    // The dirty-bucket compaction classifies buckets with
    // pmod(hash(key), n); the writer places rows by HashPartitioning's
    // partitionIdExpression. These are the same Murmur3(seed 42) + pmod —
    // this test pins the contract LOUDLY: if a Spark upgrade ever changed
    // the writer's hash, a clean-classified bucket could silently hold
    // delta rows and the carry-forward would corrupt state.
    val root = tempDir("graft-bucket-contract")
    val df = spark.range(500).select(col("id").as("k"), lit(1L).as(ZSet.W))
    val written = MergeLogSpill.write(
      spark, root, 1L, "probe", "k", df, carry = None)
    assert(written.count() == 500)
    val entries = MergeLogSpill.readManifest(root, 1L, "probe")
    assert(entries.nonEmpty, "the write recorded no manifest entries")
    val n = MergeLogSpill.Buckets
    entries.foreach { case (declaredBucket, file) =>
      val probed = spark.read.parquet(s"$root/$file")
        .select(pmod(hash(col("k")), lit(n)).cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(probed == Set(declaredBucket),
        s"file $file: writer bucket $declaredBucket but probe says $probed")
    }
    IncrementalQ3.cleanupSpillRoot(root)
  }

  test("dirty-bucket compaction: untouched buckets carry forward unrewritten") {
    // Key-churn fixture: a broad first compaction (full write), then four
    // batches touching a HANDFUL of lineitem keys — the second compaction
    // must rewrite only those keys' buckets and carry every other bucket
    // forward: v2's manifest names v1's file for it, and v2 writes no data
    // file for it. This is the O(delta keys) write the 100×
    // story needs; the sf-fixture folds can't show it because their
    // per-batch deltas touch every bucket.
    import spark.implicits._
    def cu(ck: Long) = s"+CU|$ck|c$ck|0|100.0|BUILDING"
    def or(ok: Long, ck: Long) = s"+OR|$ok|$ck|O|100.0|1995-01-01|1-URGENT"
    def li(ok: Long, sign: String = "+") =
      s"${sign}LI|$ok|1|1|1|1.0|100.0|0.05|0.02|N|O|1995-06-01"
    val batches: Seq[Seq[String]] = Seq(
      (1L to 40L).flatMap(k => Seq(cu(k), or(k, k), li(k))),      // broad base
      Seq(li(100)), Seq(li(101)), Seq(li(102)),                   // → compaction 1 (full)
      Seq(li(100, "-")), Seq(li(200)), Seq(li(201)), Seq(li(200, "-")) // → compaction 2 (dirty-only)
    )
    val root = tempDir("graft-ivm-dirty")
    val fin = batches.foldLeft(IncrementalQ3.init(spark)) { (st, ls) =>
      IncrementalQ3.step(st, ls.toDF("line"), spillDir = Some(root))
    }
    assert(fin.spillHistory.length == 2,
      s"expected two compactions, got history ${fin.spillHistory}")
    val List(v2, v1) = fin.spillHistory
    // states with NO deltas in batches 5–8 (c, o, co): v2's manifest names
    // every v1 file unchanged, and v2 wrote none of their data
    for (name <- Seq("c", "o", "co")) {
      val (e1, e2) = (entries(root, v1, name), entries(root, v2, name))
      assert(e1.nonEmpty, s"$name@v$v1 has no data files")
      assert(e2 == e1, s"$name was rewritten despite zero deltas: v1 $e1, v2 $e2")
      assert(poolBuckets(root, name, v2).isEmpty,
        s"$name: v$v2 wrote data files despite zero deltas")
    }
    // the lineitem state: buckets of the churned keys (100, 200, 201)
    // rewritten, everything else carried forward
    val n = MergeLogSpill.Buckets
    val touched = Seq(100L, 200L, 201L)
      .toDF("k").select(pmod(hash(col("k")), lit(n)).cast("int"))
      .collect().map(_.getInt(0)).toSet
    val (l1, l2) = (entries(root, v1, "l"), entries(root, v2, "l"))
    val untouched = l1.keySet -- touched
    assert(untouched.nonEmpty, "fixture bug: every l bucket was touched")
    untouched.foreach { b =>
      assert(l2.get(b).contains(l1(b)),
        s"l bucket $b holds no churned key but was rewritten") }
    assert(poolBuckets(root, "l", v2).subsetOf(touched),
      s"l: v$v2 wrote data files for untouched buckets " +
        s"${poolBuckets(root, "l", v2) -- touched}")
    // and the churn is SEMANTICALLY applied: the spilled fold equals the
    // same batches folded in memory, exactly
    val plainFin = batches.foldLeft(IncrementalQ3.init(spark)) { (st, ls) =>
      IncrementalQ3.step(st, ls.toDF("line"), spillDir = None)
    }
    val a = fin.agg.orderBy("l_orderkey").collect().map(_.toSeq).toSeq
    val b = plainFin.agg.orderBy("l_orderkey").collect().map(_.toSeq).toSeq
    assert(a == b, "dirty-bucket compaction changed the maintained aggregate")
    IncrementalQ3.cleanupSpillRoot(root)
  }

  test("per-grain probe: a fact-grain's untouched agg buckets carry forward") {
    // A SECOND maintained grain whose leading key is NOT l_orderkey —
    // o_orderdate, the fact-sized shape (r11 verdict item 4: the old
    // probe marked such grains all-dirty, an O(state) agg rewrite every
    // compaction). Base batch spreads 40 distinct order dates across the
    // buckets; the post-compaction churn touches ONE order (hence one
    // date), so the second compaction must rewrite only that date's agg
    // bucket and carry every other one forward from the previous version.
    import spark.implicits._
    def cu(ck: Long) = s"+CU|$ck|c$ck|0|100.0|BUILDING"
    def date(k: Long) = java.time.LocalDate.of(1995, 1, 1).plusDays(k).toString
    def or(ok: Long) = s"+OR|$ok|$ok|O|100.0|${date(ok)}|1-URGENT"
    def li(ok: Long, sign: String = "+") =
      s"${sign}LI|$ok|1|1|1|1.0|100.0|0.05|0.02|N|O|1995-06-01"
    val batches: Seq[Seq[String]] = Seq(
      (1L to 40L).flatMap(k => Seq(cu(k), or(k), li(k))),           // broad base
      Seq(li(1)), Seq(li(1)), Seq(li(1)),                           // → compaction 1 (full)
      Seq(li(2)), Seq(li(2, "-")), Seq(li(2)), Seq(li(2, "-"))      // → compaction 2 (order 2's date only)
    )
    val root = tempDir("graft-ivm-grain-probe")
    val grains = Seq(IncrementalQ3.DefaultAggKeys, Seq("o_orderdate"))
    val fin = batches.foldLeft(IncrementalQ3.init(spark, grains)) { (st, ls) =>
      IncrementalQ3.step(st, ls.toDF("line"), spillDir = Some(root))
    }
    assert(fin.spillHistory.length == 2,
      s"expected two compactions, got history ${fin.spillHistory}")
    val List(v2, v1) = fin.spillHistory
    val n = MergeLogSpill.Buckets
    val touched = Seq(date(2)).toDF("d")
      .select(pmod(hash(to_date(col("d"))), lit(n)).cast("int"))
      .collect().map(_.getInt(0)).toSet
    val (a1, a2) = (entries(root, v1, "agg1"), entries(root, v2, "agg1"))
    assert(a1.size > 4, s"fixture bug: fact grain landed in only ${a1.size} buckets")
    val untouched = a1.keySet -- touched
    assert(untouched.nonEmpty, "fixture bug: every agg1 bucket was touched")
    untouched.foreach { b =>
      assert(a2.get(b).contains(a1(b)),
        s"agg1 bucket $b holds no churned date but was rewritten — the " +
          "fact grain degraded to an all-dirty (O(state)) compaction") }
    assert(poolBuckets(root, "agg1", v2).subsetOf(touched),
      s"agg1: v$v2 wrote data files for untouched buckets " +
        s"${poolBuckets(root, "agg1", v2) -- touched}")
    // and the maintained fact-grain aggregate is still exactly right:
    // equals the same batches folded in memory
    val plainFin = batches.foldLeft(IncrementalQ3.init(spark, grains)) { (st, ls) =>
      IncrementalQ3.step(st, ls.toDF("line"), spillDir = None)
    }
    val a = fin.aggs(1)._2.orderBy("o_orderdate").collect().map(_.toSeq).toSeq
    val b = plainFin.aggs(1)._2.orderBy("o_orderdate").collect().map(_.toSeq).toSeq
    assert(a == b, "per-grain probe changed the maintained fact-grain aggregate")
    IncrementalQ3.cleanupSpillRoot(root)
  }

  test("adaptive threshold: in-memory below it, engaged above it, same answers") {
    // the spill POLICY (r13 verdict item 1): with a threshold the fold is
    // a function of its own state size, not of a constructor flag
    // 1) unreachable threshold → the fold must never engage: no spill
    //    versions, no latch, and the root is never even created (write
    //    paths alone pin roots)
    val rootHi = tempDir("graft-ivm-adaptive-hi")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rootHi))
    val never = IncrementalQ3.runBatches(spark, events, K,
      spillDir = Some(rootHi), spillAtRows = Long.MaxValue)
    assert(never.spillHistory.isEmpty && !never.spillEngaged,
      "an unreachable threshold must keep the fold on the heap")
    assert(!new java.io.File(rootHi).exists(),
      "a never-engaged fold must not create its spill root")
    // 2) trivially-low threshold → the FIRST compaction measures, latches,
    //    and every later compaction spills; per-batch answers stay
    //    bit-identical to the in-memory fold, and the latch + history
    //    survive a snapshot round-trip
    val rootLo = tempDir("graft-ivm-adaptive-lo")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    var engagedAt = -1
    var firstCompactInMemory = false
    val fin = IncrementalQ3.runBatches(spark, events, K,
      spillDir = Some(rootLo), spillAtRows = 1L,
      onBatch = (b, st) => {
        buf += IncrementalQ3.topN(st).collect().map(_.toSeq).toSeq
        if (st.dirty == 0 && st.spillHistory.isEmpty) firstCompactInMemory = true
        if (st.spillEngaged && engagedAt < 0) engagedAt = b
      })
    assert(buf.toSeq == plainTops,
      "the adaptive fold must be bit-identical to the in-memory fold")
    assert(firstCompactInMemory,
      "the first compaction must consolidate on the heap (measurement " +
        "precedes engagement by construction)")
    assert(engagedAt >= 0 && fin.spillEngaged && fin.spillHistory.nonEmpty,
      s"threshold 1 must engage and spill (engagedAt=$engagedAt, " +
        s"history=${fin.spillHistory})")
    val snap = tempDir("graft-ivm-adaptive-snap")
    Snapshots.saveBatch(fin, snap, 0)
    val loaded = Snapshots.loadLatest(spark, snap).get._1
    assert(loaded.spillEngaged,
      "the engagement latch must survive a snapshot — a resumed fold " +
        "falling back to the heap would re-pay the memory it can't afford")
    IncrementalQ3.cleanupSpillRoot(rootLo)
  }

  test("snapshot save/load composes with spill: resume ≡ uninterrupted") {
    // operability × memory-bound together: a fold running WITH spill is
    // snapshotted mid-stream (its states are spill-store scans),
    // reloaded, and folded on — still bit-equal and still exactly empty
    val bs = slices(K)
    val root = tempDir("graft-ivm-spill-snap")
    val spill = Some(s"$root/spill")
    def step(st: IncrementalQ3.State, b: DataFrame) =
      IncrementalQ3.step(st, b, spillDir = spill)
    val direct = bs.foldLeft(IncrementalQ3.init(spark))(step)
    val half = bs.take(K / 2 + 1).foldLeft(IncrementalQ3.init(spark))(step)
    assert(half.spillHistory.nonEmpty,
      "the snapshot must be taken AFTER a spill to exercise the composition")
    Snapshots.saveBatch(half, s"$root/snap", 0)
    val loaded = Snapshots.loadLatest(spark, s"$root/snap").get._1
    assert(loaded.spillHistory == half.spillHistory,
      "the snapshot must carry the spill history, or a resumed fold " +
        "leaks every pre-snapshot version forever")
    val resumed = bs.drop(K / 2 + 1).foldLeft(loaded)(step)
    val a = IncrementalQ3.topN(direct).collect().map(_.toSeq).toSeq
    val b = IncrementalQ3.topN(resumed).collect().map(_.toSeq).toSeq
    assert(a == b, "spilled-fold resume must equal the uninterrupted fold")
    assert(b.isEmpty, "full cycle still cancels to exactly empty")
  }

  test("dirty-bucket probe: one action per incremental compaction, none per batch") {
    // The probe is the step's only Dataset collect (MERGE writes collect
    // their file reports through an RDD, which no QueryExecutionListener
    // sees). Over a spilled fold compacting at batches 3 (the first: a
    // full write, nothing to probe), 7 and 11 (incremental), only the
    // incremental compactions may probe, once each.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val collects = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collects.add(qe.analyzed.output.map(_.name).mkString(","))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val bs = slices(12)
    val root = tempDir("graft-ivm-probe-count")
    spark.listenerManager.register(listener)
    val probes = try {
      bs.zipWithIndex.scanLeft((IncrementalQ3.init(spark), 0)) { case ((st, _), (lines, b)) =>
        val next = IncrementalQ3.step(st, lines, spillDir = Some(root))
        // listener events arrive in order: once this batch's sentinel
        // collect is seen, every collect the step ran has been too
        val sentinel = s"sentinel_$b"
        spark.range(1).select(lit(b).as(sentinel)).collect()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!collects.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(20)
        assert(collects.contains(sentinel), s"listener never saw batch $b's sentinel")
        val n = collects.size - 1
        collects.clear()
        (next, n)
      }.drop(1).map(_._2)
    } finally spark.listenerManager.unregister(listener)
    val compactions = Seq(3, 7, 11)
    probes.zipWithIndex.filterNot(p => compactions.contains(p._2)).foreach { case (n, b) =>
      assert(n == 0, s"non-compacting batch $b ran $n probe actions: $probes") }
    assert(probes(3) == 0, s"the first compaction is a full write, yet probed: $probes")
    assert(probes(7) == 1 && probes(11) == 1,
      s"each incremental compaction must probe exactly once: $probes")
  }

  test("a concurrent compaction logs its version in VLOG exactly once") {
    // one compaction MERGEs every state concurrently, and each write
    // registers the shared version in the root's append-only VLOG
    val root = tempDir("graft-ivm-vlog")
    val fin = tops(Some(root)).size
    assert(fin == K)
    val logged = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "VLOG")), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty).map(_.toLong)
    assert(logged.size == 2, s"a K=$K spilled fold compacts twice; VLOG holds $logged")
    assert(logged.distinct == logged, s"VLOG holds a version more than once: $logged")
    // and the direct contract: racing writers of one version, many times over
    val df = spark.range(64).select(col("id").as("k"), lit(1L).as(ZSet.W))
    (1L to 4L).foreach { v =>
      graft.Phase.concurrently((0 until 8).map(i =>
        () => MergeLogSpill.write(spark, s"$root/direct", v, s"s$i", "k", df, carry = None)))
    }
    val direct = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "direct", "VLOG")), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty).map(_.toLong)
    assert(direct == Seq(1L, 2L, 3L, 4L), s"VLOG after concurrent writes: $direct")
  }
}
