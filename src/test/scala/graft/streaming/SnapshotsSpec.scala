package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Restart-from-snapshot: folding a changelog with a save/load cycle in
  * the middle must be indistinguishable from an uninterrupted fold.
  */
class SnapshotsSpec extends SparkSpec {

  /** Whether the snapshot dir's META names a spill base for any state. */
  private def hasBase(snap: String): Boolean =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$snap/META")), "UTF-8")
      .split("\n").exists(l => l.startsWith("state=") && l.split(":")(1).nonEmpty)

  private def batches(insertOnly: Boolean, k: Int) = {
    val ev = Changelog.generateCached(spark, sfDir, insertOnly = insertOnly)
    val tMax = ev.agg(max(col("t"))).head().getLong(0)
    val b = ev.withColumn("batch",
      least(expr(s"CAST(((t - 1L) * ${k}L) DIV ${tMax}L AS INT)"), lit(k - 1)))
      .localCheckpoint()
    (0 until k).map(i => b.filter(col("batch") === i).select("line"))
  }

  test("save/load mid-stream resumes to the exact uninterrupted answer") {
    val bs = batches(insertOnly = true, k = 4)
    val direct = bs.foldLeft(IncrementalQ3.init(spark))(IncrementalQ3.step(_, _))
    val snapDir = tempDir("graft-snap")

    val half = bs.take(2).foldLeft(IncrementalQ3.init(spark))(IncrementalQ3.step(_, _))
    Snapshots.saveBatch(half, snapDir, 0)
    val resumed = bs.drop(2).foldLeft(Snapshots.loadLatest(spark, snapDir).get._1)(IncrementalQ3.step(_, _))

    val a = IncrementalQ3.topN(direct).collect().map(_.toSeq).toSeq
    val b = IncrementalQ3.topN(resumed).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("delta snapshots resume to the exact uninterrupted answer at every kill point") {
    // a SPILLED fold's snapshot persists only the pending deltas over a
    // spill-version base once spillMeta exists; resuming from it must
    // equal the uninterrupted fold no matter where the kill lands relative
    // to the compaction cadence (before the first spill → no base, the
    // states as parts; right after a compaction → the base alone;
    // mid-window → base + pending chain)
    val k = 6 // CompactEvery = 4: kill points straddle the first compaction
    val bs = batches(insertOnly = true, k = k)
    val spillA = tempDir("graft-dsnap-a")
    val direct = bs.foldLeft(IncrementalQ3.init(spark))(
      IncrementalQ3.step(_, _, spillDir = Some(spillA)))
    val truth = IncrementalQ3.topN(direct).collect().map(_.toSeq).toSeq
    assert(truth.nonEmpty)
    // kill points: pre-spill, the batch before the first compaction,
    // at-compaction, mid-window
    for (cut <- Seq(2, 3, 4, 5)) {
      val spillB = tempDir(s"graft-dsnap-b$cut")
      val snapDir = tempDir(s"graft-dsnap-s$cut")
      var st = IncrementalQ3.init(spark)
      bs.take(cut).zipWithIndex.foreach { case (b, i) =>
        st = IncrementalQ3.step(st, b, spillDir = Some(spillB))
        Snapshots.saveBatch(st, snapDir, i.toLong)
      }
      // the snapshot form must match the kill point: a base once spilled
      val based = hasBase(s"$snapDir/b${cut - 1}")
      assert(based == (cut >= 4),
        s"cut=$cut: expected ${if (cut >= 4) "a" else "no"} spill base")
      val (resumedSt, lastId) = Snapshots.loadLatest(spark, snapDir).get
      assert(lastId == cut - 1)
      val fin = bs.drop(cut).foldLeft(resumedSt)(
        IncrementalQ3.step(_, _, spillDir = Some(spillB)))
      val got = IncrementalQ3.topN(fin).collect().map(_.toSeq).toSeq
      assert(got == truth,
        s"delta-snapshot resume diverged at cut=$cut")
      IncrementalQ3.cleanupSpillRoot(spillB)
    }
    IncrementalQ3.cleanupSpillRoot(spillA)
  }

  test("a spill root in an older build's parquet layout fails loudly on resume") {
    // an older build could spill in a bucketed-parquet layout (state dirs
    // of bucket files, no manifests) and named it in the root's FORMAT
    // marker; resuming a snapshot based on such a root must refuse it,
    // not read the missing manifests back as an empty state
    import java.nio.file.{Files, Paths}
    val bs = batches(insertOnly = true, k = 6)
    val spill = tempDir("graft-dsnap-old")
    val snapDir = tempDir("graft-dsnap-old-s")
    var st = IncrementalQ3.init(spark)
    bs.take(4).zipWithIndex.foreach { case (b, i) =>
      st = IncrementalQ3.step(st, b, spillDir = Some(spill))
      Snapshots.saveBatch(st, snapDir, i.toLong)
    }
    assert(hasBase(s"$snapDir/b3"),
      "fixture bug: the snapshot must carry a spill base to read the spill root")
    IncrementalQ3.cleanupSpillRoot(spill)
    st.names.foreach(n => spark.range(1).write
      .parquet(s"$spill/v${st.spillHistory.head}/$n"))
    Files.write(Paths.get(spill, "FORMAT"), "parquet".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException](
      Snapshots.loadLatest(spark, snapDir))
    assert(err.getMessage.contains("'parquet' layout"), err.getMessage)
    IncrementalQ3.cleanupSpillRoot(spill)
  }

  test("full-cycle resume still cancels to exactly empty") {
    val bs = batches(insertOnly = false, k = 3)
    val snapDir = tempDir("graft-snap2")
    val first = IncrementalQ3.step(IncrementalQ3.init(spark), bs.head)
    Snapshots.saveBatch(first, snapDir, 0)
    val fin = bs.tail.foldLeft(Snapshots.loadLatest(spark, snapDir).get._1)(IncrementalQ3.step(_, _))
    assert(IncrementalQ3.topN(fin).collect().isEmpty)
  }

  test("a resumed fold keeps the uninterrupted fold's aggDepth and dirty") {
    // the agg-chain depth cap and the compaction counter are fold state
    // too: a snapshot taken mid-chain must resume the SAME cadence, not
    // restart it — compared after every later batch, with the answer
    val bs = batches(insertOnly = false, k = 6)
    val cut = 2
    val direct = bs.scanLeft(IncrementalQ3.init(spark))(IncrementalQ3.step(_, _)).tail
    val half = direct(cut - 1)
    assert(half.aggDepth > 0 && half.spillMeta.isEmpty,
      "fixture bug: the snapshot must be a no-base one taken mid agg chain")
    val snapDir = tempDir("graft-snap-depth")
    Snapshots.saveBatch(half, snapDir, cut - 1L)
    val resumed = bs.drop(cut).scanLeft(Snapshots.loadLatest(spark, snapDir).get._1)(
      IncrementalQ3.step(_, _)).tail
    direct.drop(cut).zip(resumed).zipWithIndex.foreach { case ((a, b), i) =>
      assert((b.aggDepth, b.dirty) == (a.aggDepth, a.dirty),
        s"batch ${cut + i}: resumed (aggDepth, dirty) = ${(b.aggDepth, b.dirty)}, " +
          s"uninterrupted ${(a.aggDepth, a.dirty)}")
      assert(IncrementalQ3.topN(b).collect().toSeq == IncrementalQ3.topN(a).collect().toSeq,
        s"batch ${cut + i}: resumed answer diverged")
    }
  }

  test("a crash at the snapshot boundary resumes from the previous snapshot") {
    // debris of a crashed saveBatch(b5) over a spilled fold whose b4 holds
    // a base plus one part: b5's parts (linked from b4, plus b5's own
    // written delta) without META, and a complete b5 whose LATEST flip
    // never happened. Either way LATEST still names b4; re-running
    // saveBatch(b5) over the debris and resuming must equal the
    // uninterrupted fold.
    import java.nio.file.{Files, Path, Paths}
    val bs = batches(insertOnly = true, k = 7)
    val spill = tempDir("graft-snap-crash-spill")
    val fold = bs.scanLeft(IncrementalQ3.init(spark))(
      IncrementalQ3.step(_, _, spillDir = Some(spill))).tail
    def top(st: IncrementalQ3.State) = IncrementalQ3.topN(st).collect().map(_.toSeq).toSeq
    val truth = top(fold.last)
    for (withMeta <- Seq(false, true)) {
      val snapDir = tempDir("graft-snap-crash")
      (0 to 4).foreach(i => Snapshots.saveBatch(fold(i), snapDir, i.toLong))
      assert(hasBase(s"$snapDir/b4"), "fixture bug: b4 must carry a spill base")
      // a complete b5 made in a copy, mirrored back file by file: part
      // files b4 already holds are hard-linked from b4, the rest copied
      val copy = tempDir("graft-snap-crash-copy")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(snapDir),
        new java.io.File(copy))
      Snapshots.saveBatch(fold(5), copy, 5L)
      val (made, b4, b5) = (Paths.get(s"$copy/b5"), Paths.get(s"$snapDir/b4"),
        Paths.get(s"$snapDir/b5"))
      var linked = 0
      val files = Files.walk(made)
      try files.filter(Files.isRegularFile(_)).forEach { (f: Path) =>
        val rel = made.relativize(f)
        Files.createDirectories(b5.resolve(rel).getParent)
        if (rel.getNameCount > 1 && Files.exists(b4.resolve(rel))) {
          Files.createLink(b5.resolve(rel), b4.resolve(rel)); linked += 1
        } else Files.copy(f, b5.resolve(rel))
      } finally files.close()
      assert(linked > 0, "fixture bug: the debris must hold linked parts")
      if (!withMeta) Files.delete(b5.resolve("META"))
      val (pre, preId) = Snapshots.loadLatest(spark, snapDir).get
      assert(preId == 4 && top(pre) == top(fold(4)),
        s"withMeta=$withMeta: the debris must not be resumed")
      assert(Snapshots.latestId(snapDir).contains(preId),
        s"withMeta=$withMeta: the drain check must read the id loadLatest resumes")
      Snapshots.saveBatch(fold(5), snapDir, 5L)
      val (st, id) = Snapshots.loadLatest(spark, snapDir).get
      assert(id == 5)
      val fin = bs.drop(6).foldLeft(st)(IncrementalQ3.step(_, _, spillDir = Some(spill)))
      assert(top(fin) == truth,
        s"withMeta=$withMeta: resume over re-saved debris diverged")
    }
    IncrementalQ3.cleanupSpillRoot(spill)
  }

  test("a snapshot without META that LATEST names fails loudly") {
    val snapDir = tempDir("graft-snap-nometa")
    val st = IncrementalQ3.step(IncrementalQ3.init(spark),
      batches(insertOnly = true, k = 2).head)
    Snapshots.saveBatch(st, snapDir, 0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$snapDir/b0/META"))
    val err = intercept[IllegalArgumentException](Snapshots.loadLatest(spark, snapDir))
    assert(err.getMessage.contains("older build"), err.getMessage)
  }

  test("continuous query kill-and-resume equals the uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Relational

    val ev = Changelog.generateCached(spark, sfDir, insertOnly = true)
    val live = tempDir("graft-resume-live")
    val stage = tempDir("graft-resume-stage")
    val ckpt = tempDir("graft-resume-ckpt")
    val snap = tempDir("graft-resume-snap")
    val half = ev.agg(max(col("t"))).head().getLong(0) / 2
    Changelog.write(ev.filter(col("t") <= half), live, nFiles = 2)
    Changelog.write(ev.filter(col("t") > half), stage, nFiles = 2)

    def run(expectBatches: Option[Int]): Seq[Seq[Any]] = {
      @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
      var n = 0
      val q = StreamingQ3.start(spark, live, trigger = Trigger.AvailableNow(),
        checkpointDir = Some(ckpt), snapshotDir = Some(snap),
        onEmit = (rows, _) => { last = rows; n += 1 })
      assert(q.awaitTermination(300000), "streaming query did not finish in time")
      expectBatches.foreach(e => assert(n == e, s"expected $e batches, ran $n"))
      last.map(r => Seq(r.getLong(0), r.getDate(1).toString,
        r.getString(2), r.getDouble(3))).toSeq
    }

    run(expectBatches = Some(2)) // phase 1: two files → batches 0, 1
    // "kill": q1's driver-held state is gone. Stage the rest of the
    // changelog (fresh mtimes) and restart with the same dirs — resume
    // must load snapshot b1 and fold ONLY the two new batches.
    val files = Files.list(Paths.get(stage))
    try files.filter(p => p.getFileName.toString.matches("part-.*\\.txt"))
      .forEach(p => Files.copy(p, Paths.get(live, "z-" + p.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
    finally files.close()
    val resumed = run(expectBatches = Some(2)) // batches 2, 3 only

    val want = Relational.q3Batch(spark, sfDir)
      .select(col("l_orderkey"), to_date(col("o_orderdate")).cast("string"),
        col("o_orderpriority"), col("revenue"))
      .collect().map(_.toSeq).toSeq
    assert(resumed.nonEmpty && resumed == want)

    // crash between snapshot flip and offset commit: drop the last commit
    // marker so batch 3 is re-delivered. The resume path must SKIP
    // re-folding it (snapshot b3 already contains it) — a re-fold would
    // double-count batch 3 and shift the top-20 revenues.
    val commits = Files.list(Paths.get(ckpt, "commits"))
    val lastCommit = try {
      import scala.jdk.CollectionConverters._
      commits.iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
    } finally commits.close()
    Files.delete(lastCommit)
    // the local FS keeps a checksum sibling; a stale one fails the re-write
    Files.deleteIfExists(
      lastCommit.resolveSibling("." + lastCommit.getFileName + ".crc"))
    val redelivered = run(expectBatches = Some(1)) // batch 3 again, skipped
    assert(redelivered == want)
  }
}
