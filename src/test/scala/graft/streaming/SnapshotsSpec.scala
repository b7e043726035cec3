package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Restart-from-snapshot: folding a changelog with a save/load cycle in
  * the middle must be indistinguishable from an uninterrupted fold.
  */
class SnapshotsSpec extends SparkSpec {

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
    Snapshots.save(half, snapDir)
    val resumed = bs.drop(2).foldLeft(Snapshots.load(spark, snapDir))(IncrementalQ3.step(_, _))

    val a = IncrementalQ3.topN(direct).collect().map(_.toSeq).toSeq
    val b = IncrementalQ3.topN(resumed).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("delta snapshots resume to the exact uninterrupted answer at every kill point") {
    // a SPILLED fold saved with saveBatchAuto persists only the pending
    // deltas + the spill-version pointer once spillMeta exists; resuming
    // from that delta snapshot must equal the uninterrupted fold no matter
    // where the kill lands relative to the compaction cadence (before the
    // first spill → full form; right after a compaction → pure metadata;
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
        Snapshots.saveBatchAuto(st, snapDir, i.toLong)
      }
      // the snapshot form must match the kill point: delta once spilled
      val latest = s"$snapDir/b${cut - 1}"
      val isDelta = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$latest/DELTA"))
      assert(isDelta == (cut >= 4),
        s"cut=$cut: expected ${if (cut >= 4) "delta" else "full"} snapshot form")
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
    // marker; resuming a delta snapshot over such a root must refuse it,
    // not read the missing manifests back as an empty state
    import java.nio.file.{Files, Paths}
    val bs = batches(insertOnly = true, k = 6)
    val spill = tempDir("graft-dsnap-old")
    val snapDir = tempDir("graft-dsnap-old-s")
    var st = IncrementalQ3.init(spark)
    bs.take(4).zipWithIndex.foreach { case (b, i) =>
      st = IncrementalQ3.step(st, b, spillDir = Some(spill))
      Snapshots.saveBatchAuto(st, snapDir, i.toLong)
    }
    assert(Files.exists(Paths.get(s"$snapDir/b3/DELTA")),
      "fixture bug: the snapshot must be in delta form to read the spill root")
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
    Snapshots.save(first, snapDir)
    val fin = bs.tail.foldLeft(Snapshots.load(spark, snapDir))(IncrementalQ3.step(_, _))
    assert(IncrementalQ3.topN(fin).collect().isEmpty)
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
