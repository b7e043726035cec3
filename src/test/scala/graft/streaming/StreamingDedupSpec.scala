package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The streaming dedup ingest's two contracts:
  *  - batching-invariance: the accumulated pair set equals the one-shot
  *    batch answer (gated by the shared oracle; re-checked here against
  *    the batch operator directly);
  *  - operability: a checkpointed ingest killed mid-archive resumes to
  *    the identical pair set — offsets prevent re-ingesting committed
  *    files, and per-batch overwrite directories make retries idempotent,
  *    so nothing is lost or duplicated.
  */
class StreamingDedupSpec extends SparkSpec {

  test("streaming ingest pair set equals the one-shot batch dedup_incremental") {
    val got = StreamingDedup.streamIncrementalDedup(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val want = graft.operators.Dedup.dedupIncremental(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("checkpointed dedup ingest resumes after a stop: kill-and-resume ≡ uninterrupted") {
    val ctx = StreamingDedup.prepare(spark, sfDir)
    val base = tempDir("graft-dedup-recover")

    // uninterrupted twin: all files, one run, its own checkpoint + acc
    StreamingDedup.startCheckpointed(
      spark, ctx, s"$base/ckpt_full", s"$base/acc_full").awaitTermination()
    val full = StreamingDedup.accumulated(spark, s"$base/acc_full")
      .collect().map(_.toSeq).toSet
    assert(full.nonEmpty)

    // interrupted run: hide all but one staged file; AvailableNow drains
    // what it can see and terminates (the crash stand-in)
    val parts = scala.util.Using.resource(Files.list(Paths.get(ctx.staged))) {
      _.iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
    }
    assert(parts.size >= 2, "need multiple staged files to interrupt between")
    val keep = parts.minBy(_.getFileName.toString)
    val later = parts.filterNot(_ == keep)
    val hidden = Files.createDirectory(Paths.get(s"$base/hidden"))
    def move(from: java.nio.file.Path, toDir: java.nio.file.Path): Unit = {
      val dest = toDir.resolve(from.getFileName)
      val t = Files.getLastModifiedTime(from)
      Files.move(from, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, t) // mtimes encode arrival order
    }
    later.foreach(move(_, hidden))
    try {
      StreamingDedup.startCheckpointed(
        spark, ctx, s"$base/ckpt", s"$base/acc").awaitTermination()
      // reveal the rest and RESUME with the same checkpoint + acc
      later.foreach(p => move(hidden.resolve(p.getFileName), Paths.get(ctx.staged)))
      StreamingDedup.startCheckpointed(
        spark, ctx, s"$base/ckpt", s"$base/acc").awaitTermination()
    } finally {
      // restore any still-hidden files so other tests see the full staging
      scala.util.Using.resource(Files.list(hidden)) {
        _.iterator().asScala.toSeq
      }.foreach(p => move(p, Paths.get(ctx.staged)))
    }
    val resumed = StreamingDedup.accumulated(spark, s"$base/acc")
      .collect().map(_.toSeq).toSet
    assert(resumed == full,
      s"kill-and-resume must equal the uninterrupted run " +
        s"(resumed ${resumed.size} vs full ${full.size} pairs)")
  }
}
