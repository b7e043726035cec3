package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** The streaming ANN ingest's three contracts:
  *  - batching-invariance: the accumulated delta top-K equals the
  *    one-shot delta-vs-base query (gated by the brute-force oracle;
  *    re-checked here against the batch primitive directly);
  *  - index maintenance: base index ∪ appended shards equals a
  *    from-scratch bucket index over the whole corpus — the maintained
  *    index IS the rebuilt index, which is what lets a deployment never
  *    rebuild;
  *  - operability: kill-and-resume ≡ uninterrupted (offsets + per-batch
  *    overwrite directories).
  */
class StreamingAnnSpec extends SparkSpec {

  test("streaming delta top-K equals the one-shot delta-vs-base query") {
    val got = StreamingAnn.streamAnnIncremental(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val ctx = StreamingAnn.prepare(spark, sfDir)
    val delta = Similarity.vectors(spark, sfDir)
      .filter(col("vec_id") >= ctx.splitId)
    val want = Similarity.lshTopKAgainstBase(delta, ctx.baseVecs, ctx.baseIndex)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("maintained index equals a from-scratch rebuild; kill-and-resume holds") {
    val ctx = StreamingAnn.prepare(spark, sfDir)
    val base = tempDir("graft-ann-recover")

    // uninterrupted twin
    StreamingAnn.startCheckpointed(
      spark, ctx, s"$base/ckpt_full", s"$base/acc_full").awaitTermination()
    val fullResults = StreamingAnn.accumulatedResults(spark, s"$base/acc_full")
      .collect().map(_.toSeq).toSet
    assert(fullResults.nonEmpty)

    // index maintenance: base ∪ shards == from-scratch over base ∪ delta
    val maintained = StreamingAnn.accumulatedIndex(spark, ctx, s"$base/acc_full")
      .collect().map(_.toSeq).toSet
    val rebuilt = Similarity.bucketedIds(Similarity.vectors(spark, sfDir))
      .collect().map(_.toSeq).toSet
    assert(maintained == rebuilt,
      s"maintained index (${maintained.size}) must equal a from-scratch " +
        s"rebuild (${rebuilt.size})")

    // interrupted run: hide all but the first staged file, drain, reveal,
    // resume with the same checkpoint — must converge to the full answer
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
      StreamingAnn.startCheckpointed(
        spark, ctx, s"$base/ckpt", s"$base/acc").awaitTermination()
      later.foreach(p => move(hidden.resolve(p.getFileName), Paths.get(ctx.staged)))
      StreamingAnn.startCheckpointed(
        spark, ctx, s"$base/ckpt", s"$base/acc").awaitTermination()
    } finally {
      scala.util.Using.resource(Files.list(hidden)) {
        _.iterator().asScala.toSeq
      }.foreach(p => move(p, Paths.get(ctx.staged)))
    }
    val resumed = StreamingAnn.accumulatedResults(spark, s"$base/acc")
      .collect().map(_.toSeq).toSet
    assert(resumed == fullResults,
      s"kill-and-resume must equal the uninterrupted run " +
        s"(resumed ${resumed.size} vs full ${fullResults.size} rows)")
  }
}
