package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The streaming basket miner's two contracts:
  *  - batching-invariance: pair-count deltas (new × seen + new × new per
  *    basket) sum to the batch counts at ANY trigger size, so the rules
  *    equal the one-shot [[graft.operators.Association.basketRules]];
  *  - operability: a checkpointed run killed between staged files resumes
  *    to the identical rules — strictly-earlier-seen reads plus per-batch
  *    overwrite dirs make retries idempotent.
  */
class StreamingBasketsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): List[Seq[Any]] =
    df.collect().map(_.toSeq).toList

  test("streaming basket rules equal the batch miner at two trigger sizes") {
    val want = rows(graft.operators.Association.basketRules(spark, sfDir))
    val fine = rows(StreamingBaskets.streamBasketRules(spark, sfDir, maxFilesPerTrigger = 1))
    val coarse = rows(StreamingBaskets.streamBasketRules(spark, sfDir, maxFilesPerTrigger = 3))
    assert(fine == want, "1-file batches must reproduce the batch rules")
    assert(coarse == want, "3-file batches must too — batching invariance")
    assert(want.nonEmpty)
  }

  test("checkpointed basket ingest resumes after a stop: kill-and-resume ≡ uninterrupted") {
    val staged = {
      // reuse the memoized staging via a full throwaway run's side effect
      StreamingBaskets.streamBasketRules(spark, sfDir)
      graft.sources.Staging.dirFor(spark, "streambaskets", sfDir)
    }
    val base = tempDir("graft-baskets-recover")

    StreamingBaskets.startCheckpointed(spark, staged, s"$base/full")
      .awaitTermination()
    val full = rows(StreamingBaskets.accumulatedRules(spark, s"$base/full"))
    assert(full.nonEmpty)

    val parts = scala.util.Using.resource(Files.list(Paths.get(staged))) {
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
      Files.setLastModifiedTime(dest, t)
    }
    later.foreach(move(_, hidden))
    try {
      StreamingBaskets.startCheckpointed(spark, staged, s"$base/run")
        .awaitTermination()
      later.foreach(p => move(hidden.resolve(p.getFileName), Paths.get(staged)))
      StreamingBaskets.startCheckpointed(spark, staged, s"$base/run")
        .awaitTermination()
    } finally {
      scala.util.Using.resource(Files.list(hidden)) {
        _.iterator().asScala.toSeq
      }.foreach(p => move(p, Paths.get(staged)))
    }
    val resumed = rows(StreamingBaskets.accumulatedRules(spark, s"$base/run"))
    assert(resumed == full,
      "kill-and-resume must equal the uninterrupted run")
  }

  test("priorSeen ignores stray entries under seen/ instead of crashing") {
    val s = spark; import s.implicits._
    val root = tempDir("graft-baskets-stray")
    Seq((1L, 2L)).toDF("ok", "p").write.parquet(s"$root/seen/batch_0")
    Seq((1L, 3L)).toDF("ok", "p").write.parquet(s"$root/seen/batch_7")
    // strays a real filesystem accumulates: a marker file, a backup dir,
    // a non-numeric batch name — before the toLongOption hardening the
    // dir listing threw NumberFormatException and killed the stream
    Files.createFile(Paths.get(s"$root/seen/_SUCCESS"))
    Files.createDirectory(Paths.get(s"$root/seen/batch_0.bak"))
    Files.createDirectory(Paths.get(s"$root/seen/.editor-state"))
    val got = StreamingBaskets.priorSeen(spark, root, id = 5L)
      .collect().map(_.toSeq).toList
    assert(got == List(Seq(1L, 2L)),
      "only batch_<digits> dirs strictly below the id are read")
  }
}
