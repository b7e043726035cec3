package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.functions.TextOps
import graft.operators.{Profiling, Sketches, Temporal}
import graft.sources.Staging

/** The mergeable-summary twins' contract, one row per twin: the streamed
  * answer equals the one-shot batch operator at two batchings — exact
  * merges (and the exact audits behind the sketch twins) make batching
  * invariance an equality, not a tolerance — plus each twin's own shape
  * check on the batch answer.
  */
class SummaryStreamSpec extends SparkSpec {

  private def rows(df: DataFrame): List[Seq[Any]] = df.collect().map(_.toSeq).toList

  private case class Twin(name: String, batch: (SparkSession, String) => DataFrame,
                          stream: (SparkSession, String, Int) => DataFrame,
                          shape: List[Seq[Any]] => Boolean = _ => true)

  private val twins = Seq(
    Twin("stream_cm_frequencies", Sketches.cmFrequencyBound,
      SummaryStream.streamCmFrequencies(_, _, _)),
    Twin("stream_benford", Profiling.profileBenford, SummaryStream.streamBenford(_, _, _)),
    Twin("stream_decayed_sum", Temporal.decayedSum(_, _),
      SummaryStream.streamDecayedSum(_, _, _)),
    Twin("stream_drift", Profiling.profileDrift, SummaryStream.streamDrift(_, _, _)),
    Twin("stream_profile_incremental", Profiling.profileCorrelation,
      SummaryStream.streamCorrelation(_, _, _)),
    // the ladders differ across batchings; the audit rows may not, and
    // rank_within_2pct (the last column) must hold on every row
    Twin("stream_kll_quantiles", Sketches.kllQuantileBound,
      SummaryStream.streamKllQuantiles(_, _, _),
      b => b.length % 6 == 0 && b.forall(_.last == true)),
    Twin("stream_frequent_tokens", TextOps.frequentTokens(_, _),
      SummaryStream.streamFrequentTokens(_, _, _), _.length == 20))

  twins.foreach { t =>
    test(s"${t.name} equals batch at maxFiles 1 and 3") {
      val batch = rows(t.batch(spark, sfDir))
      assert(rows(t.stream(spark, sfDir, 1)) == batch,
        "1-file batches must reproduce the batch answer")
      assert(rows(t.stream(spark, sfDir, 3)) == batch,
        "3-file batches must too — batching invariance")
      assert(batch.nonEmpty)
      assert(t.shape(batch), s"batch answer has the wrong shape: $batch")
    }
  }

  test("a starved capacity fails the completeness gate instead of lying") {
    val e = intercept[IllegalArgumentException] {
      SummaryStream.streamFrequentTokens(spark, sfDir, maxFilesPerTrigger = 1, capacity = 2)
    }
    assert(e.getMessage.contains("recall bound"))
  }

  test("a twin stages under spark.graft.staging.dir with the marker") {
    val root = tempDir("graft_staging_root")
    spark.conf.set("spark.graft.staging.dir", root)
    try {
      val streamed = rows(SummaryStream.streamBenford(spark, sfDir, 3))
      assert(streamed == rows(Profiling.profileBenford(spark, sfDir)))
      val staged = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("graft_stream_benford_"))
      assert(staged.length == 1, s"expected one staged dir under $root")
      assert(new java.io.File(staged.head, Staging.Marker).exists())
      assert(staged.head.list().exists(_.endsWith(".parquet")))
    } finally spark.conf.unset("spark.graft.staging.dir")
  }
}
