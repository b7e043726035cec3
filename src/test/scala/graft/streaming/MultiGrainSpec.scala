package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Multi-query IVM: a State maintaining N grains off ONE shared ΔJ per
  * batch must be indistinguishable, grain for grain, from N independent
  * folds — the property that makes serving many standing queries from one
  * delta-join pipeline safe.
  */
class MultiGrainSpec extends SparkSpec {

  private val grains: Seq[Seq[String]] =
    Seq(IncrementalQ3.DefaultAggKeys, Seq("o_orderpriority"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSeq

  test("one fold with N grains ≡ N independent single-grain folds") {
    val events = Changelog.generate(spark, sfDir).localCheckpoint()
    val multi = IncrementalQ3.runBatches(spark, events, 3, grains = grains)
    grains.zipWithIndex.foreach { case (g, i) =>
      val solo = IncrementalQ3.runBatches(spark, events, 3, grains = Seq(g))
      assert(rows(multi.aggs(i)._2) == rows(solo.agg),
        s"grain $g diverged between the shared fold and its own fold")
    }
    // the full ± cycle cancels EVERY grain to exactly empty
    multi.aggs.foreach { case (g, agg) =>
      assert(agg.isEmpty, s"grain $g did not converge to empty on the full cycle")
    }
  }

  test("multi-grain state snapshots round-trip (grains persisted)") {
    val events = Changelog.generate(spark, sfDir, insertOnly = true)
      .localCheckpoint()
    val st = IncrementalQ3.runBatches(spark, events, 2, grains = grains)
    val dir = tempDir("graft-multigrain-snap")
    Snapshots.saveBatch(st, dir, 0)
    val loaded = Snapshots.loadLatest(spark, dir).get._1
    assert(loaded.aggs.map(_._1) == st.aggs.map(_._1),
      "the grain key lists must survive the snapshot")
    st.aggs.zip(loaded.aggs).foreach { case ((g, a), (_, b)) =>
      assert(rows(a) == rows(b), s"grain $g state changed across save/load")
    }
  }
}
