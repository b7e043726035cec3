package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkSpec

/** State upkeep by [[ZSet.append]]: between compactions every z-set state
  * of the in-memory fold stays ONE plan leaf, so the per-batch plans keep a
  * constant shape and a steady batch reuses the generated code of the one
  * before it instead of recompiling it.
  */
class ZSetAppendSpec extends SparkSpec {

  /** The insert-only changelog in event order, cut into 4 batches. */
  private lazy val batches: Seq[Seq[String]] = {
    val lines = Changelog.generate(spark, sfDir, insertOnly = true)
      .orderBy("t", "sub", "idx").select("line").collect().map(_.getString(0)).toSeq
    lines.grouped((lines.size + 3) / 4).toSeq
  }

  private def step(st: IncrementalQ3.State, lines: Seq[String]): IncrementalQ3.State = {
    import spark.implicits._
    IncrementalQ3.step(st, lines.toDF("line"), spillDir = None)
  }

  private def aggRows(st: IncrementalQ3.State): Seq[Seq[Any]] =
    st.aggs.flatMap { case (keys, df) =>
      df.orderBy(keys.head, keys.tail: _*).collect().map(_.toSeq).toSeq
    }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("append: two pinned leaves become one leaf over a flattened UnionRDD; anything else unions by name") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 1L)).toDF("k", ZSet.W).localCheckpoint()
    val b = Seq((3L, -1L)).toDF("k", ZSet.W).localCheckpoint()
    val c = Seq((4L, 1L)).toDF("k", ZSet.W).localCheckpoint()
    val abc = ZSet.append(ZSet.append(a, b), c)
    val leaf = abc.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case p => fail(s"appended leaves did not stay one leaf:\n$p")
    }
    assert(leaf.rdd.dependencies.map(_.rdd).toSet ==
      Seq(a, b, c).map(_.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd).toSet,
      "nested appends were not flattened into one UnionRDD")
    val sizes = Seq(a, b, c).map(_.queryExecution.analyzed.stats.sizeInBytes)
    assert(leaf.stats.sizeInBytes == sizes.sum)
    assert(abc.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, -1L), (4L, 1L)))
    // a side that is not a leaf, or whose columns differ in order, keeps
    // the name-matching union
    val swapped = Seq((1L, 5L)).toDF(ZSet.W, "k").localCheckpoint()
    val byName = ZSet.append(a, swapped)
    assert(!byName.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(byName.filter($"k" === 5L).select(ZSet.W).as[Long].collect().toSeq == Seq(1L))
    assert(!ZSet.append(a.filter($"k" > 1L), b).queryExecution.analyzed.isInstanceOf[LogicalRDD])
  }

  test("non-compacting batches keep every state one LogicalRDD leaf, and a steady step compiles nothing") {
    val queries = Seq(
      "Q3" -> IncrementalQ3.init(spark),
      "Q10" -> IncrementalQ3.init(spark, IvmQueries.q10Grains, IvmQueries.q10Spec))
    queries.foreach { case (query, init) =>
      val st3 = batches.take(3).foldLeft(init)(step)
      assert(st3.dirty == 0 && st3.aggDepth == 3,
        s"$query: the three insert-only batches were expected not to compact")
      st3.names.zip(st3.all).foreach { case (name, df) =>
        val plan = df.queryExecution.analyzed
        assert(plan.isInstanceOf[LogicalRDD],
          s"$query: state $name is not a single pinned leaf after 3 appends:\n$plan")
      }
      // The 4th batch would cap the agg chain (aggDepth reaches CompactEvery);
      // rewinding the counter keeps it a plain append, the shape of batches 2–3.
      val before = compiles()
      val st4 = step(st3.copy(aggDepth = st3.aggDepth - 1), batches(3))
      val added = compiles() - before
      assert(added == 0, s"$query: a steady non-compacting step compiled $added generated classes")
      assert(st4.all.forall(_.queryExecution.analyzed.isInstanceOf[LogicalRDD]))
    }
  }

  test("append folds to the same aggregates as unionByName") {
    // the unionByName spelling of the same fold: start from states that
    // are not leaves (a bare projection), so every upkeep falls back to
    // unionByName and the states carry growing Union plans
    def unleafed(df: DataFrame): DataFrame = df.select(df.columns.map(df.col).toIndexedSeq: _*)
    val init = IncrementalQ3.init(spark)
    val byNameInit = init.copy(c = unleafed(init.c), o = unleafed(init.o),
      l = unleafed(init.l), co = unleafed(init.co),
      aggsRaw = init.aggsRaw.map { case (keys, df) => keys -> unleafed(df) })
    val appended = batches.take(3).foldLeft(init)(step)
    val byName = batches.take(3).foldLeft(byNameInit)(step)
    assert(byName.all.forall(_.queryExecution.analyzed.children.nonEmpty),
      "the reference fold was meant to carry Union plans")
    val got = aggRows(appended)
    assert(got.nonEmpty)
    assert(got == aggRows(byName))
  }
}
