package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The partitioned-transport event-time path
  * ([[EventTimeReplay.q3EventTimePartitioned]]).
  *
  * Load-bearing claims: (1) the per-partition prefix split is a pure
  * function of the partition logs — identical under every batch slicing,
  * with each partition's watermark independent of the others'; (2) the
  * full driver query (three growing CDC-style logs, vector offsets, kill
  * mid-production, resume) lands exactly the closed-form answer: Q3 over
  * the on-time lineitems, where a withheld lineitem is late iff its rank
  * precedes the last ON-TIME lineitem's rank.
  */
class EventTimePartitionedSpec extends SparkSpec {

  test("per-partition prefix split: partitions gate independently, any slicing") {
    import spark.implicits._
    // partition 0 peaks at 9 early; partition 1 peaks at 50 — a t=10 in
    // p0 is NOT late (its own prefix max is 9) even though p1 has seen 50
    val p0 = Seq(5L, 9L, 7L, 10L, 2L, 12L, 11L)
    val p1 = Seq(50L, 3L, 60L, 55L, 60L, 1L)
    def truth(ts: Seq[Long]) = ts.indices.map { i =>
      val before = ts.take(i); before.nonEmpty && ts(i) < before.max
    }
    val expect = (p0.indices.map(i => (0, i.toLong, truth(p0)(i))) ++
      p1.indices.map(i => (1, i.toLong, truth(p1)(i)))).toSet
    val all = p0.zipWithIndex.map { case (t, i) => (0, i.toLong, t) } ++
      p1.zipWithIndex.map { case (t, i) => (1, i.toLong, t) }
    for (block <- Seq(2L, 64L); cut <- 0 to all.size) {
      // arbitrary interleaved slicing into two batches at `cut`
      val (a, b) = all.splitAt(cut)
      def flags(rows: Seq[(Int, Long, Long)], carry: Map[Int, Long]) =
        if (rows.isEmpty) Seq.empty
        else EventTimeReplay.prefixLateFlag(
          rows.toDF("partition", "offset", "t"), carry, block)
          .select("partition", "offset", "late").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toSeq
      val carryAfterA = a.groupBy(_._1).map { case (p, rs) =>
        p -> rs.map(_._3).max
      }
      val got = (flags(a, Map.empty) ++ flags(b, carryAfterA)).toSet
      assert(got == expect, s"late flags diverged at cut=$cut block=$block")
    }
  }

  test("per-partition bounded-delay window: admit/drop split per partition, any slicing") {
    import spark.implicits._
    // δ = 4: p0's frontier reaches 20 — a t=17 straggler is ADMITTED
    // (within δ of ITS OWN frontier), t=15 is DROPPED; p1's frontier stays
    // at 8, so its t=6 is admitted even though p0 has seen 20 — the window
    // is judged per partition, never against a merged clock
    val p0 = Seq(10L, 20L, 17L, 15L, 19L)
    val p1 = Seq(8L, 6L, 5L, 3L)
    val delta = 4L
    def truth(ts: Seq[Long]) = ts.indices.map { i =>
      val before = ts.take(i)
      if (before.isEmpty) (false, false)
      else {
        val f = before.max
        (ts(i) < f - delta, ts(i) >= f - delta && ts(i) < f)
      }
    }
    val expect = (p0.indices.map(i => (0, i.toLong, truth(p0)(i))) ++
      p1.indices.map(i => (1, i.toLong, truth(p1)(i)))).toSet
    assert(expect.exists(_._3._1) && expect.exists(_._3._2),
      "fixture must exercise both the drop and the admit sides")
    val all = p0.zipWithIndex.map { case (t, i) => (0, i.toLong, t) } ++
      p1.zipWithIndex.map { case (t, i) => (1, i.toLong, t) }
    for (block <- Seq(2L, 64L); cut <- 0 to all.size) {
      val (a, b) = all.splitAt(cut)
      def flags(rows: Seq[(Int, Long, Long)], carry: Map[Int, Long]) =
        if (rows.isEmpty) Seq.empty
        else EventTimeReplay.prefixLateFlag(
          rows.toDF("partition", "offset", "t"), carry, block, delay = delta)
          .select("partition", "offset", "late", "late_admitted").collect()
          .map(r => (r.getInt(0), r.getLong(1),
            (r.getBoolean(2), r.getBoolean(3)))).toSeq
      val carryAfterA = a.groupBy(_._1).map { case (p, rs) =>
        p -> rs.map(_._3).max
      }
      val got = (flags(a, Map.empty) ++ flags(b, carryAfterA)).toSet
      assert(got == expect,
        s"δ-admission flags diverged at cut=$cut block=$block")
    }
  }

  test("partitioned bounded-delay event-time Q3 equals the closed-form answer") {
    import graft.operators.Relational
    val got = EventTimeReplay.q3EventTimeDelayedPartitioned(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // closed form: m = last on-time lineitem rank, δ = nL/20; a withheld
    // lineitem drops iff rk < m − δ, is ADMITTED (folds) iff
    // m − δ ≤ rk < m — judged against the lineitem log's own frontier
    val cutoffD = to_date(lit(Relational.Q3Date))
    val li = graft.sources.Tables.table(spark, sfDir, "lineitem")
      .withColumn("rk", row_number().over(Window.orderBy(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))))
      .withColumn("def", col("l_orderkey") % 10 === 3)
    val nL = li.count()
    val delta = nL / 20
    val m = li.filter(!col("def")).agg(max(col("rk"))).head().getInt(0)
    val cut = m - delta
    val dropped = li.filter(col("def") && col("rk") < cut).count()
    val admitted = li.filter(col("def") && col("rk") >= cut && col("rk") < m).count()
    assert(dropped > 0 && admitted > 0,
      "fixture must exercise both the drop and the admit sides")
    val liv = li.filter(!(col("def") && col("rk") < cut))
      .filter(to_date(col("l_shipdate")) > cutoffD)
    val customer = graft.sources.Tables.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val orders = graft.sources.Tables.table(spark, sfDir, "orders")
      .filter(to_date(col("o_orderdate")) < cutoffD)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val expected = customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(liv, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(Relational.revenueExpr).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(20)
      .select(col("l_orderkey"),
        to_date(col("o_orderdate")).cast("string").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .withColumn("dropped_late", lit(dropped))
      .withColumn("admitted_late", lit(admitted))
      .collect().map(_.toSeq).toSeq
    assert(got == expected,
      "partitioned bounded-delay event-time Q3 must equal the " +
        "per-partition δ-window closed form (top-20 AND both totals)")
  }

  test("partitioned replay-fed event-time Q3 equals the closed-form answer") {
    import graft.operators.Relational
    val got = EventTimeReplay.q3EventTimePartitioned(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the closed form, computed independently in Spark: rank lineitems by
    // the full-column order (the changelog trigger order), m = last
    // on-time rank, drop withheld ones with rk < m, then batch Q3 over
    // the survivors (single-partition window is fine at spec scale)
    val cutoff = to_date(lit(Relational.Q3Date))
    val li = graft.sources.Tables.table(spark, sfDir, "lineitem")
      .withColumn("rk", row_number().over(Window.orderBy(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))))
      .withColumn("def", col("l_orderkey") % 10 === 3)
    val m = li.filter(!col("def")).agg(max(col("rk"))).head().getInt(0)
    val dropped = li.filter(col("def") && col("rk") < m).count()
    assert(dropped > 0, "fixture must drop some late lineitems")
    val liv = li.filter(!(col("def") && col("rk") < m))
      .filter(to_date(col("l_shipdate")) > cutoff)
    val customer = graft.sources.Tables.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val orders = graft.sources.Tables.table(spark, sfDir, "orders")
      .filter(to_date(col("o_orderdate")) < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val expected = customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(liv, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(Relational.revenueExpr).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(20)
      .select(col("l_orderkey"),
        to_date(col("o_orderdate")).cast("string").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .withColumn("dropped_late", lit(dropped))
      .collect().map(_.toSeq).toSeq
    assert(got == expected,
      "partitioned event-time Q3 must equal the per-partition-prefix " +
        "closed form (top-20 AND dropped count)")
  }
}
