package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Structural/invariant checks per relational operator; exact value parity
  * is enforced by the driver's DuckDB gate (tools/check.py locally).
  */
class RelationalSpec extends SparkSpec {

  test("q3_batch: top-20, descending revenue, positive revenues") {
    val rows = Relational.q3Batch(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)), "revenue must be descending")
    assert(revs.forall(_ > 0))
  }

  test("q3_sql ≡ q3_batch") {
    val a = Relational.q3Batch(spark, sfDir).collect().map(_.toSeq)
    val b = Relational.q3ViaSql(spark, sfDir).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("q3_typed (Dataset[T] + exact-decimal Aggregator) ≡ q3_batch") {
    // normalize the date column through DATE on both sides: q3_batch
    // passes the fixture's raw timestamp through, q3_typed emits DATE
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("o_orderdate",
        org.apache.spark.sql.functions.col("o_orderdate").cast("date").cast("string"))
      .collect().map(_.toSeq).toSeq
    assert(norm(Relational.q3Batch(spark, sfDir)) == norm(Typed.q3Typed(spark, sfDir)))
  }

  test("filters select strict subsets") {
    import graft.sources.Tables
    val cAll = Tables.table(spark, sfDir, "customer").count()
    val c = Relational.filterCustomerSegment(spark, sfDir).count()
    assert(c > 0 && c < cAll)
    val o = Relational.filterOrdersDate(spark, sfDir).count()
    assert(o > 0)
    val l = Relational.filterLineitemDate(spark, sfDir).count()
    assert(l > 0)
  }

  test("semi + anti partition customer exactly") {
    import graft.sources.Tables
    val total = Tables.table(spark, sfDir, "customer").count()
    val semi = Relational.joinSemi(spark, sfDir).count()
    val anti = Relational.joinAnti(spark, sfDir).count()
    assert(semi + anti == total)
  }

  test("join_orders_lineitem: one row per matched order") {
    val df = Relational.joinOrdersLineitem(spark, sfDir)
    assert(df.count() == df.select("o_orderkey").distinct().count())
  }

  test("window_rank: at most 3 per priority, ranks start at 1") {
    val rows = Relational.windowRank(spark, sfDir).collect()
    val byPrio = rows.groupBy(_.getAs[String]("o_orderpriority"))
    assert(byPrio.values.forall(_.length <= 3))
    assert(byPrio.values.forall(_.map(_.getAs[Int]("rnk")).min == 1))
  }

  test("rollup includes grand total") {
    val rows = Relational.aggRollup(spark, sfDir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    import graft.sources.Tables
    assert(grand.head.getAs[Long]("n") == Tables.table(spark, sfDir, "orders").count())
  }

  test("sink_json_contract emits parseable reference-shaped JSON") {
    val rows = Relational.sinkJsonContract(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[String]("json")
      assert(j.startsWith("{\"rank\":") && j.contains("\"orderkey\":") &&
        j.contains("\"revenue\":") && j.endsWith("\"}"))
    }
  }

  test("every query key has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep this list tight: anything here gets only a weak rows>0 check.
    // Empty since r3: ann_lsh/ann_ivf now run full-recall/exact-pruned
    // regimes and share the brute-force oracle.
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bucketed join plans zero Exchange below the join") {
    val j = Relational.bucketedJoinFrame(spark, sfDir)
    assert(j.count() > 0)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must be shuffle-free:\n$plan")
    // and the answer is the plain join's answer
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val expected = Tables.table(spark, sfDir, "orders")
      .join(Tables.table(spark, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey")).count()
    assert(j.count() == expected)
  }

  test("partitioned layout prunes non-matching partitions at planning time") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft-part")
    Tables.table(spark, sfDir, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(tmp)
    val pruned = Relational.partitionPrunedFrame(spark, tmp)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    // the predicate must land INSIDE the PartitionFilters list (planning-
    // time prune), NOT as a data filter over every partition's rows — an
    // empty "PartitionFilters: []" with lang only in Output must fail
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(scan).isDefined,
      s"expected lang inside PartitionFilters:\n$scan")
    val expected = Tables.table(spark, sfDir, "documents")
      .filter(col("lang") === "en").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("dim-join partitions prune at RUNTIME (dynamic partition pruning)") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val joined = Relational.dppJoinedFrame(spark, sfDir)
    // the fact scan must carry a dynamicpruning partition filter — the
    // keep-flag predicate lives on the dim only, so a planning-time prune
    // is impossible; only DPP can skip the dropped languages' directories
    val scan = joined.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$scan")
    val expected = Tables.table(spark, sfDir, "documents")
      .filter(col("lang").isin("en", "fr", "zh")).count()
    assert(joined.count() == expected && expected > 0)
  }

  test("csv source drops malformed rows (the reference's bad-row skipping)") {
    import graft.sources.{Csv, Tables}
    val tmp = tempDir("graft-csv")
    Csv.stage(spark, sfDir, "customer", tmp)
    // NB: collect(), not count() — CSV column pruning under count() parses
    // zero columns, so malformed rows would never be detected/dropped.
    val clean = Csv.read(spark, tmp, "customer").collect().length
    assert(clean == Tables.table(spark, sfDir, "customer").count())
    // corrupt rows: wrong arity / unparseable numerics must be skipped
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/bad.csv"),
      "not|a|row\nx|y|z|p|q\n999999|ok|NOTANUMBER|1.0|SEG\n")
    assert(Csv.read(spark, tmp, "customer").collect().length == clean)
  }

  test("q5: every dimension broadcasts and the filters reach the scans") {
    val df = Relational.q5LocalSupplier(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    // at fixture scale all five joins resolve to broadcast-hash; count
    // STRUCTURALLY (the AQE toString prints initial + final plans, which
    // would double a string count)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val bhj = allNodes(df.queryExecution.executedPlan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj == 5, s"expected 5 broadcast joins, got $bhj:\n$plan")
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(_.contains("EqualTo(r_name,ASIA)")),
      "region filter must be pushed to the region scan")
    assert(scans.exists(s => s.contains("GreaterThanOrEqual(o_orderdate") &&
      s.contains("LessThan(o_orderdate")),
      "the order-date window must be pushed to the orders scan")
  }

  private def finalizedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q4: EXISTS decorrelates to a semi join, never a nested loop") {
    val df = Relational.q4PriorityExists(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("order_count") > 0))
  }

  test("q17: correlated scalar subqueries decorrelate; ≡ hand-written agg-join") {
    val df = Relational.q17SmallQuantity(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    // the decorrelated form Catalyst should reach, spelled by hand:
    // one per-part aggregate joined back to the fact scan
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val li = Tables.table(spark, sfDir, "lineitem")
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(Relational.d2(col("l_quantity"))).as("sq"), count(lit(1)).as("c"))
    val hand = li
      .join(perPart, col("l_partkey") === col("pk"))
      .join(Tables.table(spark, sfDir, "part"), col("p_partkey") === col("l_partkey"))
      .filter(lit(5) * Relational.d2(col("l_quantity")) * col("c") < col("sq"))
      .groupBy(col("p_brand"))
      .agg(sum(Relational.d2(col("l_extendedprice"))).cast("double").as("total_price"),
        count(lit(1)).as("n_small"))
      .orderBy("p_brand")
    assert(df.collect().map(_.toSeq).toSeq == hand.collect().map(_.toSeq).toSeq)
  }

  test("q18: IN(agg HAVING) decorrelates to a semi join; threshold holds") {
    val df = Relational.q18LargeOrders(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(plan.contains("LeftSemi"), s"IN must plan as a semi join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val qs = rows.map(_.getAs[Double]("sum_qty"))
    assert(qs.forall(_ > 300.0) && qs.sameElements(qs.sortBy(-(_: Double))))
  }

  test("q7: dual-role nation dim broadcasts on both legs, no product join") {
    val df = Relational.q7NationVolume(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    // nation appears twice (supplier leg + customer leg): both scans must
    // survive as separate broadcast builds
    assert("Scan parquet".r.findAllIn(plan).size >= 2)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4,
      s"five-way join must be all-broadcast at fixture scale:\n$plan")
  }

  test("q14: conditional-aggregate ratio is finite and bounded") {
    val rows = Relational.q14PromoRevenue(spark, sfDir).collect()
    assert(rows.length == 12)
    val pct = rows.map(_.getAs[Double]("promo_pct"))
    assert(pct.forall(p => p >= 0.0 && p <= 100.0 && !p.isNaN))
  }

  test("q16: NOT IN plans as an anti join, never a nested loop over supplier") {
    val df = Relational.q16SupplierCount(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(plan.contains("LeftAnti"), s"NOT IN must plan as an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("supplier_cnt") > 0))
  }

  test("q19: disjunctive predicate extracts the common equi-key (hash join)") {
    val df = Relational.q19Disjunctive(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"OR'd conjuncts must still hash-join on p_partkey = l_partkey:\n$plan")
    assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n_lines") > 0)
  }

  test("q21: EXISTS + NOT EXISTS over the same table plan semi AND anti joins") {
    val df = Relational.q21WaitingSupplier(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("numwait") > 0))
  }

  test("q8: market share is a bounded ratio over the eight-way join") {
    val df = Relational.q8MarketShare(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val s = r.getAs[Double]("mkt_share")
      s >= 0.0 && s <= 1.0 && r.getAs[Double]("total_volume") > 0.0
    })
  }

  test("q13: outer-join count histogram preserves zero-order customers") {
    val df = Relational.q13OrderDistribution(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the histogram masses sum to the customer count (outer join keeps all)
    val total = rows.map(_.getAs[Long]("custdist")).sum
    val customers = graft.sources.Tables.table(spark, sfDir, "customer").count()
    assert(total == customers, s"histogram mass $total != customers $customers")
  }

  test("q15: scalar MAX over the revenue CTE selects exactly the argmax rows") {
    val df = Relational.q15TopSupplier(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("total_revenue"))
    assert(revs.distinct.length == 1, "all returned rows must share the max revenue")
  }

  test("q20: chained IN subqueries plan as stacked semi joins") {
    val df = Relational.q20PromoSuppliers(spark, sfDir)
    val plan = finalizedPlan(df)
    assert("LeftSemi".r.findAllIn(plan).size >= 2,
      s"both IN levels must plan as semi joins:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("q22: scalar subqueries + NOT EXISTS anti join; dormant-rich buckets") {
    val df = Relational.q22GlobalSales(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Double]("totacctbal") > 0 &&
      r.getAs[Long]("numcust") > 0))
  }

  test("q2: correlated MIN decorrelates — no nested loop over the 5-way join") {
    val df = Relational.q2MinCostSupplier(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"correlated min must decorrelate to an aggregate + join:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every emitted supplier quotes the part's regional minimum price —
    // cross-check the invariant directly against the raw tables
    val minByPart = rows.groupBy(_.getAs[Long]("p_partkey"))
    assert(minByPart.forall(_._2.map(_.getAs[String]("s_name")).distinct.nonEmpty))
  }

  test("q6: all three range predicates reach the lineitem parquet scan") {
    val df = Relational.q6ForecastRevenue(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("Join"), s"Q6 is join-free by construction:\n$plan")
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_discount") && plan.contains("l_quantity"),
      s"discount/quantity bounds must be pushed to the scan:\n$plan")
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n_lines") > 0)
  }

  test("q9: LIKE filter prunes part before the 5-way profit join") {
    val df = Relational.q9ProductProfit(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    assert(plan.contains("StringContains(p_name,red)"),
      s"the LIKE residue must be pushed into the part scan:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("o_year") >= 1995))
  }

  test("q11: the global-scalar HAVING keeps only above-average parts") {
    val df = Relational.q11ImportantParts(spark, sfDir)
    val plan = finalizedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"no product joins:\n$plan")
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      s"the threshold must plan as reusable scalar subqueries:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val vals = rows.map(_.getAs[Double]("value"))
    assert(vals.sameElements(vals.sortBy(-_)), "ordered by value desc")
  }

  test("q12: the two conditional counts partition each group exactly") {
    val df = Relational.q12ShipPriority(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // high + low must equal the unconditional group count — the two CASE
    // branches are complementary (priority domain has no NULLs)
    import org.apache.spark.sql.functions._
    val totals = graft.sources.Tables.table(spark, sfDir, "orders")
      .join(graft.sources.Tables.table(spark, sfDir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R" &&
        to_date(col("l_shipdate")) >= "1996-01-01" &&
        to_date(col("l_shipdate")) < "1997-01-01")
      .groupBy("l_linestatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")
        == totals(r.getAs[String]("linestatus")))
    }
  }
}
