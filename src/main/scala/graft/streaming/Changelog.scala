package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Changelog-stream format + generator (SURVEY.md §1.4).
  *
  * Line contract mirrors the reference's `streamdata.csv`: a 3-char header
  * `[+|-][CU|OR|LI]` followed by the pipe-separated table row
  * (TPCHQuery3_StreamProcessor_no_websocket.java:286–290; generator writes
  * `"+LI" + line`, StreamDataProcessor.py:160).
  *
  * The reference generates the interleaving with a sequential Python loop
  * (StreamDataProcessor.py:122–254): insert lineitems one at a time, co-emit
  * orders/customer inserts whenever the cardinality ratio demands it, and
  * delete row `i − capacity` once the sliding window overflows. That loop
  * has an analytic closed form, which lets us generate the SAME event
  * ordering fully distributed (no driver loop — scales to any SF):
  *
  *  - lineitem `i` (1-based insertion rank) inserts at trigger `t = i`;
  *  - order `j` inserts at `t = ceil(j·nL/nO)` (the first lineitem insert
  *    whose running ratio demands the j-th order — py:170–213);
  *  - customer `k` inserts at `t = ceil(k·nL/nC)`;
  *  - each row's delete fires `capacity` triggers after its insert
  *    (py:164–167,221–249), so the default `capacity = nL` reproduces the
  *    reference's build-up-then-tear-down two-phase stream (py:22,136).
  *
  * Events are totally ordered by `(t, sub, idx)` where `sub` sequences
  * within a trigger: LI+ < OR+ < CU+ < LI− < OR− < CU−.
  */
object Changelog {

  /** Serialize a value column for the pipe format. Money/qty doubles carry
    * exactly 2 decimals in the fixtures (verified) so `decimal(18,2)` text
    * roundtrips them losslessly; dates are midnight-only → `yyyy-MM-dd`.
    */
  private def f(c: Column, dt: String): Column = dt match {
    case "money" => c.cast("decimal(18,2)").cast("string")
    case "date"  => date_format(c, "yyyy-MM-dd")
    case _       => c.cast("string")
  }

  private val customerCols = Seq(
    "c_custkey" -> "i", "c_name" -> "s", "c_nationkey" -> "i",
    "c_acctbal" -> "money", "c_mktsegment" -> "s")
  private val ordersCols = Seq(
    "o_orderkey" -> "i", "o_custkey" -> "i", "o_orderstatus" -> "s",
    "o_totalprice" -> "money", "o_orderdate" -> "date", "o_orderpriority" -> "s")
  private val lineitemCols = Seq(
    "l_orderkey" -> "i", "l_partkey" -> "i", "l_suppkey" -> "i",
    "l_linenumber" -> "i", "l_quantity" -> "money", "l_extendedprice" -> "money",
    "l_discount" -> "money", "l_tax" -> "money", "l_returnflag" -> "s",
    "l_linestatus" -> "s", "l_shipdate" -> "date")

  private def payload(cols: Seq[(String, String)]): Column =
    concat_ws("|", cols.map { case (n, dt) => f(col(n), dt) }: _*)

  /** ceil(idx·nL/nTable) in exact long arithmetic — SQL `DIV`, not `/`:
    * Column `/` is double division, and idx·nL exceeds double's 53-bit
    * mantissa at large SF (same pitfall as Tables' ns timestamps).
    */
  private def trigger(nL: Long, nTable: Long): Column =
    expr(s"CAST((idx * ${nL}L + ${nTable - 1}L) DIV ${nTable}L AS BIGINT)")

  /** Generate the ordered changelog for one sfDir.
    *
    * @param capacity sliding-window capacity in lineitem-insert triggers;
    *                 `None` = reference default (full table ⇒ two-phase
    *                 build/tear-down, py:22,136)
    * @param insertOnly drop all delete events (the "all-inserts prefix"
    *                   whose converged answer must equal the batch answer)
    * @return columns `(t: long, sub: int, idx: long, line: string)` —
    *         total event order is `ORDER BY t, sub, idx`.
    */
  def generate(spark: SparkSession, dir: String,
               capacity: Option[Long] = None,
               insertOnly: Boolean = false): DataFrame =
    generateFrom(
      Tables.table(spark, dir, "lineitem"),
      Tables.table(spark, dir, "orders"),
      Tables.table(spark, dir, "customer"),
      capacity, insertOnly)

  /** [[generate]] over explicit table DataFrames. */
  def generateFrom(li: DataFrame, or: DataFrame, cu: DataFrame,
                   capacity: Option[Long] = None,
                   insertOnly: Boolean = false): DataFrame = {
    val nL = li.count(); val nO = or.count(); val nC = cu.count()
    val cap = capacity.getOrElse(nL)

    // Insertion rank per table, fully distributed ([[graft.operators.
    // Ranked.globalRank]] — no single-partition sort, no join-back). The
    // lineitem ordering is KEY-COMPLETE (all streamed columns — the
    // fixture (l_orderkey, l_linenumber) alone is not unique), so every
    // row's insertion rank is deterministic and an external oracle can
    // reproduce the exact net table state at any stream prefix
    // (stream_q3_prefix_snapshot hash-matches a mid-stream top-20 against
    // DuckDB on the same rank arithmetic).
    // Rank the RAW narrow columns and serialize the line BODY
    // (`TAG|field|field|…`) AFTER the rank: everything upstream of the
    // range exchange (the partitioner's sampling pass + the shuffle map
    // side) runs at the SOURCE's parallelism — a single-row-group parquet
    // file is one task — so putting the 11–16-column date/decimal
    // formatting there serializes it twice per run (measured 3.3 s of the
    // 5.8 s changelog_counts at sf0.1). Post-rank it runs once, across
    // all shuffle partitions. An insert and its delete differ only in the
    // sign prefix, so the formatting still runs ONCE per row (the
    // post-rank Project aliases `body`, referenced twice downstream —
    // CollapseProject keeps multiply-referenced non-trivial aliases
    // materialized rather than inlining them into the explode).
    def ranked(df: DataFrame, order: Seq[Column], tag: String,
               cols: Seq[(String, String)]): DataFrame =
      graft.operators.Ranked.globalRank(
          df.select(cols.map { case (n, _) => col(n) }: _*), order)
        .select(col("idx"), concat(lit(tag), lit("|"), payload(cols)).as("body"))

    // A row's insert AND its delete are emitted from the SAME scan of the
    // SAME row (a 2-element inline explode), so insert/delete rank
    // consistency is structural — no checkpoint pin of the ranked frame is
    // needed (round 3 double-scanned it via union, forcing an eager
    // materialization of every ranked table; measured 5.8 s → 4.2 s for
    // changelog_counts at sf0.1 dropping it). The exploded array is built
    // from plain already-computed columns: since the r14 globalRank
    // rewrite `body` is a Project ABOVE a localCheckpoint (the RDD hop is
    // gone), so the explode-re-evaluation safety rests on CollapseProject
    // declining to inline non-cheap multiply-referenced aliases — a
    // Catalyst upgrade that changes that invariant re-evaluates `body`
    // once per exploded element (audit this comment then).
    def events(df: DataFrame, t: Column, subIns: Int): DataFrame = {
      val ins = df.select(t.as("t"), lit(subIns).as("sub"), col("idx"),
        concat(lit("+"), col("body")).as("line"))
      if (insertOnly) ins
      else df.select(t.as("t"), col("idx"), col("body"))
        .select(col("idx"), explode(array(
          struct(col("t"), lit(subIns).cast("int").as("sub"),
            concat(lit("+"), col("body")).as("line")),
          struct((col("t") + cap).as("t"), lit(subIns + 3).cast("int").as("sub"),
            concat(lit("-"), col("body")).as("line")))).as("e"))
        .select(col("e.t").as("t"), col("e.sub").as("sub"), col("idx"),
          col("e.line").as("line"))
    }

    val liR = ranked(li, lineitemCols.map { case (n, _) => col(n) }, "LI", lineitemCols)
    val orR = ranked(or, Seq(col("o_orderkey")), "OR", ordersCols)
    val cuR = ranked(cu, Seq(col("c_custkey")), "CU", customerCols)

    events(liR, col("idx"), 0)
      .unionByName(events(orR, trigger(nL, nO), 1))
      .unionByName(events(cuR, trigger(nL, nC), 2))
  }

  /** Per-session memo of the generated changelog per (dir, insertOnly).
    * Keyed by variant: with per-query isolation (Bench/Verify drop all
    * cached blocks between queries) nothing is shared across queries
    * anyway, and generating the insert-only prefix directly skips
    * building the delete half — half the payload concat/serialize work —
    * instead of generating it and filtering it away.
    */
  // weak keys: a stopped+collected session's cached frames are evicted
  // automatically instead of pinning dead-session RDD blocks (and identity
  // hash reuse after GC can't alias two sessions).
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, DataFrame]]())

  def generateCached(spark: SparkSession, dir: String,
                     insertOnly: Boolean = false): DataFrame = {
    val perSession = cache.synchronized {
      cache.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty[String, DataFrame])
    }
    perSession.getOrElseUpdate(s"$dir#$insertOnly",
      generate(spark, dir, insertOnly = insertOnly).localCheckpoint())
  }

  /** The capacity-windowed changelog (a live window of nL/4 lineitems, so
    * deletes interleave from early on — the `stream_q3_spilled` shape),
    * disk-staged once per (session, fixture) and shared by every query
    * that folds it: [[generateCached]]'s memo would be wiped by the
    * bench's per-query [[resetSession]], while a parquet staging survives
    * it, so re-measures pay the fold, not the generation.
    */
  def windowed(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(graft.sources.Staging.ensure(
      graft.sources.Staging.dirFor(spark, "q3spill", dir)) { out =>
      val nL = Tables.table(spark, dir, "lineitem").count()
      generate(spark, dir, capacity = Some(math.max(1L, nL / 4)))
        .write.mode("overwrite").parquet(out)
    })

  /** Drop the memoized changelogs for a session. Callers that bulk-
    * unpersist a session's RDD blocks MUST call this too — a memo entry
    * whose checkpoint blocks were dropped is unrecoverable (checkpointing
    * truncated its lineage). Prefer [[resetSession]], which keeps the two
    * steps together.
    */
  def clearCache(spark: SparkSession): Unit = {
    val m = cache.get(spark)
    if (m != null) m.clear()
  }

  /** Per-query isolation (Bench/Verify): drop every cached/checkpointed
    * block the previous query left behind — leaked blocks fill the storage
    * pool and push later stateful queries to disk — together with the
    * session-level memos whose entries those blocks back.
    */
  def resetSession(spark: SparkSession): Unit = {
    clearCache(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Write the changelog as ordered text files. `nFiles` range-partitions by
    * trigger so file order = event order (micro-batch replay order).
    *
    * The file stream source replays oldest-mtime-first, and one write job
    * gives every part file the same mtime — leaving replay order to the
    * source's tie-break, which can put delete batches before their inserts
    * (mid-stream top-N then shows negative-revenue garbage even though the
    * converged state is order-invariant). Stamp strictly increasing mtimes
    * in part-file name order (= range order) so replay follows event time.
    */
  def write(events: DataFrame, path: String, nFiles: Int = 4): Unit = {
    events.repartitionByRange(nFiles, col("t"), col("sub"), col("idx"))
      .sortWithinPartitions(col("t"), col("sub"), col("idx"))
      .select("line").write.mode("overwrite").text(path)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try {
      import scala.jdk.CollectionConverters._
      val base = System.currentTimeMillis() - 1000L * nFiles
      parts.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
        .zipWithIndex
        .foreach { case (p, i) =>
          p.toFile.setLastModified(base + i * 1000L)
        }
    } finally parts.close()
  }

  /** The micro-batch, `0 until k`, of an event at trigger `t` when
    * triggers `1..tMax` are cut into `k` event-time-contiguous slices —
    * exact long arithmetic (`DIV`), triggers past `tMax` in the last slice.
    */
  def batchOf(k: Int, tMax: Long): Column =
    least(expr(s"CAST(((t - 1L) * ${k}L) DIV ${tMax}L AS INT)"), lit(k - 1))

  /** The event-time family's deterministic lateness injection: the
    * lineitem events with `l_orderkey % 10 == 3` are withheld from their
    * event-time slot and arrive after every on-time event.
    */
  val withheld: Column = substring(col("line"), 2, 2) === "LI" &&
    element_at(split(substring(col("line"), 5, Int.MaxValue), "\\|"), 1)
      .cast("long") % 10 === 3

  /** The insert-only changelog in ARRIVAL order under [[withheld]]: `k`
    * on-time batches cut by event time ([[batchOf]] over the whole
    * changelog's trigger span), then one late batch of the withheld events.
    */
  def lateArrivals(spark: SparkSession, dir: String, k: Int): Seq[DataFrame] = {
    val events = generateCached(spark, dir, insertOnly = true)
    val tMax = events.agg(max(col("t"))).head().getLong(0)
    val onTime = events.filter(!withheld).withColumn("batch", batchOf(k, tMax))
    (0 until k).map(b => onTime.filter(col("batch") === b).drop("batch")) :+
      events.filter(withheld)
  }

  // -------------------------------------------------------------------
  // Parser (no_websocket.java:281–320 re-expressed as declarative columns)
  // -------------------------------------------------------------------

  /** Parse raw changelog lines (column `line` or `value`) into a tagged
    * z-set: `(relation, __w, fields…)` with `__w = +1` for Insert, `−1` for
    * Delete — the signed-weight encoding that replaces the reference's
    * `StreamEvent.action` string (no_websocket.java:60–86).
    *
    * Malformed lines (wrong sign or unknown relation tag) are DROPPED,
    * matching the reference's parse-error tolerance (its sources skip
    * unparseable rows, no_websocket.java:281–320) — without the guard a
    * garbage line would silently become a spurious DELETE and poison the
    * retraction algebra. Two codegen'd predicates on the 3-char header;
    * no measurable cost next to the field split.
    *
    * The field SPLIT happens in [[typed]], AFTER the per-relation tag
    * filter — not here (r15, guide §2.3 "project before the exchange"
    * applied to the CACHE boundary): [[IncrementalQ3.step]] persists the
    * parsed batch and every relation delta reads it, so whatever parse
    * emits is what the columnar cache must encode and every reader must
    * decode. An `array<string>` column is the worst case for
    * InMemoryRelation on both sides (graft.Prof at sf0.1,
    * `stream_q3_full_cycle`: 25–30 s of task time per batch building the
    * cache, 9–13 s per reader draining it); three narrow string/long
    * columns cache nearly for free, and because the relation tags are
    * DISJOINT, splitting after the tag filter still splits each surviving
    * line exactly once across the three delta projections.
    */
  def parse(lines: DataFrame): DataFrame = {
    val c = if (lines.columns.contains("line")) col("line") else col("value")
    lines
      .filter(substring(c, 1, 1).isin("+", "-") &&
        substring(c, 2, 2).isin("CU", "OR", "LI") &&
        substring(c, 4, 1) === "|")
      .select(
        when(substring(c, 1, 1) === "+", 1L).otherwise(-1L).as(ZSet.W),
        substring(c, 2, 2).as("tag"),
        substring(c, 5, Int.MaxValue).as("rest"))
  }

  /** Events per (relation, action) of raw changelog `lines` — the
    * `changelog_counts` answer, and the per-batch summary of every counts
    * consumer (≤ 6 rows, plain-additive across batches).
    */
  def counts(lines: DataFrame): DataFrame =
    parse(lines)
      .select(
        when(col("tag") === "CU", "customer")
          .when(col("tag") === "OR", "orders")
          .otherwise("lineitem").as("relation"),
        when(col(ZSet.W) === 1, "Insert").otherwise("Delete").as("action"))
      .groupBy("relation", "action").agg(count(lit(1)).as("n"))

  private def typed(parsed: DataFrame, tag: String, cols: Seq[(String, String)]): DataFrame =
    parsed.filter(col("tag") === tag)
      // the split materializes as its own Project alias: multiply
      // referenced below, so CollapseProject keeps it evaluated once per
      // row (the engine-wide invariant the generate() explode also
      // relies on — see the comment there)
      .select(col(ZSet.W), split(col("rest"), "\\|").as("fs"))
      .select(
      cols.zipWithIndex.map { case ((n, dt), i) =>
        val raw = col("fs").getItem(i)
        (dt match {
          case "i"     => raw.cast("long")
          case "money" => raw.cast("double")
          case "date"  => to_date(raw)
          case _       => raw
        }).as(n)
      } :+ col(ZSet.W): _*)

  def customers(parsed: DataFrame): DataFrame = typed(parsed, "CU", customerCols)
  def orders(parsed: DataFrame): DataFrame = typed(parsed, "OR", ordersCols)
  def lineitems(parsed: DataFrame): DataFrame = typed(parsed, "LI", lineitemCols)
}
