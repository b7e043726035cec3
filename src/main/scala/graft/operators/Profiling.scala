package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dataset profiling — the acceptance summary every large-scale ingestion
  * run computes before a drop is admitted to the corpus: per column, the
  * null count, exact distinct cardinality, and min/max, in long format
  * (one row per column) so downstream quality gates can diff profiles
  * across drops without schema churn.
  *
  * Scale shape: ONE scan of the table feeds a single aggregate; the
  * multi-column exact `countDistinct` plans as Catalyst's Expand (each
  * input row fans out once per profiled column, ids/values only), then one
  * hash aggregate with map-side partials — no per-column scan, no join.
  * Exact distinct over C columns shuffles ~C× the distinct values; the
  * 100 TB variant swaps `countDistinct` for the mergeable KMV sketch
  * ([[Sketches.kmvDistinct]] / `graft.functions.KmvSketch`), turning the
  * Expand shuffle into constant-size sketch state per column — same query
  * shape, tunable error. The pivot to long format happens AFTER
  * aggregation on a one-row frame (`stack` over scalars — free).
  */
object Profiling {

  /** (name, value column, result formatter) for each profiled column.
    * Formatters produce engine-portable strings: integral types and dates
    * print identically in Spark and ANSI SQL engines; doubles go through
    * an exact decimal cast first (double→string formatting is NOT
    * portable — "1.0E7" vs "10000000.0").
    */
  private def profiled: Seq[(String, Column, Column => Column)] = Seq(
    ("l_orderkey", col("l_orderkey"), (c: Column) => c.cast("string")),
    ("l_linenumber", col("l_linenumber"), (c: Column) => c.cast("string")),
    ("l_quantity", col("l_quantity"),
      (c: Column) => c.cast("decimal(12,2)").cast("string")),
    ("l_returnflag", col("l_returnflag"), (c: Column) => c),
    ("l_shipdate", col("l_shipdate"),
      (c: Column) => c.cast("date").cast("string")))

  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
    // TWO aggregates, deliberately: mixing countDistinct with string-typed
    // min/max buffers in one agg forces the WHOLE Expand output through a
    // keyless SortAggregate — a 6-column sort of C× the table (measured
    // 7.6 s warm at sf0.1). Split, the basic stats run as one keyless
    // single-pass aggregate (no sort is required when there are no
    // grouping keys), and the multi-distinct Expand keeps purely
    // primitive count buffers → HashAggregate. The join of two 1-row
    // frames is free.
    val basicAggs = profiled.flatMap { case (n, c, fmt) => Seq(
      sum(when(c.isNull, 1L).otherwise(0L)).as(s"${n}__nulls"),
      fmt(min(c)).as(s"${n}__min"),
      fmt(max(c)).as(s"${n}__max"))
    }
    val ndAggs = profiled.map { case (n, c, _) => countDistinct(c).as(s"${n}__nd") }
    val one = li.agg(count(lit(1)).as("n_rows"), basicAggs: _*)
      .crossJoin(li.agg(ndAggs.head, ndAggs.tail: _*))
    val stackArgs = profiled.map { case (n, _, _) =>
      s"'$n', ${n}__nulls, ${n}__nd, ${n}__min, ${n}__max"
    }.mkString(", ")
    one.selectExpr("n_rows",
        s"stack(${profiled.size}, $stackArgs) AS " +
          "(column_name, n_nulls, n_distinct, min_value, max_value)")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** Exact per-group quantiles — the distribution half of [[profileTable]]
    * (min/max/nulls say nothing about shape; every dataset card and drift
    * monitor wants the quartiles and the tail). Spark's builtin EXACT
    * `percentile` aggregate (not `percentile_approx`): a partial/final
    * aggregate whose state is the per-group value multiset — fine at
    * per-group cardinalities that fit an executor, which is the profiling
    * contract here (per event_type); at 100 TB per-key shape switches to
    * a mergeable sketch and becomes a recall-style bound, not an oracle
    * equality, so the exact form is the one that belongs in the gate.
    *
    * Oracle portability: both engines define the exact quantile as type-7
    * linear interpolation at rank p·(n−1); interpolated results land on a
    * ≤4-decimal lattice for the 2-decimal fixture values (interpolation
    * fractions are multiples of 0.05), so [[graft.functions.TextOps
    * .round6]] gives ~6 orders of magnitude of margin over the engines'
    * 1-ulp formula differences.
    */
  def profileQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val r6 = graft.functions.TextOps.round6 _
    def q(p: Double) = r6(expr(s"percentile(value, ${p}D)"))
    Tables.table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        q(0.25).as("p25"), q(0.5).as("p50"),
        q(0.75).as("p75"), q(0.95).as("p95"))
      .orderBy(col("event_type"))
  }

  /** IQR outlier screen — the Tukey-fence flagging step curation
    * pipelines run off the quantile profile: per group, values outside
    * [p25 − 1.5·IQR, p75 + 1.5·IQR] are outliers. Two passes: the
    * [[profileQuantiles]]-style exact quantiles (tiny frame, broadcast
    * back), then one row-local flagging scan + count — the shape that
    * holds at any corpus size because the second pass is embarrassingly
    * parallel. Fences are computed FROM the round6-lattice quantiles with
    * the same op sequence in both engines, so the strict < / >
    * comparisons cannot straddle an engine-dependent boundary.
    */
  def profileOutliers(spark: SparkSession, dir: String): DataFrame = {
    val r6 = graft.functions.TextOps.round6 _
    val ev = Tables.table(spark, dir, "events")
    val fences = ev.groupBy(col("event_type").as("et"))
      .agg(r6(expr("percentile(value, 0.25D)")).as("p25"),
        r6(expr("percentile(value, 0.75D)")).as("p75"))
      .select(col("et"), col("p25"), col("p75"),
        (col("p25") - lit(1.5) * (col("p75") - col("p25"))).as("lo"),
        (col("p75") + lit(1.5) * (col("p75") - col("p25"))).as("hi"))
    ev.join(broadcast(fences), col("event_type") === col("et"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        graft.functions.TextOps.round6(first(col("lo"))).as("fence_lo"),
        graft.functions.TextOps.round6(first(col("hi"))).as("fence_hi"))
      .orderBy(col("event_type"))
  }

  /** The DuckDB oracle: one UNION ALL branch per profiled column, each
    * computing the same (nulls, exact distinct, formatted min/max). Kept
    * next to the profile definition so column list and formatting can
    * never drift apart.
    */
  def oracleSql: String = {
    def fmtSql(n: String): String => String = n match {
      case "l_quantity" => v => s"CAST(CAST($v AS DECIMAL(12,2)) AS VARCHAR)"
      case "l_returnflag" => v => v
      case "l_shipdate" => v => s"CAST(CAST($v AS DATE) AS VARCHAR)"
      case _ => v => s"CAST($v AS VARCHAR)"
    }
    profiled.map { case (n, _, _) =>
      val f = fmtSql(n)
      s"""SELECT '$n' AS column_name, count(*) AS n_rows,
         |       count(*) - count($n) AS n_nulls,
         |       count(DISTINCT $n) AS n_distinct,
         |       ${f(s"min($n)")} AS min_value,
         |       ${f(s"max($n)")} AS max_value
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Train/val distribution drift — the gate that catches a skewed split
    * or an ingestion drop whose new slice no longer looks like the corpus:
    * histogram a feature (doc length, 50-char buckets) over the
    * deterministic train and val slices ([[Pipelines.hashBucket]], the
    * same 80/10 hash-space split `pipeline_split` materializes) and emit
    * per-bucket shares plus their absolute difference — the per-bucket
    * term of total-variation distance. Pure arithmetic (integer counts,
    * one division per share, subtraction), NOT a PSI/KL log form: IEEE
    * `ln` is not correctly-rounded across libms, so a log-based stat
    * cannot promise the engine-exactness this repo's oracles demand; TVD
    * ranks drift the same way and is bit-portable.
    *
    * Scale shape: ONE scan computes both slices — the membership bits
    * ride the row (md5-bucket compare), one hash aggregate keyed by the
    * ≤ 20 histogram buckets (map-side combined: the shuffle is buckets ×
    * partitions rows of two longs), then a broadcast of the one-row
    * totals. No per-slice scan, no window, nothing corpus-sized past the
    * first aggregate.
    */
  def profileDrift(spark: SparkSession, dir: String): DataFrame =
    driftFinish(driftCounts(driftSliced(
      Tables.table(spark, dir, "documents").select(col("doc_id"), col("n_chars")))))

  /** Slice a `(doc_id, n_chars)` frame into drift histogram rows —
    * row-local, so it applies unchanged to a micro-batch
    * ([[graft.streaming.SummaryStream.streamDrift]]).
    */
  private[graft] def driftSliced(docs: DataFrame): DataFrame =
    docs.withColumn("hb", Pipelines.hashBucket(col("doc_id")))
      .filter(col("hb") < 900)
      .select(least(floor(col("n_chars") / 50), lit(10)).cast("int").as("bucket"),
        (col("hb") < 800).as("is_train"))

  /** The mergeable partial: per-bucket train/val counts (plain addition
    * merges partials — what makes the drift profile stream-maintainable).
    */
  private[graft] def driftCounts(sliced: DataFrame): DataFrame =
    sliced.groupBy(col("bucket")).agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_val"))

  /** Closed form from a counts frame (any provenance — one batch
    * aggregate or a streaming accumulation of partials).
    */
  private[graft] def driftFinish(agg: DataFrame): DataFrame = {
    import graft.functions.TextOps.round6
    val tot = agg.agg(sum(col("n_train")).as("t_train"),
      sum(col("n_val")).as("t_val"))
    val pT = col("n_train").cast("double") / col("t_train").cast("double")
    val pV = col("n_val").cast("double") / col("t_val").cast("double")
    agg.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_train"), col("n_val"),
        round6(pT).as("p_train"), round6(pV).as("p_val"),
        round6(abs(pT - pV)).as("abs_diff"))
      .orderBy(col("bucket"))
  }

  /** The DATASET CARD — the per-source acceptance datasheet a corpus drop
    * ships with: volume (docs, tokens, token range), quality (mean of the
    * engine's quality score), redundancy (exact-dup rate), and language
    * spread, in one row per source. Composes the profiling, text-quality,
    * and dedup primitives into one declarative plan — the "datasheets for
    * datasets" artifact, continuously computable.
    *
    * Determinism: the mean quality is the [[graft.functions.TextOps.round6]]
    * per-doc score summed as DECIMAL(18,6) (exact, addend-order-free) then
    * divided once — the same discipline as `embed_norms`' decimal mean; a
    * double sum would be partition-order-dependent. Two aggregates by
    * design (same reason as [[profileTable]]): the countDistinct pair
    * rides its own Expand+hash aggregate; the basic stats stay one
    * single-pass hash aggregate; the join of two source-keyed 20-row
    * frames is free.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val d = Tables.table(spark, dir, "documents")
      .select(col("source"), col("lang"), col("text"))
      .withColumn("q", TextOps.round6(TextOps.quality))
      .withColumn("tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("h", md5(col("text")))
    val basic = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("tok")).cast("long").as("n_tokens"),
      min(col("tok")).as("min_tokens"),
      max(col("tok")).as("max_tokens"),
      sum(col("q").cast("decimal(18,6)")).as("qsum"))
    val distincts = d.groupBy(col("source")).agg(
      countDistinct(col("h")).as("n_unique_texts"),
      countDistinct(col("lang")).as("n_langs"))
    basic.join(distincts, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("min_tokens"), col("max_tokens"),
        TextOps.round6(col("qsum").cast("double") / col("n_docs"))
          .as("mean_quality"),
        col("n_unique_texts"),
        TextOps.round6((col("n_docs") - col("n_unique_texts"))
          / col("n_docs")).as("dup_rate"),
        col("n_langs"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[datasetCard]] — the same quality formula the
    * `dedup_canonical`/`pipeline_curation` oracles use, the same decimal
    * mean, mirrored operation for operation.
    */
  def datasetCardOracleSql: String =
    """WITH d AS (
      |  SELECT source, lang, md5(text) AS h,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok,
      |    floor((0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text))
      |        + 0.3 * least(len(string_split_regex(trim(text), '\s+'))::DOUBLE / 100.0, 1.0)
      |        + 0.4 * (len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
      |                 / len(string_split_regex(trim(text), '\s+')))) * 1000000 + 0.5) / 1000000 AS q
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |       CAST(SUM(tok) AS BIGINT) AS n_tokens,
      |       min(tok) AS min_tokens, max(tok) AS max_tokens,
      |       floor(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
      |             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
      |       count(DISTINCT h) AS n_unique_texts,
      |       floor(CAST(count(*) - count(DISTINCT h) AS DOUBLE)
      |             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate,
      |       count(DISTINCT lang) AS n_langs
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB oracle for [[profileDrift]] — same md5 hash-space slices, same
    * bucketing, same snap-at-the-end rounding.
    */
  def driftOracleSql: String =
    """WITH s AS (
      |  SELECT least(CAST(floor(n_chars / 50) AS INT), 10) AS bucket,
      |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS hb
      |  FROM documents),
      |a AS (SELECT bucket,
      |        SUM(CASE WHEN hb < 800 THEN 1 ELSE 0 END) AS n_train,
      |        SUM(CASE WHEN hb >= 800 THEN 1 ELSE 0 END) AS n_val
      |      FROM s WHERE hb < 900 GROUP BY bucket),
      |t AS (SELECT SUM(n_train) AS t_train, SUM(n_val) AS t_val FROM a)
      |SELECT bucket, CAST(n_train AS BIGINT) AS n_train, CAST(n_val AS BIGINT) AS n_val,
      |       floor(CAST(n_train AS DOUBLE) / CAST(t_train AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS p_train,
      |       floor(CAST(n_val AS DOUBLE) / CAST(t_val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS p_val,
      |       floor(abs(CAST(n_train AS DOUBLE) / CAST(t_train AS DOUBLE)
      |                 - CAST(n_val AS DOUBLE) / CAST(t_val AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS abs_diff
      |FROM a, t ORDER BY bucket""".stripMargin

  /** PAIRWISE CORRELATION profile — Pearson r between the numeric money
    * columns per return-flag segment, the "which features move together"
    * panel of a dataset card (and the input to feature-selection /
    * redundancy pruning in a training pipeline).
    *
    * Exactness discipline: the five co-moments per pair (n, Σx, Σy, Σx²,
    * Σy², Σxy) are aggregated as EXACT decimals (money cast to
    * decimal(18,2) first — the repo-wide money rule) and exported as
    * scaled exact DECIMAL(38,4)s, so the only doubles are the final closed-form r
    * computed from identical integer inputs through an identical IEEE
    * expression tree on both engines — every *, −, /, sqrt is
    * correctly-rounded and therefore bit-identical, and the emitted value
    * is integer millionths. Correlation is scale-invariant, so using the
    * ×100/×10⁴ integer sums changes nothing.
    *
    * Scale shape: ONE map-side-combined hash aggregate over one scan
    * computes all nine sums for the three pairs; the per-pair stack runs
    * on the k-row aggregate. (The export was scaled BIGINT through r10;
    * the r11 two-scale sweep tripped its overflow fence at 10× data —
    * Σ(price²)·10⁴ passes int64 around SF-1 — so the decimal(38,4)
    * spelling the fence pointed to is now the only spelling.)
    */
  def profileCorrelation(spark: SparkSession, dir: String): DataFrame =
    correlationFinish(
      correlationSums(graft.sources.Tables.table(spark, dir, "lineitem")))

  /** The nine decimal-exact co-moment sums per return flag, exported as
    * scaled exact DECIMAL(38,4)s. Scaling is linear and the sums exact, so these
    * partials are MERGEABLE by plain addition — which is what
    * [[graft.streaming.SummaryStream.streamCorrelation]] exploits to maintain the
    * profile incrementally over a stream.
    */
  def correlationSums(li: DataFrame): DataFrame = {
    def m(c: String) = col(c).cast("decimal(18,2)")
    // The export is exact DECIMAL(38,4) (r11): the two-scale sweep's 10×
    // run tripped the previous int64 fence exactly as designed —
    // Σ(price²)·10⁴ passes Long.MaxValue around SF-1 — so the export now
    // IS the wide spelling that fence's message named (headroom ~10³⁴,
    // beyond any 100 TB corpus; the values stay exact integers of the
    // scaled units, so the partials remain mergeable by plain addition).
    // Keep ADVICE r7's fail-loudly discipline: a decimal overflow in
    // non-ANSI mode yields NULL, which this guard turns into an error
    // instead of an opaque downstream NPE.
    def guarded(c: Column): Column = {
      val wide = c.cast("decimal(38,4)")
      when(wide.isNotNull, wide).otherwise(
        raise_error(lit("correlationSums: co-moment overflows decimal(38,4)"))
          .cast("decimal(38,4)"))
    }
    def e4(c: Column) = guarded(c * 10000)
    def e2(c: Column) = guarded(c * 100)
    li.groupBy(col("l_returnflag").as("returnflag")).agg(
      count(lit(1)).as("n"),
      e2(sum(m("l_quantity"))).as("q_e2"),
      e2(sum(m("l_extendedprice"))).as("p_e2"),
      e2(sum(m("l_discount"))).as("d_e2"),
      e4(sum(m("l_quantity") * m("l_quantity"))).as("qq_e4"),
      e4(sum(m("l_extendedprice") * m("l_extendedprice"))).as("pp_e4"),
      e4(sum(m("l_discount") * m("l_discount"))).as("dd_e4"),
      e4(sum(m("l_quantity") * m("l_extendedprice"))).as("qp_e4"),
      e4(sum(m("l_quantity") * m("l_discount"))).as("qd_e4"),
      e4(sum(m("l_extendedprice") * m("l_discount"))).as("pd_e4"))
  }

  /** Closed-form Pearson r from a co-moment sums frame (any provenance —
    * one batch aggregate or a streaming accumulation of partials).
    */
  def correlationFinish(sums: DataFrame): DataFrame = {
    // identical IEEE expression shape to the oracle: int64 → double casts,
    // then (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²)·√(n·Σy²−Σy²)), floored to ppm
    def corr(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
      s"""CAST(floor((CAST(n AS DOUBLE) * CAST($sxy AS DOUBLE)
         |  - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))
         |  / (sqrt(CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE)
         |          - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
         |     * sqrt(CAST(n AS DOUBLE) * CAST($syy AS DOUBLE)
         |            - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE)))
         |  * 1000000.0) AS BIGINT)""".stripMargin.replaceAll("\n", " ")
    sums.selectExpr("returnflag", "n",
        s"""stack(3,
           |'quantity_x_extendedprice', q_e2, p_e2, qp_e4,
           |  ${corr("q_e2", "p_e2", "qp_e4", "qq_e4", "pp_e4")},
           |'quantity_x_discount', q_e2, d_e2, qd_e4,
           |  ${corr("q_e2", "d_e2", "qd_e4", "qq_e4", "dd_e4")},
           |'extendedprice_x_discount', p_e2, d_e2, pd_e4,
           |  ${corr("p_e2", "d_e2", "pd_e4", "pp_e4", "dd_e4")})
           |AS (pair, sum_x_e2, sum_y_e2, sum_xy_e4, corr_ppm)""".stripMargin)
      .select(col("returnflag"), col("pair"), col("n"),
        // the EXPORTED sums cross the output boundary as doubles: the
        // decimal(38,4) internal type is the exact/mergeable state, but
        // decimal stringification differs between engines' dataframe
        // bridges ('…0000' vs '…0') and the driver's gate hashes strings;
        // decimal→double is correctly rounded identically on both sides
        col("sum_x_e2").cast("double").as("sum_x_e2"),
        col("sum_y_e2").cast("double").as("sum_y_e2"),
        col("sum_xy_e4").cast("double").as("sum_xy_e4"),
        col("corr_ppm"))
      .orderBy(col("returnflag"), col("pair"))
  }

  /** DuckDB oracle for [[profileCorrelation]] — same exact-decimal sums,
    * same double expression tree.
    */
  val correlationOracleSql: String = {
    // every sum→double conversion goes through HUGEINT: DuckDB's wide
    // DECIMAL→DOUBLE divides in floating point and is not correctly
    // rounded, while the sums are integral in scaled units — HUGEINT is
    // exact and its DOUBLE cast matches Spark's BigDecimal.doubleValue
    def d(x: String) = s"CAST(CAST($x AS HUGEINT) AS DOUBLE)"
    def corr(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
      s"""CAST(floor((CAST(n AS DOUBLE) * ${d(sxy)}
         | - ${d(sx)} * ${d(sy)})
         | / (sqrt(CAST(n AS DOUBLE) * ${d(sxx)}
         |         - ${d(sx)} * ${d(sx)})
         |    * sqrt(CAST(n AS DOUBLE) * ${d(syy)}
         |           - ${d(sy)} * ${d(sy)}))
         | * 1000000.0) AS BIGINT)""".stripMargin.replaceAll("\n", " ")
    s"""WITH s AS (
       |  SELECT l_returnflag AS returnflag, count(*) AS n,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS DECIMAL(38,4)) AS q_e2,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS DECIMAL(38,4)) AS p_e2,
       |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) * 100 AS DECIMAL(38,4)) AS d_e2,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,4)) AS qq_e4,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,4)) AS pp_e4,
       |    CAST(sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,4)) AS dd_e4,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,4)) AS qp_e4,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,4)) AS qd_e4,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) * 10000 AS DECIMAL(38,4)) AS pd_e4
       |  FROM lineitem GROUP BY 1)
       |SELECT returnflag, pair, n,
       |       CAST(CAST(sum_x_e2 AS HUGEINT) AS DOUBLE) AS sum_x_e2,
       |       CAST(CAST(sum_y_e2 AS HUGEINT) AS DOUBLE) AS sum_y_e2,
       |       CAST(CAST(sum_xy_e4 AS HUGEINT) AS DOUBLE) AS sum_xy_e4, corr_ppm FROM (
       |  SELECT returnflag, n, 'quantity_x_extendedprice' AS pair,
       |         q_e2 AS sum_x_e2, p_e2 AS sum_y_e2, qp_e4 AS sum_xy_e4,
       |         ${corr("q_e2", "p_e2", "qp_e4", "qq_e4", "pp_e4")} AS corr_ppm FROM s
       |  UNION ALL
       |  SELECT returnflag, n, 'quantity_x_discount',
       |         q_e2, d_e2, qd_e4,
       |         ${corr("q_e2", "d_e2", "qd_e4", "qq_e4", "dd_e4")} FROM s
       |  UNION ALL
       |  SELECT returnflag, n, 'extendedprice_x_discount',
       |         p_e2, d_e2, pd_e4,
       |         ${corr("p_e2", "d_e2", "pd_e4", "pp_e4", "dd_e4")} FROM s)
       |ORDER BY returnflag, pair""".stripMargin
  }

  /** Winsorization — the robust-scaling cousin of [[profileOutliers]]:
    * clip each group's values to its [p01, p99] fences and report the
    * clip counts and the clipped mean, the standard way quality scores
    * and reward-model outputs are tamed before a training mixture is
    * weighted on them. Same two-pass shape as the outlier screen (tiny
    * fence frame broadcast back, one row-local clipping scan). The mean
    * is an exact decimal sum over round6-lattice clipped values (the
    * [[Similarity.embedNorms]] portability discipline: round first, then
    * sum exactly — a raw double mean is summation-order-dependent).
    */
  def profileWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val r6 = graft.functions.TextOps.round6 _
    val ev = Tables.table(spark, dir, "events")
    val fences = ev.groupBy(col("event_type").as("et"))
      .agg(r6(expr("percentile(value, 0.01D)")).as("lo"),
        r6(expr("percentile(value, 0.99D)")).as("hi"))
    ev.join(broadcast(fences), col("event_type") === col("et"))
      .withColumn("clipped",
        r6(least(greatest(col("value"), col("lo")), col("hi"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        first(col("lo")).as("fence_lo"),
        first(col("hi")).as("fence_hi"),
        (sum(col("clipped").cast("decimal(18,6)")).cast("double")
          / count(lit(1)).cast("double")).as("clipped_mean"))
      .orderBy(col("event_type"))
  }

  val winsorizeOracleSql: String =
    """WITH f AS (
      |  SELECT event_type AS et,
      |         floor(quantile_cont(value, 0.01) * 1000000.0 + 0.5) / 1000000.0 AS lo,
      |         floor(quantile_cont(value, 0.99) * 1000000.0 + 0.5) / 1000000.0 AS hi
      |  FROM events GROUP BY event_type),
      |c AS (SELECT e.event_type, e.value, f.lo, f.hi,
      |             floor(least(greatest(e.value, f.lo), f.hi) * 1000000.0 + 0.5)
      |               / 1000000.0 AS clipped
      |      FROM events e JOIN f ON e.event_type = f.et)
      |SELECT event_type, count(*) AS n,
      |       CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
      |       CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
      |       MIN(lo) AS fence_lo,
      |       MIN(hi) AS fence_hi,
      |       CAST(SUM(CAST(clipped AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS clipped_mean
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Constraint validation suite (Deequ-style data-quality gate)
  // ---------------------------------------------------------------------

  /** Declarative constraint report over explicit frames — completeness,
    * uniqueness, referential integrity, range, and accepted-values checks
    * in long format `(check_name, table_name, violations, total, passed)`,
    * the admission gate a pipeline runs before a drop joins the corpus
    * (the [[profileTable]] summary says what the data looks like; this
    * says whether it may land).
    *
    * Scale shape: ALL checks on one table fold into ONE single-pass
    * keyless aggregate (conditional sums + countDistinct), so the suite
    * costs one scan per table regardless of how many checks it carries;
    * the FK check is an ids-only LEFT ANTI join (orphan keys counted,
    * payload never moves — AQE broadcasts the dim side when it fits).
    * The per-table one-row frames cross-join (1×1 — free) and unpivot.
    */
  def constraintReport(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame): DataFrame = {
    val custAgg = customer.agg(
      count(lit(1)).as("c_total"),
      sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("c_null_name"))
    val ordAgg = orders.agg(
      count(lit(1)).as("o_total"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("o_dup_keys"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("o_neg_price"))
    val liAgg = lineitem.agg(
      count(lit(1)).as("l_total"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("l_bad_discount"),
      sum(when(!col("l_returnflag").isin("R", "A", "N"), 1L)
        .otherwise(0L)).as("l_bad_flag"))
    val orphans = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("o_orphan_fk"))
    val one = custAgg.crossJoin(ordAgg).crossJoin(liAgg).crossJoin(orphans)
    one.selectExpr(
        """stack(6,
          |  'completeness_c_name',        'customer', c_null_name,   c_total,
          |  'uniqueness_o_orderkey',      'orders',   o_dup_keys,    o_total,
          |  'non_negative_o_totalprice',  'orders',   o_neg_price,   o_total,
          |  'referential_o_custkey',      'orders',   o_orphan_fk,   o_total,
          |  'range_l_discount',           'lineitem', l_bad_discount, l_total,
          |  'accepted_values_l_returnflag','lineitem', l_bad_flag,    l_total
          |) AS (check_name, table_name, violations, total)""".stripMargin)
      .withColumn("passed", col("violations") === 0L)
      .orderBy("check_name")
  }

  /** Driver query: the constraint suite over the fixture star schema. */
  def profileConstraints(spark: SparkSession, dir: String): DataFrame =
    constraintReport(
      Tables.table(spark, dir, "customer"),
      Tables.table(spark, dir, "orders"),
      Tables.table(spark, dir, "lineitem"))

  val constraintsOracleSql: String =
    """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS total,
      |                  CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS viol
      |           FROM customer),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS total,
      |             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
      |             CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_price
      |      FROM orders),
      |fk AS (SELECT CAST(count(*) AS BIGINT) AS viol FROM orders
      |       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
      |l AS (SELECT CAST(count(*) AS BIGINT) AS total,
      |             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
      |             CAST(sum(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END) AS BIGINT) AS bad_flag
      |      FROM lineitem)
      |SELECT * FROM (
      |  SELECT 'completeness_c_name' AS check_name, 'customer' AS table_name,
      |         viol AS violations, total, viol = 0 AS passed FROM c
      |  UNION ALL
      |  SELECT 'uniqueness_o_orderkey', 'orders', dup_keys, total, dup_keys = 0 FROM o
      |  UNION ALL
      |  SELECT 'non_negative_o_totalprice', 'orders', neg_price, total, neg_price = 0 FROM o
      |  UNION ALL
      |  SELECT 'referential_o_custkey', 'orders', fk.viol, o.total, fk.viol = 0 FROM fk, o
      |  UNION ALL
      |  SELECT 'range_l_discount', 'lineitem', bad_discount, total, bad_discount = 0 FROM l
      |  UNION ALL
      |  SELECT 'accepted_values_l_returnflag', 'lineitem', bad_flag, total, bad_flag = 0 FROM l)
      |ORDER BY check_name""".stripMargin

  /** Benford expectation `⌊log₁₀(1 + 1/d)·10⁶⌋` for d = 1..9 — generated
    * once and injected as the SAME literals into the Spark plan and the
    * oracle SQL (the [[graft.operators.Similarity.NdcgDiscountPpm]]
    * discipline: determinism by shared literal, not by both engines
    * rounding a log identically).
    */
  val BenfordPpm: Seq[Long] =
    (1 to 9).map(d => (math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  /** BENFORD FIRST-DIGIT SCREEN — the classic forensic/data-quality gate
    * over a money column: the observed first-significant-digit
    * distribution of `o_totalprice` against Benford's law, per digit, in
    * exact integer ppm. The first digit is extracted WITHOUT floats: the
    * exact-cent bigint renders to a decimal string (locale-free, identical
    * cross-engine) and the digit is its first character — ×100 preserves
    * the leading significand, and no log10/pow double ever runs on data.
    *
    * TPC-H prices are range-uniform, not scale-invariant, so the fixture
    * SHOWS a loud Benford violation — which is the point of the gate: a
    * synthetic (or fabricated) money column fails it; organic multi-scale
    * data passes. One scan, one 9-group hash aggregate, a 1-row total
    * broadcast; the expectation rides as a literal array lookup.
    */
  def profileBenford(spark: SparkSession, dir: String): DataFrame =
    benfordFinish(benfordCounts(Tables.table(spark, dir, "orders")))

  /** The MERGEABLE partial: per-digit counts (≤ 9 rows) — plain-additive
    * across micro-batches, which is what [[graft.streaming
    * .SummaryStream.streamBenford]] rides. Expects raw order rows.
    *
    * Non-positive amounts (refunds, zero-value placeholder rows) have no
    * first significant digit and are EXCLUDED before the string render —
    * without the `cents > 0` guard a zero amount yields digit 0 (and
    * `element_at(expectation, 0)` throws in the finisher) while a
    * negative amount yields the '-' character, a null digit here and a
    * cast error in the DuckDB oracle: engine and oracle would diverge
    * the moment the first refund appears. The guard is spelled
    * identically in [[benfordOracleSql]].
    */
  private[graft] def benfordCounts(orders: DataFrame): DataFrame =
    orders
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
      .filter(col("cents") > 0)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))

  /** The finisher: total = Σ counts (the digit counts partition the
    * table, so no separate scan), ppm shares, literal expectation.
    */
  private[graft] def benfordFinish(counts: DataFrame): DataFrame = {
    val total = counts.agg(sum(col("n")).as("t"))
    val exp = element_at(array(BenfordPpm.map(lit): _*), col("digit").cast("int"))
    counts.crossJoin(total)
      .select(col("digit"), col("n"),
        expr("n * 1000000 DIV t").as("observed_ppm"),
        exp.as("expected_ppm"),
        (expr("n * 1000000 DIV t") - exp).as("dev_ppm"))
      .orderBy(col("digit"))
  }

  /** DuckDB oracle for [[profileBenford]]: same exact-cent string digit,
    * same literal expectation table.
    */
  val benfordOracleSql: String = {
    val expCase = BenfordPpm.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
    s"""WITH cz AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT) AS cents FROM orders),
       |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
       |      AS digit FROM cz WHERE cents > 0),
       |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
       |t AS (SELECT count(*) AS t FROM d)
       |SELECT digit, CAST(n AS BIGINT) AS n,
       |  n * 1000000 // t.t AS observed_ppm,
       |  CAST(CASE digit $expCase END AS BIGINT) AS expected_ppm,
       |  n * 1000000 // t.t - (CASE digit $expCase END) AS dev_ppm
       |FROM c CROSS JOIN t
       |ORDER BY digit""".stripMargin
  }
}
