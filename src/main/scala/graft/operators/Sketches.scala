package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch
import graft.sources.Tables

/** Sketch-based approximate aggregates.
  *
  * The reference has no sketches (SURVEY §2.5: "no HLL/approx anywhere");
  * at 100 TB a distinct-count over a key column is exactly the query one
  * cannot afford to run exactly, so the engine ships a K-minimum-values
  * sketch ([[graft.functions.KmvSketch]]) — deterministic given the hash
  * column, hence still oracle-checkable bit-for-bit, unlike
  * `approx_count_distinct`'s engine-specific HLL.
  */
object Sketches {

  private val TwoPow60 = 1152921504606846976.0 // 16^15, exact in double

  /** `D̂ = (K−1)/h₍K₎` from the sketch array `s` (lexicographic order on
    * fixed-width lowercase hex IS numeric order, so `s[K]` is the K-th
    * smallest hash). Under-full sketch ⇒ it holds every distinct value ⇒
    * its size is the exact count. The hex→long→double chain mirrors the
    * oracle's CAST path so both engines produce the identical IEEE double.
    */
  def kmvEstimate(s: Column, k: Int): Column =
    when(size(s) < k, size(s).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (conv(substring(element_at(s, k), 1, 15), 16, 10)
          .cast("long").cast("double") / lit(TwoPow60)))

  /** Approximate distinct `l_partkey` over lineitem next to the exact
    * count. One aggregation: the sketch's partial/merge path does map-side
    * combine, so the shuffle carries ≤ K hashes per partition — the whole
    * point at scale, where `COUNT(DISTINCT)` shuffles every distinct value.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    KmvSketch.register(spark)
    val k = KmvSketch.DefaultK
    Tables.table(spark, dir, "lineitem")
      .select(md5(col("l_partkey").cast("string")).as("h"))
      .agg(countDistinct(col("h")).as("n_exact"), KmvSketch(col("h")).as("s"))
      .select(lit(k).as("kmv_k"), col("n_exact"),
        kmvEstimate(col("s"), k).as("kmv_estimate"))
  }

  // ---- HyperLogLog, the engine-portable way -------------------------------

  /** m = 64 registers (b = 6 bucket bits out of the 60-bit md5 prefix). */
  private val HllM = 64
  /** Remaining hash width after the bucket bits: 60 − 6 = 54 bits, so the
    * leading-zero rank ranges over [1, 55].
    */
  private val HllRankCap = 55
  /** α₆₄·m²·2⁵⁵ precomputed ONCE in Scala; both the engine and the
    * generated oracle SQL embed this exact double literal, so the final
    * estimate is one identical IEEE division on both sides.
    */
  private val HllAlphaNum = 0.709 * (HllM.toDouble * HllM) * math.pow(2, HllRankCap)

  /** HyperLogLog distinct count as ONE declarative aggregation — no custom
    * state, no engine-specific sketch. Everything up to the final division
    * is integer arithmetic: register `M_j` is an integer max, and the
    * harmonic sum `Σ 2^(−M_j)` is kept scaled by 2⁵⁵ so it is an EXACT
    * BIGINT sum (each term a power of two ≤ 2⁵⁴, 64 terms < 2⁶¹) —
    * order-independent and bit-identical across engines, where the
    * textbook double harmonic sum is neither. That is what makes this HLL
    * oracle-checkable against DuckDB while `approx_count_distinct`'s
    * binary HLL++ state is not.
    *
    * Scale shape: one scan, one shuffle keyed by the 64 buckets with
    * map-side combine — register max AND the per-bucket exact distinct
    * (buckets partition hash space, so Σ per-bucket distinct = global
    * distinct; `n_exact` rides the same shuffle instead of a second
    * Expand pass, and exists only to demo sketch accuracy — production
    * drops it). Register state is mergeable by construction (max), the
    * same property HLL union needs.
    *
    * The small-range linear-counting correction is deliberately NOT
    * folded in: it needs `ln`, whose last-ulp behavior is libm-specific.
    * `v_zero` (empty-register count) is emitted so a consumer can apply
    * any correction; the raw estimate itself is engine-exact.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val cap = HllRankCap
    val regs = Tables.table(spark, dir, "lineitem")
      .select(conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .groupBy((col("h") % HllM).as("bucket"))
      .agg(max(when(expr(s"h DIV $HllM") === 0L, lit(cap))
          .otherwise(lit(cap) - length(bin(expr(s"h DIV $HllM"))))).as("m"),
        countDistinct(col("h")).as("nd"))
    regs
      .agg(sum(col("nd")).as("n_exact"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $cap - m)")).as("s_present"),
        count(lit(1)).as("nb"))
      .select(lit(HllM).as("hll_m"), col("n_exact"),
        (lit(HllM.toLong) - col("nb")).as("v_zero"),
        (col("s_present") + (lit(HllM.toLong) - col("nb")) * lit(1L << cap)).as("s_int"))
      .withColumn("hll_estimate", lit(HllAlphaNum) / col("s_int").cast("double"))
  }

  /** DuckDB oracle for [[hllDistinct]], generated from the same constants.
    * `printf('%b', w)` is DuckDB's no-leading-zeros binary — same length
    * semantics as Spark's `bin(w)`; `//` mirrors `DIV` on the
    * all-positive hashes.
    */
  def hllOracleSql: String = {
    val (m, cap) = (HllM, HllRankCap)
    s"""WITH hh AS (SELECT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |            FROM lineitem),
       |r AS (SELECT h % $m AS bucket,
       |             max(CASE WHEN h // $m = 0 THEN $cap
       |                      ELSE $cap - length(printf('%b', h // $m)) END) AS m,
       |             count(DISTINCT h) AS nd
       |      FROM hh GROUP BY 1),
       |s AS (SELECT CAST(sum(nd) AS BIGINT) AS n_exact,
       |             CAST(sum((CAST(1 AS BIGINT) << ($cap - m))) AS BIGINT) AS s_present,
       |             count(*) AS nb FROM r)
       |SELECT $m AS hll_m, n_exact,
       |       CAST($m - nb AS BIGINT) AS v_zero,
       |       s_present + ($m - nb) * (CAST(1 AS BIGINT) << $cap) AS s_int,
       |       $HllAlphaNum / CAST(s_present + ($m - nb) * (CAST(1 AS BIGINT) << $cap) AS DOUBLE) AS hll_estimate
       |FROM s""".stripMargin
  }

  /** KMV SET ALGEBRA — the reason KMV beats HLL for a data pipeline:
    * sketches of different sets COMPOSE. `S(A ∪ B)` is the k smallest of
    * the combined hash sets, and the intersection estimate is the
    * Beyer et al. (SIGMOD'07) ratio estimator — the fraction of the
    * union-sketch members that belong to both sides, scaled by the union
    * estimate. Here A and B are the part-key sets of returned vs
    * unreturned lineitems; the sketch is tiny (k = 64 md5 strings), the
    * membership flags are two broadcast joins of that 64-row frame
    * against the distinct sides, and everything downstream of the exact
    * [[kmvEstimate]] expression is the same in both engines, so even the
    * APPROXIMATE numbers are oracle-checkable.
    *
    * Scale shape: the two distinct sides and their union are map-side-
    * combined hash aggregates; the k-smallest is TakeOrderedAndProject
    * (never a global sort); the exact demo counts ride the same frames.
    */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    val k = KmvSketch.DefaultK
    val li = Tables.table(spark, dir, "lineitem")
    def side(flag: String) = li.filter(col("l_returnflag") === flag)
      .select(md5(col("l_partkey").cast("string")).as("h")).distinct()
    val a = side("R").localCheckpoint()
    val b = side("N").localCheckpoint()
    val s = a.union(b).distinct().orderBy(col("h")).limit(k).localCheckpoint()
    val flags = s
      .join(a.withColumn("in_a", lit(1L)), Seq("h"), "left")
      .join(b.withColumn("in_b", lit(1L)), Seq("h"), "left")
    val sketchStats = flags.agg(
      count(lit(1)).as("k_union"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L)).as("k_inter"),
      max(col("h")).as("hk"))
    val exact = a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(a.join(b, "h").agg(count(lit(1)).as("n_inter_exact")))
    sketchStats.crossJoin(exact) // 1-row frames
      .withColumn("est_union",
        when(col("k_union") < k, col("k_union").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (conv(substring(col("hk"), 1, 15), 16, 10)
              .cast("long").cast("double") / lit(TwoPow60))))
      .withColumn("est_inter",
        col("k_inter").cast("double") / col("k_union").cast("double")
          * col("est_union"))
      .select(lit(k.toLong).as("kmv_k"), col("k_union"), col("k_inter"),
        (col("n_a") + col("n_b") - col("n_inter_exact")).as("n_union_exact"),
        col("n_inter_exact"), col("est_union"), col("est_inter"))
  }

  /** DuckDB oracle for [[kmvSetOps]] — same sketch, same ratio estimator. */
  def kmvSetOpsOracleSql: String = {
    val k = KmvSketch.DefaultK
    s"""WITH a AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
       |           FROM lineitem WHERE l_returnflag = 'R'),
       |b AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
       |      FROM lineitem WHERE l_returnflag = 'N'),
       |s AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) u
       |      ORDER BY h LIMIT $k),
       |f AS (SELECT count(*) AS k_union,
       |             CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM a WHERE a.h = s.h)
       |                            AND EXISTS (SELECT 1 FROM b WHERE b.h = s.h)
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS k_inter,
       |             max(h) AS hk FROM s),
       |e AS (SELECT (SELECT count(*) FROM a) AS n_a,
       |             (SELECT count(*) FROM b) AS n_b,
       |             (SELECT count(*) FROM a JOIN b USING (h)) AS n_inter_exact)
       |SELECT CAST($k AS BIGINT) AS kmv_k, k_union, k_inter,
       |       n_a + n_b - n_inter_exact AS n_union_exact, n_inter_exact,
       |       CASE WHEN k_union < $k THEN CAST(k_union AS DOUBLE)
       |            ELSE ${(k - 1).toDouble} /
       |                 (CAST(CAST(concat('0x', substr(hk, 1, 15)) AS BIGINT) AS DOUBLE)
       |                  / $TwoPow60) END AS est_union,
       |       CAST(k_inter AS DOUBLE) / CAST(k_union AS DOUBLE) *
       |       (CASE WHEN k_union < $k THEN CAST(k_union AS DOUBLE)
       |             ELSE ${(k - 1).toDouble} /
       |                  (CAST(CAST(concat('0x', substr(hk, 1, 15)) AS BIGINT) AS DOUBLE)
       |                   / $TwoPow60) END) AS est_inter
       |FROM f, e""".stripMargin
  }

  // ---- KLL quantile sketch, bound-checked ---------------------------------

  /** Mergeable quantile sketch vs exact quantiles, per event type. The
    * sketch estimate's TRUE rank must sit within ε = 2% of the target
    * rank — checked in-engine with one extra conditional-sum pass, the
    * same verified-bound contract as Misra–Gries in
    * `text_frequent_tokens` (compactor sketches are merge-order-sensitive
    * within their error bound, so the raw estimate is not an oracle
    * value; the bound and the exact quantiles are). At 100 TB the exact
    * side disappears and the sketch IS the profile: constant state per
    * group, map-side combine, one shuffle of sketch bytes.
    */
  def kllQuantileBound(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.KllSketch.register(spark)
    val ev = Tables.table(spark, dir, "events")
    val est = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      graft.functions.KllSketch(col("value")).as("est"))
    kllFinish(ev, est)
  }

  /** Audit step shared by the batch query and the streaming fold
    * ([[graft.streaming.SummaryStream.streamKllQuantiles]]): given per-group sketch
    * estimates `(event_type, n, est: array)`, compute the exact quantiles
    * and each estimate's true rank, and emit the bound verdicts.
    */
  def kllFinish(ev: DataFrame, est: DataFrame): DataFrame = {
    val r6 = graft.functions.TextOps.round6 _
    val ps = graft.functions.KllSketch.DefaultPs
    val exact = ev.groupBy(col("event_type").as("et")).agg(
      array(ps.map(p => r6(expr(s"percentile(value, ${p}D)"))): _*).as("exact"))
    val lattice = est.join(broadcast(exact), col("event_type") === col("et"))
      .select(col("event_type"), col("n"),
        posexplode(arrays_zip(col("est"), col("exact"))).as(Seq("pi", "z")))
      .select(col("event_type"), col("n"), col("pi"),
        col("z.est").as("est_v"), col("z.exact").as("exact_value"),
        element_at(array(ps.map(p => lit((p * 100).round)): _*),
          col("pi") + 1).as("p_pct"))
    ev.select(col("event_type"), col("value"))
      .join(broadcast(lattice), "event_type")
      .groupBy(col("event_type"), col("p_pct"))
      .agg(first(col("n")).as("n"), first(col("exact_value")).as("exact_value"),
        sum(when(col("value") <= col("est_v"), 1L).otherwise(0L)).as("est_rank"))
      // |rank/n − p| ≤ 0.02 in integer cross-multiplication
      .select(col("event_type"), col("p_pct"), col("n"), col("exact_value"),
        (abs(lit(100) * col("est_rank") - col("p_pct") * col("n"))
          <= lit(2) * col("n")).as("rank_within_2pct"))
      .orderBy(col("event_type"), col("p_pct"))
  }

  /** COUNT-MIN point-frequency audit — the KLL-style bound contract
    * applied to [[graft.functions.CmSketch]]: one keyless mergeable
    * aggregate builds the sketch over every token occurrence; the exact
    * top-20 tokens then get their CM estimates ENTIRELY IN FRAMES (the
    * sketch's counters explode to a (row, bucket, count) frame, token
    * buckets are a codegen'd `pmod(xxhash64(d, t), width)` projection —
    * the identical hash chain the aggregate used — and the estimate is a
    * min over the joined counters), and the two CM guarantees are
    * verified against the exact counts in-engine:
    * `est ≥ exact` (deterministic — counters only add) and
    * `est − exact ≤ 3·N/width` (the εN bound at ε = e/width ≈ 2.72/w,
    * checked with integer cross-multiplication). The oracle recomputes
    * the exact counts and emits literal TRUE for both verdicts — at
    * fixture skew the fixed-seed sketch sits far inside the bound (the
    * same deterministic-margin argument as the KLL 2% gate).
    */
  def cmFrequencyBound(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmSketch
    CmSketch.register(spark)
    val toks = cmTokens(spark, dir)
      .localCheckpoint() // sketch + exact counts + total share one scan
    cmFinish(toks,
      toks.agg(count(lit(1)).as("n_total"), CmSketch(col("t")).as("sk")))
  }

  /** The token stream both CM twins sketch and audit. */
  private[graft] def cmTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(explode(graft.functions.TextOps.tokens).as("t"))
      .filter(length(col("t")) > 0)

  /** Audit step shared by the batch query and the streaming fold
    * ([[graft.streaming.SummaryStream.streamCmFrequencies]]): given a 1-row `(n_total, sk)`
    * sketch frame of ANY provenance (one aggregate, or an element-wise
    * accumulation of per-batch partials — addition commutes, so the
    * counters are identical), estimate the exact top-20 tokens and emit
    * the two CM verdicts.
    */
  private[graft] def cmFinish(toks: DataFrame, sk: DataFrame): DataFrame = {
    import graft.functions.CmSketch
    val entries = sk.select(col("n_total"), posexplode(col("sk")).as(Seq("i", "cnt")))
      .select(col("n_total"),
        (col("i") / CmSketch.Width).cast("int").as("d"),
        pmod(col("i"), lit(CmSketch.Width)).as("b"), col("cnt"))
    val top = toks.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("t")).limit(20)
    val tokBuckets = top.select(col("t"), col("n_exact"),
      posexplode(array((0 until CmSketch.Depth).map(d =>
        pmod(expr(s"xxhash64($d, t)"), lit(CmSketch.Width.toLong))): _*))
        .as(Seq("d", "b")))
    tokBuckets.join(entries, Seq("d", "b"))
      .groupBy(col("t"), col("n_exact"))
      .agg(min(col("cnt")).as("est"), first(col("n_total")).as("n_total"))
      .select(col("t").as("token"), col("n_exact"),
        (col("est") >= col("n_exact")).as("overest_ok"),
        ((col("est") - col("n_exact")) * CmSketch.Width
          <= lit(3L) * col("n_total")).as("bound_ok"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** Oracle: exact top-20 counts + literal TRUE verdicts (KLL contract). */
  val cmOracleSql: String =
    """SELECT t AS token, n_exact, TRUE AS overest_ok, TRUE AS bound_ok
      |FROM (SELECT t, CAST(count(*) AS BIGINT) AS n_exact
      |      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
      |            FROM documents) u
      |      WHERE len(t) > 0 GROUP BY t
      |      ORDER BY n_exact DESC, t LIMIT 20) z
      |ORDER BY n_exact DESC, token""".stripMargin

  /** The oracle recomputes n and the exact quantiles; the bound column is
    * literal TRUE — the sketch's deterministic worst-case rank error at
    * capacity 4096 is ≲0.4% of n, an order under the 2% gate.
    */
  def kllOracleSql: String = {
    val ps = graft.functions.KllSketch.DefaultPs
    val branches = ps.map { p =>
      s"""SELECT event_type, CAST(${(p * 100).round} AS BIGINT) AS p_pct, count(*) AS n,
         |  floor(quantile_cont(value, $p) * 1000000.0 + 0.5) / 1000000.0 AS exact_value,
         |  TRUE AS rank_within_2pct
         |FROM events GROUP BY event_type""".stripMargin
    }
    branches.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      ")\nORDER BY event_type, p_pct")
  }
}
