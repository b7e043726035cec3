package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Temporal join/window operators over the `events` table — the time-series
  * surface a streaming analytics engine needs beyond plain equi-joins
  * (SURVEY §2.4 lists the reference as equi-inner-only; these are the
  * classic extensions: as-of join, bounded range join, moving frames).
  *
  * All time arithmetic is on exact epoch-microsecond longs (`unix_micros`)
  * — never double seconds — so results are engine-portable bit-for-bit.
  */
object Temporal {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "events")

  private val us = unix_micros(col("ts"))

  /** A CHILD session carrying [[graft.plans.RangeJoinBucketRule]] + its
    * `auto` conf, so rule-spelled queries never mutate the caller's
    * optimizer state (ADVICE r6: the old in-place registration leaked a
    * sticky extraOptimizations entry + conf into every later query on the
    * session). `newSession()` shares the SparkContext and catalog-shared
    * state but starts fresh session state; explicitly-set parent SQL
    * confs are copied so the child plans under the caller's settings
    * (shuffle partitions, AQE toggles, test overrides).
    */
  private def ruleScopedSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) // skip static/non-settable entries
    }
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.RangeJoinBucketRule
    s.conf.set(graft.plans.RangeJoinBucketRule.WidthConf,
      graft.plans.RangeJoinBucketRule.Auto)
    s
  }

  /** AS-OF JOIN: for every purchase event, the latest view event of the
    * same user at-or-before the purchase (`v.ts <= p.ts`, max ts wins) —
    * the attribution join.
    *
    * NOT a pairwise join: one shuffle on `user_id`, then a running
    * `max(view ts)` over the time-ordered union of both event kinds — the
    * sort-merge as-of realization that scales linearly instead of
    * exploding on long histories. Views sort before purchases at equal ts
    * so the at-or-before bound is inclusive. Duplicate purchase rows per
    * (user, ts) collapse — every duplicate sees the identical last-view.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), us.as("us"),
        (col("event_type") === "view").as("is_view"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("is_view").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_us", max(when(col("is_view"), col("us"))).over(w))
      .filter(!col("is_view"))
      .groupBy(col("user_id"), col("us").as("purchase_us"))
      .agg(max(col("last_view_us")).as("last_view_us"))
  }

  /** AS-OF with TOLERANCE (the `ASOF ... TOLERANCE` clause of kdb/DuckDB/
    * Pandas `merge_asof`): an attribution is only valid if the matched
    * view is within 30 minutes of the purchase; staler matches become
    * NULL (unattributed) rather than silently joining across days. Same
    * single-shuffle running-max realization as [[asofJoin]] — the
    * tolerance is a row-local predicate on its output, which is exactly
    * why the composed form is the right scale shape (no second join).
    */
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val G = 1800000000L // 30 min in epoch micros
    asofJoin(spark, dir).select(col("user_id"), col("purchase_us"),
        when(col("last_view_us").isNotNull &&
          col("purchase_us") - col("last_view_us") <= G,
          col("last_view_us")).as("attributed_view_us"))
      .withColumn("attributed", col("attributed_view_us").isNotNull)
  }

  /** The same attribution as [[asofJoin]] through the CUSTOM PHYSICAL
    * OPERATOR ([[graft.plans.AsofJoin]]): distinct purchases as-of-join
    * distinct views on user with `view.us <= purchase.us`. Same oracle
    * as the window spelling — two realizations, one contract — but the
    * plan is two clustered+sorted children and a streaming O(1)-state
    * merge, no union materialization and no window-frame machinery
    * (TemporalSpec pins both the equality and the plan shape).
    */
  def asofJoinViaExec(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), us.as("purchase_us")).distinct()
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), us.as("last_view_us")).distinct()
    graft.plans.AsofJoin.asofJoin(p, v,
        Seq("user_id"), Seq("v_user"), "purchase_us", "last_view_us")
      .select(col("user_id"), col("purchase_us"), col("last_view_us"))
  }

  private val RangeWindowUs = 300000000L // 5 minutes

  /** Bounded RANGE JOIN: for every distinct error event, how many clicks
    * the same user made in the preceding 5 minutes (inclusive).
    *
    * Scale shape: bucketize time at the window width and equi-join on
    * (user, bucket) with clicks replicated into their own and the next
    * bucket — every qualifying pair shares exactly one bucket key, so the
    * shuffle is an equi-join (never an all-pairs theta join) and the exact
    * bound evaluates inside the join.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val W = RangeWindowUs
    val ev = events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), us.as("e_us")).distinct()
      .withColumn("bucket", expr(s"e_us DIV ${W}L"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), us.as("c_us"))
      .select(col("c_user"), col("c_us"),
        explode(array(expr(s"c_us DIV ${W}L"), expr(s"c_us DIV ${W}L + 1L"))).as("bucket"))
    errors.join(clicks,
        col("user_id") === col("c_user") && errors("bucket") === clicks("bucket") &&
          col("c_us") >= col("e_us") - W && col("c_us") <= col("e_us"),
        "left")
      .groupBy(col("user_id"), col("e_us").as("error_us"))
      .agg(count(col("c_us")).as("n_clicks_5m"))
  }

  /** The PURE (no user key) range join — "clicks anywhere in the 5 minutes
    * before each error" — written as the naive theta join and left to
    * [[graft.plans.RangeJoinBucketRule]]: without the rule Spark's only
    * plan is a BroadcastNestedLoopJoin over every (error, click) pair;
    * with the width conf set the optimizer rewrites it into the bucketed
    * equi-join [[rangeJoin]] builds by hand (TemporalRuleSpec pins both
    * the plan transformation and result equality against the BNLJ run).
    * This is the declarative contract at 100 TB: the user writes the
    * BETWEEN join; the engine owns the scale path.
    *
    * The conf is set to `auto`, not a width (it must stay set on the
    * session the FRAME is bound to: plans read conf at OPTIMIZATION time,
    * after this function returns its lazy frame). In auto mode the rule
    * reads each join's width off its own condition (`c_us BETWEEN
    * error_us − W AND error_us` ⇒ width W, ≤2 buckets per interval row).
    * The rule + conf live on a CHILD session ([[ruleScopedSession]],
    * ADVICE r6) so the caller's session keeps its optimizer untouched —
    * no sticky extraOptimizations / conf leak into later queries.
    */
  def rangeJoinViaRule(spark: SparkSession, dir: String): DataFrame = {
    val s = ruleScopedSession(spark)
    val ev = events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(us.as("error_us")).distinct()
    val clicks = ev.filter(col("event_type") === "click")
      .select(us.as("c_us"))
    errors.join(clicks,
        col("c_us") >= col("error_us") - RangeWindowUs && col("c_us") <= col("error_us"))
      .groupBy(col("error_us"))
      .agg(count(col("c_us")).as("n_clicks_5m"))
  }

  /** INTERVAL-OVERLAP join — both sides are INTERVALS (error impact
    * windows [e, e+10 min] × click attention windows [c−5 min, c]), the
    * step past [[rangeJoin]]'s point-in-interval shape and the classic
    * genomics/observability primitive. Same bucketize-to-equi-join scale
    * strategy: each interval replicates to the 5-min buckets it covers
    * (≤ 3 / ≤ 2 per row — replication is bounded by interval length over
    * bucket width), the join runs on (user, bucket) with the exact
    * overlap predicate inside, and the pair-dedup guard keeps exactly the
    * bucket containing max(a.lo, b.lo) — each overlapping pair shares
    * that bucket and no other emission survives, so no post-join
    * distinct is needed. Never an all-pairs theta join.
    */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val W = RangeWindowUs // 5-min buckets
    val ev = events(spark, dir)
    val a = ev.filter(col("event_type") === "error")
      .select(col("user_id"), us.as("e_us")).distinct()
      .withColumn("a_lo", col("e_us"))
      .withColumn("a_hi", col("e_us") + 600000000L)
    val b = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("b_user"), us.as("c_us")).distinct()
      .withColumn("b_lo", col("c_us") - 300000000L)
      .withColumn("b_hi", col("c_us"))
    val ab = a.withColumn("bucket",
      explode(expr(s"sequence(a_lo DIV ${W}L, a_hi DIV ${W}L)")))
    val bb = b.withColumn("bucket",
      explode(expr(s"sequence(b_lo DIV ${W}L, b_hi DIV ${W}L)")))
    ab.join(bb,
        col("user_id") === col("b_user") && ab("bucket") === bb("bucket") &&
          col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi") &&
          ab("bucket") === expr(s"greatest(a_lo, b_lo) DIV ${W}L"))
      .select(col("user_id"), col("e_us"), col("c_us"))
      .orderBy(col("user_id"), col("e_us"), col("c_us"))
  }

  /** The PURE (no user key) interval-overlap join — error impact windows
    * [e, e+10 min] × click attention windows [c−5 min, c], GLOBAL — written
    * as the naive two-sided theta join and left to
    * [[graft.plans.RangeJoinBucketRule]]'s overlap extension (r6): without
    * the rule Spark's only plan is a BroadcastNestedLoopJoin; with the
    * conf at `auto` the rule reads BOTH spans off the condition's literal
    * offsets (600 s and 300 s from each side's base), buckets both sides
    * at the max span, and keeps each pair exactly once via the
    * greatest-lo bucket guard — the same plan [[intervalOverlapJoin]]
    * builds by hand, now owed by the optimizer (TemporalRuleSpec pins the
    * BNLJ elimination and result equality). The declarative contract at
    * 100 TB, extended from point-in-range to overlap.
    */
  def intervalOverlapViaRule(spark: SparkSession, dir: String): DataFrame = {
    val s = ruleScopedSession(spark)
    val ev = events(s, dir)
    val a = ev.filter(col("event_type") === "error")
      .select(us.as("e_us")).distinct()
    val b = ev.filter(col("event_type") === "click")
      .select(us.as("c_us")).distinct()
    // overlap of [e_us, e_us+600s] and [c_us−300s, c_us], bounds INLINE in
    // the condition (the rule infers spans from the literal offsets)
    a.join(b,
        col("e_us") <= col("c_us") &&
          col("c_us") - 300000000L <= col("e_us") + 600000000L)
      .groupBy(col("e_us").as("error_us"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("error_us"))
  }

  /** Analytic navigation functions (lag / lead / first_value) per user in
    * time order. The ORDER BY tuple (us, event_type, value) is a TOTAL
    * order up to fully-identical rows, which are interchangeable — so the
    * output multiset is deterministic and engine-portable, which a bare
    * ORDER BY us (ties broken by partition layout) is not.
    */
  def windowLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_type"), col("value"))
    events(spark, dir)
      .select(col("user_id"), us.as("us"), col("event_type"), col("value"))
      .select(col("user_id"), col("us"), col("event_type"),
        (col("us") - lag(col("us"), 1).over(w)).as("gap_us"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        first(col("event_type")).over(w).as("first_type"))
  }

  private val FrameUs = 3600000000L // 1 hour

  /** Moving window frames: per user, time-ordered trailing-1-hour count and
    * sum plus the running cumulative sum. RANGE frames (not ROWS): frame
    * membership is a function of the timestamp VALUE, so rows with tied
    * timestamps see identical frames — deterministic under any sort-order
    * tie-break, which a ROWS frame is not. Money sums are decimal so frame
    * totals are addition-order-independent.
    */
  def windowFrames(spark: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val trailing = byUser.rangeBetween(-FrameUs, 0)
    val cumulative = byUser.rangeBetween(Window.unboundedPreceding, 0)
    events(spark, dir)
      .select(col("user_id"), us.as("us"), v.as("v"))
      .select(col("user_id"), col("us"),
        count(lit(1)).over(trailing).as("n_1h"),
        sum(col("v")).over(trailing).cast("double").as("sum_1h"),
        sum(col("v")).over(cumulative).cast("double").as("cum_sum"))
  }

  /** RESAMPLE + FORWARD FILL — regularize each user's irregular event
    * stream onto an hourly grid over that user's own [first, last] span,
    * carrying the last observed value through gap hours: the time-series
    * feature-engineering primitive (metrics alignment, state-as-of-hour
    * panels) that joins and windows both need a regular grid for.
    *
    * Determinism: the "last observation in an hour" is an ordered-struct
    * max over the TOTAL order (ts, event_type, value) — merge-order-free,
    * engine-identical — and the carried value is passed through untouched
    * (no arithmetic, so bytes match). The fill itself is
    * `last(_, ignoreNulls) OVER (PARTITION BY user ORDER BY hour)` — a
    * user-keyed window (≤ 720 rows per key at this span), never a global
    * one. Grid generation is `sequence(lo, hi, 1 hour)` exploded per
    * user — expansion bounded by span/granularity, the resample contract.
    */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("ts"), col("event_type"), col("value"))).as("m"))
    val grid = ev.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(col("user_id"),
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("m.value"), ignoreNulls = true).over(w).as("value_ffill"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** SEQUENCE PATTERN MATCHING — MATCH_RECOGNIZE / Flink-CEP's core
    * ability (detect ordered event patterns per key) in a set-oriented
    * spelling: each user's event history becomes one ordered type-string
    * (one char per event), and pattern occurrences are counted with pure
    * string algebra — non-overlapping literal counts via
    * `(len − len(replace(s, pat, ''))) DIV len(pat)` (exact: neither
    * pattern can overlap itself), and the longest error burst as the max
    * run of 'e' via a split on `[^e]`. Everything is engine-exact string
    * arithmetic; no regex-dialect surface is touched.
    *
    * Scale shape: ONE user-keyed aggregate builds the sequence (the same
    * ordered-struct `array_sort ∘ collect_list` reassembly the span
    * rewrite uses — per-user array ops, no window); per-user state is the
    * user's own history (the CEP contract). Detection is row-local on the
    * k-sized per-user row. The total (us, char) sort key makes tie order
    * deterministic and engine-identical.
    */
  def patternMatch(spark: SparkSession, dir: String): DataFrame = {
    val ch = expr(
      """CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
        |WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'v' END""".stripMargin)
    val seq = events(spark, dir)
      .select(col("user_id"), us.as("us"), ch.as("ch"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(us, ch))), x -> x.ch)"),
          "").as("s"))
    seq.select(col("user_id"), col("n_events"),
        expr("(length(s) - length(replace(s, 'vc', ''))) DIV 2").as("n_view_click"),
        expr("(length(s) - length(replace(s, 'vcp', ''))) DIV 3").as("n_funnel_vcp"),
        expr("coalesce(array_max(transform(split(s, '[^e]'), x -> length(x))), 0)")
          .cast("long").as("max_error_run"))
      .orderBy(col("user_id"))
  }

  /** DuckDB oracle for [[patternMatch]] — same char map, same ordered
    * aggregation, same string algebra.
    */
  val patternMatchOracleSql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |  CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
      |       WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'v' END AS ch
      |  FROM events),
      |sq AS (SELECT user_id, count(*) AS n_events,
      |              string_agg(ch, '' ORDER BY us, ch) AS s
      |       FROM e GROUP BY 1)
      |SELECT user_id, n_events,
      |  CAST((len(s) - len(replace(s, 'vc', ''))) // 2 AS BIGINT) AS n_view_click,
      |  CAST((len(s) - len(replace(s, 'vcp', ''))) // 3 AS BIGINT) AS n_funnel_vcp,
      |  CAST(COALESCE(list_max(list_transform(string_split_regex(s, '[^e]'),
      |       x -> len(x))), 0) AS BIGINT) AS max_error_run
      |FROM sq ORDER BY user_id""".stripMargin

  /** DuckDB oracle for [[resampleFfill]] — same grid, same ordered-struct
    * last-observation, same ignore-nulls fill.
    */
  val resampleFfillOracleSql: String =
    """WITH u AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
      |                  date_trunc('hour', max(ts)) AS hi
      |           FROM events GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |      FROM u),
      |hourly AS (SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n,
      |           max({'ts': ts, 'et': event_type, 'v': value}) AS m
      |           FROM events GROUP BY 1, 2)
      |SELECT g.user_id,
      |       strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |       COALESCE(hourly.n, 0) AS n_events,
      |       last_value(hourly.m.v IGNORE NULLS)
      |         OVER (PARTITION BY g.user_id ORDER BY g.h
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS value_ffill
      |FROM g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h
      |ORDER BY g.user_id, hour""".stripMargin

  /** TIME-DECAYED FEATURE AGGREGATION — per-user exponentially decayed
    * engagement (half-life = 1 day), the feature-store kernel behind
    * "recent activity" signals. Spelled EXACTLY in integers: the decay
    * weight for an event `age` days before the corpus's last day is
    * `2^(15 − age)` (a bigint shift, never `pow` doubles), events older
    * than the 16-day horizon contribute < 2⁻¹⁶ of a fresh one and are
    * dropped EXPLICITLY by the age filter — the integer spelling makes
    * the truncation a visible contract instead of float underflow.
    * Money decays as exact cents (the decimal(18,2)·100 cast both
    * engines share), so `decayed_value` is in cent·weight units.
    *
    * Overflow bound: ENFORCED, not assumed — [[decayedPartials]] guards
    * |cents_sum| < 2⁴³ per (user, day) with raise_error, which bounds
    * every finisher term below 2⁵⁸ and the ≤16-term weighted sum below
    * 2⁶² < 2⁶³. A larger horizon trades that room 2× per extra day,
    * which is why H=16 and not 64.
    *
    * Scale shape: one scan; the reference date is a 1-row aggregate
    * broadcast in (the usual 1-row cross join, no driver round-trip);
    * the weighted sums are one map-side-combined hash aggregate keyed by
    * user. Output is users-sized, ordered by decayed value.
    */
  def decayedSum(spark: SparkSession, dir: String): DataFrame =
    decayedFinish(decayedPartials(events(spark, dir)))

  /** The MERGEABLE partial: per (user, day) exact-integer sums —
    * (cent sum, event count, purchase count). Decay weights depend only
    * on (day, reference day), so partials from any batching merge by
    * plain addition and the finisher is deferred until read time; this
    * factoring is what [[graft.streaming.SummaryStream.streamDecayedSum]] rides.
    * Expects raw event rows (`user_id, ts, event_type, value`).
    */
  private[graft] def decayedPartials(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy(col("user_id"), col("d"))
      .agg(sum(col("cents")).as("cents_raw"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", lit(1L))
          .otherwise(lit(0L))).as("n_purchases"))
      // Width guard for the finisher (the dpoPairs raise_error
      // discipline): decayed_value = Σ_{≤16 days} cents_sum·w with
      // w ≤ 2¹⁵, so |cents_sum| < 2⁴³ bounds each term below 2⁵⁸ and the
      // 16-term sum below 2⁶² < 2⁶³ — exact by construction, never
      // checked by wrap-around. A day/user exceeding 2⁴³ cents
      // (~$88 B/day) is corrupt input; stop loudly instead of silently
      // wrapping under non-ANSI eval. Re-checked in [[decayedFinish]]
      // because streaming merges partials by addition before finishing.
      .select(col("user_id"), col("d"), guardedCents(col("cents_raw")),
        col("n_events"), col("n_purchases"))

  /** `|cents| < 2⁴³ ? cents : raise_error` — see [[decayedPartials]].
    * NULL passes through (an all-NULL value group sums to NULL, which the
    * pre-guard code propagated); only a PRESENT out-of-width value is
    * corrupt input worth stopping for.
    */
  private def guardedCents(cents: Column): Column =
    when(cents.isNull || abs(cents) < lit(8796093022208L), cents)
      .otherwise(raise_error(concat(
        lit("decayedSum: |cents_sum| exceeds 2^43 for user "),
        col("user_id"), lit(" on "), col("d").cast("string"))))
      .as("cents_sum")

  /** The finisher: reference day = max day IN THE PARTIALS (so streaming
    * never peeks at unseen data), shift weights, horizon filter, final
    * per-user sums. Weighting a day's summed cents equals weighting each
    * event (distributivity over exact integers), so
    * finish∘partials ≡ the per-event spelling bit-for-bit.
    */
  private[graft] def decayedFinish(parts: DataFrame): DataFrame = {
    val ref = parts.agg(max(col("d")).as("ref"))
    parts
      // streaming merges partials additively, so the width bound must
      // hold on the MERGED sums too — same guard as decayedPartials
      .select(col("user_id"), col("d"), guardedCents(col("cents_sum")),
        col("n_events"), col("n_purchases"))
      .crossJoin(ref)
      .select(col("user_id"), col("cents_sum"), col("n_events"),
        col("n_purchases"), datediff(col("ref"), col("d")).as("age"))
      .filter(col("age") < 16)
      .select(col("user_id"), col("cents_sum"), col("n_events"),
        col("n_purchases"),
        expr("shiftleft(CAST(1 AS BIGINT), 15 - age)").as("w"))
      .groupBy(col("user_id"))
      .agg(sum(col("cents_sum") * col("w")).as("decayed_value"),
        sum(col("n_events") * col("w")).as("decayed_events"),
        sum(col("n_purchases") * col("w")).as("decayed_purchases"))
      .orderBy(col("decayed_value").desc, col("user_id"))
  }

  /** DuckDB oracle for [[decayedSum]]: same horizon, same shift weights,
    * same exact-cent cast; HUGEINT sums cast back to BIGINT.
    */
  val decayedSumOracleSql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type,
      |            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |            FROM events),
      |ref AS (SELECT max(d) AS ref FROM ev),
      |aged AS (SELECT user_id, event_type, cents,
      |                (1::BIGINT << (15 - date_diff('day', d, ref))) AS w
      |         FROM ev CROSS JOIN ref
      |         WHERE date_diff('day', d, ref) < 16)
      |SELECT user_id,
      |       CAST(sum(cents * w) AS BIGINT) AS decayed_value,
      |       CAST(sum(w) AS BIGINT) AS decayed_events,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN w ELSE 0 END)
      |            AS BIGINT) AS decayed_purchases
      |FROM aged GROUP BY user_id
      |ORDER BY decayed_value DESC, user_id""".stripMargin
}
