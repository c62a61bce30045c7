package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Temporal/state operators over the events stream: slowly-changing-
  * dimension interval builds, Markov path transitions, and finite-lag
  * EWMA anomaly scoring. All are window + groupBy plans partitioned by
  * the series key (user_id / event_type), so each executor sorts only
  * its own keys' rows — the per-key window is the 100 TB shape as long
  * as no single key dominates (users and event types are both
  * high-cardinality/bounded-fanout here; a hot key would need AQE's
  * skew split or a salted sub-key). */
object Temporal {

  /** q111: SCD-type-2 interval build — collapse each user's event
    * stream into runs of consecutive equal `event_type` and emit one
    * validity interval per run (valid_from, valid_to, is_current), the
    * standard warehouse dimension-history shape (Kimball SCD2). The run
    * id (`version`) is a windowed cumulative sum over change markers;
    * ties on ts break by event_id so versions are total-ordered and
    * deterministic. One window pass + one groupBy + one lead — no
    * self-join against the history. */
  def q111Scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wv = Window.partitionBy("user_id").orderBy("version")
    Tables.events(spark, dir)
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull ||
          lag("event_type", 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version", sum("chg").over(cum))
      .groupBy(col("user_id"), col("version"), col("event_type").as("state"))
      .agg(min("ts").as("from_ts"), count(lit(1)).as("n_events"))
      .withColumn("to_ts", lead("from_ts", 1).over(wv))
      .select(col("user_id"), col("version"), col("state"),
        date_format(col("from_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"),
        col("to_ts").isNull.cast("long").as("is_current"))
      .orderBy("user_id", "version")
  }

  /** q112: first-order Markov transition matrix over per-user event
    * paths — the clickstream path-analysis primitive (where do users go
    * after X?). One lag window builds the transition stream, one
    * groupBy counts it, and the row-conditional probability divides by
    * the per-prev_type total via a partial-aggregated window — the
    * whole plan is two shuffles regardless of event count, and the
    * output is O(|types|²). */
  def q112MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val wp = Window.partitionBy("prev_type")
    Tables.events(spark, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", round(col("n") / sum("n").over(wp), 6))
      .orderBy("prev_type", "next_type")
  }

  /** q121: sequence pattern matching over per-user event paths — the
    * MATCH_RECOGNIZE-shaped primitive (find users whose history
    * contains view → clicks* → purchase) without a pattern-automaton
    * engine: each user's ordered history collapses to a compact
    * type-initial string (one groupBy with an order-carrying struct
    * sort — initials are distinct across the five event types), and
    * the pattern is a plain anchored-nowhere regex counted
    * non-overlapping left-to-right, which Java and RE2-family engines
    * agree on for this pattern class. Per-user state is the path
    * string — bounded by history length, the same per-key contract as
    * q25/q80; the groupBy partial-aggregates map-side. */
  def q121SequenceMatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .groupBy("user_id")
      .agg(expr("array_join(transform(sort_array(collect_list(" +
        "struct(ts, event_id, substring(event_type, 1, 1) AS c))), x -> x.c), '')")
        .as("path"))
      .select(col("user_id"),
        length(col("path")).cast("long").as("n_events"),
        regexp_count(col("path"), lit("vc*p")).cast("long").as("n_conversions"))
      .filter(col("n_conversions") > 0)
      .orderBy("user_id")

  /** q122: last-touch conversion attribution — for every purchase,
    * credit the nearest PRECEDING non-purchase event by the same user
    * (the marketing "touch"), then report purchases and credited value
    * per touch type; purchases with no prior touch credit `direct`.
    * The touch is one `last(..., ignoreNulls)` over the exclusive
    * trailing frame (unbounded → 1 preceding) on the per-user ordered
    * stream — no self-join against the history, no per-purchase scan.
    * Scale shape: one user-keyed window pass (the q111/q112 contract)
    * followed by a groupBy whose output is O(|event types|); the final
    * aggregate partial-combines map-side, so the second exchange
    * carries a handful of rows per partition. */
  def q122Attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
      // credited value on the EXACT 1e-3 grid: ~4 groups over every
      // purchase in the corpus is the float-Σ-order class the 100×
      // sweep flagged here (…869.000001 vs …869.0 at 3M purchases)
      .agg(count(lit(1)).as("n_purchases"),
        sum(round(col("value") * 1000, 0).cast("long")
          .cast("decimal(38,0)")).as("v3"))
      .select(col("touch_type"), col("n_purchases"),
        round(col("v3").cast("double") / 1000.0, 6).as("credited_value"))
      .orderBy("touch_type")
  }

  /** q125: day-of-week seasonal baseline — the multiplicative seasonal
    * index a traffic monitor divides out before alarming on volume: the
    * daily per-type value series (q113's input) against its own
    * day-of-week mean, `seasonal_index = daily / dow_mean`. Friday
    * always looks "anomalous" to a flat baseline; it doesn't to this
    * one. Daily sums round to 6 dp BEFORE the dow mean so both engines
    * average identical doubles (the q113 convention). Scale shape: the
    * event scan collapses to O(types × days) rows under one partial-
    * aggregated groupBy; everything after runs on the collapsed series,
    * so 100× events cost only the scan. */
  def q125SeasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("event_type", "dow")
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(round(sum("value"), 6).as("x"))
      .withColumn("dow", dayofweek(to_date(col("day"))).cast("long"))
      .withColumn("dow_mean", round(avg("x").over(wd), 6))
      .withColumn("seasonal_index", round(col("x") / col("dow_mean"), 6))
      .select("event_type", "day", "dow", "x", "dow_mean", "seasonal_index")
      .orderBy("event_type", "day")
  }

  /** q126: sliding two-window changepoint score on the daily per-type
    * series — the level-shift detector that catches what q113's EWMA
    * smooths over and q125's seasonal index normalizes away: a
    * persistent regime change. Score = mean of the 7 days FROM today
    * minus mean of the 7 days BEFORE it (both frames full, else null);
    * a shift flags when it exceeds 25 % of max(|left|, 1), the q113
    * threshold convention. Both window means run over 6-dp-rounded
    * daily sums (the q113 rounding contract) in frame order, so both
    * engines average identical doubles. Scale: identical to q113 —
    * the scan collapses to O(types × days) rows first; the windows run
    * on the collapsed series. */
  def q126Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val left = w.rowsBetween(-7, -1)
    val right = w.rowsBetween(Window.currentRow, 6)
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(round(sum("value"), 6).as("x"))
      .withColumn("left_mean",
        when(count("x").over(left) === 7, round(avg("x").over(left), 6)))
      .withColumn("right_mean",
        when(count("x").over(right) === 7, round(avg("x").over(right), 6)))
      .withColumn("shift",
        when(col("left_mean").isNotNull && col("right_mean").isNotNull,
          round(col("right_mean") - col("left_mean"), 6)))
      .withColumn("is_change",
        when(col("shift").isNull, lit(0L))
          .otherwise((abs(col("shift")) >
            lit(0.25) * greatest(abs(col("left_mean")), lit(1.0))).cast("long")))
      .orderBy("event_type", "day")
  }

  /** q127: view→purchase conversion-latency distribution — per user,
    * the gap from FIRST view to the first purchase strictly after it,
    * summarized as exact p25/median/p90 seconds. The product-analytics
    * companion to q102's funnel counts (how MANY convert) — this is
    * how FAST. Integer epoch-micros throughout (unix_micros /
    * epoch_us), so both engines difference identical values; the
    * percentile inputs round to 6 dp first (the q51 exact-percentile
    * contract holds: interpolation over identical doubles). Scale:
    * two user-keyed partial-aggregated groupBys + one broadcast-sized
    * join of per-user firsts; the final percentile is one
    * O(users)-value aggregate — the q51b sketch is the declared path
    * when even per-user rows overwhelm a single aggregate buffer. */
  def q127ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("fv"))
    val deltas = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("us") > col("fv"))
      .groupBy(col("user_id"), col("fv"))
      .agg(min("us").as("fp"))
      .select(round((col("fp") - col("fv")) / lit(1000000.0), 6).as("delta_s"))
    deltas.agg(
      count(lit(1)).as("n_users"),
      round(expr("percentile(delta_s, 0.25)"), 4).as("p25_s"),
      round(expr("percentile(delta_s, 0.5)"), 4).as("median_s"),
      round(expr("percentile(delta_s, 0.9)"), 4).as("p90_s"))
  }

  /** q129: point-in-interval state lookup — join each purchase to the
    * SCD2 validity interval (built from the user's NON-purchase events,
    * the q111 machinery) that was active at purchase time: "what state
    * was the user in when they bought". The standard dimension-history
    * lookup a warehouse does against a Kimball SCD2 table. The join is
    * an equi-join on user_id with a range residual (from_us ≤ p <
    * to_us) — never a cross join; per-user interval counts are bounded
    * by that user's state changes, so the sort-merge side stays
    * balanced under the same per-key contract as q111/q112. */
  def q129IntervalLookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(asc("us"), asc("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wv = Window.partitionBy("user_id").orderBy("version")
    val intervals = ev.filter(col("event_type") =!= "purchase")
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull ||
          lag("event_type", 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version", sum("chg").over(cum))
      .groupBy(col("user_id"), col("version"), col("event_type").as("state"))
      .agg(min("us").as("from_us"))
      .withColumn("to_us", lead("from_us", 1).over(wv))
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("p_us"), col("value"))
      .join(intervals, Seq("user_id"))
      .filter(col("from_us") <= col("p_us") &&
        (col("to_us").isNull || col("p_us") < col("to_us")))
      .select(col("event_id"), col("user_id"), col("state"), col("version"),
        round(col("value"), 6).as("value"))
      .orderBy("event_id")
  }

  /** q133: top user journeys — the q121 path collapse re-aggregated by
    * the PATH ITSELF: how many users share each exact event sequence,
    * top 20 by population. The discovery view a funnel designer reads
    * BEFORE hard-coding stages (q102 assumes view→click→purchase;
    * this shows what users actually do). Two partial-aggregated
    * groupBys (user → path, path → count) and a TakeOrderedAndProject
    * top-k — path cardinality is bounded by user count, and the final
    * ordering never globally sorts. */
  def q133TopPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .groupBy("user_id")
      .agg(expr("array_join(transform(sort_array(collect_list(" +
        "struct(ts, event_id, substring(event_type, 1, 1) AS c))), x -> x.c), '')")
        .as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), asc("path"))
      .limit(20)

  /** q113's smoothing weights (1−α)^(i−1) for lags 1..8, α = 0.3 —
    * computed ONCE here and interpolated verbatim into the oracle SQL
    * (Double.toString round-trips, so both engines evaluate identical
    * doubles; recomputing via pow() on each side would race the two
    * libms' last-ulp differences). */
  val EwmaWeights: Seq[Double] = (1 to 8).map(i => math.pow(0.7, i - 1))

  /** q113: finite-lag EWMA anomaly detection on the daily per-type
    * value series — the streaming-friendly alternative to q80's
    * trailing z-score. The baseline is the exponentially-weighted mean
    * of the 8 PRIOR days (weights [[EwmaWeights]], renormalized over
    * the lags that exist, so early days are not biased toward zero); a
    * day is a spike when it deviates from baseline by more than 25 % of
    * max(baseline, 1). The infinite-memory EWMA recurrence is
    * deliberately truncated at 8 lags: a fixed-width `lag` window is a
    * single sorted pass with zero carried state and an exact SQL twin,
    * while the recurrence needs sequential per-key scan state. Inputs
    * round to 6 BEFORE the lag math so both engines difference
    * identical doubles. */
  /** q156: calendar gap-fill (time-series densification) — the daily
    * per-type value series with every MISSING calendar day
    * materialized as an explicit zero row, plus a 7-day trailing mean
    * over the dense axis. Every lag/window statistic in this file
    * (q113's EWMA lags, q125's dow index, q126's changepoint windows)
    * silently assumes a dense day axis — on a sparse series "lag 1"
    * jumps the gap and a trailing mean averages the wrong horizon.
    * Gap-fill is the operator that makes that assumption TRUE before
    * the stats run; the trailing mean here demonstrates the repaired
    * semantics (a filled zero day correctly drags the mean down
    * instead of vanishing).
    *
    * Scale shape: the corpus collapses to O(types × observed days)
    * cells in one partial-aggregated scan; the dense axis generates
    * from each type's (min, max) day span IN-ROW (sequence + explode
    * over an O(types) frame — never a calendar × corpus join) and
    * left-joins the cells back — every post-collapse stage is bounded
    * by types × span days. Null types/values drop at the gate (the
    * streaming-twin convention; a null type is not a series). */
  def q156GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(round(sum("value"), 6).as("x"))
    val dense = daily.groupBy("event_type")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy("event_type").orderBy("d")
    dense.join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("x"), lit(0.0)).as("x"),
        col("x").isNull.cast("long").as("is_filled"))
      .withColumn("trail7",
        round(avg("x").over(w.rowsBetween(-6, Window.currentRow)), 4))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("x"), col("is_filled"), col("trail7"))
      .orderBy("event_type", "day")
  }

  /** q157: sessionization through Spark's NATIVE `session_window`
    * aggregation — the declarative twin of q25's hand-rolled
    * lag/cumsum islands. One groupBy(user, session_window(ts, 30 min))
    * replaces the window-function chain: Catalyst plans a single
    * exchange on user and merges overlapping [ts, ts+gap) intervals in
    * the aggregate itself (the UpdatingSessionsIterator path), which is
    * also the EXACT operator a streaming deployment would run — batch
    * and stream share the plan, unlike q25's lag() which has no
    * streaming rendering. Output is per-SESSION (start, end, n_events,
    * value sum) — finer grain than q25's per-user rollup.
    *
    * Boundary semantics, explicit — and VERIFIED on an exact-gap
    * fixture, not assumed: `session_window` MERGES an event landing
    * exactly at a session's (exclusive) end — interval [e, e+gap)
    * "overlaps" [s, e) at equality — so a new session starts only at
    * diff &gt; gap, the SAME rule as q25 (the q162 fixture pins it; the
    * sf corpora carry zero exact-1800.000000s gaps, so an oracle alone
    * cannot discriminate and the first draft of this scaladoc had it
    * wrong). Scale: one exchange on user_id, identical to q25's
    * shuffle; per-session output is bounded by events. */
  def q157SessionWindow(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** q162: daily session concurrency by SWEEP LINE — for each calendar
    * day, how many sessions touched it, the peak number running at one
    * instant, and when that peak was first reached. The naive render of
    * "which sessions overlap" is an interval self-join — quadratic in
    * the worst case and never better than candidate-pair generation;
    * the sweep line answers every counting question in O(n log n):
    * each session becomes a +1 boundary at its start and a −1 at its
    * (exclusive) end, and the running sum over time-ordered boundaries
    * IS the concurrency curve. Capacity planning, rate-limit sizing,
    * and concurrency-anomaly detection read straight off this table.
    *
    * Scale shape: sessions come from the q157 native session_window
    * aggregate (one exchange on user); each session splits IN-ROW into
    * per-day segments (sequence + explode over its ≤ span-days
    * calendar), so the sweep WINDOW PARTITIONS BY DAY — parallel, never
    * the one-partition global-ORDER-BY WindowExec this file bans
    * (q140's ntile lesson). Boundaries are integers (+1/−1) — the
    * whole computation is exact integer arithmetic, no float rounding
    * contract needed. Tie order is total ((us, typ, user): ends before
    * starts at the same instant — adjacent sessions never overlap;
    * same-instant same-type boundaries get the user tiebreak), so both
    * engines emit identical running sums row for row. */
  def q162SessionConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val us = (c: org.apache.spark.sql.Column) => unix_micros(c)
    val sessions = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("user_id"), us(col("sw.start")).as("s_us"), us(col("sw.end")).as("e_us"))
    // in-row day split: [s, e) clipped to each touched calendar day
    val segs = sessions
      .select(col("user_id"), col("s_us"), col("e_us"),
        explode(sequence(
          to_date(timestamp_micros(col("s_us"))),
          // e is EXCLUSIVE: a session ending exactly at midnight does
          // not touch the next day
          to_date(timestamp_micros(col("e_us") - 1)))).as("day"))
      .select(col("user_id"), col("day"),
        greatest(col("s_us"), us(col("day").cast("timestamp"))).as("seg_s"),
        least(col("e_us"),
          us(col("day").cast("timestamp")) + lit(86400000000L)).as("seg_e"))
      .filter(col("seg_s") < col("seg_e"))
    // both boundaries explode IN-ROW (a union of two selects over segs
    // would recompute the whole session pipeline — the plan showed two
    // full scans; this form runs it once)
    val bounds = segs.select(col("day"), col("user_id"), explode(array(
        struct(col("seg_s").as("us"), lit(1L).as("delta"), lit(1L).as("typ")),
        struct(col("seg_e").as("us"), lit(-1L).as("delta"), lit(0L).as("typ"))))
        .as("b"))
      .select(col("day"), col("b.us").as("us"), col("b.delta").as("delta"),
        col("b.typ").as("typ"), col("user_id"))
    val sweep = Window.partitionBy("day")
      .orderBy(col("us"), col("typ"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = bounds.withColumn("run", sum("delta").over(sweep))
      .withColumn("day_max", max(col("run")).over(Window.partitionBy("day")))
    run.groupBy(col("day"), col("day_max"))
      .agg((sum(when(col("typ") === 1L, 1L).otherwise(0L))).as("n_sessions"),
        min(when(col("run") === col("day_max"), col("us"))).as("peak_us"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_sessions"), col("day_max").as("max_concurrent"),
        date_format(timestamp_micros(col("peak_us")), "yyyy-MM-dd HH:mm:ss")
          .as("peak_at"))
      .orderBy("day")
  }

  /** q162b: the SAME daily concurrency sweep, sharded by HOUR — the
    * declared answer to q162's one residual skew risk (a single
    * pathological day makes one day-partition sort the straggler).
    * Boundaries are unchanged (sessions are NOT split — splitting
    * would inject cancel-pairs at hour edges whose transient dip can
    * shift the first-attainment instant); each boundary simply buckets
    * by its hour, the per-(day, hour) window sorts 1/24th of a hot
    * day, and the running sum reassembles as local + an offset of
    * prior-hour totals (an O(days × 24) frame). (hour, us, typ, user)
    * orders identically to (us, typ, user) because hour is a prefix of
    * us — so the output is BIT-IDENTICAL to q162 (shared oracle, the
    * spec asserts row equality), only the physical shuffle changes:
    * day_max comes from a partial-aggregated groupBy + broadcast join
    * back, never a day-wide sort. */
  def q162bSessionConcurrencySharded(spark: SparkSession, dir: String): DataFrame = {
    val us = (c: org.apache.spark.sql.Column) => unix_micros(c)
    val sessions = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("user_id"), us(col("sw.start")).as("s_us"), us(col("sw.end")).as("e_us"))
    val segs = sessions
      .select(col("user_id"), col("s_us"), col("e_us"),
        explode(sequence(
          to_date(timestamp_micros(col("s_us"))),
          to_date(timestamp_micros(col("e_us") - 1)))).as("day"))
      .select(col("user_id"), col("day"),
        greatest(col("s_us"), us(col("day").cast("timestamp"))).as("seg_s"),
        least(col("e_us"),
          us(col("day").cast("timestamp")) + lit(86400000000L)).as("seg_e"))
      .filter(col("seg_s") < col("seg_e"))
    val bounds = segs.select(col("day"), col("user_id"), explode(array(
        struct(col("seg_s").as("us"), lit(1L).as("delta"), lit(1L).as("typ")),
        struct(col("seg_e").as("us"), lit(-1L).as("delta"), lit(0L).as("typ"))))
        .as("b"))
      .select(col("day"), col("b.us").as("us"), col("b.delta").as("delta"),
        col("b.typ").as("typ"), col("user_id"))
      // hour bucket = a PREFIX of us, so (hr, us, ...) == (us, ...) order
      .withColumn("hr", expr("us div 3600000000"))
      // O(boundary rows) feeding THREE consumers (hourTotals, run,
      // dayMax-via-run) — localCheckpoint so the events scan +
      // session_window + day-split explode runs once, not four times
      // (the q154/Graph lineage-cut rule)
      .localCheckpoint()
    val hourW = Window.partitionBy("day", "hr")
      .orderBy(col("us"), col("typ"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsetW = Window.partitionBy("day").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hourTotals = bounds.groupBy("day", "hr").agg(sum("delta").as("htot"))
      .withColumn("offset", coalesce(sum("htot").over(offsetW), lit(0L)))
      .select("day", "hr", "offset") // O(days × 24): the only day-wide window
    val run = bounds
      .withColumn("local", sum("delta").over(hourW))
      .join(broadcast(hourTotals), Seq("day", "hr"))
      .withColumn("run", col("local") + col("offset"))
    val dayMax = run.groupBy("day").agg(max("run").as("day_max"))
    run.join(broadcast(dayMax), Seq("day"))
      .groupBy(col("day"), col("day_max"))
      .agg((sum(when(col("typ") === 1L, 1L).otherwise(0L))).as("n_sessions"),
        min(when(col("run") === col("day_max"), col("us"))).as("peak_us"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_sessions"), col("day_max").as("max_concurrent"),
        date_format(timestamp_micros(col("peak_us")), "yyyy-MM-dd HH:mm:ss")
          .as("peak_at"))
      .orderBy("day")
  }

  /** Fixed power-iteration count for [[q163MarkovAttribution]] —
    * chosen by measurement, not hope: the event chains are sticky
    * (touch→touch self-transitions keep ρ(Q) high), and on the
    * fixtures the 1e-6-grid iteration reads 0.9302 at K=16 but is
    * CONVERGED (stable through K=128) at 64; the spec pins v_K against
    * an exact Gaussian-elimination solve. Fixed K, never a convergence
    * gate — the q110 cross-engine rule. */
  val MarkovIters = 64

  /** q163: Markov data-driven attribution with REMOVAL EFFECTS — the
    * principled successor to q122's last-touch heuristic. Each user's
    * history splits into journeys (one per purchase, plus the
    * unconverted tail); journeys walk a first-order chain
    * START → touches → {CONV, NULL}. A channel's value is its removal
    * effect: delete the channel (its transitions redirect to NULL, the
    * standard no-renormalization rule), recompute the chain's
    * conversion probability, and credit the channel with the DROP —
    * channels that merely appear near conversions (last-touch's bias)
    * earn nothing unless paths actually fail without them. Shares
    * normalize removal effects; credited purchases scale shares by the
    * journey count.
    *
    * Absorption probabilities run [[MarkovIters]] synchronous power
    * iterations (v ← P_conv + Q·v), the q110/q132 fixed-iteration
    * rule, in EXACT 1e-6 fixed-point: probabilities land on the
    * integer grid via (n·2e6 + tot) / (2·tot), and each iteration is
    * integer multiply-add with one rounding division — integer sums
    * commute, so there is NO float-order hazard at all (one step past
    * q161's contract, which still summed doubles). The oracle unrolls
    * the same iterations as chained CTEs.
    *
    * Scale shape: ONE user-keyed window pass (the q112 plan) collapses
    * the corpus to O(|event types|²) edge counts; the chain algebra
    * runs driver-side on that frame — bounded by the event-type enum
    * (≤ ~6 states here; the collect is O(states²) rows by schema
    * contract, the KMeans-centroid class of driver state, NOT corpus
    * data). Long arithmetic holds to n ≈ 4.6e12 edges per cell —
    * comfortably past 100 TB's per-type counts. */
  def q163MarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val wj = Window.partitionBy("user_id", "jid").orderBy(asc("ts"), asc("event_id"))
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("t"))
      .withColumn("jid", coalesce(sum(when(col("t") === "purchase", 1L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // both edge kinds emit IN-ROW (q162's single-scan lesson): the walk
    // edge always; the journey-terminal NULL edge only on the last row
    // of an unconverted journey
    val edges = ev
      .withColumn("prev", lag("t", 1).over(wj))
      .withColumn("nxt", lead("t", 1).over(wj))
      .select(explode(array(
        struct(coalesce(col("prev"), lit("START")).as("src"),
          when(col("t") === "purchase", lit("CONV")).otherwise(col("t")).as("dst")),
        when(col("nxt").isNull && col("t") =!= "purchase",
          struct(col("t").as("src"), lit("NULL").as("dst"))))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val counts = edges.groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // exact grid probabilities: round(n*1e6/tot) in pure integers
    val pI = counts.map { case (s, d, n) =>
      (s, d) -> (n * 2000000L + totals(s)) / (2L * totals(s))
    }.toMap
    val channels = counts.flatMap(c => Seq(c._1, c._2))
      .filter(s => s != "START" && s != "CONV" && s != "NULL" && s != "purchase")
      .distinct.sorted
    def absorb(removed: Option[String]): Long = {
      val states = ("START" +: channels.filterNot(removed.contains)).toVector
      val live = states.toSet
      var v = states.map(_ => 0L)
      (1 to MarkovIters).foreach { _ =>
        v = states.map { s =>
          val conv = pI.getOrElse((s, "CONV"), 0L) * 1000000L
          val walk = states.indices.map { j =>
            val t = states(j)
            if (live(t) && t != "START") pI.getOrElse((s, t), 0L) * v(j) else 0L
          }.sum
          (conv + walk + 500000L) / 1000000L
        }
      }
      v(states.indexOf("START"))
    }
    val baseI = absorb(None)
    val nConv = counts.filter(_._2 == "CONV").map(_._3).sum
    val rows = channels.map { c =>
      val remI = absorb(Some(c))
      val effI = if (baseI == 0L) 0L
        else ((baseI - remI) * 2000000L + baseI) / (2L * baseI)
      (c, remI, effI)
    }
    // an effect-free corpus (no conversions) keeps shares at 0, not NaN
    val sumEff = math.max(rows.map(_._3).sum, 1L)
    import spark.implicits._
    rows.toSeq.toDF("channel", "rem_i", "eff_i")
      .select(col("channel"),
        (lit(baseI).cast("double") / 1e6).as("base_conv_p"),
        (col("rem_i").cast("double") / 1e6).as("removed_conv_p"),
        (col("eff_i").cast("double") / 1e6).as("removal_effect"),
        round(col("eff_i").cast("double") / lit(sumEff.toDouble), 6).as("attr_share"),
        round(col("eff_i").cast("double") / lit(sumEff.toDouble) * nConv, 4)
          .as("credited_purchases"))
      .orderBy("channel")
  }

  def q113EwmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val lags = EwmaWeights.zipWithIndex.map { case (wt, i) =>
      (lag(col("x"), i + 1).over(w), lit(wt))
    }
    val num = lags.map { case (lg, wt) => when(lg.isNotNull, wt * lg).otherwise(lit(0.0)) }
      .reduce(_ + _)
    val den = lags.map { case (lg, wt) => when(lg.isNotNull, wt).otherwise(lit(0.0)) }
      .reduce(_ + _)
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(round(sum("value"), 6).as("x"))
      .withColumn("baseline", when(den > 0, round(num / den, 6)))
      .withColumn("dev", when(col("baseline").isNotNull, round(col("x") - col("baseline"), 6)))
      .withColumn("is_spike",
        when(col("baseline").isNull, lit(0L))
          .otherwise((abs(col("dev")) > lit(0.25) * greatest(col("baseline"), lit(1.0)))
            .cast("long")))
      .orderBy("event_type", "day")
  }

  /** q173: Kaplan–Meier survival of view→purchase conversion with
    * right-censoring — the estimator q127's percentiles CANNOT replace:
    * percentiles over converters only are biased optimistic because the
    * users who never purchased are silently dropped; KM keeps them in
    * the risk set until their observation window ends (censored at the
    * corpus horizon), which is the statistically honest "how long until
    * conversion" curve (Kaplan & Meier 1958, the standard survival
    * answer every growth team ships).
    *
    * Subjects: each user's FIRST view; event = first purchase strictly
    * after it (duration binned to whole hours on exact integer micros);
    * no purchase → censored at max(ts) − first view. The corpus
    * collapses to O(users) subject rows (two user-keyed partial
    * aggregations, the q127 shape), then to O(duration bins ≤ hours in
    * the horizon) — the KM fold itself runs on that bounded frame, so
    * the single-partition ordered window is O(bins), never O(corpus).
    *
    * Determinism: risk counts and event/censor counts are exact
    * integers; the survival product Π(1 − dᵢ/nᵢ) is exp(Σ ln fᵢ) over
    * an ORDERED cumulative window — sequential evaluation in both
    * engines, so the doubles agree bit-for-bit (the q154/q155 ln/exp
    * precedent); a zero factor (everyone-at-risk converts) short-
    * circuits to exactly 0 rather than through ln(0). */
  def q173SurvivalKm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val obsEnd = ev.agg(max("us").as("obs_end"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("fv"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id").filter(col("us") > col("fv"))
      .groupBy("user_id").agg(min("us").as("fp"))
    val subjects = fv.join(fp, Seq("user_id"), "left")
      .crossJoin(broadcast(obsEnd))
      .select(
        floor(when(col("fp").isNotNull, col("fp") - col("fv"))
          .otherwise(col("obs_end") - col("fv")) / lit(3600000000L))
          .cast("long").as("t_h"),
        when(col("fp").isNotNull, 1L).otherwise(0L).as("ev"))
    val grouped = subjects.groupBy("t_h")
      .agg(sum("ev").as("n_events"),
        sum(lit(1L) - col("ev")).as("n_censored"))
    // O(bins) frame from here on: the unpartitioned window is bounded
    val w = Window.orderBy("t_h")
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = grouped
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(all)
          - coalesce(sum(col("n_events") + col("n_censored")).over(before), lit(0L)))
      // censor-only bins have factor 1: dropping them changes nothing in
      // the product, so the curve is computed over event bins only
      .filter(col("n_events") > 0)
      .withColumn("factor",
        (col("n_risk") - col("n_events")).cast("double") / col("n_risk"))
    withRisk
      .withColumn("hit_zero", max((col("factor") <= 0.0).cast("long")).over(cum))
      .withColumn("surv",
        when(col("hit_zero") === 1L, lit(0.0))
          .otherwise(round(exp(sum(
            when(col("factor") > 0.0, log(col("factor"))).otherwise(lit(0.0))
          ).over(cum)), 6)))
      .select(col("t_h").as("t_hours"), col("n_risk"), col("n_events"),
        col("n_censored"), col("surv"))
      .orderBy("t_hours")
  }

  /** q174: rolling active users — per calendar day, DAU plus exact
    * trailing 7-day (WAU) and 28-day (MAU) distinct users and the
    * DAU/MAU stickiness ratio: the canonical engagement surface. The
    * naive formulation (for each day, COUNT(DISTINCT) over a 7/28-day
    * self-join window) re-scans up to 28× the user-day history PER DAY;
    * this plan is linear instead: dedupe to (user, active-day) rows,
    * lead() to each user's NEXT active day, and explode each row into
    * the ≤7 (≤28) days it is that user's window representative for —
    * day d counts user u iff u has an active day a with
    * a ≤ d ≤ a+win−1 and u's next active day is > d, which picks
    * exactly ONE representative per (user, window-day). One user-keyed
    * exchange (the dedupe + lead share it), in-row sequence() explode
    * (≤35× bounded amplification inside the scan stage, the q153
    * shape), one day-keyed exchange — no day×history join, no distinct
    * aggregation over overlapping windows. Counts are exact integers;
    * stickiness is the only double. Days with zero activity come from
    * the q156 dense-spine pattern so gaps read 0, not absent. */
  def q174ActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    // integer epoch-days: window arithmetic and the dense spine run on
    // exact integers both engines agree on
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).cast("long").as("d"))
      .distinct()
    activeUsersFromDayRows(ud)
  }

  /** The q174 fold over an already-distinct (user_id, d epoch-day)
    * frame. */
  private def activeUsersFromDayRows(ud: DataFrame): DataFrame = {
    val span = ud.agg(min("d").as("d0"), max("d").as("d1"))
    val wU = Window.partitionBy("user_id").orderBy("d")
    val withNext = ud
      .withColumn("nxt", lead("d", 1).over(wU))
      .crossJoin(broadcast(span))
      .localCheckpoint() // one (user, day) frame feeds both explodes
    def windowed(win: Int, name: String) = withNext
      .select(explode(sequence(col("d"),
        least(col("d") + lit(win - 1L),
          coalesce(col("nxt") - 1L, col("d1")),
          col("d1")))).as("di"))
      .groupBy("di").agg(count(lit(1)).as(name))
    val dau = ud.groupBy(col("d").as("di")).agg(count(lit(1)).as("dau"))
    val spine = span.select(explode(sequence(col("d0"), col("d1"))).as("di"))
    spine
      .join(dau, Seq("di"), "left")
      .join(windowed(7, "wau"), Seq("di"), "left")
      .join(windowed(28, "mau"), Seq("di"), "left")
      .select(
        date_format(date_add(to_date(lit("1970-01-01")),
          col("di").cast("int")), "yyyy-MM-dd").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"),
        coalesce(col("mau"), lit(0L)).as("mau"))
      .withColumn("stickiness",
        when(col("mau") > 0, round(col("dau").cast("double") / col("mau"), 4)))
      .orderBy("day")
  }

  /** q174b: the 100 TB rendering of q174 — per-day mergeable HLL
    * sketches (lgK 12) replace the user-day explode entirely: the
    * corpus collapses map-side to O(days) sketch rows (no user-keyed
    * exchange at all), and each day's WAU/MAU is the union of ≤7/≤28
    * day-sketches via a bounded range join over the O(days) frame.
    * Exactly the q166b contract: estimates are DataSketches internals →
    * rows-only; the spec bounds every day against exact q174 instead.
    * At 1000 executors this is the plan that survives: per-day
    * audiences never co-locate, only 4 KB sketches move. */
  def q174bActiveUsersHll(spark: SparkSession, dir: String): DataFrame = {
    val lgK = 12
    val daySk = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("d")
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      .localCheckpoint() // O(days) rows; joined against itself below
    val spine = daySk.select(col("d").as("day"))
    spine
      .join(daySk, col("d").between(date_sub(col("day"), 27), col("day")))
      .groupBy("day")
      .agg(
        hll_sketch_estimate(
          hll_union_agg(when(col("d") === col("day"), col("sk")), lit(true)))
          .as("dau_est"),
        hll_sketch_estimate(
          hll_union_agg(when(col("d") >= date_sub(col("day"), 6), col("sk")), lit(true)))
          .as("wau_est"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("mau_est"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau_est"), col("wau_est"), col("mau_est"))
      .orderBy("day")
  }

  /** q184: event debounce report — suppress repeat (user, type) events
    * inside a 6-hour burst and report what survives: the standard
    * duplicate-fire cleanup (retried webhooks, double-clicks, crawler
    * re-visits) an ingest pipeline applies before counting anything.
    * Burst semantics are ADJACENT-gap (a burst extends while
    * consecutive gaps stay ≤ 6 h — the session_window rule at a
    * tighter horizon); the first event of each burst is kept. One
    * (user, type)-keyed window pass — the q111/q112 per-key shape, no
    * self-join — collapsing to O(types) summary rows with exact
    * integer counts. */
  def q184Debounce(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 21600000000L // 6 h
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(asc("us"), asc("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .select(col("event_type"),
        (col("gap").isNull || col("gap") > gapUs).cast("long").as("kept"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("kept").as("n_kept"),
        (count(lit(1)) - sum("kept")).as("n_dropped"))
      .withColumn("drop_rate",
        round(col("n_dropped").cast("double") / col("n_events"), 6))
      .orderBy("event_type")
  }

  /** q185: Markov next-event prediction eval under a TEMPORAL holdout —
    * closes q112's transition matrix into a measured model: transitions
    * learned on the first half of the calendar predict (argmax over
    * next-type counts, lexicographic tie-break) and are scored on
    * transitions the second half actually took. Resubstitution accuracy
    * (predicting the half you trained on) is the q112 matrix's own max
    * row share — a tautology; the holdout number is the one a team can
    * act on. Both halves collapse to O(types²) integer count frames
    * (two q112-shaped user-keyed passes over disjoint day ranges);
    * prediction and scoring join those enum-bounded frames. */
  def q185MarkovEval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
    val mid = ev.agg(floor((min("day") + max("day")) / 2).cast("long").as("mid"))
    val tagged = ev.crossJoin(broadcast(mid)).localCheckpoint()
    def transitions(half: DataFrame) = {
      val w = Window.partitionBy("user_id").orderBy(asc("us"), asc("event_id"))
      half
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
    }
    val train = transitions(tagged.filter(col("day") <= col("mid")))
    val eval = transitions(tagged.filter(col("day") > col("mid")))
    // argmax next per prev on the O(types²) train frame
    val wp = Window.partitionBy("prev_type")
      .orderBy(desc("cnt"), asc("next_type"))
    val predicted = train
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_next"))
    eval
      .join(predicted, Seq("prev_type"), "left")
      .groupBy("prev_type")
      .agg(sum("cnt").as("n_eval"),
        max("predicted_next").as("predicted_next"), // constant per group
        coalesce(sum(when(col("next_type") === col("predicted_next"),
          col("cnt")).otherwise(0L)), lit(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_eval"), 6))
      .orderBy("prev_type")
  }

  /** q190: forecast-baseline backtest — before anyone ships a "smart"
    * forecaster for the daily per-type series, measure what the two
    * canonical baselines already achieve on a temporal holdout: naive
    * (ŷ_d = y_{d−1}) and seasonal-naive (ŷ_d = y_{d−7}, the weekly
    * cycle q125's seasonal index established). Any model that can't
    * beat these numbers is negative value — this query IS the bar,
    * the same closing-the-loop move q185 makes for q112's matrix.
    *
    * The corpus collapses to O(types × days) daily cells on the exact
    * 1e-3 grid (the q155 rule) in ONE partial-aggregated scan;
    * forecasts come from calendar-keyed self-joins of that bounded
    * frame (NOT row-lags — lag(1 ROW) silently reads across date gaps;
    * joining on day−1/day−7 leaves missing days unforecast, which is
    * the honest definition). Eval days are the strict second half of
    * the calendar (q185's mid convention). MAE folds |Δ| as exact
    * integers; RMSE's Σ Δ² is exact decimal — both engines derive the
    * same doubles at the single final division/sqrt. */
  def q190ForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type", "day")
      .agg(sum("v3").as("y3"))
      .localCheckpoint() // O(types × days); three consumers below
    val mid = daily.agg(floor((min("day") + max("day")) / 2)
      .cast("long").as("mid"))
    def shifted(byDays: Int, as: String) = daily.select(
      col("event_type"), (col("day") + byDays).as("day"), col("y3").as(as))
    val eval = daily.crossJoin(broadcast(mid))
      .filter(col("day") > col("mid"))
      .join(shifted(1, "f1"), Seq("event_type", "day"), "inner")
      .join(shifted(7, "f7"), Seq("event_type", "day"), "inner")
    // Δ² factors cast to decimal BEFORE the multiply: a hot type-day at
    // 100× carries y3 ~ 1e10-1e11, so the long square overflows (ANSI
    // throws) — caught by the amplified run, not the sf gate
    def sq(c: org.apache.spark.sql.Column) =
      c.cast("decimal(38,0)") * c.cast("decimal(38,0)")
    eval.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("y3") - col("f1"))).as("ae1"),
        sum(sq(col("y3") - col("f1"))).as("se1"),
        sum(abs(col("y3") - col("f7"))).as("ae7"),
        sum(sq(col("y3") - col("f7"))).as("se7"))
      .select(col("event_type"), col("n_eval"),
        round(col("ae1").cast("double") / col("n_eval") / 1000.0, 4)
          .as("mae_naive"),
        round(sqrt(col("se1").cast("double") / col("n_eval")) / 1000.0, 4)
          .as("rmse_naive"),
        round(col("ae7").cast("double") / col("n_eval") / 1000.0, 4)
          .as("mae_snaive"),
        round(sqrt(col("se7").cast("double") / col("n_eval")) / 1000.0, 4)
          .as("rmse_snaive"),
        when(col("ae7") < col("ae1"), "seasonal_naive")
          .when(col("ae1") < col("ae7"), "naive")
          .otherwise("tie").as("best_baseline"))
      .orderBy("event_type")
  }

  /** Holt smoothing constants (q258) — interpolated into the oracle. */
  val HoltAlpha = 0.3
  val HoltBeta = 0.1

  /** q258: Holt double-exponential (trend-aware) forecast backtest —
    * the rung ABOVE q190's naive/seasonal-naive baselines: per event
    * type, fold Holt's level+trend recurrences (l′ = α·y + (1−α)(l+b),
    * b′ = β(l′−l) + (1−β)b; Holt 1957) over the day-ordered daily
    * series and score one-step-ahead forecasts on the post-mid
    * evaluation half against the lag-1 naive in the SAME fold. A type
    * whose daily volume trends (growing users, decaying feature) beats
    * naive exactly where q190 shows seasonal-naive losing; a type
    * where Holt LOSES to naive is noise-dominated — don't fit trends
    * to it. This is the model-selection readout a forecasting consumer
    * wants next after q190's baseline table.
    *
    * Scale shape: the corpus collapses to the O(types × days) daily
    * frame first (one partial-agged scan — events amplify by user, the
    * day range is fixed), then the recurrence folds per type over a
    * sorted bounded array — sequential BY DESIGN (the recurrence is
    * inherently ordered), exactly the q233 bounded-fold convention.
    * Determinism: y values are exact 1e-3 grid ints in doubles, the
    * fold is the same IEEE expression tree in both engines (the oracle
    * replays it as a linear recursive CTE keyed (type, rn)), maes
    * round at output only. */
  def q258HoltBacktest(spark: SparkSession, dir: String): DataFrame = {
    val a = HoltAlpha
    val bta = HoltBeta
    // ts IS NOT NULL on BOTH sides (the q254/q260 convention): a null ts
    // yields a null day whose sort position differs across engines (Spark
    // sort_array NULLS FIRST would seed the Holt level from it; DuckDB
    // row_number ORDER BY day places it LAST), diverging the recurrence
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type", "day")
      .agg(sum("v3").cast("double").as("y"))
      .localCheckpoint() // O(types × days); mid + series both read it
    val mid = daily.agg(floor((min("day") + max("day")) / 2)
      .cast("long").as("mid"))
    val folded = daily.crossJoin(broadcast(mid))
      .groupBy("event_type", "mid")
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("s"))
      .withColumn("st", expr(
        s"""aggregate(s,
           |  named_struct('l', 0D, 'b', 0D, 'n', 0L, 'prev', 0D,
           |               'aeh', 0D, 'aen', 0D, 'ne', 0L),
           |  (acc, x) -> named_struct(
           |    'l', CASE WHEN acc.n = 0 THEN x.y
           |              ELSE $a * x.y + ${1 - a} * (acc.l + acc.b) END,
           |    'b', CASE WHEN acc.n = 0 THEN 0D
           |              ELSE $bta * (($a * x.y + ${1 - a} * (acc.l + acc.b)) - acc.l)
           |                   + ${1 - bta} * acc.b END,
           |    'n', acc.n + 1L,
           |    'prev', x.y,
           |    'aeh', acc.aeh + CASE WHEN acc.n > 0 AND x.day > mid
           |      THEN abs(x.y - (acc.l + acc.b)) ELSE 0D END,
           |    'aen', acc.aen + CASE WHEN acc.n > 0 AND x.day > mid
           |      THEN abs(x.y - acc.prev) ELSE 0D END,
           |    'ne', acc.ne + CASE WHEN acc.n > 0 AND x.day > mid
           |      THEN 1L ELSE 0L END))""".stripMargin))
    folded.select(col("event_type"),
        col("st.ne").as("n_eval"),
        when(col("st.ne") > 0,
          round(col("st.aeh") / col("st.ne") / 1000.0, 4)).as("mae_holt"),
        when(col("st.ne") > 0,
          round(col("st.aen") / col("st.ne") / 1000.0, 4)).as("mae_naive"),
        when(col("st.aen") > 0,
          round(lit(1.0) - col("st.aeh") / col("st.aen"), 6)).as("improvement"),
        when(col("st.ne") === 0, "no_eval")
          .when(col("st.aeh") < col("st.aen"), "holt")
          .when(col("st.aen") < col("st.aeh"), "naive")
          .otherwise("tie").as("best"))
      .orderBy("event_type")
  }

  /** CUSUM reference slack (in pre-period σ units) and decision
    * interval — the textbook (k, h) = (0.5, 5) operating point: detect
    * a ~1σ mean shift with ~5σ cumulative evidence (Page 1954). */
  val CusumK = 0.5
  val CusumH = 5.0

  /** q267: CUSUM change-point detection — the regime-shift rung the
    * monitoring ladder lacked: q113 flags single anomalous DAYS
    * (EWMA), q235 flags bursty ARRIVALS, q258 fits a trend, q260
    * validates the Poisson assumption — none answers "did this
    * metric's LEVEL shift, and when?". Per event type: standardize
    * the daily totals by the PRE-period (days ≤ mid, the q190/q258
    * convention) mean/σ, then fold Page's two-sided CUSUM over the
    * day-ordered series — s⁺ = max(0, s⁺ + z − k), s⁻ = max(0, s⁻ −
    * z − k) — and report the FIRST day either side crosses h, its
    * direction, and the max excursions. A type that alarms 'up' right
    * after mid shifted level (launch, bot wave); one that never
    * alarms is stationary to ±kσ.
    *
    * Scale shape: the corpus collapses to the O(types × days) daily
    * frame in one partial-agged scan (the q113/q258 contract); the
    * pre-period moments are exact 1e-3-grid integers (decimal cast
    * BEFORE the square — the q190 overflow lesson); the recurrence
    * folds per type over a sorted bounded array, sequential BY DESIGN
    * (the q233 convention). σ₀ = 0 types (constant pre-period) carry
    * null alarm fields rather than folding a divide-by-zero.
    * Deterministic: identical IEEE expression trees both engines, the
    * oracle replays the fold as a linear recursive CTE keyed
    * (type, rn) — the q258 pattern. */
  def q267CusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val k = CusumK
    val h = CusumH
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type", "day")
      .agg(sum("v3").as("y3"))
      .localCheckpoint() // O(types × days); mid + moments + fold read it
    val mid = daily.agg(floor((min("day") + max("day")) / 2)
      .cast("long").as("mid"))
    val pre = daily.crossJoin(broadcast(mid))
      .filter(col("day") <= col("mid"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n0"),
        sum(col("y3").cast("decimal(38,0)")).as("s1"),
        sum((col("y3").cast("decimal(38,0)")
          * col("y3").cast("decimal(38,0)"))).as("s2"))
      .select(col("event_type"), col("n0"),
        (col("s1").cast("double") / col("n0") / 1000.0).as("mu0"),
        (sqrt((col("s2").cast("double") * col("n0")
            - col("s1").cast("double") * col("s1").cast("double"))
          / (col("n0").cast("double") * col("n0"))) / 1000.0).as("sig0"))
    val folded = daily.crossJoin(broadcast(mid))
      .groupBy("event_type", "mid")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("y3")))).as("s"))
      .join(pre, "event_type")
      .withColumn("st", when(col("sig0") > 0, expr(
        s"""aggregate(s,
           |  named_struct('sp', 0D, 'sn', 0D, 'fd', CAST(-1 AS BIGINT),
           |               'dir', CAST(0 AS BIGINT), 'mxp', 0D, 'mxn', 0D),
           |  (acc, x) -> named_struct(
           |    'sp', greatest(0D, acc.sp + (x.y3 / 1000.0 - mu0) / sig0 - $k),
           |    'sn', greatest(0D, acc.sn - (x.y3 / 1000.0 - mu0) / sig0 - $k),
           |    'fd', CASE WHEN acc.fd >= 0 THEN acc.fd
           |      WHEN greatest(0D, acc.sp + (x.y3 / 1000.0 - mu0) / sig0 - $k) > $h
           |        OR greatest(0D, acc.sn - (x.y3 / 1000.0 - mu0) / sig0 - $k) > $h
           |      THEN x.day ELSE CAST(-1 AS BIGINT) END,
           |    'dir', CASE WHEN acc.fd >= 0 THEN acc.dir
           |      WHEN greatest(0D, acc.sp + (x.y3 / 1000.0 - mu0) / sig0 - $k) > $h
           |      THEN CAST(1 AS BIGINT)
           |      WHEN greatest(0D, acc.sn - (x.y3 / 1000.0 - mu0) / sig0 - $k) > $h
           |      THEN CAST(2 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
           |    'mxp', greatest(acc.mxp,
           |      greatest(0D, acc.sp + (x.y3 / 1000.0 - mu0) / sig0 - $k)),
           |    'mxn', greatest(acc.mxn,
           |      greatest(0D, acc.sn - (x.y3 / 1000.0 - mu0) / sig0 - $k))))""".stripMargin)))
    folded.select(col("event_type"), col("n_days"),
        round(col("mu0"), 6).as("mu0"),
        round(col("sig0"), 6).as("sigma0"),
        when(col("st.fd") >= 0, col("st.fd")).as("first_alarm_day"),
        when(col("st").isNull, "flat")
          .when(col("st.dir") === 1, "up")
          .when(col("st.dir") === 2, "down")
          .otherwise("none").as("alarm_dir"),
        when(col("st").isNotNull, round(col("st.mxp"), 6)).as("max_cusum_up"),
        when(col("st").isNotNull, round(col("st.mxn"), 6)).as("max_cusum_down"))
      .orderBy("event_type")
  }

  /** q200: journey predictability — conditional next-event entropy
    * H(next | prev) per source state, from the q112 transition counts:
    * the UNCERTAINTY companion to q185's argmax accuracy (accuracy
    * says how often the single best guess wins; entropy says how much
    * structure there is to exploit at all — top_share is exactly the
    * resubstitution ceiling any q185-class model can reach). A state
    * whose entropy sits at log₂(k) routes users uniformly — no model,
    * no personalization, will predict it.
    *
    * One q112-shaped user-keyed pass collapses the corpus to the
    * O(types²) transition frame; entropy folds over a next_type-ORDERED
    * window (the q181 sequential-sum convention) on that enum-bounded
    * frame. */
  def q200JourneyEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    // NULL event_type rows are dropped BEFORE the lag (the q184/q185
    // convention) — otherwise NULL next_type forms a group whose sort
    // position differs across engines (Spark NULLS FIRST, DuckDB LAST)
    val counts = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy("prev_type")
    val wo = Window.partitionBy("prev_type").orderBy("next_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // q185's argmax convention: count desc, lexicographic tie-break
    val wr = Window.partitionBy("prev_type").orderBy(desc("n"), asc("next_type"))
    val p = col("n").cast("double") / col("total").cast("double")
    counts
      .withColumn("total", sum("n").over(wp))
      .withColumn("h", sum(-p * log(p) / math.log(2.0)).over(wo))
      .withColumn("rk", row_number().over(wr))
      .groupBy("prev_type")
      .agg(max("total").as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        round(max("h"), 6).as("entropy_bits"),
        round(max("h") / greatest(log(count(lit(1)).cast("double"))
          / math.log(2.0), lit(1e-12)), 6).as("norm_entropy"),
        max(when(col("rk") === 1, col("next_type"))).as("top_next"),
        round(max("n").cast("double") / max("total"), 6).as("top_share"))
      .orderBy("prev_type")
  }

  /** q202: a distribution-free confidence interval for the median
    * view→purchase latency — the uncertainty q127's point percentiles
    * omit: the binomial order-statistic CI (ranks n/2 ∓ z√(n/4), the
    * standard nonparametric interval), so "median 42 s" ships as
    * "median 42 s, 95 % CI [38, 47]" and a day-over-day wiggle inside
    * the band stops paging anyone.
    *
    * Latencies collapse to the per-user frame (q127's shape), then to
    * a bounded VALUE histogram on the 6-dp second grid; the three
    * order statistics are cumulative-count picks over that histogram
    * (the q187 k-th-order-statistic pattern — no global rank, no
    * single-buffer percentile). Ranks derive from exact integer n via
    * one ceil each; all picks are exact data values. */
  def q202LatencyCi(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("fv"))
    val deltas = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("us") > col("fv"))
      .groupBy(col("user_id"), col("fv"))
      .agg(min("us").as("fp"))
      .select(round((col("fp") - col("fv")) / lit(1000000.0), 6).as("delta_s"))
    val hist = deltas.groupBy("delta_s").agg(count(lit(1)).as("c"))
    val wv = Window.orderBy("delta_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    val z = 1.959964
    hist
      .withColumn("cum", sum("c").over(wv))
      .withColumn("n", sum("c").over(all))
      .withColumn("kl", greatest(lit(1L),
        ceil(col("n") * 0.5 - lit(z) * sqrt(col("n") * 0.25)).cast("long")))
      .withColumn("km", expr("(n + 1) DIV 2"))
      .withColumn("ku", least(col("n"),
        ceil(col("n") * 0.5 + lit(z) * sqrt(col("n") * 0.25)).cast("long")))
      .groupBy(col("n").as("n_users"))
      .agg(
        max(when(col("cum") >= col("kl") && col("cum") - col("c") < col("kl"),
          col("delta_s"))).as("ci_lo_s"),
        max(when(col("cum") >= col("km") && col("cum") - col("c") < col("km"),
          col("delta_s"))).as("median_s"),
        max(when(col("cum") >= col("ku") && col("cum") - col("c") < col("ku"),
          col("delta_s"))).as("ci_hi_s"))
      .withColumn("confidence", lit(0.95))
      .orderBy("n_users")
  }

  /** Fixed power-iteration rounds for [[q233StationaryDist]] — a
    * convergence-gated loop can stop at different rounds across
    * engines (the q110/q116 rule). */
  val StationaryIters = 10

  /** q233: stationary distribution + entropy rate of the q112 user-
    * journey Markov chain — where the traffic SETTLES (π: long-run
    * share of time in each event state) and how unpredictable the
    * settled process is (entropy rate Σ πᵢHᵢ, bits/step — the single
    * number that says whether q185-class next-event models can work
    * AT ALL on this product). Completes the Markov family: q112
    * estimates the chain, q185 scores its argmax, q200 its per-state
    * uncertainty; this is the chain's long-run behavior.
    *
    * π by [[StationaryIters]] unrolled power iterations from uniform,
    * renormalized each round (dangling-state mass guard). The state
    * space CLOSES over types observed as a transition SOURCE (edges
    * into never-a-source states are dropped and rows renormalize —
    * documented scope, mirrored in the oracle). Every double sum —
    * the matrix-vector product per target state, the renormalizer,
    * the entropy and rate folds — runs over an ORDERED window on the
    * O(types)/O(types²) frame (the q181 convention), so both engines
    * fold in the same sequence. P entries are exact n/total doubles
    * (never pre-rounded). */
  def q233StationaryDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
    val counts0 = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val stateType = counts0.schema("prev_type").dataType
    // The corpus-sized work ends at the transition-count collapse above
    // (the q113 O(types × days) rule); what follows is 10 power
    // iterations over the O(types²) matrix — index-metadata-sized by
    // construction (event types are a domain enum), so round 14 moved
    // the iteration onto the driver after ONE bounded collect instead
    // of 10 window+checkpoint plan rounds (58 Spark jobs → ~3). Every
    // fold below replays the EXACT sequential window orders the plan
    // form used (the q181 convention): matvec terms in prev_type order
    // per target, the renormalizer and entropy rate in state order,
    // entropy terms in next_type order — strings ordered as UTF8
    // binary, Catalyst's orderBy. Bit-identical output by construction.
    val m = counts0.collect() // O(types²) BOUNDED: the event-type enum
      .map(r => (r.get(0), r.get(1), r.getLong(2)))
    val ord: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = (a, b) match {
        case (x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
        case (x, y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y.asInstanceOf[AnyRef])
      }
    }
    val states = m.map(_._1).distinct.sorted(ord)
    val stateSet = states.toSet
    // rows into never-a-source states are dropped and rows renormalize
    // (documented scope, mirrored in the oracle)
    val kept = m.filter(t => stateSet.contains(t._2))
    val outTot = kept.groupBy(_._1).map { case (s, ts) => (s, ts.map(_._3).sum) }
    val p = kept.map { case (prev, next, n) =>
      (prev, next, n.toDouble / outTot(prev).toDouble)
    }
    val k = states.length.toLong
    var pi: Map[Any, Double] =
      states.map(s => (s: Any) -> 1.0 / k).toMap
    var r = 0
    while (r < StationaryIters) {
      val stepped = p.filter(t => pi.contains(t._1))
        .groupBy(_._2).toSeq.sortBy(_._1)(ord)
        .map { case (next, ts) =>
          var s = 0.0
          ts.sortBy(_._1)(ord).foreach { case (prev, _, prob) =>
            s += pi(prev) * prob
          }
          (next, s)
        }
      var z = 0.0
      stepped.foreach { case (_, s) => z += s }
      pi = stepped.map { case (st, s) => (st, s / z) }.toMap
      r += 1
    }
    val h = p.groupBy(_._1).map { case (prev, ts) =>
      var acc = 0.0
      ts.sortBy(_._2)(ord).foreach { case (_, _, prob) =>
        acc += -prob * math.log(prob) / math.log(2.0)
      }
      (prev, acc)
    }
    var rate = 0.0
    states.foreach { s =>
      rate += pi.getOrElse(s, 0.0) * h.getOrElse(s, 0.0)
    }
    def round6(d: Double) = graft.plans.ArgminKernels.round6(d)
    val rows = states.map { s =>
      org.apache.spark.sql.Row(s, round6(pi.getOrElse(s, 0.0)),
        round6(h.getOrElse(s, 0.0)), round6(rate))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("state", stateType),
      StructField("pi", DoubleType), StructField("h_bits", DoubleType),
      StructField("entropy_rate_bits", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("state")
  }

  /** q235: inter-event burstiness per event type — the gap-process
    * shape test (Goh & Barabási 2008): B = (CV − 1)/(CV + 1) of the
    * inter-arrival gaps, where CV = σ/μ. B ≈ 0 is Poisson (q195's
    * power math and q80's alarms assume it), B → 1 is bursty (alarms
    * fire on every burst head), B → −1 is periodic (a bot/heartbeat
    * signature q113 would mistake for healthy regularity). Gaps are
    * exact integer MICROSECONDS; moments are exact decimals; CV/B
    * closed-form doubles on the O(types) frame.
    *
    * Physical form is DAY-SHARDED (the q162b lesson, caught by the
    * 100× sweep: a window partitioned by type alone sorts corpus/types
    * rows per task — 23 s at 10M events, unbounded at 100 TB): gaps
    * within a (type, day) shard come from bounded shard windows, and
    * the shard-BOUNDARY gaps (first event of a day minus last event of
    * the previous observed day) come from one O(types × days) frame —
    * the same gap multiset, summed as order-independent exact
    * integers, so the oracle keeps the simple global-lag form. */
  def q235Burstiness(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("day", expr("us DIV 86400000000"))
    val wd = Window.partitionBy("event_type", "day")
      .orderBy(asc("us"), asc("event_id"))
    val within = ev
      .withColumn("gap", col("us") - lag("us", 1).over(wd))
      .filter(col("gap").isNotNull)
      .select("event_type", "gap")
    val wb = Window.partitionBy("event_type").orderBy("day")
    val boundary = ev.groupBy("event_type", "day")
      .agg(min("us").as("first_us"), max("us").as("last_us"))
      .withColumn("gap", col("first_us") - lag("last_us", 1).over(wb))
      .filter(col("gap").isNotNull)
      .select("event_type", "gap")
    within.unionAll(boundary)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(d38(col("gap"))).as("sg"),
        sum(d38(col("gap")) * d38(col("gap"))).as("sgg"))
      .filter(col("n_gaps") >= 2)
      .select(col("event_type"), col("n_gaps"),
        col("n_gaps").cast("double").as("nd"),
        (col("sg").cast("double") / 1000000.0).as("sgd"),
        (col("sgg").cast("double") / 1e12).as("sggd"))
      .withColumn("mean_s", col("sgd") / col("nd"))
      .withColumn("v",
        (col("sggd") - col("sgd") * col("sgd") / col("nd")) / (col("nd") - 1))
      .withColumn("cv",
        when(col("mean_s") > 0 && col("v") >= 0,
          sqrt(col("v")) / col("mean_s")))
      .select(col("event_type"), col("n_gaps"),
        round(col("mean_s"), 4).as("mean_gap_s"),
        round(col("cv"), 4).as("cv"),
        round(when(col("cv").isNotNull,
          (col("cv") - 1.0) / (col("cv") + 1.0)), 4).as("burstiness"))
      .orderBy("event_type")
  }

  /** q239: deseasonalized anomaly scan — q80's z-score run on DAY-OF-
    * WEEK-adjusted daily totals: a Sunday that is low because Sundays
    * are low is not an anomaly, and a weekday-calibrated alarm fires
    * every weekend (the q125 seasonal index exists precisely to divide
    * it out; this composes the two so the alarm sees the residual).
    * Daily totals are exact 1e-3-grid integers; the per-type dow
    * indexes are closed-form from exact integer sums; the residual
    * mean/sd fold runs DAY-ORDERED per type (q181) on the O(types ×
    * days) frame. */
  def q239DeseasonalizedAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull
        && col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 1000, 0).cast("long")).as("y3"))
      .localCheckpoint() // O(types × days); dow index + residual fold
    deseasonalizedFold(daily)
  }

  /** The q239 fold from the (event_type, d, y3) daily-total frame to
    * the anomaly report. */
  private def deseasonalizedFold(dailyTotals: DataFrame): DataFrame = {
    val daily = dailyTotals
      .withColumn("dow", dayofweek(col("d")).cast("long"))
    val wt = Window.partitionBy("event_type")
    val wd = Window.partitionBy("event_type", "dow")
    val wz = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val idx = daily
      .withColumn("sdw", sum("y3").over(wd))
      .withColumn("ndw", count(lit(1)).over(wd))
      .withColumn("st", sum("y3").over(wt))
      .withColumn("nt", count(lit(1)).over(wt))
      .withColumn("dow_index",
        when(col("st") > 0,
          (col("sdw").cast("double") / col("ndw").cast("double"))
            / (col("st").cast("double") / col("nt").cast("double"))))
      .withColumn("adj",
        when(col("dow_index") > 0,
          col("y3").cast("double") / 1000.0 / col("dow_index")))
    idx
      .withColumn("n", count("adj").over(wz))
      .withColumn("sa", sum("adj").over(wz))
      .withColumn("saa", sum(col("adj") * col("adj")).over(wz))
      .withColumn("mean_adj", col("sa") / col("n"))
      .withColumn("sd_adj",
        when(col("n") > 1,
          sqrt(greatest((col("saa") - col("sa") * col("sa") / col("n"))
            / (col("n") - 1), lit(0.0)))))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        (col("y3").cast("double") / 1000.0).as("value"),
        round(col("dow_index"), 4).as("dow_index"),
        round(col("adj"), 4).as("adjusted"),
        round(when(col("sd_adj") > 0,
          (col("adj") - col("mean_adj")) / col("sd_adj")), 4).as("z"))
      .withColumn("is_anomaly",
        when(col("z").isNotNull, (abs(col("z")) > 3.0).cast("long"))
          .otherwise(0L))
      .orderBy("event_type", "day")
  }

  /** q240: daily view→purchase latency percentiles — q127's corpus-
    * wide point percentiles at the DAY grain (the SLA trend a latency
    * dashboard actually plots; q202 puts a CI on one median, this
    * tracks p50/p90 over time). Per-user first-view/first-purchase
    * collapse (the q127 shape), deltas keyed to the PURCHASE day, then
    * exact order-statistic picks over each day's 6-dp-second value
    * histogram (the q187/q202 pattern — bounded window partitions,
    * never a global sort). */
  def q240DailyLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("fv"))
    val deltas = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("us") > col("fv"))
      .groupBy(col("user_id"), col("fv"))
      .agg(min("us").as("fp"))
      .select(to_date(timestamp_micros(col("fp"))).as("day"),
        round((col("fp") - col("fv")) / lit(1000000.0), 6).as("delta_s"))
    dailyLatencyFold(deltas)
  }

  /** The q240 fold from the (day, delta_s) conversion-latency frame to
    * the daily p50/p90 report: exact order-statistic picks over the
    * per-day histogram. */
  private def dailyLatencyFold(deltas: DataFrame): DataFrame = {
    val hist = deltas.groupBy("day", "delta_s").agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy("day").orderBy("delta_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("day")
    val picks = hist
      .withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(wn))
      .withColumn("k50", expr("(n + 1) DIV 2"))
      .withColumn("k90", expr("(9 * n + 9) DIV 10"))
    val p50 = picks
      .filter(col("cum") >= col("k50") && col("cum") - col("cnt") < col("k50"))
      .select(col("day"), col("n"), col("delta_s").as("p50_s"))
    val p90 = picks
      .filter(col("cum") >= col("k90") && col("cum") - col("cnt") < col("k90"))
      .select(col("day"), col("delta_s").as("p90_s"))
    p50.join(p90, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n").as("n_conversions"), col("p50_s"), col("p90_s"))
      .orderBy("day")
  }

  /** q236: event-type co-occurrence lift within user-day sessions —
    * which behaviors arrive TOGETHER (lift = P(a,b)/P(a)P(b) over
    * session presence, PMI in nats): the co-presence complement to
    * q112's sequential transitions (q112 says what FOLLOWS a view;
    * this says what a view-day also contains — the association a
    * session-scoped recommender or anomaly rule keys on). One
    * distinct (user, day, type) collapse, a presence self-join keyed
    * on the session (per-session fanout bounded by the TYPE
    * cardinality squared), exact integer counts → closed-form lift. */
  def q236TypeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val pres = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull
        && col("event_type").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .distinct()
      .localCheckpoint() // O(sessions × types); three consumers
    val ns = pres.select("user_id", "d").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val per = pres.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = pres.as("a")
      .join(pres.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") === col("b.d")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(per.select(col("event_type").as("type_a"), col("n_t").as("n_a")),
        "type_a")
      .join(per.select(col("event_type").as("type_b"), col("n_t").as("n_b")),
        "type_b")
      .crossJoin(broadcast(ns))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("n_sessions"),
        (col("n_both").cast("double") * col("n_sessions").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("l"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("n_sessions"),
        round(col("l"), 4).as("lift"),
        round(log(col("l")), 6).as("pmi"))
      .orderBy("type_a", "type_b")
  }
}
