package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.sql.{functions => sf}
import graft.{functions => gf}
import graft.functions.dec

/** Event-table analytics. `windowedAgg` is written so the identical
  * transform runs in batch here and under Structured Streaming in
  * graft.streaming.EventStream (same groupBy(window(...)) plan).
  */
object EventOps {

  /** Tumbling-window aggregate per event_type. window_start is emitted
    * as a formatted string: stable across engines and timezone-naive
    * oracles. */
  def windowedAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(sf.window(sf.col("ts"), width).as("w"), sf.col("event_type"))
      .agg(
        sf.count(sf.lit(1)).as("n_events"),
        // Exact decimal sum -> double: a plain double sum depends on
        // partition merge order and drifts in the last ulp at scale.
        sf.sum(sf.col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        sf.count(sf.col("user_id")).as("n_user_rows"))
      .select(
        sf.date_format(sf.col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        sf.col("event_type"), sf.col("n_events"), sf.col("sum_value"), sf.col("n_user_rows"))
      .orderBy("window_start", "event_type")

  /** As-of join: for each left row, the LATEST right row with the same
    * key and right.ts <= left.ts (inner semantics — unmatched left rows
    * drop). Spark has no asof operator; the scalable composition is a
    * single sort-based window over the UNIONED sides, never a
    * range-banded cross product: one shuffle on the key, then
    * `last(right_payload, ignoreNulls)` over (ts, side) picks each left
    * row's predecessor in O(n log n) sort time. Equal timestamps join
    * inclusively (right sorts before left); ties among right rows break
    * toward the largest `tieBreak` value deterministically.
    *
    * `rightPayload` columns are carried through as a struct; left keeps
    * its full schema. At 100 TB both sides shuffle once on the key —
    * the same cost as any co-partitioned join of the two tables.
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
               keyCol: String, tsCol: String,
               rightPayload: Seq[String],
               tieBreak: Option[String] = None): DataFrame = {
    val rStruct = sf.struct(rightPayload.map(sf.col): _*)
    val rType = right.select(rStruct.as("s")).schema("s").dataType
    val lStruct = sf.struct(left.columns.map(sf.col).toIndexedSeq: _*)
    val lType = left.select(lStruct.as("s")).schema("s").dataType
    val lRows = left.select(
      sf.col(keyCol).as("__k"), sf.col(tsCol).cast("timestamp").as("__ts"),
      sf.lit(1).as("__side"), sf.lit(null).cast("long").as("__tie"),
      lStruct.as("__l"), sf.lit(null).cast(rType).as("__r"))
    val rRows = right.select(
      sf.col(keyCol).as("__k"), sf.col(tsCol).cast("timestamp").as("__ts"),
      sf.lit(0).as("__side"),
      tieBreak.map(c => sf.col(c).cast("long")).getOrElse(sf.lit(0L)).as("__tie"),
      sf.lit(null).cast(lType).as("__l"), rStruct.as("__r"))
    val w = Window.partitionBy("__k")
      .orderBy(sf.col("__ts"), sf.col("__side"), sf.col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lRows.union(rRows)
      .withColumn("__match", sf.last(sf.col("__r"), ignoreNulls = true).over(w))
      .filter(sf.col("__side") === 1 && sf.col("__match").isNotNull)
      .select(sf.col("__l.*") +: rightPayload.map(c => sf.col(s"__match.$c").as(c)): _*)
  }

  /** Gap-based sessionization (batch twin of streaming sessionize):
    * a session is a maximal run of a user's events with inter-event
    * gaps <= gapSec. Both windows share one (key, ts, id) sort — a
    * single shuffle — and the session aggregate reuses the same
    * partitioning. Gap comparison is in integer microseconds, exactly
    * reproducible in any engine. */
  def sessionize(events: DataFrame, keyCol: String = "user_id",
                 tsCol: String = "ts", idCol: String = "event_id",
                 valueCol: String = "value", gapSec: Long = 1800): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    val lagTs = sf.lag(sf.col(tsCol), 1).over(byKey)
    val isNew = sf.when(lagTs.isNull, 1).otherwise(
      (sf.unix_micros(sf.col(tsCol)) - sf.unix_micros(lagTs) >
        gapSec * 1000000L).cast("int"))
    events
      .withColumn("__new", isNew)
      .withColumn("session_id",
        sf.sum("__new").over(byKey.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("int"))
      .groupBy(sf.col(keyCol), sf.col("session_id"))
      .agg(
        sf.date_format(sf.min(tsCol), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        sf.count(sf.lit(1)).as("n_events"),
        sf.sum(sf.col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_value"),
        (sf.unix_timestamp(sf.max(tsCol)) - sf.unix_timestamp(sf.min(tsCol)))
          .as("duration_sec"))
      .orderBy(keyCol, "session_id")
  }

  /** Interval coalescing (gaps-and-islands union): merge each key's
    * overlapping-or-touching [start, end] intervals into maximal
    * disjoint islands — the set-union view of time that point-gap
    * sessionization ([[sessionize]]) can't express once rows carry
    * real durations (a long call absorbs short ones inside it).
    * Output per island: bounds, member count, covered span.
    *
    * Determinism: island membership is a pure function of the interval
    * multiset — a row starts a new island iff its start exceeds the
    * running max end of all earlier rows in (start, end) order, and
    * rows tied on (start, end) are interchangeable, so any engine's
    * tie order yields the identical islands.
    *
    * Scale shape: one shuffle on the key; both windows and the island
    * aggregate reuse a single (key, start, end) sort, fully parallel
    * across keys — the q37/q47 gaps-and-islands plan. */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String): DataFrame = {
    val byKey = Window.partitionBy(keyCol)
      .orderBy(sf.col(startCol), sf.col(endCol))
    val prevMax = sf.max(endCol)
      .over(byKey.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = sf.when(prevMax.isNull || sf.col(startCol) > prevMax, 1)
      .otherwise(0)
    df.withColumn("__new", isNew)
      .withColumn("island", sf.sum("__new")
        .over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .groupBy(sf.col(keyCol), sf.col("island"))
      .agg(sf.min(startCol).as("island_start"),
        sf.max(endCol).as("island_end"),
        sf.count(sf.lit(1)).as("n_intervals"))
      .withColumn("covered_sec", sf.col("island_end") - sf.col("island_start"))
      .orderBy(keyCol, "island")
  }

  /** Slowly-changing-dimension (type 2) history from an event log:
    * collapse each key's consecutive runs of one attribute value into
    * validity intervals [valid_from, valid_to), with `is_current` on
    * the open last interval. One shuffle on the key: both windows and
    * the interval aggregate reuse a single (key, ts, id) sort.
    * Change detection via lag; run ids via running sum of change
    * flags — the standard gaps-and-islands plan, fully parallel
    * across keys. */
  def scdType2(events: DataFrame, keyCol: String = "user_id",
               attrCol: String = "event_type", tsCol: String = "ts",
               idCol: String = "event_id"): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    val changed = sf.when(sf.lag(sf.col(attrCol), 1).over(byKey).isNull ||
      sf.lag(sf.col(attrCol), 1).over(byKey) =!= sf.col(attrCol), 1).otherwise(0)
    val runs = events
      .withColumn("__chg", changed)
      .withColumn("__run", sf.sum("__chg").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = runs.groupBy(sf.col(keyCol), sf.col("__run"))
      .agg(sf.first(sf.col(attrCol)).as(attrCol),
        sf.min(sf.col(tsCol)).as("__from"),
        sf.count(sf.lit(1)).as("n_events"))
    val byKeyRun = Window.partitionBy(keyCol).orderBy("__run")
    intervals
      .withColumn("__to", sf.lead(sf.col("__from"), 1).over(byKeyRun))
      .select(sf.col(keyCol), sf.col("__run").cast("int").as("version"),
        sf.col(attrCol),
        sf.date_format(sf.col("__from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        sf.date_format(sf.col("__to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        sf.col("__to").isNull.cast("int").as("is_current"),
        sf.col("n_events"))
      .orderBy(keyCol, "version")
  }

  /** Ordered funnel analysis: for a step sequence (e.g. view -> click ->
    * purchase), per step the number of users who completed it IN ORDER
    * (each step strictly after the user's previous-step completion) and
    * the total lag from the user's funnel start, in exact integer
    * microseconds. Completion time per step is the EARLIEST qualifying
    * event — the standard "first conversion" reading, and a pure
    * function of the data.
    *
    * Scale shape: step 0 is a map-side-combined min per user; each later
    * step is one keyed join (events of that type x the shrinking
    * qualified-user set — AQE broadcasts it when small) followed by a
    * combinable min. No windows, no per-user event sorting: k steps cost
    * k key-partitioned passes over ONLY that step's events (the type
    * filter pushes to the scan). Each stage is checkpointed because two
    * consumers read it (its own aggregate row + the next stage's join).
    */
  def funnel(events: DataFrame, steps: Seq[String],
             keyCol: String = "user_id", tsCol: String = "ts",
             typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    def stageAgg(stage: DataFrame, i: Int): DataFrame =
      stage.agg(sf.count(sf.lit(1)).as("n_users"),
          sf.sum(sf.unix_micros(sf.col("__t")) - sf.unix_micros(sf.col("__t0")))
            .as("sum_lag_us"))
        .select(sf.lit(i).as("step_idx"), sf.lit(steps(i)).as("step_name"),
          sf.col("n_users"),
          sf.coalesce(sf.col("sum_lag_us"), sf.lit(0L)).as("sum_lag_us"))
    var stage = events.filter(sf.col(typeCol) === steps.head)
      .groupBy(sf.col(keyCol).as("__u"))
      .agg(sf.min(sf.col(tsCol)).as("__t"))
      .withColumn("__t0", sf.col("__t"))
      .localCheckpoint(true)
    var out = stageAgg(stage, 0)
    for (i <- 1 until steps.size) {
      stage = events.filter(sf.col(typeCol) === steps(i))
        .join(stage, sf.col(keyCol) === sf.col("__u") &&
          sf.col(tsCol) > sf.col("__t"))
        .groupBy(sf.col("__u"))
        .agg(sf.min(sf.col(tsCol)).as("__t"), sf.min(sf.col("__t0")).as("__t0"))
        .localCheckpoint(true)
      out = out.union(stageAgg(stage, i))
    }
    out.orderBy("step_idx")
  }

  /** Time-bounded funnel ([[funnel]] with a conversion window — the
    * windowFunnel readout every product-analytics store ships): how
    * far each user's step chain gets WITHIN `windowS` seconds of their
    * first step-1 event. Deterministic ANCHORED-GREEDY semantics
    * (documented contract): t₁ = the user's earliest step-1 event;
    * tᵢ = the earliest step-i event with tᵢ > tᵢ₋₁ and
    * tᵢ ≤ t₁ + window; a user reaches step i iff the chain extends to
    * i. Anchoring at the first entry makes the result a pure function
    * of the data (the sliding-anchor variant maximizes depth over all
    * anchors — quadratic in per-user events and rarely worth it);
    * "signup → view → purchase within 24h" is the canonical call.
    *
    * Output: (step_idx, step_name, n_reached) — n_reached
    * monotonically non-increasing; the drop between rows i−1 and i is
    * the users whose chain died (or timed out) at step i.
    *
    * Scale shape: the [[funnel]] chain — per step one filtered
    * event-stream join against the (user, t) frontier (AQE-sized) +
    * one combinable min — with the window bound as an extra join
    * predicate; the frontier checkpoints per step (bounded lineage),
    * raw events never sort. */
  def windowFunnel(events: DataFrame, steps: Seq[String], windowS: Long,
                   keyCol: String = "user_id", tsCol: String = "ts",
                   typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(windowS > 0, s"windowS must be > 0, got $windowS")
    def stageAgg(stage: DataFrame, i: Int): DataFrame =
      stage.agg(sf.count(sf.lit(1)).as("n_reached"))
        .select(sf.lit(i.toLong).as("step_idx"),
          sf.lit(steps(i)).as("step_name"),
          sf.coalesce(sf.col("n_reached"), sf.lit(0L)).as("n_reached"))
    var stage = events.filter(sf.col(typeCol) === steps.head)
      .groupBy(sf.col(keyCol).as("__u"))
      .agg(sf.min(sf.col(tsCol)).as("__t"))
      .withColumn("__t0", sf.col("__t"))
      .localCheckpoint(true)
    var out = stageAgg(stage, 0)
    for (i <- 1 until steps.size) {
      stage = events.filter(sf.col(typeCol) === steps(i))
        .join(stage, sf.col(keyCol) === sf.col("__u") &&
          sf.col(tsCol) > sf.col("__t") &&
          sf.unix_micros(sf.col(tsCol)) <=
            sf.unix_micros(sf.col("__t0")) + sf.lit(windowS * 1000000L))
        .groupBy(sf.col("__u"))
        .agg(sf.min(sf.col(tsCol)).as("__t"), sf.min(sf.col("__t0")).as("__t0"))
        .localCheckpoint(true)
      out = out.union(stageAgg(stage, i))
    }
    out.orderBy("step_idx")
  }

  /** Cohort retention matrix: users grouped by first-activity week
    * (Monday-truncated — ISO weeks in every engine), counted in each
    * later week they were active, keyed by the week offset from their
    * cohort. The offset-0 column is each cohort's size; reading across a
    * row gives the retention curve.
    *
    * Scale shape: the event log collapses map-side to distinct
    * (user, week) — everything after runs on that compressed table: a
    * combinable min for the cohort, one keyed join (AQE-sized), one
    * combinable count. Raw events shuffle once, as (user, week) pairs.
    */
  def retentionCohorts(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val weeks = events
      .select(sf.col(keyCol).as("__u"),
        sf.to_date(sf.date_trunc("week", sf.col(tsCol))).as("__wk"))
      .distinct()
      .localCheckpoint(true) // read twice: cohort min + activity join
    val cohorts = weeks.groupBy(sf.col("__u").as("__cu"))
      .agg(sf.min("__wk").as("__cohort"))
    weeks.join(cohorts, sf.col("__u") === sf.col("__cu"))
      .groupBy(sf.col("__cohort"),
        (sf.datediff(sf.col("__wk"), sf.col("__cohort")) / 7).cast("int")
          .as("week_offset"))
      .agg(sf.count(sf.lit(1)).as("n_users"))
      .select(sf.date_format(sf.col("__cohort"), "yyyy-MM-dd").as("cohort_week"),
        sf.col("week_offset"), sf.col("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Weekly cohort LTV (lifetime-value) curve — the REVENUE twin of
    * [[retentionCohorts]]: users grouped by first-activity week, their
    * `revenueType` value summed per week offset from the cohort, and
    * accumulated into the cumulative-revenue-per-cohort-member curve
    * ("a January signup is worth $X by week 8") that retention counts
    * alone can't give — the payback-period readout growth teams put
    * beside the retention matrix. Offsets are DENSE from 0 to each
    * cohort's observable horizon (corpus max week), so a quiet week
    * reads as a flat step, not a missing row.
    *
    * Determinism: revenue rides exact cents (DECIMAL(18,2)·100
    * longs) summed in DECIMAL(38,0); the cumulative is a per-cohort
    * ordered window over the dense offset domain; the per-member
    * curve is ONE pinned double division rounded 1e-6 (money 1e-2).
    *
    * Scale shape: one first-event rollup (map-side combinable min),
    * one keyed cohort attach on the revenue rows, one (cohort,
    * offset) rollup; the dense grid is cohorts × offsets — a
    * WEEK-DOMAIN square generated from one broadcast scalar, never
    * row-scale — and the cumulative window partitions on the bounded
    * cohort-week domain. Raw events shuffle once. */
  def cohortLtv(events: DataFrame, keyCol: String = "user_id",
                tsCol: String = "ts", valueCol: String = "value",
                typeCol: String = "event_type",
                revenueType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = sf.to_date(sf.date_trunc("week", sf.col(tsCol)))
    val base = events.filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
    val firsts = base.groupBy(sf.col(keyCol).as("__u"))
      .agg(sf.min(wk).as("__cohort"))
      .localCheckpoint(true) // sizes + the revenue attach read it
    val sizes = firsts.groupBy("__cohort")
      .agg(sf.count(sf.lit(1)).as("cohort_users"))
    val horizon = base.agg(sf.max(wk).as("__maxwk"))
    val rev = base.filter(sf.col(typeCol) === revenueType &&
        sf.col(valueCol).isNotNull)
      .select(sf.col(keyCol).as("__ru"), wk.as("__wk"),
        (sf.col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("__cents"))
      .join(firsts, sf.col("__ru") === sf.col("__u"))
      .groupBy(sf.col("__cohort"),
        (sf.datediff(sf.col("__wk"), sf.col("__cohort")) / 7).cast("int")
          .as("week_offset"))
      .agg(sf.sum(dec(sf.col("__cents"))).as("__rc"))
    val grid = sizes.crossJoin(sf.broadcast(horizon))
      .select(sf.col("__cohort"), sf.col("cohort_users"),
        sf.explode(sf.sequence(sf.lit(0),
          (sf.datediff(sf.col("__maxwk"), sf.col("__cohort")) / 7).cast("int")))
          .as("week_offset"))
    val w = Window.partitionBy("__cohort").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(rev, Seq("__cohort", "week_offset"), "left")
      .withColumn("__rc0",
        sf.coalesce(sf.col("__rc"), sf.lit(0).cast("decimal(38,0)")))
      .withColumn("__cum", sf.sum("__rc0").over(w))
      .select(sf.date_format(sf.col("__cohort"), "yyyy-MM-dd").as("cohort_week"),
        sf.col("week_offset"), sf.col("cohort_users"),
        gf.roundAt(sf.col("__rc0").cast("double") / 100, 2).as("revenue"),
        gf.roundAt(sf.col("__cum").cast("double") / 100, 2).as("cum_revenue"),
        gf.roundAt(sf.col("__cum").cast("double") /
          (sf.col("cohort_users").cast("double") * 100.0), 6)
          .as("cum_ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Binned interval (range) join: each `points` row paired with every
    * `intervals` row whose [lo, hi] contains it (inclusive ends;
    * intervals with hi < lo drop). All three operands are LONG columns
    * — callers map dates/timestamps to epoch days/micros first.
    *
    * Spark has no range-join operator, and the naive formulation (a
    * join whose only condition is `p BETWEEN lo AND hi`) plans as a
    * BroadcastNestedLoopJoin — quadratic, the classic 100 TB killer.
    * The scalable composition bins the domain: intervals explode into
    * every `binWidth`-wide bin they overlap (ceil(span/width)+1 rows),
    * points map to exactly ONE bin, and the join becomes an EQUI join
    * on the bin key with the containment predicate as a post-filter.
    * Because a point lives in a single bin, each qualifying pair meets
    * exactly once — no dedup pass. Both sides shuffle once, on the bin
    * key; AQE handles a small exploded side via broadcast.
    *
    * Pick `binWidth` near the typical interval span: wider bins cut
    * the interval blow-up, narrower bins cut false candidates per bin.
    * Dense bins (many intervals overlapping one region) are data skew
    * — AQE's skew-join split handles the imbalance at runtime. */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
                   pointCol: String, loCol: String, hiCol: String,
                   binWidth: Long = 32): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    def bin(c: Column) = sf.floor(c / binWidth.toDouble).cast("long")
    val p = points.withColumn("__pbin", bin(sf.col(pointCol)))
    val iv = intervals
      .filter(sf.col(loCol) <= sf.col(hiCol))
      .withColumn("__ibin",
        sf.explode(sf.sequence(bin(sf.col(loCol)), bin(sf.col(hiCol)))))
    p.join(iv, sf.col("__pbin") === sf.col("__ibin") &&
        sf.col(pointCol) >= sf.col(loCol) && sf.col(pointCol) <= sf.col(hiCol))
      .drop("__pbin", "__ibin")
  }

  /** First-exposure-to-conversion latency per user: seconds from the
    * user's FIRST `fromType` event to their FIRST `toType` event, for
    * users where the conversion follows the exposure — the
    * time-to-convert distribution behind activation dashboards and the
    * natural input to [[graft.dq.QualityChecks.quantileProfile]].
    * Users converting before ever being exposed (attribution noise)
    * are excluded, not clamped.
    *
    * Determinism: both endpoints are min() aggregates (order-free);
    * latency is exact integer microseconds floor-divided to seconds.
    *
    * Scale shape: ONE map-side-combinable groupBy(user) with two
    * conditional min cells — no window, no sort, no self-join. */
  def conversionLatency(events: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts", typeCol: String = "event_type",
                        fromType: String = "view", toType: String = "purchase"): DataFrame = {
    events
      .groupBy(sf.col(userCol))
      .agg(sf.min(sf.when(sf.col(typeCol) === fromType, sf.col(tsCol))).as("first_from"),
        sf.min(sf.when(sf.col(typeCol) === toType, sf.col(tsCol))).as("first_to"))
      .filter(sf.col("first_from").isNotNull && sf.col("first_to").isNotNull &&
        sf.col("first_to") >= sf.col("first_from"))
      .select(sf.col(userCol),
        sf.expr(s"(unix_micros(first_to) - unix_micros(first_from)) div 1000000L")
          .as("latency_sec"))
      .orderBy(userCol)
  }

  /** Per-event trailing time-range aggregate: for every event, the
    * count and exact decimal sum of the SAME key's events in the
    * trailing `windowSec` seconds (inclusive interval [t-window, t]).
    * The feature every behavioral model wants — "activity in the last
    * 24 h as of each event" — and the value-based RANGE twin of the
    * row-frame running aggregates (q49).
    *
    * The frame is value-based (RANGE, not ROWS), so the result is a
    * pure function of the data even when timestamps tie: all rows at
    * the boundary value are in-frame regardless of their sort order.
    * Comparisons run in exact integer microseconds; the sum
    * accumulates in DECIMAL so partial-merge order can't drift ulps.
    *
    * Scale shape: one shuffle on the key, one sort per partition —
    * Spark's streaming RANGE frame keeps a sliding two-pointer buffer
    * bounded by the window's row population, never the whole
    * partition. Same plan at any scale; skewed keys are the caller's
    * salting decision. */
  def trailingWindow(events: DataFrame, keyCol: String = "user_id",
                     tsCol: String = "ts", idCol: String = "event_id",
                     valueCol: String = "value",
                     windowSec: Long = 86400): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(sf.unix_micros(sf.col(tsCol)))
      .rangeBetween(-windowSec * 1000000L, 0)
    events.select(sf.col(keyCol), sf.col(idCol),
        sf.date_format(sf.col(tsCol), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        sf.count(sf.lit(1)).over(w).as("trailing_n"),
        sf.sum(sf.col(valueCol).cast("decimal(18,2)")).over(w)
          .cast("double").as("trailing_sum"))
      .orderBy(keyCol, idCol)
  }

  /** Per-event delta features (the lag/lead surface): each event's
    * value change and elapsed seconds since the same key's previous
    * event, and the next event's type — the standard feature-
    * engineering columns for behavioral models. The window orders by
    * (ts, id): a total order, so every lag/lead is a pure function of
    * the data. Time deltas run in exact integer seconds; the value
    * delta is one double subtraction, replayable in any engine. One
    * shuffle on the key; lag and lead share the single sort. */
  def eventDeltas(events: DataFrame, keyCol: String = "user_id",
                  tsCol: String = "ts", idCol: String = "event_id",
                  valueCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    events.select(sf.col(keyCol), sf.col(idCol),
        sf.date_format(sf.col(tsCol), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        gf.roundAt(sf.col(valueCol).cast("double") -
          sf.lag(sf.col(valueCol).cast("double"), 1).over(w), 4).as("value_delta"),
        (sf.unix_timestamp(sf.col(tsCol)) -
          sf.unix_timestamp(sf.lag(sf.col(tsCol), 1).over(w))).as("secs_since_prev"),
        sf.lead(sf.col("event_type"), 1).over(w).as("next_type"))
      .orderBy(keyCol, idCol)
  }

  /** Inter-event burstiness B and memory M per event type (Goh &
    * Barabási 2008, EPL 81): over each (key, type) stream's
    * consecutive inter-event gaps, B = (σ−μ)/(σ+μ) ∈ (−1, 1) — B → 1
    * bursty (heavy-tailed gaps: human/organic), B ≈ 0 Poisson, B → −1
    * pacemaker-regular — and M = the lag-1 Pearson correlation of
    * consecutive gap pairs. The (B, M) plane is the classic
    * bot-vs-human fingerprint BESIDE [[botScore]]'s per-user cadence
    * score: a scraper with jittered sleeps fools a variance test but
    * sits at M ≈ 0, B < 0 where humans occupy B > 0.
    *
    * Determinism: gaps are EXACT integer microseconds from the (ts,
    * id)-total-ordered per-(key, type) stream ([[eventDeltas]]
    * convention); both B and M are scale-invariant, so the micro grid
    * is exact with no unit snapping; all moment sums accumulate in
    * DECIMAL(38,0) (Σg² ≲ n·span² — inside 38 digits to 10¹² events
    * over a 3-year span), and B/M/mean are each ONE pinned double
    * assembly (population σ; B 1e-6, M 1e-6, mean seconds 1e-4).
    * Types with < 2 gaps (B) or < 2 gap pairs / zero variance (M)
    * yield NULL.
    *
    * Scale shape: ONE shuffle on (key, type) whose sort feeds both the
    * lag and the chained lead, then one map-side-combined per-type
    * rollup (8 cells). No joins. */
  def interEventBurstiness(events: DataFrame, keyCol: String = "user_id",
                           tsCol: String = "ts", idCol: String = "event_id",
                           typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(keyCol, typeCol)
      .orderBy(sf.col(tsCol), sf.col(idCol))
    val gaps = events
      .select(sf.col(typeCol).as("event_type"), sf.col(keyCol), sf.col(tsCol),
        sf.col(idCol),
        (sf.unix_micros(sf.col(tsCol)) -
          sf.lag(sf.unix_micros(sf.col(tsCol)), 1).over(w)).as("__g"))
      .withColumn("__gn", sf.lead(sf.col("__g"), 1).over(
        Window.partitionBy(sf.col(keyCol), sf.col("event_type"))
          .orderBy(sf.col(tsCol), sf.col(idCol))))
      .filter(sf.col("__g").isNotNull)
    val pair = sf.col("__gn").isNotNull
    gaps.groupBy("event_type")
      .agg(sf.count(sf.col("__g")).as("n_gaps"),
        sf.sum(dec(sf.col("__g"))).as("__s1"),
        sf.sum(dec(sf.col("__g")) * dec(sf.col("__g"))).as("__s2"),
        sf.count(sf.when(pair, sf.lit(1))).as("n_pairs"),
        sf.sum(sf.when(pair, dec(sf.col("__g")))).as("__p1"),
        sf.sum(sf.when(pair, dec(sf.col("__gn")))).as("__p2"),
        sf.sum(sf.when(pair, dec(sf.col("__g")) * dec(sf.col("__gn")))).as("__p11"),
        sf.sum(sf.when(pair, dec(sf.col("__g")) * dec(sf.col("__g")))).as("__pxx"),
        sf.sum(sf.when(pair, dec(sf.col("__gn")) * dec(sf.col("__gn")))).as("__pyy"))
      .select({
        val n = sf.col("n_gaps").cast("double")
        val mu = sf.col("__s1").cast("double") / n
        val sd = sf.sqrt(sf.col("__s2").cast("double") / n - mu * mu)
        val np = sf.col("n_pairs").cast("double")
        val num = np * sf.col("__p11").cast("double") -
          sf.col("__p1").cast("double") * sf.col("__p2").cast("double")
        val dx = np * sf.col("__pxx").cast("double") -
          sf.col("__p1").cast("double") * sf.col("__p1").cast("double")
        val dy = np * sf.col("__pyy").cast("double") -
          sf.col("__p2").cast("double") * sf.col("__p2").cast("double")
        Seq(sf.col("event_type"), sf.col("n_gaps"), sf.col("n_pairs"),
          sf.when(sf.col("n_gaps") >= 1,
            gf.roundAt(mu / 1e6, 4)).as("mean_gap_s"),
          sf.when(sf.col("n_gaps") >= 2 && (sd + mu) > 0.0,
            gf.roundAt((sd - mu) / (sd + mu), 6)).as("b_coef"),
          sf.when(sf.col("n_pairs") >= 2 && dx > 0.0 && dy > 0.0,
            gf.roundAt(num / sf.sqrt(dx * dy), 6)).as("memory_coef"))
      }: _*)
      .orderBy("event_type")
  }

  /** Per-key (from_type, to_type, c) transition counts: each key's
    * events order by (ts, id) and every event but the last emits one
    * transition to its successor. Null key/ts rows drop BEFORE
    * sequencing: a null key fuses keyless events into one synthetic
    * sequence, and a null ts orders NULLS FIRST in Spark but NULLS LAST
    * in DuckDB — either breaks oracle parity on dirty data. */
  private def transitionCells(events: DataFrame, keyCol: String, tsCol: String,
                              idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    events.filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
      .select(sf.col(typeCol).as("from_type"),
        sf.lead(sf.col(typeCol), 1).over(w).as("to_type"))
      .filter(sf.col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(sf.count(sf.lit(1)).as("c"))
  }

  /** A collected [[transitionCells]] chain: its states (from ∪ to
    * types, a null type included) and per cell (from, to, count,
    * from-type total) as state indices. Cells from a null type are
    * left out: the SQL twins' equi joins never match them. */
  private final case class Chain(state: StructField, states: IndexedSeq[Any],
                                 cells: Seq[(Int, Int, Long, Long)])

  private def chain(events: DataFrame, op: String, keyCol: String, tsCol: String,
                    idCol: String, typeCol: String): Chain = {
    val table = transitionCells(events, keyCol, tsCol, idCol, typeCol)
    val rows = DriverFold.collect(table, op, typeCol)
    val states = (rows.map(_.get(0)) ++ rows.map(_.get(1))).distinct.toIndexedSeq
    val at = states.zipWithIndex.toMap
    val live = rows.filterNot(_.isNullAt(0))
    val out = live.groupMapReduce(_.get(0))(_.getLong(2))(_ + _)
    Chain(table.schema("from_type").copy(name = "state"), states,
      live.map(r => (at(r.get(0)), at(r.get(1)), r.getLong(2), out(r.get(0)))).toSeq)
  }

  /** First-order Markov transition matrix over per-key event-type
    * sequences: P(next_type | type), the behavioral model behind
    * "what do users do after X" and the input to next-action
    * prediction baselines. Each key's events order by (ts, id) — a
    * total order, so every (from, to) transition is a pure function
    * of the data; the last event of a key emits no transition.
    * Probabilities are each row's count over the from-type total,
    * computed as one double division from exact counts. Rows with a
    * null key or ts are dropped before sequencing ([[transitionCells]]).
    *
    * Scale shape: one shuffle on the key for the lead window, then a
    * map-side-combined groupBy over at most |types|² cells; the
    * row-total join is |types|-sized and broadcasts. */
  def transitionMatrix(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts", idCol: String = "event_id",
                       typeCol: String = "event_type"): DataFrame = {
    val pairs = transitionCells(events, keyCol, tsCol, idCol, typeCol)
      .withColumnRenamed("c", "n")
    val totals = pairs.groupBy(sf.col("from_type").as("__f"))
      .agg(sf.sum("n").as("__t"))
    pairs.join(sf.broadcast(totals), sf.col("from_type") === sf.col("__f"))
      .select(sf.col("from_type"), sf.col("to_type"), sf.col("n"),
        gf.roundAt(sf.col("n").cast("double") / sf.col("__t").cast("double"), 4)
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Transition LATENCY profile — dwell-time statistics per (from,
    * to) transition: [[transitionMatrix]] says WHERE journeys go,
    * this says HOW FAST — the click→purchase edge at a 40 s mean is
    * an add-to-cart flow, at 4 days a considered purchase, and the
    * two need different funnels; min/max bracket the exact support
    * (a 0-second transition is a double-fire bug, row 474's
    * territory).
    *
    * Determinism: gaps are exact floor seconds (µs div 10⁶); counts
    * and extrema exact integers; the mean is one pinned division
    * rounded 1e-4.
    *
    * Scale shape: the [[transitionMatrix]] key-windowed pair
    * extraction + one combinable (from, to) rollup over the bounded
    * type-pair domain. */
  def transitionLatency(events: DataFrame, keyCol: String = "user_id",
                        tsCol: String = "ts", idCol: String = "event_id",
                        typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    events.filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
      .withColumn("__us", sf.unix_micros(sf.col(tsCol)))
      .select(sf.col(typeCol).as("from_type"),
        sf.lead(sf.col(typeCol), 1).over(w).as("to_type"),
        (sf.lead(sf.col("__us"), 1).over(w) - sf.col("__us")).as("__gap_us"))
      .filter(sf.col("to_type").isNotNull)
      .select(sf.col("from_type"), sf.col("to_type"),
        sf.expr("__gap_us div 1000000L").as("__gap_s"))
      .groupBy("from_type", "to_type")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.min("__gap_s").as("min_gap_s"), sf.max("__gap_s").as("max_gap_s"),
        sf.sum("__gap_s").cast("decimal(38,0)").as("__sg"))
      .select(sf.col("from_type"), sf.col("to_type"), sf.col("n"),
        sf.col("min_gap_s"), sf.col("max_gap_s"),
        gf.roundAt(sf.col("__sg").cast("double") / sf.col("n").cast("double"),
          4).as("mean_gap_s"))
      .orderBy("from_type", "to_type")
  }

  /** Conditional entropy of the event chain (Shannon 1948; the
    * ENTROPY-RATE readout of the [[transitionMatrix]]): how
    * predictable is the NEXT event given the current one —
    * H(next|cur) = −Σ_{f,t} (n_ft/N)·ln(n_ft/n_f) against the
    * unconditional H(next) = −Σ_t (n_t/N)·ln(n_t/N), with the
    * information gain H(next) − H(next|cur) — "how many nats the
    * current state buys": gain ≈ 0 says behavior is memoryless (the
    * row-252 Markov backtest will find nothing), gain near H(next)
    * says journeys are near-deterministic (bot/script signature
    * alongside row-237's cadence score).
    *
    * Determinism: transition counts exact (null key/ts rows dropped
    * before sequencing, [[transitionCells]]); every entropy term snaps
    * to the 1e-12 integer grid BEFORE its unordered sum (the row-343
    * convention), outputs round 1e-6.
    *
    * Scale shape: one key-windowed pair extraction (the
    * [[transitionMatrix]] shuffle), then bounded-domain work only —
    * |types|² cells, two margin rollups, broadcast scalars. */
  def conditionalEntropy(events: DataFrame, keyCol: String = "user_id",
                         tsCol: String = "ts", idCol: String = "event_id",
                         typeCol: String = "event_type"): DataFrame = {
    val cells = transitionCells(events, keyCol, tsCol, idCol, typeCol)
      .select(sf.col("from_type").as("f"), sf.col("to_type").as("t"),
        sf.col("c").as("n"))
      .localCheckpoint(true) // margins + term passes read it
    val fromT = cells.groupBy("f").agg(sf.sum("n").cast("long").as("nf"))
    val toT = cells.groupBy("t").agg(sf.sum("n").cast("long").as("nt"))
    val tot = cells.agg(sf.sum("n").cast("long").as("__ntr"),
      sf.count_distinct(sf.col("f")).as("n_from_types"))
    def snap12(c: Column) = sf.floor(c * 1e12 + 0.5).cast("long")
    val hCond = cells.join(sf.broadcast(fromT), "f")
      .crossJoin(sf.broadcast(tot))
      .select(snap12(-(sf.col("n").cast("double") / sf.col("__ntr").cast("double")) *
        sf.log(sf.col("n").cast("double") / sf.col("nf").cast("double")))
        .as("__h"))
      .agg(sf.sum("__h").as("__hc12"))
    val hNext = toT.crossJoin(sf.broadcast(tot))
      .select(snap12(-(sf.col("nt").cast("double") / sf.col("__ntr").cast("double")) *
        sf.log(sf.col("nt").cast("double") / sf.col("__ntr").cast("double")))
        .as("__h"))
      .agg(sf.sum("__h").as("__hn12"))
    hCond.crossJoin(sf.broadcast(hNext)).crossJoin(sf.broadcast(tot))
      .select(sf.col("__ntr").as("n_transitions"), sf.col("n_from_types"),
        gf.roundAt(sf.col("__hn12").cast("double") / 1e12, 6).as("h_next"),
        gf.roundAt(sf.col("__hc12").cast("double") / 1e12, 6)
          .as("h_next_given_cur"),
        gf.roundAt((sf.col("__hn12") - sf.col("__hc12")).cast("double") / 1e12,
          6).as("info_gain"))
  }

  /** Where journeys settle: `iters` exact fixed-point power-iteration
    * rounds of the [[transitionMatrix]] chain from the uniform start —
    * the long-run occupancy of each event type ("users end up in
    * checkout/abandon at these rates"), the chain-level summary the
    * per-edge matrix can't give directly.
    *
    * The update is the q119 PageRank recurrence without damping, in
    * exact 1e12 integers: pi'(j) = Σ_i (pi(i) · c_ij) div c_i — every
    * round is integer floor division on exact counts, so the result is
    * bit-replayable at any parallelism and the oracle unrolls the same
    * recurrence. A fixed small iteration count is reported (ergodic
    * chains converge geometrically; non-ergodic ones still get a
    * well-defined deterministic readout). Terminal events (no
    * successor) leak mass — pi sums to <= 1e12; the leak itself is a
    * funnel signal.
    *
    * Scale shape: the chain is |types|² cells — after the one windowed
    * pair extraction its table is collected once and the rounds fold
    * on the driver ([[DriverFold]]); more than 2^20 cells refuse,
    * naming `typeCol` to coarsen. */
  def stationaryDistribution(events: DataFrame, iters: Int = 3,
                             keyCol: String = "user_id", tsCol: String = "ts",
                             idCol: String = "event_id",
                             typeCol: String = "event_type"): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters must be in [1, 20], got $iters")
    val SCALE = 1000000000000L
    val ch = chain(events, "stationaryDistribution", keyCol, tsCol, idCol, typeCol)
    val n = ch.states.size
    require(n > 0, "stationaryDistribution: no transitions")
    var pi = Array.fill(n)(SCALE / n)
    for (_ <- 1 to iters) {
      val next = new Array[Long](n)
      for ((f, t, c, out) <- ch.cells) next(t) += (BigInt(pi(f)) * c / out).toLong
      pi = next
    }
    DriverFold.frame(events, ch.states.indices.map(i => Row(ch.states(i), pi(i))),
        ch.state, StructField("pi_fx", LongType))
      .select(sf.col("state"), sf.col("pi_fx"),
        gf.roundAt(sf.col("pi_fx").cast("double") / SCALE, 6).as("pi"))
      .orderBy(sf.col("pi_fx").desc, sf.col("state"))
  }

  /** Event-run (stereotypy) profile — run-length statistics of
    * IDENTICAL consecutive event types per user, rolled up per type:
    * mean/max run length and the repeat share (fraction of events
    * that repeat their predecessor). The behavioral-stereotypy signal
    * beside row 237's cadence score: a scripted client replays
    * click-click-click-… in long runs a human never produces, and
    * the per-type runs say WHICH action is being hammered — while
    * row 146's transition matrix only shows the diagonal mass, not
    * its run structure.
    *
    * Determinism: pure integer structure — the island key is the
    * row 501 gaps-and-islands difference of two row_numbers (global
    * per user vs per (user, type)), run lengths are exact counts,
    * ratios pinned 1e-6.
    *
    * Scale shape: two per-user windows over each user's bounded
    * event sequence + two combinable rollups — raw events shuffle
    * once, on the user key. */
  def runLengthProfile(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts", idCol: String = "event_id",
                       typeCol: String = "event_type"): DataFrame = {
    val wAll = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    val wTyp = Window.partitionBy(sf.col(keyCol), sf.col(typeCol))
      .orderBy(sf.col(tsCol), sf.col(idCol))
    val runs = events.filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
      .select(sf.col(keyCol).as("__u"), sf.col(typeCol).as("t"),
        (sf.row_number().over(wAll) - sf.row_number().over(wTyp)).as("__isl"))
      .groupBy("__u", "t", "__isl")
      .agg(sf.count(sf.lit(1)).as("len"))
    runs.groupBy("t")
      .agg(sf.sum("len").cast("long").as("n_events"),
        sf.count(sf.lit(1)).cast("long").as("n_runs"),
        sf.max("len").cast("long").as("max_run"))
      .select(sf.col("t").as(typeCol), sf.col("n_events"), sf.col("n_runs"),
        gf.roundAt(sf.col("n_events").cast("double") /
          sf.col("n_runs").cast("double"), 6).as("mean_run"),
        sf.col("max_run"),
        gf.roundAt((sf.col("n_events") - sf.col("n_runs")).cast("double") /
          sf.col("n_events").cast("double"), 6).as("repeat_share"))
      .orderBy(typeCol)
  }

  /** Bounded-horizon ABSORPTION probability per state — the
    * complement of [[stationaryDistribution]]'s forward mass push:
    * P(reach `conversionType` within `steps` transitions | current
    * state), from the backward recurrence p_k(s) = Σ_t P(s→t)·
    * p_{k−1}(t) with the conversion state pinned at 1 (absorbing) —
    * the per-state "how close is this event to a purchase" number
    * that the transition matrix (row 146) shows only one hop of and
    * removal effects (row 280) aggregate away. States with no
    * observed successor stay at 0 (no continuation was ever seen —
    * mass honestly leaks, as in row 182).
    *
    * Determinism: the q119 fixed-point discipline — p rides exact
    * 1e12 integers, every round is Σ(c_st · p_t) div c_s, the exact
    * integer floor division of the DECIMAL(38,0) twin on exact counts,
    * bit-replayable at any parallelism; the oracle unrolls the same
    * recurrence.
    *
    * Scale shape: one key-windowed pair extraction, then the
    * |types|²-cell table is collected once and the `steps` rounds fold
    * on the driver ([[DriverFold]]); more than 2^20 cells refuse,
    * naming `typeCol` to coarsen. */
  def absorptionProbability(events: DataFrame,
                            conversionType: String = "purchase",
                            steps: Int = 16, keyCol: String = "user_id",
                            tsCol: String = "ts", idCol: String = "event_id",
                            typeCol: String = "event_type"): DataFrame = {
    require(steps >= 1 && steps <= 64, s"steps must be in [1, 64], got $steps")
    val SCALE = 1000000000000L
    val ch = chain(events, "absorptionProbability", keyCol, tsCol, idCol, typeCol)
    val absorbing = ch.states.map(_ == conversionType)
    def pin(p: Array[Long]) = p.indices.map(i => if (absorbing(i)) SCALE else p(i)).toArray
    var p = pin(new Array[Long](ch.states.size))
    for (_ <- 1 to steps) {
      val next = new Array[Long](p.length)
      for ((f, t, c, out) <- ch.cells) next(f) += (BigInt(p(t)) * c / out).toLong
      p = pin(next)
    }
    DriverFold.frame(events, ch.states.indices.map(i => Row(ch.states(i), p(i))),
        ch.state, StructField("p_fx", LongType))
      .select(sf.col("state"), sf.col("p_fx"),
        gf.roundAt(sf.col("p_fx").cast("double") / SCALE, 6)
          .as("p_convert"))
      .orderBy(sf.col("p_fx").desc, sf.col("state"))
  }

  /** Activity-streak spectrum (the gaps-and-islands pattern) — for
    * every run of CONSECUTIVE active days, the classic day − rank
    * island key groups it exactly, and the corpus reads back as a
    * streak-length distribution: how many runs of each length exist,
    * and how many users' LONGEST streak is that length — the habit
    * metric (think "7-day streak") that row 128's rolling actives and
    * row 468's churn ledger both blur: a user active 7 of 8 days with
    * one gap has streak 4-and-3, not 7.
    *
    * Determinism: pure integer structure — distinct (user, epoch-day)
    * rows, island key = day − row_number (exact), lengths exact
    * counts. The per-user window orders each user's bounded day set,
    * never raw events.
    *
    * Scale shape: one map-side distinct collapse of the log, one
    * user-keyed window over per-user DAY sets, two combinable
    * rollups — raw events shuffle once, as (user, day) pairs. */
  def activityStreaks(events: DataFrame, keyCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    val ud = events.filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
      .select(sf.col(keyCol).as("__u"),
        sf.expr(s"unix_micros($tsCol) div 86400000000").as("__d"))
      .distinct()
    val w = Window.partitionBy("__u").orderBy("__d")
    val islands = ud.withColumn("__rn", sf.row_number().over(w))
      .groupBy(sf.col("__u"), (sf.col("__d") - sf.col("__rn")).as("__isl"))
      .agg(sf.count(sf.lit(1)).as("len"))
      .localCheckpoint(true) // streak histogram + per-user max read it
    val hist = islands.groupBy("len")
      .agg(sf.count(sf.lit(1)).cast("long").as("n_streaks"))
    val umax = islands.groupBy("__u").agg(sf.max("len").as("len"))
      .groupBy("len").agg(sf.count(sf.lit(1)).cast("long").as("n_users_max"))
    hist.join(umax, Seq("len"), "left")
      .select(sf.col("len").as("streak_days"), sf.col("n_streaks"),
        sf.coalesce(sf.col("n_users_max"), sf.lit(0L)).as("n_users_max"))
      .orderBy("streak_days")
  }

  /** Activity-concentration Gini per event type — how unevenly each
    * event type's volume is spread across users, by the exact
    * rank-sum identity G = (2Σᵢ i·x₍ᵢ₎ − (n+1)Σx)/(nΣx): "is
    * `purchase` a broad habit or three whales" — the per-TYPE twin of
    * row 345's per-source token-mass Gini, and the concentration
    * number that decides whether a mean-based KPI (row 128's DAU,
    * row 466's load) is even meaningful for that event.
    *
    * Determinism: per-user counts are exact; within-type ranks come
    * from ONE row-135 range-partitioned prefix sum over (type, count,
    * user) minus broadcast type offsets (never a one-task window over
    * users); Σi·x and Σx are exact DECIMAL(38,0); G is one pinned
    * assembly 1e-6 (n < 2 or zero mass → NULL).
    *
    * Scale shape: one (type, user) rollup + one range shuffle + a
    * type-domain finish — raw events shuffle once. */
  def activityGini(events: DataFrame, typeCol: String = "event_type",
                   keyCol: String = "user_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = events.filter(sf.col(typeCol).isNotNull && sf.col(keyCol).isNotNull)
      .groupBy(sf.col(typeCol).as("t"), sf.col(keyCol).as("u"))
      .agg(sf.count(sf.lit(1)).as("x"))
    val ranked = graft.operators.StarSchema.globalPrefixSums(
      per.withColumn("__one", sf.lit(1L)), Seq("t", "x", "u"), "__one", "__grk")
    val offsets = ranked.groupBy(sf.col("t").as("__ot"))
      .agg(sf.max("__grk").cast("long").as("__hi"),
        sf.count(sf.lit(1)).cast("long").as("__n"))
      .withColumn("__off", sf.col("__hi") - sf.col("__n"))
    ranked.join(sf.broadcast(offsets), sf.col("t") === sf.col("__ot"))
      .select(sf.col("t"), sf.col("__n"), sf.col("x"),
        (sf.col("__grk") - sf.col("__off")).as("__r"))
      .groupBy("t", "__n")
      .agg(sf.sum(dec(sf.col("x"))).as("__sx"),
        sf.sum(dec(sf.col("__r")) * dec(sf.col("x"))).as("__srx"))
      .select({
        val n = sf.col("__n").cast("double")
        val sx = sf.col("__sx").cast("double")
        val srx = sf.col("__srx").cast("double")
        val g = (sf.lit(2.0) * srx - (n + 1.0) * sx) / (n * sx)
        Seq(sf.col("t").as(typeCol), sf.col("__n").as("n_users"),
          sf.col("__sx").cast("long").as("total_events"),
          sf.when(sf.col("__n") >= 2 && sf.col("__sx") > 0,
            gf.roundAt(g, 6)).as("gini"))
      }: _*)
      .orderBy(typeCol)
  }

  /** Conversion rate by TOUCH DEPTH — how conversion probability
    * grows with the number of distinct channels a user touched: the
    * breadth-incrementality readout that [[shapleyAttribution]]
    * allocates per channel and this table shows raw ("one-channel
    * users convert at 4%, three-channel at 31%" is the
    * budget-diversification slide), with the usual caveat printed by
    * construction: it is selection, not causation.
    *
    * Determinism: depth is an exact distinct-channel count; rates
    * are pinned integer ratios 1e-6.
    *
    * Scale shape: one (user, channel) distinct + one per-user rollup
    * + a depth-domain collapse — events shuffle once. */
  def touchDepthConversion(events: DataFrame,
                           conversionType: String = "purchase",
                           keyCol: String = "user_id",
                           typeCol: String = "event_type"): DataFrame = {
    val base = events.filter(sf.col(keyCol).isNotNull && sf.col(typeCol).isNotNull)
    val depth = base.groupBy(sf.col(keyCol).as("u"))
      .agg(sf.count_distinct(sf.when(sf.col(typeCol) =!= conversionType,
          sf.col(typeCol))).as("n_channels"),
        sf.max((sf.col(typeCol) === conversionType).cast("int")).as("__conv"))
    depth.groupBy("n_channels")
      .agg(sf.count(sf.lit(1)).cast("long").as("n_users"),
        sf.sum("__conv").cast("long").as("n_converted"))
      .select(sf.col("n_channels"), sf.col("n_users"), sf.col("n_converted"),
        gf.roundAt(sf.col("n_converted").cast("double") /
          sf.col("n_users").cast("double"), 6).as("conversion_rate"))
      .orderBy("n_channels")
  }

  /** Tenure hazard curve (discrete-time survival from activity data)
    * — for each tenure week w: of the users who SURVIVED to tenure w,
    * what fraction churned there (last activity at tenure w), with
    * users still active in the corpus's final week right-CENSORED
    * (they haven't churned; counting them as deaths is the classic
    * retention-analysis error): the lifecycle readout row 115's
    * retention matrix gives per-cohort and row 215's Kaplan–Meier
    * gives for explicit event pairs — here derived from the activity
    * log alone, the form growth teams actually have.
    *
    * Determinism: tenure is an exact epoch-week integer difference;
    * censoring is an exact comparison against the corpus max week;
    * at-risk counts are a reverse cumulative over the bounded tenure
    * domain (the pmod DOMAIN-window idiom); hazards are pinned
    * integer ratios 1e-6.
    *
    * Scale shape: one per-user first/last rollup + a tenure-domain
    * collapse + one bounded-domain window — raw events shuffle once. */
  def tenureHazard(events: DataFrame, keyCol: String = "user_id",
                   tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = sf.expr(s"unix_micros($tsCol) div 604800000000")
    val base = events.filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
    val users = base.groupBy(sf.col(keyCol).as("__u"))
      .agg(sf.min(wk).as("__w0"), sf.max(wk).as("__w1"))
    val horizon = base.agg(sf.max(wk).as("__maxw"))
    val tenures = users.crossJoin(sf.broadcast(horizon))
      .select((sf.col("__w1") - sf.col("__w0")).as("tenure_weeks"),
        (sf.col("__w1") >= sf.col("__maxw")).cast("int").as("__cens"))
      .groupBy("tenure_weeks")
      .agg(sf.count(sf.lit(1)).as("__n"),
        sf.sum("__cens").cast("long").as("n_censored"))
      .withColumn("n_churned", sf.col("__n") - sf.col("n_censored"))
    val wdom = Window
      .partitionBy(sf.pmod(sf.hash(sf.col("tenure_weeks")), sf.lit(1)))
      .orderBy(sf.col("tenure_weeks").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tenures.withColumn("n_at_risk", sf.sum("__n").over(wdom).cast("long"))
      .select(sf.col("tenure_weeks"), sf.col("n_at_risk"),
        sf.col("n_churned").cast("long").as("n_churned"), sf.col("n_censored"),
        gf.roundAt(sf.col("n_churned").cast("double") /
          sf.col("n_at_risk").cast("double"), 6).as("hazard"))
      .orderBy("tenure_weeks")
  }

  /** Shifted-Beta-geometric retention projection (Fader & Hardie
    * 2007, "How to Project Customer Retention") over a DURATION
    * column — the famous result that raw retention curves flatten
    * because CHURN PROPENSITY IS HETEROGENEOUS (flaky lifetimes end
    * first), so extrapolating early retention geometrically
    * systematically underestimates long-run survival. The sBG
    * recursion r_t = (beta+t-1)/(alpha+beta+t-1) is LINEAR in
    * (A, B) = (alpha+beta, beta): r_t*A - B = (t-1)(r_t - 1), so the
    * fit is a closed-form least squares over ALL observed retention
    * ratios (robust where the paper's two-point illustration is
    * noise-fragile), and the projection S(t) = prod (B+i-1)/(A+i-1)
    * extends the curve past the observed window — the number a
    * cohort valuation actually wants.
    *
    * Determinism: survivor counts are exact integers on a DENSE
    * duration grid (a gap would skip product factors); each ratio
    * r_t and target (t-1)(r_t-1) snaps to a 1e-9 long BEFORE the OLS
    * moment sums (cross-row rule); A, B, alpha, beta are one pinned
    * assembly; projection terms snap 1e-9 before the cumulative sum,
    * one exp per row, outputs 1e-6. A degenerate fit (< 2 ratio
    * points, zero variance, alpha <= 0 or beta <= 0) reports NULL
    * projections — no silent fallback.
    *
    * Scale shape: one duration-domain collapse + three bounded
    * DOMAIN windows (pmod idiom) + a broadcast one-row fit — the
    * duration stream shuffles once. */
  def sbgRetention(durations: DataFrame, durationCol: String,
                   horizon: Int = 26): DataFrame = {
    require(horizon >= 2 && horizon <= 520,
      s"sbgRetention: horizon must be in [2, 520], got $horizon")
    import org.apache.spark.sql.expressions.Window
    val hist = durations.filter(sf.col(durationCol).isNotNull &&
        sf.col(durationCol) >= 0)
      .groupBy(sf.col(durationCol).cast("long").as("__tw"))
      .agg(sf.count(sf.lit(1)).as("__n"))
      .localCheckpoint(true) // grid bound + fill + beyond read it
    val bound = hist.agg(
      sf.least(sf.max("__tw"), sf.lit(horizon.toLong)).as("__hi"))
    val beyond = hist.agg(sf.sum(sf.when(sf.col("__tw") > horizon,
      sf.col("__n")).otherwise(0L)).cast("long").as("__b"))
    val grid = bound.select(sf.explode(
        sf.sequence(sf.lit(0L), sf.col("__hi"))).as("t"))
      .join(hist, sf.col("t") === sf.col("__tw"), "left")
      .select(sf.col("t"), sf.coalesce(sf.col("__n"), sf.lit(0L)).as("__n"))
    def dom(descending: Boolean) = {
      val base = Window.partitionBy(sf.pmod(sf.hash(sf.col("t")), sf.lit(1)))
      (if (descending) base.orderBy(sf.col("t").desc) else base.orderBy("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    }
    val surv = grid.crossJoin(sf.broadcast(beyond))
      .withColumn("ns", (sf.sum("__n").over(dom(true)) + sf.col("__b"))
        .cast("long"))
      .withColumn("__prev", sf.lag("ns", 1).over(
        Window.partitionBy(sf.pmod(sf.hash(sf.col("t")), sf.lit(1)))
          .orderBy("t")))
      .drop("__b", "__n") // `__b` would collide with the fit's `__B`
      .localCheckpoint(true) // fit + output read it
    // ratio points: r_t = ns_t / ns_{t-1}, snapped 1e-9; y = (t-1)(r-1)
    val pts = surv.filter(sf.col("t") >= 1 && sf.col("__prev") > 0 &&
        sf.col("ns") > 0)
      .select(
        sf.floor(sf.col("ns").cast("double") / sf.col("__prev").cast("double")
          * 1e9 + 0.5).cast("long").as("__r9"),
        sf.col("t"))
      .select(sf.col("__r9"),
        ((sf.col("t") - 1) * (sf.col("__r9") - 1000000000L)).as("__y9"))
    val fit = pts.agg(sf.count(sf.lit(1)).as("__m"),
        sf.sum(dec(sf.col("__r9"))).as("__sx"),
        sf.sum(dec(sf.col("__y9"))).as("__sy"),
        sf.sum(dec(sf.col("__r9")) * dec(sf.col("__r9"))).as("__sxx"),
        sf.sum(dec(sf.col("__r9")) * dec(sf.col("__y9"))).as("__sxy"))
      .select({
        val m = sf.col("__m").cast("double")
        val det = (dec(sf.col("__m")) * sf.col("__sxx") -
          sf.col("__sx") * sf.col("__sx")).cast("double")
        val num = (dec(sf.col("__m")) * sf.col("__sxy") -
          sf.col("__sx") * sf.col("__sy")).cast("double")
        // x, y both ride the 1e-9 grid, so slope A is scale-free and
        // the intercept divides one 1e-9 back out; divisions sit in
        // lazy when-branches (ANSI throws on double div-by-zero)
        val a = sf.when(det =!= 0.0, num / det)
        val b = sf.when(sf.col("__m") > 0,
          (a * sf.col("__sx").cast("double") -
            sf.col("__sy").cast("double")) / m / 1e9)
        val ok = sf.col("__m") >= 2 && det > 0.0 &&
          b > 0.0 && (a - b) > 0.0
        Seq(sf.when(ok, a).as("__A"), sf.when(ok, b).as("__B"),
          ok.as("__ok"))
      }: _*)
    val n0 = surv.filter(sf.col("t") === 0)
      .select(sf.col("ns").as("__n0"))
    val term9 = sf.when(sf.col("t") === 0 || !sf.col("__ok"), 0L).otherwise(
      sf.floor((sf.log(sf.col("__B") + sf.col("t").cast("double") - 1.0) -
        sf.log(sf.col("__A") + sf.col("t").cast("double") - 1.0)) * 1e9 + 0.5)
        .cast("long"))
    surv.crossJoin(sf.broadcast(fit)).crossJoin(sf.broadcast(n0))
      .withColumn("__c9", sf.sum(term9).over(dom(false)))
      .select(sf.col("t").as("duration"), sf.col("ns").as("n_surviving"),
        gf.roundAt(sf.col("ns").cast("double") /
          sf.col("__n0").cast("double"), 6).as("actual_survival"),
        sf.when(sf.col("__ok"), gf.roundAt(
          sf.exp(sf.col("__c9").cast("double") / 1e9), 6))
          .as("projected_survival"),
        sf.when(sf.col("__ok"), gf.roundAt(sf.col("__A") - sf.col("__B"), 6))
          .as("alpha"),
        sf.when(sf.col("__ok"), gf.roundAt(sf.col("__B"), 6)).as("beta"))
      .orderBy("duration")
  }

  /** Rolling active-user counts (DAU / trailing-window WAU-style): for
    * every OBSERVED activity day, the distinct users active that day
    * and within the trailing `windowDays` window ending that day.
    *
    * A distinct count cannot ride a window frame, and the naive
    * per-day self-join over the window is quadratic in days. The
    * linear composition: collapse the log to distinct (user, day)
    * map-side, then each activity day CONTRIBUTES to the next
    * `windowDays` target days (a bounded explode), and each target day
    * distinct-counts its contributors. Shuffle volume is
    * |distinct (user, day)| x windowDays rows — linear in activity,
    * constant in window width per row, no quadratic anything.
    * Target days with no activity of their own are not reported
    * (semi-join with the observed-day set). */
  def activeUsers(events: DataFrame, keyCol: String = "user_id",
                  tsCol: String = "ts", windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val ud = events.select(sf.col(keyCol).as("__u"),
        sf.to_date(sf.date_trunc("day", sf.col(tsCol))).as("__d"))
      .distinct()
      .localCheckpoint(true) // read twice: contributions + day universe
    val days = ud.select(sf.col("__d").as("__td")).distinct()
    ud.select(sf.col("__u"),
        sf.posexplode(sf.array_repeat(sf.col("__d"), windowDays))
          .as(Seq("__off", "__d0")))
      .select(sf.col("__u"), sf.col("__off"),
        sf.date_add(sf.col("__d0"), sf.col("__off")).as("__td"))
      .join(days, "__td")
      .groupBy("__td")
      .agg(
        sf.count_distinct(sf.when(sf.col("__off") === 0, sf.col("__u"))).as("dau"),
        sf.count_distinct(sf.col("__u")).as("window_users"))
      .select(sf.date_format(sf.col("__td"), "yyyy-MM-dd").as("day"),
        sf.col("dau"), sf.col("window_users"))
      .orderBy("day")
  }

  /** Deterministic A/B experiment readout: users split into variants by
    * the portable multiplicative hash (same assignment in any engine,
    * any run), per-variant mean of `valueCol`, percent lift, and the
    * Welch t statistic. Moment sums accumulate in fixed-point
    * DECIMAL(38,0) (the correlationMatrix convention) so the result is
    * a pure function of the data — double sums would drift ulps with
    * partition merge order and break cross-engine replay. The t
    * assembly runs in a fixed double-operation order on the exact sums.
    *
    * Scale shape: ONE single-row combinable aggregate over the event
    * scan — six partial cells per variant per map task, no shuffle of
    * data rows at all. */
  def abLift(events: DataFrame, keyCol: String = "user_id",
             valueCol: String = "value"): DataFrame = {
    val variant = sf.when(Sampling.hashBucket(sf.col(keyCol)) < 5000, "A")
      .otherwise("B")
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val a4 = sf.when(variant === "A", x4)
    val b4 = sf.when(variant === "B", x4)
    def stats(pfx: String, c: Column) = Seq(
      sf.count(c).as(s"n_$pfx"),
      sf.sum(dec(c)).as(s"s_$pfx"),
      sf.sum(dec(c) * dec(c)).as(s"ss_$pfx"))
    val aggs = stats("a", a4) ++ stats("b", b4)
    def mean(p: String) =
      (sf.col(s"s_$p").cast("double") / 1e4) / sf.col(s"n_$p").cast("double")
    def variance(p: String, m: Column) =
      (sf.col(s"ss_$p").cast("double") / 1e8 -
        sf.col(s"n_$p").cast("double") * m * m) /
        (sf.col(s"n_$p").cast("double") - 1)
    events.filter(sf.col(valueCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
      .select(sf.col("n_a"), sf.col("n_b"),
        mean("a").as("__ma"), mean("b").as("__mb"),
        variance("a", mean("a")).as("__va"), variance("b", mean("b")).as("__vb"))
      .select(sf.col("n_a"), sf.col("n_b"),
        gf.roundAt(sf.col("__ma"), 4).as("mean_a"),
        gf.roundAt(sf.col("__mb"), 4).as("mean_b"),
        sf.when(sf.col("__ma") =!= 0, gf.roundAt(
          (sf.col("__mb") - sf.col("__ma")) / sf.col("__ma") * 100, 4))
          .as("lift_pct"),
        sf.when(sf.col("n_a") >= 2 && sf.col("n_b") >= 2, gf.roundAt(
          (sf.col("__mb") - sf.col("__ma")) /
            sf.sqrt(sf.col("__va") / sf.col("n_a").cast("double") +
              sf.col("__vb") / sf.col("n_b").cast("double")), 4))
          .as("t_stat"))
  }

  /** Markov next-event backtest: train P(next | current) transition
    * argmax on the HASH-TRAIN half of users, score top-1 next-event
    * accuracy on the held-out half — the honest "is user behavior
    * predictable, and did the model beat the base rate" eval that
    * q108's raw transition matrix doesn't answer (in-sample counts
    * always look predictive). Same portable user-hash split as q78,
    * so train/test membership is a pure function of the data.
    *
    * Prediction ties break (count desc, next asc) — a total order.
    * Output: per current event type, the model's prediction, held-out
    * transition count, hits, and accuracy; types never seen in
    * training predict NULL and score zero hits.
    *
    * Scale shape: per-user ordered lag windows (q133 shape) on both
    * halves; training collapses to the |types|² transition domain
    * (map-side combinable), the model broadcasts by construction. */
  def markovBacktest(events: DataFrame, userCol: String = "user_id",
                     tsCol: String = "ts", idCol: String = "event_id",
                     typeCol: String = "event_type",
                     calBuckets: Int = 5000): DataFrame = {
    require(calBuckets >= 1 && calBuckets <= 9999,
      s"calBuckets must be in [1, 9999], got $calBuckets")
    val w = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    val pairs = events.filter(sf.col(tsCol).isNotNull)
      .select(sf.col(userCol), sf.col(tsCol), sf.col(idCol),
        sf.col(typeCol).as("cur"),
        Sampling.hashBucket(sf.col(userCol)).as("__b"))
      .withColumn("nxt", sf.lead("cur", 1).over(w))
      .filter(sf.col("nxt").isNotNull)
      .localCheckpoint(true) // train + test read it
    val model = pairs.filter(sf.col("__b") < calBuckets)
      .groupBy("cur", "nxt").agg(sf.count(sf.lit(1)).as("c"))
      .groupBy("cur")
      .agg(sf.min(sf.struct(sf.negate(sf.col("c")).as("nc"),
        sf.col("nxt").as("p"))).as("m"))
      .select(sf.col("cur"), sf.col("m.p").as("predicted_next"))
    pairs.filter(sf.col("__b") >= calBuckets)
      .join(sf.broadcast(model), Seq("cur"), "left")
      .groupBy(sf.col("cur").as(typeCol))
      .agg(sf.max("predicted_next").as("predicted_next"),
        sf.count(sf.lit(1)).as("n_test"),
        sf.sum((sf.col("nxt") === sf.col("predicted_next")).cast("long")).as("n_hits"))
      .select(sf.col(typeCol), sf.col("predicted_next"), sf.col("n_test"),
        sf.coalesce(sf.col("n_hits"), sf.lit(0L)).as("n_hits"),
        gf.roundAt(sf.coalesce(sf.col("n_hits"), sf.lit(0L)).cast("double") /
          sf.col("n_test").cast("double"), 4).as("accuracy"))
      .orderBy(typeCol)
  }

  /** Wald SPRT sequential-test readout over the event stream: monitor
    * the failure rate (events matching `failType`) against H0: p=p0
    * vs H1: p=p1 and report WHEN the log-likelihood ratio first
    * crossed a decision boundary — the "stop the rollout NOW, don't
    * wait for the week's batch" primitive (Wald 1945). Boundaries
    * A = ln((1−β)/α), B = ln(β/(1−α)); per-event increments
    * ln(p1/p0) on failure, ln((1−p1)/(1−p0)) on success.
    *
    * Determinism: the four log constants snap to a 1e-9 grid ON THE
    * DRIVER (plan literals — the oracle embeds the same integers, so
    * engine libm never runs); the LLR is then exact integer prefix
    * arithmetic over the (ts, event_id) total order via ONE
    * range-partitioned [[graft.operators.StarSchema.globalPrefixSums]]
    * pass — never a one-task window.
    *
    * Output, one row: stream length, failures, final LLR, the
    * decision ('reject_h0' / 'accept_h0' / 'continue'), and the first
    * crossing's index + timestamp (NULL while in the continue band). */
  def sprtReadout(events: DataFrame, failType: String = "error",
                  p0: Double = 0.05, p1: Double = 0.15,
                  alpha: Double = 0.05, beta: Double = 0.2,
                  tsCol: String = "ts", idCol: String = "event_id",
                  typeCol: String = "event_type"): DataFrame = {
    require(p0 > 0 && p1 > p0 && p1 < 1, s"need 0 < p0 < p1 < 1, got $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "alpha, beta in (0,1)")
    def fx9(x: Double): Long = math.floor(math.log(x) * 1e9 + 0.5).toLong
    val incFail = fx9(p1 / p0)
    val incOk = fx9((1 - p1) / (1 - p0))
    val upper = fx9((1 - beta) / alpha)
    val lower = fx9(beta / (1 - alpha))
    val base = events.filter(sf.col(tsCol).isNotNull)
      .select(sf.expr(s"unix_micros($tsCol)").as("__us"), sf.col(idCol).as("__id"),
        (sf.col(typeCol) === failType).cast("long").as("__f"))
      .withColumn("__llr_inc",
        sf.when(sf.col("__f") === 1, incFail).otherwise(incOk))
      .withColumn("__one", sf.lit(1L))
    val cum = StarSchema.globalPrefixSumsMulti(base, Seq("__us", "__id"),
      Seq("__llr_inc" -> "llr", "__one" -> "n", "__f" -> "fails"))
    val crossed = cum.filter(sf.col("llr") >= upper || sf.col("llr") <= lower)
      .select(sf.min(sf.struct(sf.col("n"), sf.col("__us"), sf.col("llr"))).as("c"))
    val totals = cum.select(sf.max(sf.struct(sf.col("n"), sf.col("fails"),
      sf.col("llr"))).as("t"))
    totals.crossJoin(crossed)
      .select(sf.col("t.n").as("n_events"), sf.col("t.fails").as("n_failures"),
        gf.roundAt(sf.col("t.llr").cast("double") / 1e9, 4).as("final_llr"),
        sf.when(sf.col("c").isNull, "continue")
          .when(sf.col("c.llr") >= upper, "reject_h0")
          .otherwise("accept_h0").as("decision"),
        sf.col("c.n").as("first_cross_n"),
        sf.date_format(sf.timestamp_micros(sf.col("c.__us")),
          "yyyy-MM-dd HH:mm:ss").as("first_cross_ts"))
  }

  /** A/B covariate-balance audit: per event type, the standardized
    * mean difference of `value` between the two hash arms — SMD =
    * (mean_A − mean_B)/√((var_A+var_B)/2), the randomization-health
    * number (|SMD| > 0.1 on any covariate = broken assignment; a
    * significant q99 lift on an imbalanced experiment is noise). Same
    * portable 50/50 key-hash arms as [[abLift]], so the audit checks
    * exactly the split the readout uses.
    *
    * Exactness: the q99 moment pattern — 1e-4 fixed-point values,
    * DECIMAL(38,0) sum/sum-of-squares (order-free), sample variances
    * and the SMD assembled in pinned IEEE expressions, rounded once.
    *
    * Scale shape: ONE combinable aggregation onto the event-type
    * domain; map-only before it. */
  def abBalance(events: DataFrame, keyCol: String = "user_id",
                typeCol: String = "event_type", valueCol: String = "value",
                smdThreshold: Double = 0.1): DataFrame = {
    require(smdThreshold > 0, s"smdThreshold must be > 0, got $smdThreshold")
    val variant = sf.when(Sampling.hashBucket(sf.col(keyCol)) < 5000, "A")
      .otherwise("B")
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val a4 = sf.when(variant === "A", x4)
    val b4 = sf.when(variant === "B", x4)
    def stats(pfx: String, c: Column) = Seq(
      sf.count(c).as(s"n_$pfx"),
      sf.sum(dec(c)).as(s"s_$pfx"),
      sf.sum(dec(c) * dec(c)).as(s"ss_$pfx"))
    def mean(p: String) =
      (sf.col(s"s_$p").cast("double") / 1e4) / sf.col(s"n_$p").cast("double")
    def variance(p: String, m: Column) =
      (sf.col(s"ss_$p").cast("double") / 1e8 -
        sf.col(s"n_$p").cast("double") * m * m) /
        (sf.col(s"n_$p").cast("double") - 1)
    val smd = (mean("a") - mean("b")) /
      sf.sqrt((variance("a", mean("a")) + variance("b", mean("b"))) / 2)
    val aggs = stats("a", a4) ++ stats("b", b4)
    events.filter(sf.col(valueCol).isNotNull)
      .groupBy(sf.col(typeCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(sf.col(typeCol), sf.col("n_a"), sf.col("n_b"),
        gf.roundAt(mean("a"), 4).as("mean_a"),
        gf.roundAt(mean("b"), 4).as("mean_b"),
        sf.when(sf.col("n_a") >= 2 && sf.col("n_b") >= 2,
          gf.roundAt(smd, 4)).as("smd"),
        sf.when(sf.col("n_a") >= 2 && sf.col("n_b") >= 2,
          sf.abs(smd) <= smdThreshold).as("balanced"))
      .orderBy(typeCol)
  }

  /** Seasonal-baseline anomaly detection: fit a per-(event_type,
    * hour-of-day) mean/std profile, then flag events whose value sits
    * more than `zThresh` standard deviations from their own slot's
    * baseline. The monitoring pass that catches "errors spiked at 3am"
    * without a model: the baseline IS the seasonality.
    *
    * Exactness: moments accumulate as fixed-point DECIMAL sums of the
    * 1e4-scaled value (order-exact at any parallelism, the q99
    * pattern); mean/variance/z assemble in pinned IEEE double
    * expressions (+ - * / sqrt are correctly rounded), so the z-scores
    * and the flag set are bit-replayable in any engine.
    *
    * Scale shape: the baseline is one combinable aggregation to
    * |types| x 24 rows — broadcast back over the events by
    * construction (the profile table is bounded by the type domain,
    * not the data), so the scoring pass is map-only. Slots need n >= 2
    * and positive variance to score; degenerate slots flag nothing. */
  def seasonalAnomalies(events: DataFrame, typeCol: String = "event_type",
                        tsCol: String = "ts", valueCol: String = "value",
                        idCol: String = "event_id",
                        zThresh: Double = 2.5): DataFrame = {
    require(zThresh > 0, s"zThresh must be > 0, got $zThresh")
    val x4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val slotted = events.filter(sf.col(valueCol).isNotNull)
      .withColumn("hr", sf.hour(sf.col(tsCol)))
      .withColumn("__x4", x4)
    val baseline = slotted.groupBy(sf.col(typeCol).as("__bt"), sf.col("hr").as("__bh"))
      .agg(sf.count(sf.lit(1)).as("__n"),
        sf.sum(dec(sf.col("__x4"))).as("__s"),
        sf.sum(dec(sf.col("__x4")) * dec(sf.col("__x4"))).as("__ss"))
      .filter(sf.col("__n") >= 2)
    val m = sf.col("__s").cast("double") / 1e4 / sf.col("__n").cast("double")
    val variance = (sf.col("__ss").cast("double") / 1e8 -
      sf.col("__n").cast("double") * m * m) / (sf.col("__n").cast("double") - 1)
    val z = (sf.col("__x4").cast("double") / 1e4 - m) / sf.sqrt(variance)
    slotted
      .join(sf.broadcast(baseline),
        sf.col(typeCol) === sf.col("__bt") && sf.col("hr") === sf.col("__bh"))
      .filter(variance > 0 && sf.abs(z) > zThresh)
      .select(sf.col(idCol), sf.col(typeCol), sf.col("hr"),
        sf.col(valueCol), gf.roundAt(z, 4).as("z"))
      .orderBy(idCol)
  }

  /** CDC latest-snapshot compaction: reduce a change/event log to one
    * current row per key — the upsert-merge that keeps a mutable-table
    * mirror (or a "latest doc version wins" corpus) fresh. The winner
    * is the lexicographic max of (tsCol, idCol, payload), so ties on
    * the timestamp resolve by the unique id and the result is a pure
    * function of the data.
    *
    * Scale shape: a single combinable max(struct) aggregation — partial
    * winners reduce map-side, the shuffle carries one candidate row per
    * (map task, key). The window-rank formulation
    * (`row_number() ... WHERE rn = 1`) shuffles and sorts EVERY change
    * record per key and is kept only as the SQL-oracle twin. */
  /** Native session-window aggregation: Spark's `session_window`
    * merges a user's events into maximal runs with inter-event gaps
    * < `gap`; the session END is last_event + gap by definition (the
    * watermark-eviction boundary), which is what lets the IDENTICAL
    * groupBy run under Structured Streaming with bounded state
    * (streaming.EventStream.sessionWindowCounts — one definition,
    * batch and stream). The gaps-and-islands formulation (`sessionize`,
    * q37) remains as the window-function twin that reports raw
    * first/last event times.
    *
    * Scale shape: one shuffle on (user, session-window); Spark merges
    * session windows inside the aggregation (state per OPEN session,
    * not per event). Sum is exact decimal; timestamps format as
    * strings so oracles are timezone-stable. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(sf.col("user_id"), sf.session_window(sf.col("ts"), gap).as("w"))
      .agg(sf.count(sf.lit(1)).as("n_events"),
        sf.sum(sf.col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(sf.col("user_id"),
        sf.date_format(sf.col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        sf.date_format(sf.col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        sf.col("n_events"), sf.col("sum_value"))
      .orderBy("user_id", "session_start")

  /** Linear multi-touch attribution: every conversion event splits its
    * value EQUALLY across the same user's touch events inside the
    * trailing `lookbackSec` window (inclusive [t_conv - lookback,
    * t_conv]); conversions with no in-window touch credit the "direct"
    * channel. Credit is exact integer arithmetic end-to-end — value in
    * cents (DECIMAL(18,2) cast, both engines round identically), split
    * via floor division at 1e6 sub-cent resolution — so per-channel
    * totals are bit-replayable and conserve the conversion total up to
    * the documented floor remainder (< n_touches sub-cent units per
    * conversion).
    *
    * Scale shape: the touch-conversion match is the binned interval
    * join on a COMPOSITE (user, time-bin) key — conversions explode
    * into the <= lookback/binWidth + 1 bins their window covers,
    * touches map to exactly ONE bin (each pair meets once, no dedup) —
    * so the plan is an equi join + post-filter, never a per-user
    * nested loop, and a hot user's events still spread across time
    * bins. Two aggregations follow: per-conversion touch counts
    * (combinable count), then the per-channel rollup (combinable sum
    * of integer credits).
    */
  def attributionLinear(events: DataFrame,
                        conversionType: String = "purchase",
                        touchTypes: Seq[String] = Seq("click", "view"),
                        lookbackSec: Long = 259200L,
                        binSec: Long = 86400L): DataFrame = {
    require(lookbackSec >= 1 && binSec >= 1,
      s"need lookbackSec, binSec >= 1, got $lookbackSec, $binSec")
    val micros = sf.unix_micros(sf.col("ts"))
    val binW = binSec * 1000000L
    val lookbackMicros = lookbackSec * 1000000L
    val touches = events.filter(sf.col("event_type").isin(touchTypes: _*))
      .select(sf.col("user_id").as("t_user"), micros.as("t_ts"),
        sf.col("event_type").as("channel"),
        sf.expr(s"unix_micros(ts) div ${binW}L").as("t_bin"))
    val convs = events.filter(sf.col("event_type") === conversionType)
      .select(sf.col("user_id").as("c_user"), sf.col("event_id").as("conv_id"),
        micros.as("c_ts"),
        (sf.col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"))
    val convBins = convs.withColumn("c_bin",
      sf.explode(sf.sequence(
        sf.expr(s"(c_ts - ${lookbackMicros}L) div ${binW}L"),
        sf.expr(s"c_ts div ${binW}L"))))
    val matched = convBins.join(touches,
      sf.col("c_user") === sf.col("t_user") && sf.col("c_bin") === sf.col("t_bin") &&
        sf.col("t_ts") >= sf.col("c_ts") - lookbackMicros && sf.col("t_ts") <= sf.col("c_ts"))
      .select(sf.col("conv_id"), sf.col("value_cents"), sf.col("channel"))
    val counts = matched.groupBy("conv_id").agg(sf.count(sf.lit(1)).as("n_touch"))
    val touchCredit = matched.join(counts, "conv_id")
      .select(sf.col("channel"),
        sf.expr("(value_cents * 1000000L) div n_touch").as("credit_fx"))
    val directCredit = convs.join(counts, Seq("conv_id"), "left_anti")
      .select(sf.lit("direct").as("channel"),
        (sf.col("value_cents") * 1000000L).as("credit_fx"))
    touchCredit.union(directCredit)
      .groupBy("channel")
      .agg(sf.count(sf.lit(1)).as("n_attributions"),
        sf.sum(sf.col("credit_fx")).as("credit_fx"))
      .select(sf.col("channel"), sf.col("n_attributions"),
        gf.roundAt(sf.col("credit_fx").cast("double") / 1e8, 2).as("credit"))
      .orderBy("channel")
  }

  /** Exponential TIME-DECAY multi-touch attribution — the
    * [[attributionLinear]] variant that prices RECENCY: each in-window
    * touch earns weight 2^(−Δbins) (halving per day bin by default),
    * normalized within the conversion, so the touch just before the
    * purchase out-credits a week-old banner — the model ad platforms
    * default to between last-touch (all recency) and linear (none).
    * Same match, lookback, and "direct" fallback as the linear model;
    * only the split rule differs.
    *
    * Determinism: Δbins = conversion bin − touch bin is an exact
    * integer, so the weight 10⁹ div 2^Δ is an EXACT integer (the
    * row 287 EWMA weight grid — no pow(), no float anywhere in the
    * split); per-touch credit = (cents·10⁶·w) div Σw in DECIMAL(38,0)
    * floor division, summed exactly, one final /1e8 rounding to
    * cents.
    *
    * Scale shape: identical to [[attributionLinear]] — the bounded
    * bin-explode interval join, two combinable rollups, a channel-
    * domain finish. */
  def attributionTimeDecay(events: DataFrame,
                           conversionType: String = "purchase",
                           touchTypes: Seq[String] = Seq("click", "view"),
                           lookbackSec: Long = 259200L,
                           binSec: Long = 86400L): DataFrame = {
    require(lookbackSec >= 1 && binSec >= 1,
      s"need lookbackSec, binSec >= 1, got $lookbackSec, $binSec")
    require(lookbackSec / binSec <= 29,
      s"lookback spans ${lookbackSec / binSec} bins; the exact integer " +
        "weight grid 1e9 div 2^d is zero from d = 30, which would strand " +
        "all-stale conversions on a zero weight sum — need <= 29 bins")
    val micros = sf.unix_micros(sf.col("ts"))
    val binW = binSec * 1000000L
    val lookbackMicros = lookbackSec * 1000000L
    val touches = events.filter(sf.col("event_type").isin(touchTypes: _*))
      .select(sf.col("user_id").as("t_user"), micros.as("t_ts"),
        sf.col("event_type").as("channel"),
        sf.expr(s"unix_micros(ts) div ${binW}L").as("t_bin"))
    val convs = events.filter(sf.col("event_type") === conversionType)
      .select(sf.col("user_id").as("c_user"), sf.col("event_id").as("conv_id"),
        micros.as("c_ts"),
        (sf.col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"))
    val convBins = convs.withColumn("c_bin",
      sf.explode(sf.sequence(
        sf.expr(s"(c_ts - ${lookbackMicros}L) div ${binW}L"),
        sf.expr(s"c_ts div ${binW}L"))))
    val matched = convBins.join(touches,
      sf.col("c_user") === sf.col("t_user") && sf.col("c_bin") === sf.col("t_bin") &&
        sf.col("t_ts") >= sf.col("c_ts") - lookbackMicros && sf.col("t_ts") <= sf.col("c_ts"))
      .select(sf.col("conv_id"), sf.col("value_cents"), sf.col("channel"),
        sf.expr(s"CAST(1000000000L DIV shiftleft(1L, " +
          s"CAST((c_ts div ${binW}L) - t_bin AS INT)) AS BIGINT)").as("__w9"))
    val sums = matched.groupBy("conv_id").agg(sf.sum("__w9").as("__sw9"))
    val touchCredit = matched.join(sums, "conv_id")
      .select(sf.col("channel"),
        sf.expr("CAST((CAST(value_cents AS DECIMAL(38,0)) * 1000000 * __w9)" +
          " DIV __sw9 AS BIGINT)").as("credit_fx"))
    val directCredit = convs.join(sums, Seq("conv_id"), "left_anti")
      .select(sf.lit("direct").as("channel"),
        (sf.col("value_cents") * 1000000L).as("credit_fx"))
    touchCredit.union(directCredit)
      .groupBy("channel")
      .agg(sf.count(sf.lit(1)).as("n_attributions"),
        sf.sum(sf.col("credit_fx")).as("credit_fx"))
      .select(sf.col("channel"), sf.col("n_attributions"),
        gf.roundAt(sf.col("credit_fx").cast("double") / 1e8, 2).as("credit"))
      .orderBy("channel")
  }

  /** Position-based (U-shaped, "40/20/40") multi-touch attribution —
    * the [[attributionLinear]] variant that credits DISCOVERY and
    * CLOSING: the first and last in-window touch get 40% of the
    * conversion value each, the middle touches share the remaining
    * 20%; 2 touches split 50/50, 1 touch takes 100%, no-touch
    * conversions credit "direct". Same exact integer credit
    * arithmetic (cents × 1e6 sub-units, floor divisions) and the same
    * binned-interval-join match as the linear model — only the split
    * rule differs.
    *
    * Position is the (touch-ts, touch-id) total order via min/max
    * struct per conversion — two combinable aggregations, never a
    * per-conversion sort; a conversion's single touch is classified
    * `first` (checked before `last`), which the n=1 case pays 100%. */
  def attributionUShape(events: DataFrame,
                        conversionType: String = "purchase",
                        touchTypes: Seq[String] = Seq("click", "view"),
                        lookbackSec: Long = 259200L,
                        binSec: Long = 86400L): DataFrame = {
    require(lookbackSec >= 1 && binSec >= 1,
      s"need lookbackSec, binSec >= 1, got $lookbackSec, $binSec")
    val micros = sf.unix_micros(sf.col("ts"))
    val binW = binSec * 1000000L
    val lookbackMicros = lookbackSec * 1000000L
    val touches = events.filter(sf.col("event_type").isin(touchTypes: _*))
      .select(sf.col("user_id").as("t_user"), micros.as("t_ts"),
        sf.col("event_id").as("t_id"), sf.col("event_type").as("channel"),
        sf.expr(s"unix_micros(ts) div ${binW}L").as("t_bin"))
    val convs = events.filter(sf.col("event_type") === conversionType)
      .select(sf.col("user_id").as("c_user"), sf.col("event_id").as("conv_id"),
        micros.as("c_ts"),
        (sf.col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"))
    val convBins = convs.withColumn("c_bin",
      sf.explode(sf.sequence(
        sf.expr(s"(c_ts - ${lookbackMicros}L) div ${binW}L"),
        sf.expr(s"c_ts div ${binW}L"))))
    val matched = convBins.join(touches,
      sf.col("c_user") === sf.col("t_user") && sf.col("c_bin") === sf.col("t_bin") &&
        sf.col("t_ts") >= sf.col("c_ts") - lookbackMicros && sf.col("t_ts") <= sf.col("c_ts"))
      .select(sf.col("conv_id"), sf.col("value_cents"), sf.col("channel"),
        sf.col("t_ts"), sf.col("t_id"))
    val marks = matched.groupBy("conv_id")
      .agg(sf.count(sf.lit(1)).as("n_touch"),
        sf.min(sf.struct(sf.col("t_ts"), sf.col("t_id"))).as("f"),
        sf.max(sf.struct(sf.col("t_ts"), sf.col("t_id"))).as("l"))
    val v6 = sf.col("value_cents") * 1000000L
    val pos = sf.struct(sf.col("t_ts"), sf.col("t_id"))
    val credit = sf
      .when(sf.col("n_touch") === 1, v6)
      .when(sf.col("n_touch") === 2, sf.expr("(value_cents * 1000000L * 50) div 100"))
      .when(pos === sf.col("f") || pos === sf.col("l"),
        sf.expr("(value_cents * 1000000L * 40) div 100"))
      .otherwise(sf.expr("(value_cents * 1000000L * 20) div (100 * (n_touch - 2))"))
    val touchCredit = matched.join(marks, "conv_id")
      .select(sf.col("channel"), credit.as("credit_fx"))
    val directCredit = convs.join(marks, Seq("conv_id"), "left_anti")
      .select(sf.lit("direct").as("channel"), (sf.col("value_cents") * 1000000L).as("credit_fx"))
    touchCredit.union(directCredit)
      .groupBy("channel")
      .agg(sf.count(sf.lit(1)).as("n_attributions"),
        sf.sum(sf.col("credit_fx")).as("credit_fx"))
      .select(sf.col("channel"), sf.col("n_attributions"),
        gf.roundAt(sf.col("credit_fx").cast("double") / 1e8, 2).as("credit"))
      .orderBy("channel")
  }

  /** SHAPLEY-VALUE channel attribution (Shapley 1953; the data-driven
    * coalition form of Zhao, Mahboobi & Bagheri 2018) — the
    * game-theoretic member of the attribution ladder: rows 155/163/238
    * split each conversion by position/recency heuristics and row 280
    * prices channels by Markov removal; Shapley is the UNIQUE
    * allocation satisfying efficiency/symmetry/dummy, computed here
    * EXACTLY over the channel-set domain: v(S) = empirical conversion
    * rate of users whose touched-channel set is S (unobserved sets
    * contribute v = 0, the standard empirical convention — documented,
    * not hidden), φ_c = Σ_{S∌c} |S|!(k−1−|S|)!/k! · (v(S∪c) − v(S)).
    *
    * Determinism: set membership is an exact bitmask over the sorted
    * channel list; v(S) snaps to a 1e-9 long; the factorial weights
    * ride as EXACT INTEGER numerators s!(k−1−s)! (k ≤ 12 by contract,
    * 11! < 2⁶³) with ONE pinned division by k!·10⁹ at the end — the
    * coalition sum is exact integer arithmetic.
    *
    * Scale shape: one (user, channel) distinct collapse + a per-user
    * mask rollup + a mask-domain rate table (2^k ≤ 4096 rows) — the
    * Shapley sum itself is a DOMAIN cross (2^k × k) with two broadcast
    * rate attaches, never row-scale. */
  def shapleyAttribution(events: DataFrame,
                         conversionType: String = "purchase",
                         keyCol: String = "user_id",
                         typeCol: String = "event_type",
                         maxChannels: Int = 12): DataFrame = {
    require(maxChannels >= 1 && maxChannels <= 12,
      s"maxChannels must be in [1, 12], got $maxChannels")
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.filter(sf.col(keyCol).isNotNull && sf.col(typeCol).isNotNull)
      .localCheckpoint(true) // channel probe + masks read it
    val channels = base.filter(sf.col(typeCol) =!= conversionType)
      .select(sf.col(typeCol).cast("string").as("ch")).distinct()
      .orderBy("ch").collect().map(_.getString(0)) // bounded type domain
    val k = channels.length
    require(k >= 1 && k <= maxChannels,
      s"shapleyAttribution: $k channels outside [1, $maxChannels]")
    val chDF = channels.zipWithIndex.map { case (c, i) => (c, i) }
      .toSeq.toDF("ch", "idx")
    val touched = base.filter(sf.col(typeCol) =!= conversionType)
      .select(sf.col(keyCol).as("u"), sf.col(typeCol).cast("string").as("ch"))
      .distinct()
      .join(sf.broadcast(chDF), "ch")
      .localCheckpoint(true) // masks + per-channel reach read it
    val masks = base.groupBy(sf.col(keyCol).as("u"))
      .agg(sf.max((sf.col(typeCol) === conversionType).cast("int")).as("conv"))
      .join(touched.groupBy("u")
        .agg(sf.sum(sf.expr("shiftleft(1L, CAST(idx AS INT))")).as("m")),
        Seq("u"), "left")
      .select(sf.coalesce(sf.col("m"), sf.lit(0L)).as("m"), sf.col("conv"))
    val rates = masks.groupBy("m")
      .agg(sf.count(sf.lit(1)).as("n_u"), sf.sum("conv").cast("long").as("n_c"))
      .select(sf.col("m"),
        sf.floor(sf.col("n_c").cast("double") / sf.col("n_u").cast("double")
          * 1e9 + 0.5).cast("long").as("v9"))
      .localCheckpoint(true) // two domain attaches read it
    val dom = spark.range(0L, 1L << k).select(sf.col("id").as("m"))
      .join(rates, Seq("m"), "left")
      .select(sf.col("m"), sf.coalesce(sf.col("v9"), sf.lit(0L)).as("v9"))
      .localCheckpoint(true)
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val wnum = (0 until k).map(s => sf.lit(fact(s) * fact(k - 1 - s)))
    val contrib = dom.crossJoin(sf.broadcast(chDF))
      .filter(sf.col("m").bitwiseAND(
        sf.expr("shiftleft(1L, CAST(idx AS INT))")) === 0L)
      .join(dom.select(sf.col("m").as("__mw"), sf.col("v9").as("__vw")),
        sf.col("__mw") === sf.col("m") + sf.expr("shiftleft(1L, CAST(idx AS INT))"))
      .select(sf.col("ch"), sf.col("idx"),
        (dec(sf.element_at(sf.array(wnum: _*),
          sf.expr("bit_count(m) + 1"))) *
          dec(sf.col("__vw") - sf.col("v9"))).as("__t"))
    val reach = touched.groupBy("ch")
      .agg(sf.count(sf.lit(1)).cast("long").as("n_users_touched"))
    contrib.groupBy("ch").agg(sf.sum("__t").as("__sum"))
      .join(sf.broadcast(reach), "ch")
      .select(sf.col("ch").as("channel"), sf.col("n_users_touched"),
        gf.roundAt(sf.col("__sum").cast("double") /
          (fact(k).toDouble * 1e9), 6).as("shapley_value"))
      .orderBy("channel")
  }

  /** Gap-filled dense time series: per-(type, time-bin) event counts
    * and value sums with EVERY bin between the corpus min and max
    * present — zero rows materialized for silent bins. Downstream
    * consumers (anomaly baselines, trend fits, chart feeds) need the
    * zeros; a plain groupBy silently omits them and "no data" becomes
    * indistinguishable from "no traffic".
    *
    * Scale shape: the counts aggregation is map-side combinable; the
    * dense grid is |types| x nBins rows generated from a broadcast
    * scalar pair (min, max bin) — never a per-event explode — and the
    * fill join is keyed on (type, bin). Grid generation is CHUNKED
    * (two-level explode, <= 8192 bins per materialized array) so no
    * single sequence() array ever approaches Spark's array ceiling,
    * and the bin span is guarded by `maxBins`: ONE corrupt/outlier
    * timestamp (an epoch-0 row against a 2026 corpus at binSec=1 is a
    * ~1.8e9-bin span) would otherwise silently explode the grid —
    * that failure mode now raises with a diagnostic instead of
    * OOMing. Value sums are exact 1e4 fixed-point decimals, one final
    * division. */
  def denseSeries(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", valueCol: String = "value",
                  binSec: Long = 3600, maxBins: Long = 10000000L): DataFrame = {
    require(binSec > 0, s"binSec must be > 0, got $binSec")
    require(maxBins > 0, s"maxBins must be > 0, got $maxBins")
    val binUs = binSec * 1000000L
    val withBin = events.filter(sf.col(tsCol).isNotNull)
      .withColumn("__bin", sf.expr(s"unix_micros($tsCol) div ${binUs}L"))
    val v4 = sf.when(sf.col(valueCol).isNotNull,
      sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long"))
    val counts = withBin
      .groupBy(sf.col(typeCol).as("t"), sf.col("__bin"))
      .agg(sf.count(sf.lit(1)).as("__n"),
        sf.sum(v4.cast("decimal(38,0)")).as("__s"))
    // span guard folded into `lo` so it cannot be pruned from the plan
    val span = sf.col("hi") - sf.col("lo") + 1
    val bounds = withBin.agg(sf.min("__bin").as("lo"), sf.max("__bin").as("hi"))
      .select(
        sf.when(span > maxBins, sf.raise_error(sf.concat(
            sf.lit("denseSeries: bin span "), span.cast("string"),
            sf.lit(s" exceeds maxBins=$maxBins (corrupt/outlier timestamp," +
              s" or binSec=$binSec too small for the corpus time range)")))
            .cast("long"))
          .otherwise(sf.col("lo")).as("lo"),
        sf.col("hi"))
    val Chunk = 8192L
    val grid = withBin.select(sf.col(typeCol).as("t")).distinct()
      .crossJoin(sf.broadcast(bounds))
      .select(sf.col("t"), sf.col("hi"),
        sf.explode(sf.sequence(sf.col("lo"), sf.col("hi"), sf.lit(Chunk))).as("__cs"))
      .select(sf.col("t"),
        sf.explode(sf.sequence(sf.col("__cs"),
          sf.least(sf.col("__cs") + (Chunk - 1), sf.col("hi")))).as("__bin"))
    grid.join(counts, Seq("t", "__bin"), "left")
      .select(sf.col("t").as(typeCol), sf.col("__bin").as("bin"),
        sf.date_format(sf.timestamp_micros(sf.col("__bin") * binUs),
          "yyyy-MM-dd HH:mm").as("bin_start"),
        sf.coalesce(sf.col("__n"), sf.lit(0L)).as("n_events"),
        gf.roundAt(sf.coalesce(sf.col("__s").cast("double"), sf.lit(0.0)) / 1e4, 4)
          .as("sum_value"))
      .orderBy(typeCol, "bin")
  }

  /** Exponentially-weighted moving average of the per-type count
    * series over the [[denseSeries]] gap-filled grid — the smoother
    * dashboards and the q121/q137 anomaly baselines read instead of
    * raw counts (EWMA reacts to level shifts in ~1/α bins while
    * absorbing single-bin noise; the zero-filled grid matters, since
    * skipping silent bins would make the average blind to outages).
    * Truncated at `lags` terms with α = 1/2, so every weight is the
    * EXACT integer 1e9/2^(l+1) and the window start normalizes by the
    * weights actually available — no warm-up bias, no RNG, no floats
    * until the single output division.
    *
    * Determinism: ewma = Σ w_l·v_{t-l} / Σ w_l over available lags,
    * both sums exact longs, ONE pinned double division rounded 1e-6.
    *
    * Scale shape: the grid builds once (chunked, the q130 machinery)
    * and checkpoints; the trailing window is a bounded lags-way
    * broadcast fan-out + ONE (type, bin) equi join on the dense grid
    * (availability falls out of the join — no window function, no
    * per-series sort). */
  def ewmaSeries(events: DataFrame, lags: Int = 8,
                 binSec: Long = 3600): DataFrame = {
    require(lags >= 1 && lags <= 30, s"lags must be in [1, 30], got $lags")
    val spark = events.sparkSession
    import spark.implicits._
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val lagW = (0 until lags).map(l => (l.toLong, 1000000000L >> (l + 1)))
      .toDF("l", "w")
    sv.crossJoin(sf.broadcast(lagW))
      .withColumn("blk", sf.col("bin") - sf.col("l"))
      .join(sv.select(sf.col("t"), sf.col("bin").as("blk"),
        sf.col("v").as("vl")), Seq("t", "blk"))
      .groupBy("t", "bin")
      .agg(sf.sum(sf.when(sf.col("l") === 0L, sf.col("vl"))).cast("long").as("v"),
        sf.sum(sf.col("w") * sf.col("vl")).cast("long").as("num"),
        sf.sum("w").cast("long").as("den"))
      .select(sf.col("t").as("event_type"), sf.col("bin"),
        sf.col("v").as("n_events"),
        gf.roundAt(sf.col("num").cast("double") / sf.col("den").cast("double"), 6)
          .as("ewma"))
      .orderBy("event_type", "bin")
  }

  /** Autocorrelation function of the per-type event-count series at
    * lags 1..maxLag over the [[denseSeries]] gap-filled grid — the
    * periodicity detector (a daily-cycle stream shows a lag-24 peak at
    * hourly bins; residual autocorrelation after de-seasoning means the
    * q121 baseline is mis-specified) and the independence check the
    * q193 CUSUM / q203 trend readouts silently assume.
    *
    * Exactness: with integer counts v_t and S = Σv, n = #bins, the
    * mean-centered products scale to exact integers —
    * num_k·n² = Σ (n·v_t − S)(n·v_{t+k} − S), den·n² = Σ (n·v_t − S)²
    * — both accumulate as DECIMAL(38,0); acf_k is ONE final double
    * division snapped 1e-6. A constant series (den = 0) yields NULL.
    *
    * Scale shape: the grid builds once (chunked explode, the q130
    * machinery) and checkpoints; lag pairs come from a bounded
    * maxLag-way explode + ONE (type, bin) equi join — never a window
    * over the whole series and never a per-lag pass. */
  def acf(events: DataFrame, maxLag: Int = 6, binSec: Long = 3600): DataFrame = {
    require(maxLag >= 1 && maxLag <= 168, s"maxLag must be in [1, 168], got $maxLag")
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // stats + both join sides read it
    val stats = g.groupBy("t").agg(sf.count(sf.lit(1)).as("n"),
      sf.sum("v").as("s"))
    val den = g.join(stats, "t")
      .select(sf.col("t"),
        (dec(sf.col("n")) * dec(sf.col("v")) - dec(sf.col("s"))).as("__d"))
      .groupBy("t").agg(sf.sum(sf.col("__d") * sf.col("__d")).as("den"))
    val pairs = g
      .withColumn("lag", sf.explode(sf.sequence(sf.lit(1L), sf.lit(maxLag.toLong))))
      .select(sf.col("t"), (sf.col("bin") + sf.col("lag")).as("bin"),
        sf.col("lag"), sf.col("v").as("v1"))
      .join(g.select(sf.col("t"), sf.col("bin"), sf.col("v").as("v2")),
        Seq("t", "bin"))
    val num = pairs.join(stats, "t")
      .select(sf.col("t"), sf.col("lag"),
        ((dec(sf.col("n")) * dec(sf.col("v1")) - dec(sf.col("s"))) *
          (dec(sf.col("n")) * dec(sf.col("v2")) - dec(sf.col("s")))).as("__p"))
      .groupBy("t", "lag").agg(sf.sum("__p").as("num"))
    num.join(den, "t").join(stats, "t")
      .select(sf.col("t").as("event_type"), sf.col("lag"),
        sf.col("n").as("n_bins"),
        sf.when(sf.col("den") > 0, gf.roundAt(
          sf.col("num").cast("double") / sf.col("den").cast("double"), 6))
          .as("acf"))
      .orderBy("event_type", "lag")
  }

  /** Qini / uplift-by-decile curve (Radcliffe 2007): users ranked by a
    * targeting score and cut into deciles; per decile the
    * treated-vs-control conversion rates, their difference (the
    * UPLIFT), and the cumulative Qini value
    * Q_k = cumConv_t − cumConv_c·cumN_t/cumN_c — the INCREMENTALITY
    * readout the plain gains table (row 301's cumulative lift) cannot
    * give: gains rank by who converts, Qini ranks by who converts
    * BECAUSE OF the treatment, which is what a targeting budget
    * actually buys. Score here = pre-treatment engagement (view
    * count); treatment = the deterministic q99 hash split; outcome =
    * any purchase.
    *
    * Determinism: per-user counts exact; ranks are the EXACT total
    * order (score desc, user asc) via
    * [[graft.operators.StarSchema.globalDenseIds]] (row-340 rule),
    * decile = ⌊(rank−1)·10/n⌋+1; cumulatives ride a ≤10-row window
    * keyed on a non-foldable constant (bounded by construction);
    * rates/uplift/Qini are pinned assemblies (rates+uplift 1e-6, Qini
    * 1e-4). Deciles with an empty control arm yield NULL uplift/Qini.
    *
    * Scale shape: one combinable per-user rollup + one
    * range-partitioned rank pass + a 10-row decile rollup + the
    * bounded cumulative window. */
  def qiniDeciles(events: DataFrame, userCol: String = "user_id",
                  typeCol: String = "event_type",
                  scoreType: String = "view",
                  convertType: String = "purchase"): DataFrame = {
    val per = events.filter(sf.col(userCol).isNotNull)
      .groupBy(sf.col(userCol).as("u"))
      .agg(sf.sum((sf.col(typeCol) === scoreType).cast("long")).cast("long")
          .as("__score"),
        sf.max((sf.col(typeCol) === convertType).cast("long")).as("__conv"))
      .withColumn("__t",
        graft.operators.Sampling.hashBucket(sf.col("u")) < 5000)
      .withColumn("__neg", -sf.col("__score"))
      .localCheckpoint(true) // rank pass + count read it
    val n = per.agg(sf.count(sf.lit(1)).as("__n"))
    val ranked = graft.operators.StarSchema
      .globalDenseIds(per, Seq("__neg", "u"), "__rk")
      .crossJoin(sf.broadcast(n))
      .withColumn("decile",
        sf.expr("((__rk - 1) * 10) div __n + 1").cast("int"))
    val byDecile = ranked.groupBy("decile")
      .agg(sf.sum(sf.col("__t").cast("long")).cast("long").as("n_treated"),
        sf.sum(sf.when(sf.col("__t"), sf.col("__conv")).otherwise(sf.lit(0L)))
          .cast("long").as("__ct"),
        sf.sum((!sf.col("__t")).cast("long")).cast("long").as("n_control"),
        sf.sum(sf.when(!sf.col("__t"), sf.col("__conv")).otherwise(sf.lit(0L)))
          .cast("long").as("__cc"))
      .localCheckpoint(true) // bounded cumulative reads it
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("decile")), sf.lit(1)))
      .orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one select: each separate withColumn would extract its own copy
    // of the computed key and shuffle + sort the deciles again
    byDecile
      .select(sf.col("*"), sf.sum("n_treated").over(w).as("__cnt"),
        sf.sum("__ct").over(w).as("__cct"), sf.sum("n_control").over(w).as("__cnc"),
        sf.sum("__cc").over(w).as("__ccc"))
      .select({
        val rt = sf.col("__ct").cast("double") / sf.col("n_treated").cast("double")
        val rc = sf.col("__cc").cast("double") / sf.col("n_control").cast("double")
        val qini = sf.col("__cct").cast("double") -
          sf.col("__ccc").cast("double") * sf.col("__cnt").cast("double") /
            sf.col("__cnc").cast("double")
        Seq(sf.col("decile"), sf.col("n_treated"), sf.col("n_control"),
          sf.when(sf.col("n_treated") > 0, gf.roundAt(rt, 6)).as("rate_treated"),
          sf.when(sf.col("n_control") > 0, gf.roundAt(rc, 6)).as("rate_control"),
          sf.when(sf.col("n_treated") > 0 && sf.col("n_control") > 0,
            gf.roundAt(rt - rc, 6)).as("uplift"),
          sf.when(sf.col("__cnc") > 0, gf.roundAt(qini, 4)).as("qini"))
      }: _*)
      .orderBy("decile")
  }

  /** RFM segmentation (Hughes 1994 — the retention-marketing
    * standard): per user over their `purchaseType` events, Recency
    * (days since last purchase, vs the corpus max timestamp),
    * Frequency (purchase count), Monetary (value sum), each coded
    * into `nBins` quantile scores (5 = best: most recent / most
    * frequent / highest spend) and concatenated into the familiar
    * "555"-style segment — the behavioral cohort key every
    * lifecycle-marketing and churn readout joins on.
    *
    * Determinism: recency is exact integer days from exact micros;
    * monetary is an exact 1e-4 fixed-point sum; quantile codes come
    * from each metric's EXACT rank in the total order (metric, user)
    * via [[graft.operators.StarSchema.globalDenseIds]] (range
    * partition + broadcast offsets — the row-340 rule, never a
    * one-task NTILE window), code = ⌊(rank−1)·nBins/n⌋ + 1 with
    * recency's code flipped so 5 = most recent; ties split by user id
    * at quantile boundaries — the classical NTILE contract, here a
    * pure function of the data.
    *
    * Scale shape: one map-side-combined per-user aggregation + one
    * broadcast scalar (max ts) + three range-partitioned rank passes
    * + three equi joins back on the user key. */
  def rfmSegments(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", typeCol: String = "event_type",
                  valueCol: String = "value",
                  purchaseType: String = "purchase",
                  nBins: Int = 5): DataFrame = {
    require(nBins >= 2 && nBins <= 10, s"nBins must be in [2, 10], got $nBins")
    val p = events.filter(sf.col(typeCol) === purchaseType &&
      sf.col(userCol).isNotNull && sf.col(tsCol).isNotNull)
    val mx = p.agg(sf.max(sf.unix_micros(sf.col(tsCol))).as("__mx"))
    val v4 = sf.when(sf.col(valueCol).isNotNull,
      sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long"))
    val per = p.groupBy(sf.col(userCol).as("user"))
      .agg(sf.max(sf.unix_micros(sf.col(tsCol))).as("__last"),
        sf.count(sf.lit(1)).as("frequency"),
        sf.sum(v4.cast("decimal(38,0)")).as("__m4"))
      .crossJoin(sf.broadcast(mx))
      .select(sf.col("user"),
        sf.expr("(__mx - __last) div 86400000000").as("recency_days"),
        sf.col("frequency"),
        sf.coalesce(sf.col("__m4"), sf.lit(0).cast("decimal(38,0)")).as("__m4"))
      .localCheckpoint(true) // count + three rank passes read it
    val n = per.agg(sf.count(sf.lit(1)).as("__n"))
    def code(rankCol: String, flip: Boolean) = {
      val q = sf.expr(s"(($rankCol - 1) * $nBins) div __n + 1")
      if (flip) sf.lit(nBins + 1) - q else q
    }
    val ranked = Seq(("recency_days", "__rr"), ("frequency", "__rf"))
      .foldLeft(per) { case (df, (m, rk)) =>
        df.join(graft.operators.StarSchema
          .globalDenseIds(per.select(sf.col("user"), sf.col(m)),
            Seq(m, "user"), rk).select("user", rk), "user")
      }
      .join(graft.operators.StarSchema
        .globalDenseIds(per.select(sf.col("user"), sf.col("__m4")),
          Seq("__m4", "user"), "__rm").select("user", "__rm"), "user")
    ranked.crossJoin(sf.broadcast(n))
      .select({
        val r = code("__rr", flip = true)
        val f = code("__rf", flip = false)
        val m = code("__rm", flip = false)
        Seq(sf.col("user").as(userCol), sf.col("recency_days"),
          sf.col("frequency"),
          gf.roundAt(sf.col("__m4").cast("double") / 1e4, 4).as("monetary"),
          r.cast("int").as("r_code"), f.cast("int").as("f_code"),
          m.cast("int").as("m_code"),
          sf.concat(r.cast("string"), f.cast("string"), m.cast("string"))
            .as("segment"))
      }: _*)
      .orderBy(userCol)
  }

  /** Partial autocorrelation at lags 1–3 per event type via the
    * Durbin–Levinson closed forms over [[acf]]'s values — the AR-ORDER
    * diagnostic the raw ACF can't give: an AR(1) process has ACF
    * decaying at every lag (q218 shows "correlation everywhere") but
    * PACF cutting to ≈ 0 past lag 1 — so pacf_2/pacf_3 ≈ 0 says one
    * lag of history suffices (the [[grangerLag1]] and
    * [[markovBacktest]] modeling assumption), while a surviving
    * pacf_24 would say the q121 seasonal baseline is the right model.
    * Three lags because the closed forms stay exact and readable
    * (φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²); φ₃₃ by one more elimination
    * step) — the standard "which small AR order" screen.
    *
    * Determinism: pure COMPOSITION over [[acf]] (never a second
    * autocorrelation implementation): the 1e-6-rounded r₁..r₃ pivot to
    * one row per type and each φ is ONE pinned double assembly of
    * those rounded literals, outputs 1e-6; degenerate denominators
    * (|r₁| = 1 exactly, or the lag-3 elimination singular) and
    * constant series (NULL acf) yield NULL.
    *
    * Scale shape: [[acf]]'s (grid + bounded lag joins) + a 3-cell
    * pivot on the |types| domain + a map-only finish. */
  def pacf(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val a = acf(events, maxLag = 3, binSec = binSec)
    a.groupBy("event_type")
      .agg(sf.max("n_bins").as("n_bins"),
        sf.max(sf.when(sf.col("lag") === 1, sf.col("acf"))).as("__r1"),
        sf.max(sf.when(sf.col("lag") === 2, sf.col("acf"))).as("__r2"),
        sf.max(sf.when(sf.col("lag") === 3, sf.col("acf"))).as("__r3"))
      .select({
        val r1 = sf.col("__r1")
        val r2 = sf.col("__r2")
        val r3 = sf.col("__r3")
        val d2 = sf.lit(1.0) - r1 * r1
        val p2 = (r2 - r1 * r1) / d2
        val f21 = r1 - p2 * r1
        val d3 = sf.lit(1.0) - f21 * r1 - p2 * r2
        val p3 = (r3 - f21 * r2 - p2 * r1) / d3
        Seq(sf.col("event_type"), sf.col("n_bins"),
          r1.as("pacf_1"),
          sf.when(d2 =!= 0.0, gf.roundAt(p2, 6)).as("pacf_2"),
          sf.when(d2 =!= 0.0 && d3 =!= 0.0, gf.roundAt(p3, 6)).as("pacf_3"))
      }: _*)
      .orderBy("event_type")
  }

  /** Per-type metric trend: OLS slope of value against time (in
    * `binSec` units, re-based to the corpus start) for every event
    * type — the "is this metric drifting" monitoring readout that
    * pairs with [[bursts]] (bursts find spikes; this finds slow
    * creep).
    *
    * Determinism: x is an exact re-based integer bin, y an exact 1e4
    * fixed-point value; all five moment sums accumulate as
    * DECIMAL(38,0), and slope/intercept are one pinned double
    * assembly per group from exact sums. Groups with zero x-variance
    * (all events in one bin) yield NULLs.
    *
    * Scale shape: one map-side-combinable aggregation (five cells per
    * (map task, type)), one broadcast scalar (the min bin), zero
    * data-row shuffles beyond the group agg. */
  def trendSlopes(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", valueCol: String = "value",
                  binSec: Long = 3600): DataFrame = {
    require(binSec > 0, s"binSec must be > 0, got $binSec")
    val binUs = binSec * 1000000L
    val base = events
      .filter(sf.col(valueCol).isNotNull && sf.col(tsCol).isNotNull)
      .withColumn("__bin", sf.expr(s"unix_micros($tsCol) div ${binUs}L"))
    val lo = base.agg(sf.min("__bin").as("__lo"))
    val x = sf.col("__bin") - sf.col("__lo")
    val y4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    base.crossJoin(sf.broadcast(lo))
      .select(sf.col(typeCol), x.as("__x"), y4.as("__y"))
      .groupBy(typeCol)
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("__x"))).as("__sx"), sf.sum(dec(sf.col("__y"))).as("__sy"),
        sf.sum(dec(sf.col("__x")) * dec(sf.col("__x"))).as("__sxx"),
        sf.sum(dec(sf.col("__x")) * dec(sf.col("__y"))).as("__sxy"))
      .select({
        val n = sf.col("n").cast("double")
        val sx = sf.col("__sx").cast("double")
        val sy = sf.col("__sy").cast("double") / 1e4
        val sxx = sf.col("__sxx").cast("double")
        val sxy = sf.col("__sxy").cast("double") / 1e4
        val den = n * sxx - sx * sx
        val slope = (n * sxy - sx * sy) / den
        Seq(sf.col(typeCol), sf.col("n"),
          sf.when(den > 0.0, gf.roundAt(slope, 6)).as("slope_per_bin"),
          sf.when(den > 0.0, gf.roundAt((sy - slope * sx) / n, 4)).as("intercept"))
      }: _*)
      .orderBy(typeCol)
  }

  /** Burst detection over the gap-filled series: bins whose event count
    * exceeds `factor` x the trailing `window`-bin average (current bin
    * excluded) — the spike detector that needs [[denseSeries]]'s zeros
    * (a burst after a silent stretch is exactly where a sparse groupBy
    * has no baseline rows to compare against). Bins with no full
    * trailing history (the first `window` bins of each type) never
    * flag; an all-zero baseline flags any nonzero bin.
    *
    * Determinism: counts are exact integers and the test multiplies
    * exact integers (`count * window > factor10 * trailing_sum / 10`
    * rearranged as `10 * count * window > factor10 * trailing_sum`) —
    * no doubles in the decision. The reported ratio is one pinned
    * double division, rounded.
    *
    * Scale shape: denseSeries' keyed shape, plus one per-type ordered
    * window over the BIN-compressed series — |types| x nBins rows, far
    * below event cardinality. */
  def bursts(events: DataFrame, typeCol: String = "event_type",
             tsCol: String = "ts", valueCol: String = "value",
             binSec: Long = 3600, window: Int = 24,
             factor: Double = 3.0): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(factor > 0, s"factor must be > 0, got $factor")
    val factor10 = math.round(factor * 10)
    val series = denseSeries(events, typeCol, tsCol, valueCol, binSec)
    val w = Window.partitionBy(typeCol).orderBy("bin")
      .rowsBetween(-window, -1)
    val trailing = sf.sum(sf.col("n_events")).over(w)
    val nTrail = sf.count(sf.lit(1)).over(w)
    series
      .withColumn("__ts", trailing)
      .withColumn("__nt", nTrail)
      .filter(sf.col("__nt") === window)
      .filter(sf.lit(10L) * sf.col("n_events") * window >
        sf.lit(factor10) * sf.col("__ts"))
      .filter(sf.col("n_events") > 0)
      .select(sf.col(typeCol), sf.col("bin"), sf.col("bin_start"),
        sf.col("n_events"), sf.col("__ts").as("trailing_events"),
        sf.when(sf.col("__ts") > 0,
          gf.roundAt(sf.col("n_events").cast("double") * window /
            sf.col("__ts").cast("double"), 4)).as("burst_ratio"))
      .orderBy(typeCol, "bin")
  }

  /** Session path mining: the frequency table of within-session
    * event-type journeys ("view->click->purchase") — the product-
    * analytics primitive behind flow diagrams and drop-off maps.
    * Sessions are the same gap definition as [[sessionize]]; each
    * session contributes one path string (events in (ts, id) order),
    * and paths seen >= `minCount` times are returned, most frequent
    * first.
    *
    * Scale shape: one per-key sorted window assigns session ids (the
    * gaps-and-islands plan, parallel across keys), one session-keyed
    * aggregation builds each path from a sorted in-memory struct array
    * (bounded by session length), and the path count is a map-side
    * combinable aggregation on the path string. */
  def sessionPaths(events: DataFrame, keyCol: String = "user_id",
                   tsCol: String = "ts", idCol: String = "event_id",
                   typeCol: String = "event_type",
                   gapSec: Long = 1800, minCount: Long = 3): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    val lagTs = sf.lag(sf.col(tsCol), 1).over(byKey)
    val isNew = sf.when(lagTs.isNull, 1).otherwise(
      (sf.unix_micros(sf.col(tsCol)) - sf.unix_micros(lagTs) >
        gapSec * 1000000L).cast("int"))
    events
      .withColumn("__new", isNew)
      .withColumn("__sid",
        sf.sum("__new").over(byKey.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(sf.col(keyCol), sf.col("__sid"))
      .agg(sf.array_join(
        sf.transform(
          sf.array_sort(sf.collect_list(
            sf.struct(sf.col(tsCol), sf.col(idCol), sf.col(typeCol)))),
          x => x.getField(typeCol)), "->").as("path"))
      .groupBy("path")
      .agg(sf.count(sf.lit(1)).as("n_sessions"))
      .filter(sf.col("n_sessions") >= minCount)
      .orderBy(sf.col("n_sessions").desc, sf.col("path"))
  }

  /** Frequent contiguous event-type n-grams across per-user event
    * sequences — sequence-mining lite (the n-gram specialization of
    * [[sessionPaths]], which counts whole journeys): "view->click->
    * purchase appears 412 times" is the support statistic behind
    * next-event models and funnel hypotheses.
    *
    * Determinism: each user's sequence orders by (ts, id) — a total
    * order — and n-gram counting is an exact combinable aggregation
    * on the joined type string.
    *
    * Scale shape: one user-keyed aggregation builds each sequence as a
    * sorted in-memory struct array (bounded by per-user activity — cap
    * upstream with [[graft.operators.Sampling.capPerKey]] for
    * pathological keys); the n-gram explode is per-row bounded
    * (|seq|−n+1) and the support count is map-side combinable on the
    * n-gram string. */
  def sequenceNgrams(events: DataFrame, keyCol: String = "user_id",
                     tsCol: String = "ts", idCol: String = "event_id",
                     typeCol: String = "event_type",
                     n: Int = 3, minCount: Long = 3): DataFrame = {
    require(n >= 2 && n <= 8, s"n must be in [2, 8], got $n")
    val seqs = events
      .groupBy(sf.col(keyCol))
      .agg(sf.transform(
        sf.array_sort(sf.collect_list(
          sf.struct(sf.col(tsCol), sf.col(idCol), sf.col(typeCol)))),
        x => x.getField(typeCol)).as("__seq"))
      .filter(sf.size(sf.col("__seq")) >= n)
    seqs
      .select(sf.explode(sf.transform(
        sf.sequence(sf.lit(1), sf.size(sf.col("__seq")) - (n - 1)),
        i => sf.array_join(sf.slice(sf.col("__seq"), i, sf.lit(n)), "->"))).as("ngram"))
      .groupBy("ngram")
      .agg(sf.count(sf.lit(1)).as("n_occurrences"))
      .filter(sf.col("n_occurrences") >= minCount)
      .orderBy(sf.col("n_occurrences").desc, sf.col("ngram"))
  }

  /** Exponential time-decay engagement score per key: each event
    * contributes value · 2^(-age / halfLife), with age measured back
    * from the corpus's max timestamp — the standard recency-weighted
    * feature (user activity scores, freshness-weighted source quality)
    * computed in one pass, no per-event state.
    *
    * Determinism: age is exact integer microseconds; the ONE libm call
    * (pow) per event is snapped to a 1e-9 grid immediately
    * (`floor(w·1e9 + 0.5)`, the q62/q120 ulp-absorption convention),
    * and everything after is exact integer arithmetic — value at 1e4
    * fixed point times weight at 1e9 sums as DECIMAL(38,0) with one
    * final division, so the score is independent of partitioning and
    * summation order.
    *
    * Scale shape: one global max(ts) aggregate broadcast back (a
    * scalar), then a map-only weight computation and one key-grouped
    * sum with map-side partials. */
  def decayedScore(events: DataFrame, halfLifeHours: Double = 24.0,
                   keyCol: String = "user_id", tsCol: String = "ts",
                   valueCol: String = "value"): DataFrame = {
    require(halfLifeHours > 0, s"halfLifeHours must be > 0, got $halfLifeHours")
    val ref = events.agg(sf.max(sf.unix_micros(sf.col(tsCol))).as("__ref_us"))
    val ageUs = sf.col("__ref_us") - sf.unix_micros(sf.col(tsCol))
    val w = sf.pow(sf.lit(2.0),
      -(ageUs.cast("double") / (halfLifeHours * 3600e6)))
    val wFx = sf.floor(w * 1e9 + 0.5).cast("long")
    val vFx = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    events.filter(sf.col(valueCol).isNotNull && sf.col(tsCol).isNotNull)
      .crossJoin(sf.broadcast(ref))
      .select(sf.col(keyCol),
        (vFx.cast("decimal(38,0)") * wFx.cast("decimal(38,0)")).as("__term"))
      .groupBy(keyCol)
      .agg(sf.count(sf.lit(1)).as("n_events"), sf.sum(sf.col("__term")).as("__s"))
      .select(sf.col(keyCol), sf.col("n_events"),
        gf.roundAt(sf.col("__s").cast("double") / 1e13, 4).as("score"))
      .orderBy(keyCol)
  }

  /** Time-to-event durations for survival analysis: per subject, the
    * seconds from first activity to the FIRST `targetType` event
    * (observed = true), or to the last seen activity when the target
    * never fires (right-censored, observed = false). The standard
    * reduction of an event log to the (duration, event-indicator)
    * pairs [[graft.dq.QualityChecks.kaplanMeier]] consumes.
    *
    * Scale shape: ONE map-side-combinable groupBy over subjects —
    * min(ts), conditional min(ts), max(ts) are all partial-aggregable,
    * so the shuffle carries one row per subject. */
  def timeToEvent(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", typeCol: String = "event_type",
                  targetType: String = "purchase"): DataFrame = {
    val t = sf.col(tsCol).cast("timestamp")
    events.filter(sf.col(userCol).isNotNull && t.isNotNull)
      .groupBy(sf.col(userCol))
      .agg(sf.min(t).as("__t0"),
        sf.min(sf.when(sf.col(typeCol) === targetType, t)).as("__te"),
        sf.max(t).as("__tl"))
      .select(sf.col(userCol),
        (sf.unix_timestamp(sf.coalesce(sf.col("__te"), sf.col("__tl"))) -
          sf.unix_timestamp(sf.col("__t0"))).as("duration_s"),
        sf.col("__te").isNotNull.as("observed"))
  }

  /** Apply a CDC changeset to a base snapshot — MERGE-INTO semantics
    * without a table format: base rows count as upserts at their own
    * timestamps, change rows carry an op column (`delete` removes the
    * key; anything else upserts), and per key the LATEST (ts, id)
    * wins. A delete followed by a later upsert resurrects the key; a
    * stale changeset row older than the base row is a no-op — exactly
    * the semantics replaying the full log would give, at changeset
    * cost instead of full-log cost.
    *
    * Scale shape: one union + ONE map-side-combinable
    * max(struct(ts, id, op, payload)) per key (the q72 compaction
    * shape — no per-key sort, no window); the op/payload fields sit
    * AFTER the unique (ts, id) prefix so they never influence the
    * ordering. Deletes filter after the argmax. */
  def applyChangeset(base: DataFrame, changes: DataFrame,
                     keyCol: String = "user_id", tsCol: String = "ts",
                     idCol: String = "event_id", opCol: String = "op",
                     payloadCols: Seq[String] = Seq("event_type", "value")): DataFrame = {
    val b = base.select(sf.col(keyCol) +: sf.col(tsCol) +: sf.col(idCol) +:
      sf.lit("upsert").as("__op") +: payloadCols.map(sf.col): _*)
    val c = changes.select(sf.col(keyCol) +: sf.col(tsCol) +: sf.col(idCol) +:
      sf.col(opCol).as("__op") +: payloadCols.map(sf.col): _*)
    val winner = sf.max(sf.struct(
      (Seq(tsCol, idCol, "__op") ++ payloadCols).map(sf.col): _*))
    b.unionByName(c)
      .groupBy(sf.col(keyCol))
      .agg(winner.as("__w"))
      .filter(sf.col("__w.__op") =!= "delete")
      .select(sf.col(keyCol) +:
        (Seq(tsCol, idCol) ++ payloadCols).map(f => sf.col(s"__w.$f").as(f)): _*)
      .orderBy(keyCol)
  }

  /** Theil–Sen robust trend per event type: the median of all pairwise
    * slopes over the gap-filled daily activity series — the
    * outlier-robust twin of the q144 OLS trend (one spike day drags an
    * OLS slope; the slope median has a 29% breakdown point). Gap days
    * count as zero activity, so "the stream died" trends down
    * honestly.
    *
    * Determinism: pairwise slopes are IEEE divisions of exact integers
    * snapped to a 1e-6 grid; the median is the nearest-rank
    * ⌈n/2⌉-th smallest picked by integer prefix counts — no
    * interpolation, engine-portable.
    *
    * Scale shape: the pair explode is per type over the BIN domain,
    * bounded by span/binSec (a config contract — 3650 daily bins for
    * a decade), never over events; rides denseSeries' guarded grid.
    * The rank pass is a per-type ordered window over ≤ bins²/2 slope
    * rows (the q137 partitioned shape). */
  def theilSenTrend(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", valueCol: String = "value",
                    binSec: Long = 86400): DataFrame = {
    val series = denseSeries(events, typeCol, tsCol, valueCol, binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // both self-join sides read it
    val a = series.select(sf.col("t"), sf.col("bin").as("ba"), sf.col("v").as("va"))
    val b = series.select(sf.col("t").as("tb"), sf.col("bin").as("bb"), sf.col("v").as("vb"))
    val slope6 = sf.floor(
      (sf.col("vb") - sf.col("va")).cast("double") /
        (sf.col("bb") - sf.col("ba")).cast("double") * 1e6 + 0.5).cast("long")
    val slopes = a.join(b, sf.col("t") === sf.col("tb") && sf.col("ba") < sf.col("bb"))
      .select(sf.col("t"), slope6.as("s6"))
    val counts = slopes.groupBy("t", "s6").agg(sf.count(sf.lit(1)).as("c"))
    val w = Window.partitionBy("t").orderBy("s6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sf.sum("c").over(w))
      .withColumn("n", sf.sum("c").over(Window.partitionBy("t")))
    cum.filter(sf.col("cum") >= sf.expr("(n + 1) div 2"))
      .groupBy(sf.col("t"))
      .agg(sf.max("n").as("n_pairs"), sf.min("s6").as("__m"))
      .select(sf.col("t").as(typeCol), sf.col("n_pairs"),
        gf.roundAt(sf.col("__m").cast("double") / 1e6, 4).as("ts_slope_per_day"))
      .orderBy(typeCol)
  }

  /** Siegel repeated-median trend per event type (Siegel 1982): for
    * each grid point i take the MEDIAN of its pairwise slopes to every
    * other point, then take the median of those per-point medians —
    * the 50%-breakdown big sibling of [[theilSenTrend]] (whose single
    * median of ALL pairs breaks at 29% contamination): a burst that
    * corrupts a third of the bins drags every Theil–Sen pair it
    * touches, but here it can own at most the inner medians of its own
    * points, and the outer median discards those. The trend readout to
    * trust when [[burstDetect]] says the series is contaminated.
    *
    * Determinism: [[theilSenTrend]]'s conventions verbatim — pairwise
    * slopes are IEEE divisions of exact integers snapped to the 1e-6
    * grid; BOTH median levels use the nearest-rank lower-median rule
    * (smallest value with cum ≥ (n+1) div 2) over exact counts, so the
    * result is a grid point, nothing interpolated; final display snap
    * 1e-4. Types with one grid bin emit no rows (no pair to slope).
    *
    * Scale shape: the checkpointed [[denseSeries]] grid self-joins per
    * type over the BIN domain (pair count grid², never event-row²);
    * the inner medians ride (type, point)-partitioned cumulative
    * windows — bounded at grid-size rows per partition BY CONSTRUCTION
    * — and the outer median reuses the [[theilSenTrend]] type-keyed
    * prefix. No driver medians, no global sort. */
  def siegelTrend(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", valueCol: String = "value",
                  binSec: Long = 86400): DataFrame = {
    val series = denseSeries(events, typeCol, tsCol, valueCol, binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // both self-join sides read it
    val slope6 = sf.floor(
      (sf.col("vb") - sf.col("va")).cast("double") /
        (sf.col("bb") - sf.col("ba")).cast("double") * 1e6 + 0.5).cast("long")
    val slopes = series.select(sf.col("t"), sf.col("bin").as("ba"), sf.col("v").as("va"))
      .join(series.select(sf.col("t").as("tb"), sf.col("bin").as("bb"),
        sf.col("v").as("vb")),
        sf.col("t") === sf.col("tb") && sf.col("ba") =!= sf.col("bb"))
      .select(sf.col("t"), sf.col("ba"), slope6.as("s6"))
    // inner median: per (type, point) over its grid-1 slopes
    val ic = slopes.groupBy("t", "ba", "s6").agg(sf.count(sf.lit(1)).as("c"))
    val iw = Window.partitionBy("t", "ba").orderBy("s6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = ic
      .withColumn("cum", sf.sum("c").over(iw))
      .withColumn("n", sf.sum("c").over(Window.partitionBy("t", "ba")))
      .filter(sf.col("cum") >= sf.expr("(n + 1) div 2"))
      .groupBy("t", "ba").agg(sf.min("s6").as("m6"))
    // outer median: per type over the per-point medians
    val oc = inner.groupBy("t", "m6").agg(sf.count(sf.lit(1)).as("c"))
    val ow = Window.partitionBy("t").orderBy("m6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    oc.withColumn("cum", sf.sum("c").over(ow))
      .withColumn("n", sf.sum("c").over(Window.partitionBy("t")))
      .filter(sf.col("cum") >= sf.expr("(n + 1) div 2"))
      .groupBy(sf.col("t"))
      .agg(sf.max("n").as("n_bins"), sf.min("m6").as("__m"))
      .select(sf.col("t").as(typeCol), sf.col("n_bins"),
        gf.roundAt(sf.col("__m").cast("double") / 1e6, 4)
          .as("siegel_slope_per_day"))
      .orderBy(typeCol)
  }

  /** Bot-cadence scoring per user: the coefficient of variation of
    * inter-event gaps — human activity is bursty (cv near or above 1,
    * exponential-ish), scripted traffic is metronomic (cv near 0) —
    * plus volume and span, and a conservative `bot_like` flag
    * (enough gaps AND cv below `cvThreshold`). The standard first
    * pass when cleaning engagement data a model would otherwise
    * learn from.
    *
    * Determinism: timestamps floor to whole epoch seconds, gaps and
    * their squares are exact integer sums (population variance via
    * (g·Σx² − (Σx)²)/g²), sqrt is IEEE correctly-rounded (engines
    * agree bit-for-bit, unlike log/pow), divisions pinned, rounded
    * once at 1e-4. Gap order rides (second, event_id) — total.
    *
    * Scale shape: one per-user ordered lag window (bounded per-key
    * cardinality, the q133 delta-features shape) + one combinable
    * per-user aggregation; output is user-domain-sized. */
  def botScore(events: DataFrame, userCol: String = "user_id",
               tsCol: String = "ts", idCol: String = "event_id",
               minGaps: Int = 5, cvThreshold: Double = 0.1): DataFrame = {
    require(minGaps >= 1, s"minGaps must be >= 1, got $minGaps")
    val sec = sf.expr(s"unix_micros($tsCol) div 1000000L")
    val w = Window.partitionBy(userCol).orderBy("sec", idCol)
    val gaps = events.filter(sf.col(tsCol).isNotNull)
      .select(sf.col(userCol), sf.col(idCol), sec.as("sec"))
      .withColumn("prev", sf.lag("sec", 1).over(w))
      .withColumn("gap", sf.col("sec") - sf.col("prev"))
    val agg = gaps.groupBy(userCol)
      .agg(sf.count(sf.lit(1)).as("n_events"),
        (sf.max("sec") - sf.min("sec")).as("span_s"),
        sf.count("gap").as("n_gaps"),
        sf.sum("gap").as("gs"),
        sf.sum(sf.col("gap") * sf.col("gap")).as("gss"))
    val ng = sf.col("n_gaps").cast("double")
    val mean = sf.col("gs").cast("double") / ng
    val varG = (ng * sf.col("gss").cast("double") -
      sf.col("gs").cast("double") * sf.col("gs").cast("double")) / (ng * ng)
    val cv = sf.sqrt(varG) / mean
    agg.filter(sf.col("n_gaps") >= 1)
      .select(sf.col(userCol), sf.col("n_events"), sf.col("span_s"),
        sf.col("n_gaps"),
        gf.roundAt(mean, 4).as("mean_gap_s"),
        sf.when(sf.col("gs") > 0, gf.roundAt(cv, 4)).as("cv_gap"),
        (sf.col("n_gaps") >= minGaps && sf.col("gs") > 0 &&
          cv < cvThreshold).as("bot_like"))
      .orderBy(userCol)
  }

  /** CUSUM change-point detection per event type over the gap-filled
    * series: the split i maximizing |n·S_i − i·S_n| (the integer-exact
    * scaling of the classic max-CUSUM deviation |S_i − (i/n)·S_n|) —
    * "when did this event stream's rate shift", the monitoring
    * follow-up to [[bursts]] (bursts find spikes, this finds the
    * level shift). Gap bins count as zero activity via [[denseSeries]]
    * — a stream that stops IS a change.
    *
    * Determinism: counts and prefix sums are exact integers, the
    * statistic is integer arithmetic, argmax ties break to the
    * earliest bin; the two segment means are the only doubles,
    * rounded once at 1e-4. Candidate splits run i = 1..n−1 (a "split"
    * at n is no split).
    *
    * Scale shape: rides denseSeries (chunked grid, maxBins-guarded);
    * prefix sums are per-type ordered windows (the q137 bursts shape —
    * partitioned, never global), then ONE combinable max(struct)
    * argmax per type; output is type-domain-sized. */
  def changePoint(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", valueCol: String = "value",
                  binSec: Long = 3600): DataFrame = {
    val series = denseSeries(events, typeCol, tsCol, valueCol, binSec)
      .select(sf.col(typeCol), sf.col("bin"), sf.col("n_events").as("v"))
    val ord = Window.partitionBy(typeCol).orderBy("bin")
    val cum = Window.partitionBy(typeCol).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(typeCol)
    val w = series
      .withColumn("rn", sf.row_number().over(ord).cast("long"))
      .withColumn("s", sf.sum("v").over(cum))
      .withColumn("n", sf.count(sf.lit(1)).over(whole))
      .withColumn("sn", sf.sum("v").over(whole))
    val d = sf.abs(sf.col("n") * sf.col("s") - sf.col("rn") * sf.col("sn"))
    val winner = w.filter(sf.col("rn") < sf.col("n"))
      .select(sf.col(typeCol), d.as("d"), sf.negate(sf.col("bin")).as("nb"),
        sf.col("rn"), sf.col("s"), sf.col("n"), sf.col("sn"))
      .groupBy(typeCol)
      .agg(sf.max(sf.struct(sf.col("d"), sf.col("nb"), sf.col("rn"),
        sf.col("s"), sf.col("n"), sf.col("sn"))).as("m"))
    winner.select(sf.col(typeCol),
        sf.col("m.n").as("n_bins"),
        sf.date_format(sf.timestamp_micros(sf.negate(sf.col("m.nb")) *
          (binSec * 1000000L)), "yyyy-MM-dd HH:mm").as("change_start"),
        sf.col("m.d").as("d_max"),
        gf.roundAt(sf.col("m.s").cast("double") / sf.col("m.rn").cast("double"), 4)
          .as("mean_before"),
        gf.roundAt((sf.col("m.sn") - sf.col("m.s")).cast("double") /
          (sf.col("m.n") - sf.col("m.rn")).cast("double"), 4).as("mean_after"))
      .orderBy(typeCol)
  }

  /** Incremental aggregate-state maintenance — the materialized-view
    * pattern that makes 100 TB metrics affordable: keep per-key
    * ALGEBRAIC state (count, non-null count, fixed-point sum, min,
    * max), and on new data merge yesterday's state with the
    * delta's state instead of recomputing from the full history.
    * [[aggState]] builds state from raw events (values on the 1e-4
    * fixed-point grid, so sums are exact integers and merge order
    * can't drift them); [[mergeAggStates]] merges any number of state
    * frames (count/sum add, min/max combine — the semigroup);
    * [[readAggState]] derives the presentation row (double sum/min/
    * max/mean) at read time. merge(aggState(A), aggState(B)) equals
    * aggState(A UNION B) by construction — the q184 changeset-apply
    * identity, for aggregates.
    *
    * Scale shape: state building is ONE map-side-combinable groupBy
    * (state rows = |keys|, not |events|); the merge shuffles only
    * state rows — delta-sized work per refresh, the whole point. */
  def aggState(events: DataFrame, keyCols: Seq[String] = Seq("user_id", "event_type"),
               valueCol: String = "value"): DataFrame = {
    val v4 = sf.when(sf.col(valueCol).isNotNull,
      sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long"))
    events.groupBy(keyCols.map(sf.col): _*)
      .agg(sf.count(sf.lit(1)).as("n_rows"),
        sf.count(sf.col(valueCol)).as("n_vals"),
        sf.sum(v4).as("sum4"), sf.min(v4).as("min4"), sf.max(v4).as("max4"))
  }

  def mergeAggStates(states: Seq[DataFrame],
                     keyCols: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    require(states.nonEmpty, "mergeAggStates: need at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(keyCols.map(sf.col): _*)
      .agg(sf.sum("n_rows").as("n_rows"), sf.sum("n_vals").as("n_vals"),
        sf.sum("sum4").as("sum4"), sf.min("min4").as("min4"),
        sf.max("max4").as("max4"))
  }

  def readAggState(state: DataFrame,
                   keyCols: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    val d = sf.col("sum4").cast("double") / 1e4
    state.select(keyCols.map(sf.col) ++ Seq(
        sf.col("n_rows"), sf.col("n_vals"),
        gf.roundAt(d, 4).as("sum_v"),
        gf.roundAt(sf.col("min4").cast("double") / 1e4, 4).as("min_v"),
        gf.roundAt(sf.col("max4").cast("double") / 1e4, 4).as("max_v"),
        sf.when(sf.col("n_vals") > 0,
          gf.roundAt(d / sf.col("n_vals").cast("double"), 4)).as("mean_v")): _*)
      .orderBy(keyCols.map(sf.col): _*)
  }

  def latestSnapshot(events: DataFrame, keyCol: String = "user_id",
                     tsCol: String = "ts", idCol: String = "event_id",
                     payloadCols: Seq[String] = Seq("event_type", "value")): DataFrame = {
    val winner = sf.max(sf.struct((Seq(tsCol, idCol) ++ payloadCols).map(sf.col): _*))
    events.groupBy(sf.col(keyCol))
      .agg(winner.as("__w"))
      .select(sf.col(keyCol) +:
        (Seq(tsCol, idCol) ++ payloadCols).map(c => sf.col(s"__w.$c").as(c)): _*)
      .orderBy(keyCol)
  }

  /** Markov-chain attribution via REMOVAL EFFECTS (Anderl et al. 2016
    * — the principled multi-touch model the heuristic splits
    * approximate: q117 divides credit evenly, q195 by position; this
    * one asks the counterfactual "how much conversion DISAPPEARS if
    * channel c stops working?"). Journeys are per-user event-type
    * sequences truncated at the first `convType` (absorbed to CONV;
    * journeys without one absorb to NULL); first-order transition
    * counts define the chain; conversion probability from START is
    * computed by `rounds` bounded propagation steps, then re-computed
    * with each channel's state pinned to 0 (paths through it fail —
    * the removal semantics). Share_c ∝ p_base − p_removed(c).
    *
    * Determinism: the recurrence runs in exact 1e9 fixed-point longs —
    * p'(s) = (Σ_d c(s,d)·p(d)) div total(s), floor division each
    * round — replayed verbatim by the unrolled SQL oracle; final
    * ratios are pinned double divisions of exact integers snapped
    * 1e-6. A FIXED round count (the q119 convention) keeps the result
    * a pure function of the data; 12 rounds bound journey depth far
    * beyond real funnels.
    *
    * Scale shape: journey construction is two user-partitioned windows
    * + one map-side-combined groupBy; the chain itself is a BOUNDED
    * domain — (channels+3)² transition cells — so the 5 recurrence
    * runs are driver arithmetic on a collected table (the PCA d×d
    * codebook convention; the collect is channel-domain-sized, never
    * event-sized). */
  def markovAttribution(events: DataFrame, rounds: Int = 12,
                        keyCol: String = "user_id", typeCol: String = "event_type",
                        tsCol: String = "ts", idCol: String = "event_id",
                        convType: String = "purchase"): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = events.sparkSession
    import spark.implicits._
    // The transition table collected below is (|channels|+3)^2 cells —
    // fine for marketing-channel domains, a silent driver OOM for a
    // high-cardinality type column. Probe the cardinality with a
    // limit(cap+1) count (map-side-combinable distinct, stops scanning
    // once cap+1 values exist) and fail actionably instead.
    val maxChannels = 2048
    val nTypes = events.filter(sf.col(typeCol).isNotNull)
      .select(typeCol).distinct().limit(maxChannels + 1).count()
    require(nTypes <= maxChannels,
      s"markovAttribution collects a (|channels|+3)^2 transition table on " +
      s"the driver, but '$typeCol' has more than $maxChannels distinct " +
      s"values; coarsen/bucket the channel column before attribution")
    val SCALE = 1000000000L
    val w = Window.partitionBy("__u").orderBy(sf.col("__ts"), sf.col("__id"))
    val uw = Window.partitionBy("__u")
    val base = events
      .filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull &&
        sf.col(idCol).isNotNull && sf.col(typeCol).isNotNull)
      .select(sf.col(keyCol).as("__u"), sf.col(tsCol).as("__ts"),
        sf.col(idCol).as("__id"), sf.col(typeCol).as("__t"))
      .withColumn("__rn", sf.row_number().over(w))
      .withColumn("__fp",
        sf.min(sf.when(sf.col("__t") === convType, sf.col("__rn"))).over(uw))
      .withColumn("__mx", sf.max("__rn").over(uw))
    val kept = base
      .filter(sf.col("__rn") <= sf.coalesce(sf.col("__fp"), sf.lit(Int.MaxValue)))
      .withColumn("__s",
        sf.when(sf.col("__t") === convType, "CONV").otherwise(sf.col("__t")))
    val kw = Window.partitionBy("__u").orderBy("__rn")
    val trans = kept
      .select(sf.coalesce(sf.lag("__s", 1).over(kw), sf.lit("START")).as("src"),
        sf.col("__s").as("dst"))
      .union(kept.filter(sf.col("__fp").isNull && sf.col("__rn") === sf.col("__mx"))
        .select(sf.col("__s").as("src"), sf.lit("NULL").as("dst")))
    val cells = trans.groupBy("src", "dst").agg(sf.count(sf.lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = cells.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val states = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
    val channels = states.filterNot(Set("START", "CONV", "NULL")).sorted
    def converge(removed: Option[String]): Long = {
      var p = states.map(s => s -> (if (s == "CONV") SCALE else 0L)).toMap
      for (_ <- 1 to rounds) {
        p = states.map { s =>
          val v =
            if (s == "CONV") SCALE
            else if (s == "NULL" || removed.contains(s)) 0L
            else {
              val num = cells.iterator.filter(_._1 == s)
                .map { case (_, d, c) => c * p(d) }.sum
              val t = totals.getOrElse(s, 0L)
              if (t == 0) 0L else num / t
            }
          s -> v
        }.toMap
      }
      p.getOrElse("START", 0L)
    }
    val pb = converge(None)
    val effects = channels.map(ch => ch -> (pb - converge(Some(ch))))
    val se = effects.map(_._2).sum
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    effects.toSeq.map { case (ch, eff) =>
      val pc = pb - eff
      (ch, r6(pb.toDouble / 1e9), r6(pc.toDouble / 1e9),
        if (pb > 0) Some(r6(eff.toDouble / pb.toDouble)) else None,
        if (se > 0) Some(r6(eff.toDouble / se.toDouble)) else None)
    }.toDF("channel", "p_base", "p_removed", "removal_effect", "share")
      .orderBy("channel")
  }

  /** CUPED variance-reduced A/B readout (Deng et al. 2013, WSDM — the
    * industry-standard experiment adjustment): use each user's
    * PRE-period metric X as a control covariate for the experiment
    * metric Y, reporting the adjusted lift alongside q99's raw lift
    * and ρ² — the variance-reduction fraction, i.e. how much smaller
    * an experiment this adjustment buys. Per user, X = value sum
    * before `cutoff`, Y = after (a user with no pre-period activity
    * carries a REAL zero, not a missing value); θ = cov(X,Y)/var(X)
    * pooled across both variants (the standard, variant-blind
    * estimator), and the user-level adjustment collapses algebraically
    * to the variant means: lift_adj = (ȳ_B−θx̄_B) − (ȳ_A−θx̄_A) — so
    * NO second pass over users is needed.
    *
    * Determinism: per-user sums are exact 1e4 fixed-point decimals;
    * θ's numerator/denominators are exact decimal(38) assemblies
    * (n·Sxy−SxSy etc.) converted to double ONCE; ρ² is pinned as
    * (num/den1)·(num/den2) — no decimal squaring to overflow, no
    * sqrt; outputs rounded 1e-6. Zero-variance X yields NULL θ/ρ².
    *
    * Scale shape: one map-side-combined groupBy(user), then two
    * one-row aggregates over the user table (pooled moments + variant
    * cells) broadcast-crossed. Never sorts, never windows. */
  def cupedLift(events: DataFrame, cutoff: String,
                keyCol: String = "user_id", valueCol: String = "value",
                tsCol: String = "ts"): DataFrame = {
    val cut = sf.lit(cutoff).cast("timestamp")
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val per = events
      .filter(sf.col(keyCol).isNotNull && sf.col(valueCol).isNotNull &&
        sf.col(tsCol).isNotNull)
      .select(sf.col(keyCol).as("__u"),
        sf.when(sf.col(tsCol) < cut, v4).otherwise(0L).as("__p"),
        sf.when(sf.col(tsCol) >= cut, v4).otherwise(0L).as("__q"))
      .groupBy("__u")
      .agg(sf.sum(dec(sf.col("__p"))).as("x4"), sf.sum(dec(sf.col("__q"))).as("y4"))
      .withColumn("ga", Sampling.hashBucket(sf.col("__u")) < 5000)
      .localCheckpoint(true)
    val m = per.agg(sf.count(sf.lit(1)).as("n"),
      sf.sum("x4").as("sx"), sf.sum("y4").as("sy"),
      sf.sum(sf.col("x4") * sf.col("y4")).as("sxy"),
      sf.sum(sf.col("x4") * sf.col("x4")).as("sxx"),
      sf.sum(sf.col("y4") * sf.col("y4")).as("syy"))
    val v = per.agg(
      sf.sum(sf.when(sf.col("ga"), 1L).otherwise(0L)).as("na"),
      sf.sum(sf.when(sf.col("ga"), sf.col("x4"))).as("xa"),
      sf.sum(sf.when(sf.col("ga"), sf.col("y4"))).as("ya"),
      sf.sum(sf.when(!sf.col("ga"), 1L).otherwise(0L)).as("nb"),
      sf.sum(sf.when(!sf.col("ga"), sf.col("x4"))).as("xb"),
      sf.sum(sf.when(!sf.col("ga"), sf.col("y4"))).as("yb"))
    val num = (dec(sf.col("n")) * sf.col("sxy") - sf.col("sx") * sf.col("sy"))
      .cast("double")
    val den1 = (dec(sf.col("n")) * sf.col("sxx") - sf.col("sx") * sf.col("sx"))
      .cast("double")
    val den2 = (dec(sf.col("n")) * sf.col("syy") - sf.col("sy") * sf.col("sy"))
      .cast("double")
    def mean(s: String, cnt: String) =
      sf.col(s).cast("double") / 1e4 / sf.col(cnt).cast("double")
    val theta = num / den1
    val bothV = sf.col("na") > 0 && sf.col("nb") > 0
    m.crossJoin(sf.broadcast(v))
      .select(sf.col("n").cast("long").as("n_users"),
        sf.col("na").cast("long").as("n_a"), sf.col("nb").cast("long").as("n_b"),
        sf.when(den1 =!= 0.0, gf.roundAt(theta, 6)).as("theta"),
        sf.when(sf.col("na") > 0, gf.roundAt(mean("ya", "na"), 6)).as("mean_a"),
        sf.when(sf.col("nb") > 0, gf.roundAt(mean("yb", "nb"), 6)).as("mean_b"),
        sf.when(bothV, gf.roundAt(mean("yb", "nb") - mean("ya", "na"), 6))
          .as("lift_raw"),
        sf.when(bothV && den1 =!= 0.0, gf.roundAt(
          (mean("yb", "nb") - theta * mean("xb", "nb")) -
            (mean("ya", "na") - theta * mean("xa", "na")), 6)).as("lift_adj"),
        sf.when(den1 =!= 0.0 && den2 =!= 0.0,
          gf.roundAt((num / den1) * (num / den2), 6)).as("rho2"))
  }

  /** Difference-in-differences estimator (the two-period, two-group
    * workhorse of quasi-experimental readouts): DiD =
    * (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) — the
    * causal-ish lift number when assignment wasn't randomized but a
    * PRE period exists (a rollout hit half the fleet at `cutoff`: raw
    * post-period comparison confounds with group level differences;
    * DiD nets them out under the parallel-trends assumption, which is
    * the documented model caveat). Completes the experimentation
    * family: [[abLift]] is the randomized case, [[cupedLift]] the
    * variance-reduced randomized case, DiD the non-randomized one.
    *
    * Inference: the standard unpooled SE over the four cell means,
    * SE² = Σ_cells s²/n with s² the exact-moment sample variance —
    * printed beside t = DiD/SE.
    *
    * Determinism: values snap to the 1e-4 grid; each cell carries
    * exact (n, Σv4, Σv4²) with squares in DECIMAL(38,0); means,
    * variances, DiD, SE, and t are single pinned double assemblies
    * rounded 1e-6. An empty cell → NULL DiD; any cell with n < 2 or a
    * zero SE → NULL t.
    *
    * Scale shape: ONE map-side-combinable aggregation producing the
    * four (group, period) cells (12 sums per map task) + a one-row
    * finish. Zero joins, zero windows, zero shuffled data rows. */
  def diffInDiff(events: DataFrame, cutoff: String,
                 treatPred: Column => Column,
                 keyCol: String = "user_id", valueCol: String = "value",
                 tsCol: String = "ts"): DataFrame = {
    val cut = sf.lit(cutoff).cast("timestamp")
    val v4 = sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
    val base = events
      .filter(sf.col(keyCol).isNotNull && sf.col(valueCol).isNotNull &&
        sf.col(tsCol).isNotNull)
      .select(treatPred(sf.col(keyCol)).as("__t"),
        (sf.col(tsCol) >= cut).as("__p"), v4.as("__v"))
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sf.sum(sf.when(sf.col("__t") === t && sf.col("__p") === p, 1L)
        .otherwise(0L)).as(s"n_$suffix"),
      sf.sum(sf.when(sf.col("__t") === t && sf.col("__p") === p, sf.col("__v"))
        .otherwise(0L)).cast("long").as(s"__s_$suffix"),
      sf.sum(sf.when(sf.col("__t") === t && sf.col("__p") === p,
        dec(sf.col("__v")) * dec(sf.col("__v")))
        .otherwise(sf.lit(0).cast("decimal(38,0)"))).as(s"__q_$suffix"))
    val cols = cell(t = true, p = false, "t_pre") ++
      cell(t = true, p = true, "t_post") ++
      cell(t = false, p = false, "c_pre") ++
      cell(t = false, p = true, "c_post")
    val agg2 = base.agg(cols.head, cols.tail: _*)
    def m(s: String) = sf.col(s"__s_$s").cast("double") / 1e4 /
      sf.col(s"n_$s").cast("double")
    // guarded: the sum appears inside WHEN *predicates* (se2 > 0), so
    // an unguarded division would hit ANSI divide-by-zero on an empty
    // cell even though the output branch never fires
    def varOverN(s: String) = {
      val n = sf.col(s"n_$s").cast("double")
      val num = (dec(sf.col(s"n_$s")) * sf.col(s"__q_$s") -
        dec(sf.col(s"__s_$s")) * dec(sf.col(s"__s_$s"))).cast("double") / 1e8
      sf.when(sf.col(s"n_$s") >= 2, num / (n * (n - 1.0)) / n).otherwise(0.0)
    }
    val cells = Seq("t_pre", "t_post", "c_pre", "c_post")
    val allPresent = cells.map(s => sf.col(s"n_$s") > 0).reduce(_ && _)
    val allVar = cells.map(s => sf.col(s"n_$s") >= 2).reduce(_ && _)
    val did = (m("t_post") - m("t_pre")) - (m("c_post") - m("c_pre"))
    val se2 = cells.map(varOverN).reduce(_ + _)
    agg2.select(
      (cells.map(s => sf.col(s"n_$s")) ++
        cells.map(s => sf.when(sf.col(s"n_$s") > 0, gf.roundAt(m(s), 6))
          .as(s"mean_$s")) ++ Seq(
        sf.when(allPresent, gf.roundAt(did, 6)).as("did"),
        sf.when(allVar && se2 > 0.0, gf.roundAt(sf.sqrt(se2), 6)).as("se"),
        sf.when(allPresent && allVar && se2 > 0.0,
          gf.roundAt(did / sf.sqrt(se2), 6)).as("t_stat"))): _*)
  }

  /** Wald–Wolfowitz runs test (1940) per event type over the
    * gap-filled daily count series: is the sequence of above-/
    * below-median days RANDOM, or does it clump? Too FEW runs =
    * positive serial dependence (regime persistence, ramp, outage
    * streaks — the same clumping [[acf]] measures, but as a TEST with
    * a null distribution); too MANY runs = alternation (load
    * balancing flapping, day-parity artifacts). The companion the
    * trend/ACF estimators need: z = (R − μ)/σ with
    * μ = 1 + 2·n₁·n₂/(n₁+n₂) and
    * σ² = 2n₁n₂(2n₁n₂ − n₁ − n₂) / ((n₁+n₂)²(n₁+n₂ − 1)).
    *
    * Determinism: the per-type median is the NEAREST-RANK lower
    * median of the integer counts (cumulative-count threshold on the
    * compressed (type, count) domain — an actual data value, nothing
    * interpolated); bins equal to the median drop (the classical
    * convention); run/above/below counts are exact integers on the
    * (bin asc) total order; μ, σ², z are ONE pinned double assembly
    * (sqrt is IEEE correctly-rounded — engines agree), z rounded
    * 1e-6. Degenerate series (all-above, all-below, or n₁+n₂ < 2) →
    * NULL z.
    *
    * Scale shape: the grid lives on the (type, bin) DOMAIN (span
    * guard inherited from [[denseSeries]]); the median rides a
    * compressed (type, count)-domain cumulative window; the run scan
    * is one type-partitioned lag window over the grid. The raw event
    * stream is touched once. */
  def runsTest(events: DataFrame, typeCol: String = "event_type",
               tsCol: String = "ts", binSec: Long = 86400): DataFrame = {
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // median domain + sign stream both read it
    val dom = g.groupBy("t", "v").agg(sf.count(sf.lit(1)).as("c"))
    val cumW = Window.partitionBy("t").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = dom.groupBy("t").agg(sf.sum("c").cast("long").as("n"))
    val med = dom.withColumn("cum", sf.sum("c").over(cumW))
      .join(tot, "t")
      .filter(sf.col("cum") >= sf.expr("(n + 1) div 2"))
      .groupBy("t").agg(sf.min("v").as("med"))
    val lw = Window.partitionBy("t").orderBy("bin")
    val signed = g.join(med, "t").filter(sf.col("v") =!= sf.col("med"))
      .select(sf.col("t"), sf.col("bin"),
        (sf.col("v") > sf.col("med")).cast("long").as("s"))
    val counts = signed
      .select(sf.col("t"), sf.col("s"), sf.lag("s", 1).over(lw).as("p"))
      .groupBy("t")
      .agg(sf.sum(sf.when(sf.col("p").isNull || sf.col("p") =!= sf.col("s"), 1L)
          .otherwise(0L)).cast("long").as("n_runs"),
        sf.sum("s").cast("long").as("n_above"),
        sf.sum(sf.lit(1L) - sf.col("s")).cast("long").as("n_below"))
    val n1 = sf.col("n_above").cast("double")
    val n2 = sf.col("n_below").cast("double")
    val nn = n1 + n2
    val two = sf.lit(2.0)
    val mu = sf.lit(1.0) + two * n1 * n2 / nn
    val sig2 = (two * n1 * n2) * (two * n1 * n2 - n1 - n2) /
      (nn * nn * (nn - 1.0))
    counts.select(sf.col("t").as(typeCol), sf.col("n_above"),
        sf.col("n_below"), sf.col("n_runs"),
        sf.when(sf.col("n_above") > 0 && sf.col("n_below") > 0 &&
            sf.col("n_above") + sf.col("n_below") > 1 && sig2 > 0,
          gf.roundAt((sf.col("n_runs").cast("double") - mu) / sf.sqrt(sig2), 6))
          .as("z"))
      .orderBy(typeCol)
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975) per event type
    * over the gap-filled daily series — the TEST that belongs next to
    * [[theilSenTrend]]'s slope ESTIMATE (the classic pairing in every
    * environmental/ops monitoring stack): S = Σ_{i<j} sign(x_j − x_i)
    * counts concordant-minus-discordant day pairs, so it detects ANY
    * monotone drift with no linearity or distribution assumption, and
    * the tie-corrected normal approximation gives the significance the
    * slope alone can't: Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18
    * over tie groups, z = (S∓1)/√Var with the ±1 continuity
    * correction, z = 0 at S = 0.
    *
    * Determinism: S and the tie term are exact integers (pairs on the
    * dense grid's (bin asc) total order; missing days count 0 — same
    * contract as [[theilSenTrend]]); Var and z are ONE pinned double
    * assembly (sqrt IEEE-exact) rounded 1e-6; n < 2 or Var <= 0 →
    * NULL z.
    *
    * Scale shape: the O(bins²) pair join lives on the (type, bin)
    * DOMAIN (span-guarded by [[denseSeries]]), never the raw stream —
    * the theilSen shape exactly; ties reduce on the compressed
    * (type, count) domain; one-row-per-type finish. */
  def mannKendall(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", binSec: Long = 86400): DataFrame = {
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // both pair sides + ties read it
    val a = g.select(sf.col("t"), sf.col("bin").as("ba"), sf.col("v").as("va"))
    val b = g.select(sf.col("t").as("tb"), sf.col("bin").as("bb"), sf.col("v").as("vb"))
    val s = a.join(b, sf.col("t") === sf.col("tb") && sf.col("ba") < sf.col("bb"))
      .groupBy("t")
      .agg(sf.sum(sf.signum(sf.col("vb") - sf.col("va")).cast("long"))
        .cast("long").as("s_stat"))
    val ties = g.groupBy("t", "v").agg(sf.count(sf.lit(1)).as("tg"))
      .groupBy("t")
      .agg(sf.sum(sf.expr("tg * (tg - 1) * (2 * tg + 5)")).cast("long").as("tie"),
        sf.sum("tg").cast("long").as("n"))
    val nD = sf.col("n").cast("double")
    val varS = (nD * (nD - 1.0) * (nD * 2.0 + 5.0) -
      sf.col("tie").cast("double")) / 18.0
    val sD = sf.col("s_stat").cast("double")
    val zNum = sf.when(sf.col("s_stat") > 0, sD - 1.0)
      .when(sf.col("s_stat") < 0, sD + 1.0).otherwise(0.0)
    s.join(ties, "t")
      .select(sf.col("t").as(typeCol), sf.col("n").as("n_bins"),
        sf.col("s_stat"),
        sf.when(sf.col("n") >= 2 && varS > 0,
          gf.roundAt(zNum / sf.sqrt(varS), 6)).as("z"))
      .orderBy(typeCol)
  }

  /** Candidate-period periodogram per event type over the
    * [[denseSeries]] gap-filled grid (Schuster 1898): for each period
    * p in [minPeriod, maxPeriod] bins, the spectral power of the
    * MEAN-CENTERED count series at frequency 1/p — C_p² + S_p² with
    * C_p = Σ(x_b−μ)cos(2πb/p), S_p the sine twin — plus each
    * period's SHARE of the candidate-band energy. The "is there a
    * weekly cycle, and how dominant is it" reading that
    * [[seasonalAnomalies]]' fixed (type, hour) baseline assumes
    * rather than tests, and the period picker for its slot width;
    * share concentrated at one p = strong cadence (also a bot/cron
    * signature per type), spread flat = no cycle in the band.
    *
    * Determinism: the grid is zero-filled ([[denseSeries]]); centered
    * residuals enter as the EXACT integers B·x_b − Σx (scaled by B,
    * divided back out in the finish); cos/sin of 2π(b mod p)/p snap
    * to the 1e-9 grid so the projections are exact DECIMAL(38,0)
    * sums; power assembles pinned per (type, period) row and snaps to
    * the INTEGER grid (counts² units — sub-integer precision is
    * noise) before the cross-period share division. A flat series has
    * zero power everywhere → NULL shares.
    *
    * Scale shape: the chunked grid build (q130 machinery) + one
    * broadcast per-type stats row + a bounded (maxPeriod−minPeriod+1)-
    * way projection fan-out + ONE map-side-combined (type, period)
    * reduction; the share join rides the (types × periods) domain.
    * No window functions, no per-series sort. */
  def periodogram(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", binSec: Long = 86400,
                  minPeriod: Int = 2, maxPeriod: Int = 14): DataFrame = {
    require(minPeriod >= 2, s"minPeriod must be >= 2, got $minPeriod")
    require(maxPeriod >= minPeriod && maxPeriod <= 1000,
      s"maxPeriod must be in [minPeriod, 1000], got $maxPeriod")
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("x"))
      .localCheckpoint(true) // per-type stats + the projection read it
    val st = g.groupBy("t").agg(sf.min("bin").as("__b0"),
      sf.count(sf.lit(1)).as("__bb"), sf.sum("x").as("__sx"))
    val based = g.join(sf.broadcast(st), "t")
      .select(sf.col("t"), (sf.col("bin") - sf.col("__b0")).as("__b"),
        (sf.col("__bb") * sf.col("x") - sf.col("__sx")).as("__y"),
        sf.col("__bb"))
    val ang = sf.lit(2 * math.Pi) *
      sf.pmod(sf.col("__b"), sf.col("period").cast("long")).cast("double") /
      sf.col("period").cast("double")
    def snap9(c: Column) = sf.floor(c * 1e9 + 0.5).cast("long")
    val agg = based
      .select(sf.col("t"), sf.col("__b"), sf.col("__y"), sf.col("__bb"),
        sf.explode(sf.lit((minPeriod to maxPeriod).toArray)).as("period"))
      .select(sf.col("t"), sf.col("period"), sf.col("__bb"),
        (dec(sf.col("__y")) * dec(snap9(sf.cos(ang)))).as("__cy"),
        (dec(sf.col("__y")) * dec(snap9(sf.sin(ang)))).as("__sy"))
      .groupBy("t", "period", "__bb")
      .agg(sf.sum("__cy").as("__c"), sf.sum("__sy").as("__s"))
    val cD = sf.col("__c").cast("double") / 1e9 / sf.col("__bb").cast("double")
    val sD = sf.col("__s").cast("double") / 1e9 / sf.col("__bb").cast("double")
    val withP = agg.select(sf.col("t"), sf.col("period"),
      sf.floor(cD * cD + sD * sD + 0.5).cast("long").as("power"))
    val tot = withP.groupBy("t").agg(sf.sum("power").as("__tot"))
    withP.join(sf.broadcast(tot), "t")
      .select(sf.col("t").as(typeCol), sf.col("period"), sf.col("power"),
        sf.when(sf.col("__tot") > 0, gf.roundAt(
          sf.col("power").cast("double") / sf.col("__tot").cast("double"), 6))
          .as("share"))
      .orderBy(typeCol, "period")
  }

  /** Seasonal-naive forecast backtest per event type: MASE (Hyndman &
    * Koehler 2006) and sMAPE of the forecast f_t = v_{t−season} over
    * the gap-filled hourly count grid — "would the obvious seasonal
    * forecaster have worked on this stream", the capacity-planning /
    * alerting-threshold readout that closes the loop the q121 seasonal
    * baseline and q263 periodogram open: MASE < 1 means the seasonal
    * pattern beats even the in-sample naive step forecast (real,
    * exploitable seasonality); MASE ≳ 1 says the q121 baseline is
    * decoration. MASE is THE scale-free forecast error (sMAPE's
    * known zero-region pathology is why both are printed).
    *
    * Determinism: counts are exact integers, so Σ|v_t − f_t| and the
    * naive-walk scale Σ|v_t − v_{t−1}| are exact longs and
    * MASE = (Σ|e|·n_naive)/(Σ|d|·n_fore) is ONE pinned division of
    * DECIMAL(38,0) cross-products rounded 1e-6 (all-flat series — zero
    * naive denominator — yields NULL); each sMAPE term 2|v−f|/(v+f)
    * snaps to the 1e-9 integer grid BEFORE the unordered mean (the
    * snap-then-sum convention), both-zero terms are 0 by the standard
    * convention.
    *
    * Scale shape: the grid builds once (chunked, the q130 machinery)
    * and checkpoints; the season lag and the step lag are each ONE
    * (type, bin) equi join on the dense grid — no window, no
    * per-series sort; both reductions are map-side combinable. */
  def forecastBacktest(events: DataFrame, season: Int = 24,
                       binSec: Long = 3600): DataFrame = {
    require(season >= 1 && season <= 10000, s"season must be in [1, 1e4], got $season")
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // both lag joins + both sides read it
    def lagJoin(lag: Int) = g
      .join(g.select(sf.col("t"), (sf.col("bin") + lag).as("bin"),
        sf.col("v").as("vl")), Seq("t", "bin"))
    val naive = lagJoin(1)
      .groupBy("t").agg(sf.sum(sf.abs(sf.col("v") - sf.col("vl"))).as("__sd"),
        sf.count(sf.lit(1)).as("n_naive"))
    val term9 = sf.when(sf.col("v") + sf.col("vl") === 0, 0L)
      .otherwise(sf.floor(sf.lit(2.0) *
        sf.abs(sf.col("v") - sf.col("vl")).cast("double") /
        (sf.col("v") + sf.col("vl")).cast("double") * 1e9 + 0.5).cast("long"))
    val fore = lagJoin(season)
      .select(sf.col("t"), sf.abs(sf.col("v") - sf.col("vl")).as("__ae"),
        term9.as("__t9"))
      .groupBy("t").agg(sf.sum("__ae").as("__se"),
        sf.count(sf.lit(1)).as("n_forecasts"), sf.sum("__t9").as("__st9"))
    fore.join(naive, "t")
      .select(sf.col("t").as("event_type"), sf.col("n_naive"),
        sf.col("n_forecasts"),
        gf.roundAt(sf.col("__se").cast("double") /
          sf.col("n_forecasts").cast("double"), 6).as("mae"),
        sf.when(sf.col("__sd") > 0, gf.roundAt(
          (dec(sf.col("__se")) * dec(sf.col("n_naive"))).cast("double") /
            (dec(sf.col("__sd")) * dec(sf.col("n_forecasts"))).cast("double"), 6))
          .as("mase"),
        gf.roundAt(sf.col("__st9").cast("double") / 1e9 /
          sf.col("n_forecasts").cast("double"), 6).as("smape"))
      .orderBy("event_type")
  }

  /** Strength of seasonality per event type (Hyndman's STL-strength
    * reading, F_s = max(0, 1 − Var(remainder)/Var(detrended)), over a
    * classical decomposition of the gap-filled count grid: linear
    * trend (exact-moment OLS), seasonal component = per-(type,
    * bin mod period) mean of the detrended series, remainder what's
    * left — the NUMBER that says whether the q121 fixed seasonal
    * baseline is justified (F_s near 1) or fitting noise (near 0),
    * where the q263 periodogram says only that SOME period stands out.
    *
    * Determinism: the trend replays [[durbinWatson]]'s pinned
    * 1e-9-snapped coefficients; detrended values snap to the 1e-9
    * integer grid, seasonal means snap via floor(Σd9/n + 0.5) (IEEE
    * division), so remainders are exact integers and both population
    * variances are single-row DECIMAL(38,0) assemblies n·Σx² − (Σx)²;
    * F_s is ONE pinned double assembly rounded 1e-6; a constant
    * (zero-variance) detrended series yields NULL, a type with < 3
    * grid bins emits no row (no trend to fit).
    *
    * Scale shape: the checkpointed grid + broadcast per-type moments +
    * one (type, phase)-keyed mean (period-bounded domain) + one
    * phase-attach equi join + combinable variance rollups. No windows,
    * no per-series sort. */
  def seasonalStrength(events: DataFrame, period: Int = 24,
                       binSec: Long = 3600): DataFrame = {
    require(period >= 2 && period <= 10000, s"period must be in [2, 1e4], got $period")
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val mins = g.groupBy("t").agg(sf.min("bin").as("b0"))
    val mom = g.join(mins, "t")
      .select(sf.col("t"), (sf.col("bin") - sf.col("b0")).as("x"), sf.col("v"))
      .groupBy("t").agg(
        sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("__sxx"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("v"))).as("__sxy"),
        sf.sum(dec(sf.col("x"))).as("__sx"), sf.sum(dec(sf.col("v"))).as("__sy"),
        sf.count(sf.lit(1)).as("n"))
      .filter(sf.col("n") >= 3)
    val nD = sf.col("n").cast("double")
    val sx = sf.col("__sx").cast("double")
    val sy = sf.col("__sy").cast("double")
    val den = nD * sf.col("__sxx").cast("double") - sx * sx
    val slope = (nD * sf.col("__sxy").cast("double") - sx * sy) / den
    val fit = mom.filter(den > 0.0)
      .select(sf.col("t"), sf.col("n"), gf.roundAt(slope, 9).as("beta"),
        gf.roundAt((sy - slope * sx) / nD, 9).as("alpha"))
    val detr = g.join(mins, "t").join(fit, "t")
      .select(sf.col("t"), sf.col("n"),
        sf.pmod(sf.col("bin"), sf.lit(period.toLong)).as("ph"),
        sf.floor((sf.col("v").cast("double") -
          (sf.col("alpha") + sf.col("beta") *
            (sf.col("bin") - sf.col("b0")).cast("double"))) * 1e9 + 0.5)
          .cast("long").as("d9"))
      .localCheckpoint(true) // seasonal means + remainder both read it
    val seas = detr.groupBy("t", "ph")
      .agg(sf.floor(sf.sum("d9").cast("double") /
        sf.count(sf.lit(1)).cast("double") + 0.5).cast("long").as("m9"))
    val joined = detr.join(seas, Seq("t", "ph"))
      .select(sf.col("t"), sf.col("n"), sf.col("d9"),
        (sf.col("d9") - sf.col("m9")).as("r9"))
    joined.groupBy("t")
      .agg(sf.max("n").as("n_bins"),
        sf.sum(dec(sf.col("d9")) * dec(sf.col("d9"))).as("__dd"),
        sf.sum(dec(sf.col("d9"))).as("__ds"),
        sf.sum(dec(sf.col("r9")) * dec(sf.col("r9"))).as("__rr"),
        sf.sum(dec(sf.col("r9"))).as("__rs"),
        sf.count(sf.lit(1)).as("__m"))
      .select({
        val m = sf.col("__m").cast("double")
        val vd = m * sf.col("__dd").cast("double") -
          sf.col("__ds").cast("double") * sf.col("__ds").cast("double")
        val vr = m * sf.col("__rr").cast("double") -
          sf.col("__rs").cast("double") * sf.col("__rs").cast("double")
        Seq(sf.col("t").as("event_type"), sf.col("n_bins"),
          sf.when(vd > 0.0, gf.roundAt(
            sf.greatest(sf.lit(0.0), sf.lit(1.0) - vr / vd), 6))
            .as("seasonal_strength"))
      }: _*)
      .orderBy("event_type")
  }

  /** Classical additive seasonal decomposition per event type over the
    * [[denseSeries]] gap-filled count grid — the PER-BIN series
    * [[seasonalStrength]] collapses to one number: trend (exact-moment
    * OLS line), seasonal (per-(type, bin mod period) mean of the
    * detrended series), remainder (what's left), with
    * v = trend + seasonal + remainder holding EXACTLY on the snapped
    * 1e-9 grid by construction. The decomposed series is what
    * dashboards plot and what anomaly triage reads ("was the spike
    * trend, season, or residual?"); F_s (row 325's strength) tells
    * whether to trust the seasonal panel, this gives the panel itself.
    *
    * Determinism: IDENTICAL pinned chain to [[seasonalStrength]] —
    * alpha/beta 1e-9-snapped exact-moment OLS, detrended d9 =
    * ⌊(v − (α + β·x))·1e9 + 0.5⌋ exact longs, phase means m9 =
    * ⌊Σd9/n + 0.5⌋, remainder r9 = d9 − m9; outputs are the 1e-9
    * integers divided back out and snapped 1e-6. Types with < 3 bins
    * or a degenerate x-variance emit no rows (no trend to fit — same
    * contract as seasonalStrength).
    *
    * Scale shape: the checkpointed grid + one per-type moments rollup
    * (broadcast back) + one (type, phase) mean rollup (period-bounded
    * domain, broadcast back) — the corpus-sized grid is read twice
    * from its checkpoint and never sorted globally; output is
    * grid-sized, partition-parallel. */
  def seasonalDecompose(events: DataFrame, period: Int = 24,
                        binSec: Long = 3600): DataFrame = {
    require(period >= 2 && period <= 10000,
      s"period must be in [2, 1e4], got $period")
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // moments + detrend both read it
    val mins = g.groupBy("t").agg(sf.min("bin").as("b0"))
    val mom = g.join(mins, "t")
      .select(sf.col("t"), (sf.col("bin") - sf.col("b0")).as("x"), sf.col("v"))
      .groupBy("t").agg(
        sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("__sxx"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("v"))).as("__sxy"),
        sf.sum(dec(sf.col("x"))).as("__sx"), sf.sum(dec(sf.col("v"))).as("__sy"),
        sf.count(sf.lit(1)).as("n"))
      .filter(sf.col("n") >= 3)
    val nD = sf.col("n").cast("double")
    val sx = sf.col("__sx").cast("double")
    val sy = sf.col("__sy").cast("double")
    val den = nD * sf.col("__sxx").cast("double") - sx * sx
    val slope = (nD * sf.col("__sxy").cast("double") - sx * sy) / den
    val fit = mom.filter(den > 0.0)
      .select(sf.col("t"), gf.roundAt(slope, 9).as("beta"),
        gf.roundAt((sy - slope * sx) / nD, 9).as("alpha"))
    val detr = g.join(mins, "t").join(fit, "t")
      .select(sf.col("t"), sf.col("bin"), sf.col("v"),
        sf.pmod(sf.col("bin"), sf.lit(period.toLong)).as("ph"),
        (sf.col("alpha") + sf.col("beta") *
          (sf.col("bin") - sf.col("b0")).cast("double")).as("__tr"))
      .withColumn("d9", sf.floor((sf.col("v").cast("double") - sf.col("__tr"))
        * 1e9 + 0.5).cast("long"))
      .localCheckpoint(true) // phase means + output both read it
    val seas = detr.groupBy("t", "ph")
      .agg(sf.floor(sf.sum("d9").cast("double") /
        sf.count(sf.lit(1)).cast("double") + 0.5).cast("long").as("m9"))
    detr.join(seas, Seq("t", "ph"))
      .select(sf.col("t").as("event_type"), sf.col("bin"),
        sf.col("v").as("n_events"),
        gf.roundAt(sf.col("__tr"), 6).as("trend"),
        gf.roundAt(sf.col("m9").cast("double") / 1e9, 6).as("seasonal"),
        gf.roundAt((sf.col("d9") - sf.col("m9")).cast("double") / 1e9, 6)
          .as("remainder"))
      .orderBy("event_type", "bin")
  }

  /** Cross-correlation function between TWO event types' count series
    * over the shared gap-filled grid: ccf(k) = corr(x_t, y_{t+k}) for
    * k ∈ [−maxLag, maxLag] — the LEAD–LAG readout the per-series
    * [[acf]] can't give ("errors lead churn by two hours", "signups
    * trail campaigns by a day"): the peak's lag is the delay, its sign
    * says which series leads (positive k = x leads y). Standard
    * estimator: full-series means and scale in the denominator, the
    * lag-k product sum over the overlap.
    *
    * Determinism: both series share ONE global grid (identical n), so
    * centered values are the EXACT integers n·v − S; per-lag product
    * sums and both denominator sums accumulate as DECIMAL(38,0); each
    * ccf is ONE pinned sqrt division rounded 1e-6; a constant series
    * (zero variance) yields NULLs.
    *
    * Scale shape: the chunked grid + a bounded (2·maxLag+1)-way
    * fan-out + ONE bin equi join between the two series — the [[acf]]
    * shape with the self-join replaced by an x→y join. No windows, no
    * per-series sort. */
  def ccf(events: DataFrame, typeX: String, typeY: String,
          maxLag: Int = 6, binSec: Long = 3600): DataFrame = {
    require(maxLag >= 1 && maxLag <= 168, s"maxLag must be in [1, 168], got $maxLag")
    require(typeX != typeY, "ccf needs two distinct event types (use acf for one)")
    val g = denseSeries(events, binSec = binSec)
      .filter(sf.col("event_type").isin(typeX, typeY))
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // stats + both join sides read it
    val xs = g.filter(sf.col("t") === typeX).drop("t")
    val ys = g.filter(sf.col("t") === typeY).drop("t")
    def stats(s: DataFrame, p: String) = s.agg(
      sf.count(sf.lit(1)).as(s"n_$p"), sf.sum("v").cast("long").as(s"s_$p"))
    def den(s: DataFrame, p: String) = s
      .crossJoin(sf.broadcast(stats(s, p)))
      .agg(sf.sum((dec(sf.col(s"n_$p")) * dec(sf.col("v")) - dec(sf.col(s"s_$p"))) *
        (dec(sf.col(s"n_$p")) * dec(sf.col("v")) - dec(sf.col(s"s_$p"))))
        .as(s"den_$p"))
    val pairs = xs
      .withColumn("lag",
        sf.explode(sf.sequence(sf.lit(-maxLag.toLong), sf.lit(maxLag.toLong))))
      .select(sf.col("lag"), (sf.col("bin") + sf.col("lag")).as("bin"),
        sf.col("v").as("vx"))
      .join(ys.select(sf.col("bin"), sf.col("v").as("vy")), Seq("bin"))
    val num = pairs
      .crossJoin(sf.broadcast(stats(xs, "x"))).crossJoin(sf.broadcast(stats(ys, "y")))
      .select(sf.col("lag"),
        ((dec(sf.col("n_x")) * dec(sf.col("vx")) - dec(sf.col("s_x"))) *
          (dec(sf.col("n_y")) * dec(sf.col("vy")) - dec(sf.col("s_y")))).as("__p"))
      .groupBy("lag").agg(sf.sum("__p").as("num"))
    num.crossJoin(sf.broadcast(den(xs, "x"))).crossJoin(sf.broadcast(den(ys, "y")))
      .crossJoin(sf.broadcast(stats(xs, "x")))
      .select(sf.col("lag"), sf.col("n_x").as("n_bins"),
        sf.when(sf.col("den_x") > 0 && sf.col("den_y") > 0, gf.roundAt(
          sf.col("num").cast("double") /
            sf.sqrt(sf.col("den_x").cast("double") * sf.col("den_y").cast("double")),
          6)).as("ccf"))
      .orderBy("lag")
  }

  /** Turning-point randomness test per event type (Kendall's classic
    * time-series screen): count interior bins of the gap-filled count
    * series that are STRICT local extrema (v₋₁ < v > v₊₁ or
    * v₋₁ > v < v₊₁); under i.i.d. randomness T ~ N(2(n−2)/3,
    * (16n−29)/90), so z far below 0 means the series is SMOOTHER than
    * random (trend/cycle/autocorrelation — the cheap confirmation
    * before the heavier [[ljungBox]]), z above 0 means alternation
    * (overdispersed switching). Integer count series tie freely; ties
    * break the strict pattern and count as no turning point
    * (documented — the test is exact under the no-ties null, a
    * conservative screen with counts).
    *
    * Determinism: turning points are exact integer counts off exact
    * grid values; mean/variance/z are ONE pinned double assembly
    * rounded 1e-6 (z) / 1e-4 (expected). Series shorter than 3 bins
    * yield NULL.
    *
    * Scale shape: the [[denseSeries]] chunked grid + two bin-shifted
    * equi self-joins (the [[grangerLag1]] shape — never a window over
    * the grid) + one combinable per-type rollup. */
  def turningPoints(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // three shifted views read it
    val mid = g.select(sf.col("t"), sf.col("bin"), sf.col("v"))
    val prev = g.select(sf.col("t"), (sf.col("bin") + 1).as("bin"),
      sf.col("v").as("vp"))
    val next = g.select(sf.col("t"), (sf.col("bin") - 1).as("bin"),
      sf.col("v").as("vn"))
    val interior = mid.join(prev, Seq("t", "bin")).join(next, Seq("t", "bin"))
      .groupBy("t")
      .agg(sf.sum(((sf.col("vp") < sf.col("v") && sf.col("v") > sf.col("vn")) ||
        (sf.col("vp") > sf.col("v") && sf.col("v") < sf.col("vn")))
        .cast("long")).as("n_turning"))
    val nBins = g.groupBy("t").agg(sf.count(sf.lit(1)).as("n_bins"))
    nBins.join(interior, Seq("t"), "left")
      .select({
        val nD = sf.col("n_bins").cast("double")
        val tp = sf.coalesce(sf.col("n_turning"), sf.lit(0L))
        val mean = (nD - 2) * 2 / 3
        val variance = (nD * 16 - 29) / 90
        val ok = sf.col("n_bins") >= 3
        Seq(sf.col("t").as("event_type"), sf.col("n_bins"),
          tp.as("n_turning"),
          sf.when(ok, gf.roundAt(mean, 4)).as("expected"),
          sf.when(ok, gf.roundAt((tp.cast("double") - mean) /
            sf.sqrt(variance), 6)).as("z"))
      }: _*)
      .orderBy("event_type")
  }

  /** Lag-1 Granger causality test (Granger 1969) between two event
    * types' gap-filled count series: does knowing the CAUSE series'
    * previous bin improve the one-step prediction of the EFFECT series
    * beyond its own history — the DIRECTIONAL follow-up to [[ccf]]'s
    * symmetric lead–lag readout ("errors lead churn" becomes "errors
    * Granger-cause churn at the hour grain, F = …"). Restricted model
    * y_t ~ 1 + y_{t−1} vs unrestricted y_t ~ 1 + y_{t−1} + x_{t−1};
    * F = (RSS_r − RSS_u)/(RSS_u/(n−3)) with 1 and n−3 df. Lag 1 at a
    * chosen bin size is the deterministic single-knob form (higher
    * orders multiply regressors and df bookkeeping without changing
    * the scale shape).
    *
    * Determinism: bin counts are exact integers; all nine raw sums
    * accumulate DECIMAL(38,0); centered moments M_ab = n·Σab − Σa·Σb
    * are exact decimals; betas/RSS/F are ONE pinned double assembly
    * (Cramer's rule on the 2×2 normal equations), betas rounded 1e-6,
    * RSS/F 1e-4. Degenerate inputs (n ≤ 3, constant y_{t−1}, singular
    * design, zero residual) → NULL inference.
    *
    * Scale shape: the [[denseSeries]] chunked grid + two bin-shifted
    * equi self-joins (dense ranges, AQE-sized) + ONE map-side
    * combinable nine-sum single-row aggregation. No windows. */
  def grangerLag1(events: DataFrame, causeType: String, effectType: String,
                  binSec: Long = 3600): DataFrame = {
    require(causeType != effectType,
      "grangerLag1 needs two distinct event types")
    val g = denseSeries(events, binSec = binSec)
      .filter(sf.col("event_type").isin(causeType, effectType))
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // three series views read it
    val y = g.filter(sf.col("t") === effectType)
      .select(sf.col("bin"), sf.col("v").as("y"))
    val p = g.filter(sf.col("t") === effectType)
      .select((sf.col("bin") + 1).as("bin"), sf.col("v").as("p"))
    val q = g.filter(sf.col("t") === causeType)
      .select((sf.col("bin") + 1).as("bin"), sf.col("v").as("q"))
    val s = y.join(p, "bin").join(q, "bin").agg(
      sf.count(sf.lit(1)).as("n"),
      sf.sum(dec(sf.col("y"))).as("sy"), sf.sum(dec(sf.col("p"))).as("sp"),
      sf.sum(dec(sf.col("q"))).as("sq"),
      sf.sum(dec(sf.col("y")) * dec(sf.col("y"))).as("syy"),
      sf.sum(dec(sf.col("p")) * dec(sf.col("p"))).as("spp"),
      sf.sum(dec(sf.col("q")) * dec(sf.col("q"))).as("sqq"),
      sf.sum(dec(sf.col("p")) * dec(sf.col("y"))).as("spy"),
      sf.sum(dec(sf.col("q")) * dec(sf.col("y"))).as("sqy"),
      sf.sum(dec(sf.col("p")) * dec(sf.col("q"))).as("spq"))
    s.select({
      val n = dec(sf.col("n"))
      def m(ab: String, a: String, b: String) =
        (n * sf.col(ab) - sf.col(a) * sf.col(b)).cast("double")
      val nD = sf.col("n").cast("double")
      val mpp = m("spp", "sp", "sp"); val mqq = m("sqq", "sq", "sq")
      val mpq = m("spq", "sp", "sq"); val mpy = m("spy", "sp", "sy")
      val mqy = m("sqy", "sq", "sy"); val myy = m("syy", "sy", "sy")
      val d = mpp * mqq - mpq * mpq
      val bp = (mpy * mqq - mqy * mpq) / d
      val bq = (mqy * mpp - mpy * mpq) / d
      val rssU = (myy - bp * mpy - bq * mqy) / nD
      val rssR = (myy - mpy * mpy / mpp) / nD
      val f = (rssR - rssU) / (rssU / (nD - 3))
      val ok = sf.col("n") > 3 && mpp > 0 && d > 0 && rssU > 0
      Seq(sf.col("n").as("n_bins"),
        sf.when(ok, gf.roundAt(bp, 6)).as("beta_ylag"),
        sf.when(ok, gf.roundAt(bq, 6)).as("beta_xlag"),
        sf.when(ok, gf.roundAt(rssR, 4)).as("rss_r"),
        sf.when(ok, gf.roundAt(rssU, 4)).as("rss_u"),
        sf.when(ok, gf.roundAt(f, 4)).as("f_stat"))
    }: _*)
  }

  /** Count-dispersion datasheet per event type over the gap-filled
    * hourly grid: the variance-to-mean DISPERSION INDEX (Fano factor)
    * with its χ² = (n−1)·D test statistic (D ≈ 1 under Poisson,
    * ≫ 1 = clumping/bursts, ≪ 1 = regular/rate-limited), plus the
    * ZERO-INFLATION readout — observed share of zero bins against the
    * Poisson-expected e^(−mean) — that tells an anomaly baseline
    * whether "silent hour" is signal or the distribution's normal
    * tail. The distributional companion of [[bursts]] (which finds
    * WHERE the clumps are) and the model check the q121/q274 Poisson-
    * flavored baselines lean on.
    *
    * Determinism: counts are exact integers; mean and the sample
    * variance assemble from exact (n, Σv, Σv²) DECIMAL(38,0) sums in
    * single pinned double expressions; e^(−mean) snaps to the 1e-6
    * grid (the libm-exp convention); everything rounds 1e-6. All-zero
    * types yield NULL dispersion (zero mean).
    *
    * Scale shape: the chunked gap-filled grid + ONE map-side
    * combinable per-type moment aggregation (5 cells per map task).
    * No joins past the grid build, no windows. */
  def dispersionProfile(events: DataFrame, binSec: Long = 3600): DataFrame = {
    denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("n_events").as("v"))
      .groupBy("t")
      .agg(sf.count(sf.lit(1)).as("n_bins"),
        sf.sum("v").cast("long").as("__s"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("__q"),
        sf.sum((sf.col("v") === 0L).cast("long")).as("__z"))
      .select({
        val n = sf.col("n_bins").cast("double")
        val mean = sf.col("__s").cast("double") / n
        val varS = (dec(sf.col("n_bins")) * sf.col("__q") -
          dec(sf.col("__s")) * dec(sf.col("__s"))).cast("double") /
          (n * (n - 1.0))
        val disp = varS / mean
        val pz = sf.floor(sf.exp(-mean) * 1e6 + 0.5) / 1e6
        val zshare = sf.col("__z").cast("double") / n
        Seq(sf.col("t").as("event_type"), sf.col("n_bins"),
          gf.roundAt(mean, 6).as("mean_per_bin"),
          sf.when(sf.col("n_bins") >= 2 && sf.col("__s") > 0,
            gf.roundAt(disp, 6)).as("dispersion"),
          sf.when(sf.col("n_bins") >= 2 && sf.col("__s") > 0,
            gf.roundAt((n - 1.0) * disp, 6)).as("chi2"),
          gf.roundAt(zshare, 6).as("zero_share"),
          gf.roundAt(pz, 6).as("poisson_zero_share"),
          gf.roundAt(zshare - pz, 6).as("excess_zero_share"))
      }: _*)
      .orderBy("event_type")
  }

  /** Normalized spectral entropy of the [[periodogram]]'s candidate-
    * band power distribution per event type: H = −Σ p·ln p / ln K over
    * the per-period power shares — ONE number for "is the rhythm
    * concentrated or smeared" (→0 = a single dominant cadence: cron,
    * bot, daily cycle; →1 = white-noise-flat band), printed with the
    * dominant period — the summary dashboards want where q263's full
    * table is the drill-down. Pure COMPOSITION over [[periodogram]]'s
    * 1e-6-snapped shares — never a second spectral implementation.
    *
    * Determinism: each −p·ln p term snaps to the 1e-9 integer grid
    * before the unordered sum (the snap-then-sum convention); the
    * ln K normalizer is a plan literal; dominant period breaks ties
    * to the SMALLEST period (max(struct(share, −period))); a flat
    * series (all shares NULL) yields NULL entropy and NULL dominant.
    *
    * Scale shape: the periodogram chain + ONE (type)-keyed rollup
    * over ≤ (maxPeriod−minPeriod+1) rows per type. */
  def spectralEntropy(events: DataFrame, typeCol: String = "event_type",
                      tsCol: String = "ts", binSec: Long = 86400,
                      minPeriod: Int = 2, maxPeriod: Int = 14): DataFrame = {
    val k = maxPeriod - minPeriod + 1
    require(k >= 2, s"need at least 2 candidate periods, got $k")
    val pg = periodogram(events, typeCol, tsCol, binSec, minPeriod, maxPeriod)
    val term9 = sf.when(sf.col("share") > 0.0,
      sf.floor(-sf.col("share") * sf.log(sf.col("share")) * 1e9 + 0.5)
        .cast("long")).otherwise(0L)
    pg.groupBy(typeCol)
      .agg(sf.count(sf.lit(1)).as("n_periods"),
        sf.max(sf.when(sf.col("share").isNotNull,
          sf.struct(sf.col("share"), (-sf.col("period")).as("np")))).as("__dom"),
        sf.sum(term9).as("__s9"))
      .select(sf.col(typeCol), sf.col("n_periods"),
        (-sf.col("__dom.np")).as("dominant_period"),
        sf.when(sf.col("__dom").isNotNull, gf.roundAt(
          sf.col("__s9").cast("double") / 1e9 / math.log(k.toDouble), 6))
          .as("spectral_entropy"))
      .orderBy(typeCol)
  }

  /** Ljung–Box portmanteau statistic (Ljung & Box 1978, Biometrika 65)
    * per event type: Q = n(n+2)·Σ_{k=1..h} r_k²/(n−k) over the [[acf]]
    * autocorrelations — the ONE-NUMBER "is this series white noise"
    * test that reads the whole ACF at once, where eyeballing per-lag
    * bars multiple-tests itself into false cycles: Q ~ χ²(h) under
    * independence, so a small Q certifies the q121 seasonal baseline's
    * residual-independence assumption and a huge one says the q263
    * periodogram will find real structure. Built ON [[acf]]'s output
    * by composition — never a second autocorrelation implementation.
    *
    * Determinism: each r_k is acf's 1e-6-snapped value; each summand
    * r_k²/(n−k) snaps to the 1e-12 integer grid BEFORE the unordered
    * per-type sum (exact longs — the q157/q168 snap-then-sum
    * convention); the n(n+2) assembly is one pinned double, rounded
    * 1e-6. Lags with NULL acf (constant series) contribute nothing;
    * lags with n ≤ k are excluded (zero-information divisions).
    *
    * Scale shape: [[acf]]'s chunked-grid + bounded-fan-out shape, then
    * ONE map-side-combinable per-type rollup over ≤ maxLag rows per
    * type. */
  def ljungBox(events: DataFrame, maxLag: Int = 6, binSec: Long = 3600): DataFrame = {
    val a = acf(events, maxLag, binSec)
    val term12 = sf.floor(sf.col("acf") * sf.col("acf") /
      (sf.col("n_bins") - sf.col("lag")).cast("double") * 1e12 + 0.5).cast("long")
    a.filter(sf.col("acf").isNotNull && sf.col("lag") < sf.col("n_bins"))
      .groupBy("event_type")
      .agg(sf.max("n_bins").as("n_bins"), sf.count(sf.lit(1)).as("n_lags"),
        sf.sum(term12).as("__s12"))
      .select(sf.col("event_type"), sf.col("n_bins"), sf.col("n_lags"),
        gf.roundAt(sf.col("n_bins").cast("double") *
          (sf.col("n_bins").cast("double") + 2.0) *
          (sf.col("__s12").cast("double") / 1e12), 6).as("q_stat"))
      .orderBy("event_type")
  }

  /** Durbin–Watson statistic (Durbin & Watson 1950) per event type:
    * DW = Σ(e_t − e_{t−1})² / Σe_t² over the residuals of a per-type
    * OLS trend fit on the HOURLY MEAN value series — the lag-1
    * residual-autocorrelation readout (≈2 independent, →0 positively
    * correlated, →4 alternating) that prices how much the q144 trend
    * slopes can be trusted: serially correlated residuals make OLS
    * standard errors lie, and DW is the canonical detector.
    *
    * Series construction: value events collapse to per-(type, bin)
    * exact integer (Σv4, count) cells; the bin mean snaps to the 1e-4
    * grid via floor(s4/c + 0.5) (IEEE division, identical everywhere);
    * x is the bin re-based per type. The fit replays [[trendSlopes]]'
    * DECIMAL(38,0) moment algebra; residuals are pinned doubles
    * snapped to the 1e-9 integer grid, so BOTH quadratic sums are
    * exact integers (DECIMAL(38,0) — squares overflow longs) and DW is
    * ONE double division rounded 1e-6. Differences pair CONSECUTIVE
    * observed bins only (bin+1 present) — gap edges contribute to the
    * denominator but not the numerator, the standard missing-data
    * convention; types with < 3 bins or a zero-variance fit yield no
    * row.
    *
    * Scale shape: one map-side-combined (type, bin) collapse (the
    * domain-compression that makes a 100 TB event stream a
    * |types|×|bins| frame), broadcast per-type moments, ONE
    * (type, bin+1) self equi join for the differences — no windows, no
    * per-series sort. */
  def durbinWatson(events: DataFrame, typeCol: String = "event_type",
                   tsCol: String = "ts", valueCol: String = "value",
                   binSec: Long = 3600): DataFrame = {
    require(binSec > 0, s"binSec must be > 0, got $binSec")
    val binUs = binSec * 1000000L
    val cells = events
      .filter(sf.col(valueCol).isNotNull && sf.col(tsCol).isNotNull)
      .select(sf.col(typeCol).as("t"),
        sf.expr(s"unix_micros($tsCol) div ${binUs}L").as("bin"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long").as("v4"))
      .groupBy("t", "bin")
      .agg(sf.sum("v4").as("s4"), sf.count(sf.lit(1)).as("c"))
      .select(sf.col("t"), sf.col("bin"),
        sf.floor(sf.col("s4").cast("double") / sf.col("c").cast("double") + 0.5)
          .cast("long").as("y4"))
      .localCheckpoint(true) // moments + residuals + both diff sides read it
    val mins = cells.groupBy("t").agg(sf.min("bin").as("b0"))
    val mom2 = cells.join(mins, "t")
      .select(sf.col("t"), (sf.col("bin") - sf.col("b0")).as("x"), sf.col("y4"))
      .groupBy("t").agg(
        sf.sum(dec(sf.col("x")) * dec(sf.col("x"))).as("__sxx"),
        sf.sum(dec(sf.col("x")) * dec(sf.col("y4"))).as("__sxy"),
        sf.sum(dec(sf.col("x"))).as("__sx"), sf.sum(dec(sf.col("y4"))).as("__sy2"),
        sf.count(sf.lit(1)).as("n"))
      .filter(sf.col("n") >= 3)
    val nD = sf.col("n").cast("double")
    val sx = sf.col("__sx").cast("double")
    val sy = sf.col("__sy2").cast("double") / 1e4
    val den = nD * sf.col("__sxx").cast("double") - sx * sx
    val slope = (nD * sf.col("__sxy").cast("double") / 1e4 - sx * sy) / den
    val fit = mom2.filter(den > 0.0)
      .select(sf.col("t"), sf.col("n"), gf.roundAt(slope, 9).as("beta"),
        gf.roundAt((sy - slope * sx) / nD, 9).as("alpha"))
    val resid = cells.join(mins, "t").join(fit, "t")
      .select(sf.col("t"), sf.col("bin"), sf.col("n"),
        sf.floor((sf.col("y4").cast("double") / 1e4 -
          (sf.col("alpha") + sf.col("beta") *
            (sf.col("bin") - sf.col("b0")).cast("double"))) * 1e9 + 0.5)
          .cast("long").as("e9"))
      .localCheckpoint(true) // denominator + both numerator sides
    val denom = resid.groupBy("t").agg(sf.max("n").as("n_bins"),
      sf.sum(dec(sf.col("e9")) * dec(sf.col("e9"))).as("__ss"))
    val num = resid
      .select(sf.col("t"), (sf.col("bin") + 1L).as("bin"), sf.col("e9").as("ep"))
      .join(resid.select(sf.col("t"), sf.col("bin"), sf.col("e9")), Seq("t", "bin"))
      .select(sf.col("t"),
        (dec(sf.col("e9") - sf.col("ep")) * dec(sf.col("e9") - sf.col("ep"))).as("__d2"))
      .groupBy("t").agg(sf.sum("__d2").as("__sd"), sf.count(sf.lit(1)).as("n_diffs"))
    denom.join(num, "t")
      .select(sf.col("t").as(typeCol), sf.col("n_bins"), sf.col("n_diffs"),
        sf.when(sf.col("__ss") > 0, gf.roundAt(
          sf.col("__sd").cast("double") / sf.col("__ss").cast("double"), 6))
          .as("dw"))
      .orderBy(typeCol)
  }

  /** Hurst exponent per event type via rescaled-range analysis (Hurst
    * 1951; Mandelbrot & Wallis 1969 R/S) over the [[denseSeries]]
    * gap-filled count grid — the LONG-MEMORY number the
    * autocorrelation ladder (rows 231/321) reads only lag-by-lag:
    * H ≈ 0.5 = independent increments, H > 0.5 = persistent
    * (burst-prone traffic whose capacity planning can't assume
    * Poisson), H < 0.5 = mean-reverting. For each block size s the
    * series splits into ⌊T/s⌋ disjoint blocks; R/S = (range of
    * cumulative mean-deviations)/(population sd); H is the log–log
    * OLS slope of the per-size mean R/S.
    *
    * Determinism: counts are exact longs, so each block's cumulative
    * deviation carries s-SCALED as the exact integer s·cum_j − j·S₁
    * and the range R·s is an exact integer max−min; the sd denominator
    * √(s·Σv² − S₁²) (DECIMAL(38,0) inside) makes R/S = Rs/√(s·ΣvΣ −
    * S₁²) one pinned division snapped to a 1e-9 long per block;
    * per-size means re-snap 1e-9, the log–log points snap 1e-9, and
    * the OLS slope over the ≤|sizes| points is exact-integer sums +
    * ONE pinned assembly rounded 1e-6. Zero-variance blocks drop;
    * types with < 2 usable sizes yield NULL H.
    *
    * Scale shape: the grid builds once (chunked [[denseSeries]]
    * machinery) and fans out |sizes|× map-side; cumulative windows are
    * bounded at max(sizes) rows per (type, size, block) partition BY
    * CONSTRUCTION; everything after is combinable rollups on the
    * (type, size) domain. */
  def hurstExponent(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", binSec: Long = 3600,
                    sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.distinct.size >= 2 && sizes.forall(_ >= 2),
      s"hurstExponent: need >= 2 distinct block sizes, each >= 2; got $sizes")
    require(sizes.max <= 4096,
      s"hurstExponent: block size ${sizes.max} > 4096 would build " +
      "unbounded per-block windows; use a coarser binSec instead")
    import org.apache.spark.sql.expressions.Window
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // bounds scalar + the size fan-out read it
    val bounds = g.agg(sf.min("bin").as("lo"), sf.max("bin").as("hi"))
    val blocks = g.crossJoin(sf.broadcast(bounds))
      .select(sf.col("t"), sf.col("bin"), sf.col("v"),
        sf.explode(sf.lit(sizes.distinct.sorted.toArray)).as("sz"),
        sf.col("lo"), sf.col("hi"))
      .withColumn("__blk", sf.expr("(bin - lo) div sz"))
      // complete blocks only: the ragged tail would bias small-s R/S
      .filter(sf.col("__blk") < sf.expr("(hi - lo + 1) div sz"))
    val wc = Window.partitionBy("t", "sz", "__blk").orderBy("bin")
    val withDev = blocks
      .withColumn("__cum", sf.sum("v").over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__s1", sf.sum("v").over(
        wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__s2", sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).over(
        wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__j",
        sf.col("bin") - sf.col("lo") - sf.col("__blk") * sf.col("sz") + 1)
      .withColumn("__dev",
        sf.col("sz") * sf.col("__cum") - sf.col("__j") * sf.col("__s1"))
    val perBlock = withDev.groupBy("t", "sz", "__blk")
      .agg((sf.max("__dev") - sf.min("__dev")).as("__rs_num"),
        (dec(sf.max("sz")) * sf.max("__s2") -
          dec(sf.max("__s1")) * dec(sf.max("__s1"))).as("__den"))
      .filter(sf.col("__den") > 0)
      .select(sf.col("t"), sf.col("sz"),
        sf.floor(sf.col("__rs_num").cast("double") /
          sf.sqrt(sf.col("__den").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__rs9"))
    val perSize = perBlock.groupBy("t", "sz")
      .agg(sf.count(sf.lit(1)).as("__nb"), sf.sum(dec(sf.col("__rs9"))).as("__s"))
      .select(sf.col("t"), sf.col("sz"), sf.col("__nb"),
        // log-log point, both coords 1e-9-snapped longs
        sf.floor(sf.log(
          sf.floor(sf.col("__s").cast("double") / sf.col("__nb").cast("double")
            + 0.5).cast("double") / 1e9) * 1e9 + 0.5).cast("long").as("__y9"),
        sf.floor(sf.log(sf.col("sz").cast("double")) * 1e9 + 0.5)
          .cast("long").as("__x9"))
    perSize.groupBy("t").agg(
        sf.count(sf.lit(1)).as("n_sizes"),
        sf.sum("__nb").cast("long").as("n_blocks"),
        sf.sum(dec(sf.col("__x9"))).as("__sx"),
        sf.sum(dec(sf.col("__y9"))).as("__sy"),
        sf.sum(dec(sf.col("__x9")) * dec(sf.col("__y9"))).as("__sxy"),
        sf.sum(dec(sf.col("__x9")) * dec(sf.col("__x9"))).as("__sxx"))
      .select({
        val n = sf.col("n_sizes").cast("double")
        val det = n * sf.col("__sxx").cast("double") -
          sf.col("__sx").cast("double") * sf.col("__sx").cast("double")
        val slope = (n * sf.col("__sxy").cast("double") -
          sf.col("__sx").cast("double") * sf.col("__sy").cast("double")) / det
        Seq(sf.col("t").as(typeCol), sf.col("n_sizes"), sf.col("n_blocks"),
          sf.when(sf.col("n_sizes") >= 2 && det > 0,
            gf.roundAt(slope, 6)).as("hurst"))
      }: _*)
      .orderBy(typeCol)
  }

  /** Tabular two-sided CUSUM control chart (Page 1954) per event type
    * over the [[denseSeries]] gap-filled count grid — the SEQUENTIAL
    * monitor beside [[changePoint]]'s retrospective max-deviation
    * scan: S⁺ accumulates excess above target+k and resets at zero,
    * so a small persistent shift (the kind a fixed threshold never
    * fires on and [[ewmaSeries]] only smooths) crosses h·σ after a
    * few bins — the textbook drift detector for event-rate SLOs,
    * with the reset meaning one alarm doesn't poison the next.
    *
    * Determinism: target μ and σ come from the exact grid moments
    * (Σv, Σv² exact integers) and snap to 1e-9 longs; the reset
    * recursion S⁺_i = max(0, S⁺_{i-1} + (v_i − μ − k)) is computed
    * CLOSED-FORM as P_i − min(0, min_{j≤i} P_j) over the exact
    * 1e-9-integer prefix sums P (the identity that turns a sequential
    * recursion into two cumulative windows — no iteration, no UDF),
    * S⁻ symmetrically from the running max; outputs snap 1e-6 and
    * alarms compare the EXACT integers against h·σ, so the flag can
    * never disagree with the printed value. Constant series (σ = 0)
    * yields zero alarms and NULL thresholds.
    *
    * Scale shape: the grid builds once and checkpoints; two cumulative
    * windows per TYPE over the bounded BIN domain (the grid is
    * maxBins-bounded by [[denseSeries]] contract) + one broadcast
    * moments attach — nothing row-scale shuffles twice. */
  def cusumChart(events: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts", binSec: Long = 3600,
                 kSigmas: Double = 0.5, hSigmas: Double = 4.0): DataFrame = {
    require(kSigmas >= 0 && hSigmas > 0,
      s"cusumChart: need kSigmas >= 0 and hSigmas > 0, got $kSigmas/$hSigmas")
    import org.apache.spark.sql.expressions.Window
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // moments + the prefix windows read it
    val moments = g.groupBy("t").agg(
        sf.count(sf.lit(1)).as("__n"), sf.sum("v").as("__s1"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("__s2"))
      .select(sf.col("t"),
        sf.floor(sf.col("__s1").cast("double") / sf.col("__n").cast("double")
          * 1e9 + 0.5).cast("long").as("__mu9"),
        sf.floor(sf.sqrt((dec(sf.col("__n")) * sf.col("__s2") -
            dec(sf.col("__s1")) * dec(sf.col("__s1"))).cast("double"))
          / sf.col("__n").cast("double") * 1e9 + 0.5).cast("long").as("__sig9"))
      .select(sf.col("t"), sf.col("__mu9"), sf.col("__sig9"),
        sf.floor(sf.lit(kSigmas) * sf.col("__sig9") + 0.5).cast("long").as("__k9"),
        sf.floor(sf.lit(hSigmas) * sf.col("__sig9") + 0.5).cast("long").as("__h9"))
    val w = Window.partitionBy("t").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zero = sf.lit(0).cast("decimal(38,0)")
    val charted = g.join(sf.broadcast(moments), "t")
      .withColumn("__dp", dec(sf.col("v")) * dec(sf.lit(1000000000L)) -
        sf.col("__mu9") - sf.col("__k9"))
      .withColumn("__dm", dec(sf.col("v")) * dec(sf.lit(1000000000L)) -
        sf.col("__mu9") + sf.col("__k9"))
      .withColumn("__pp", sf.sum("__dp").over(w))
      .withColumn("__pm", sf.sum("__dm").over(w))
      .withColumn("__sp", sf.col("__pp") -
        sf.least(zero, sf.min("__pp").over(w)))
      .withColumn("__sm",
        sf.greatest(zero, sf.max("__pm").over(w)) - sf.col("__pm"))
    charted.select(sf.col("t").as(typeCol), sf.col("bin"),
        sf.col("v").as("n_events"),
        gf.roundAt(sf.col("__sp").cast("double") / 1e9, 6).as("cusum_pos"),
        gf.roundAt(sf.col("__sm").cast("double") / 1e9, 6).as("cusum_neg"),
        sf.when(sf.col("__sig9") > 0,
          gf.roundAt(sf.col("__h9").cast("double") / 1e9, 6)).as("threshold"),
        (sf.col("__sig9") > 0 && sf.col("__sp") > sf.col("__h9"))
          .cast("int").as("alarm_up"),
        (sf.col("__sig9") > 0 && sf.col("__sm") > sf.col("__h9"))
          .cast("int").as("alarm_down"))
      .orderBy(typeCol, "bin")
  }

  /** Shewhart individuals control chart + Western Electric run rules
    * (Shewhart 1931; Western Electric 1956) per event type over the
    * [[denseSeries]] gap-filled count grid — the ZONE-RULE monitor
    * beside [[cusumChart]]'s drift detector: sigma comes from the
    * AVERAGE MOVING RANGE (MR̄/d₂, d₂ = 1.128 — the I-MR convention,
    * robust to the very shifts being hunted, where [[cusumChart]]'s
    * pooled σ is inflated by them), and the four classic rules fire
    * on zone patterns: R1 a point beyond 3σ, R2 two of three
    * consecutive beyond 2σ same side, R3 four of five beyond 1σ same
    * side, R4 eight consecutive on one side of center. Reported as a
    * per-type summary datasheet (center, σ̂, limits, rule counts).
    *
    * Determinism: ZONE MEMBERSHIP IS AN EXACT INTEGER TEST — the
    * point's deviation d = v·n − Σv and the k·σ bound cross-multiply
    * to |d|·1128·m > k·1000·MR_sum·n in DECIMAL(38,0) (d₂ = 1128/1000
    * exactly), so no float ever decides a zone; run rules are
    * bounded-lag comparisons of those exact flags; center/σ̂/limits
    * are display-only pinned divisions rounded 1e-6. A constant
    * series (MR_sum = 0) or a single-bin grid flags nothing and
    * reports NULL σ̂/limits.
    *
    * Scale shape: the grid builds once and checkpoints; one lag pass
    * + one combinable moments rollup + a broadcast moments attach +
    * bounded-lag windows per TYPE over the maxBins-bounded bin domain
    * — nothing row-scale shuffles twice. */
  def shewhartChart(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", binSec: Long = 86400): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // moments + the zone pass read it
    val wo = Window.partitionBy("t").orderBy("bin")
    val stats = g.withColumn("__pv", sf.lag("v", 1).over(wo))
      .groupBy("t").agg(
        sf.count(sf.lit(1)).as("__n"),
        sf.sum(dec(sf.col("v"))).as("__s"),
        sf.sum(sf.when(sf.col("__pv").isNotNull,
          dec(sf.abs(sf.col("v") - sf.col("__pv"))))).as("__mr"),
        sf.sum(sf.when(sf.col("__pv").isNotNull, 1L).otherwise(0L)).as("__m"))
    val pts = g.join(sf.broadcast(stats), "t")
      .withColumn("__d", dec(sf.col("v")) * dec(sf.col("__n")) - sf.col("__s"))
      .withColumn("__side", sf.when(sf.col("__d") > 0, 1)
        .when(sf.col("__d") < 0, -1).otherwise(0))
    def beyond(k: Int) = sf.abs(sf.col("__d")) * 1128 * dec(sf.col("__m")) >
      dec(sf.lit(k * 1000)) * sf.coalesce(sf.col("__mr"), dec(sf.lit(0))) *
        dec(sf.col("__n"))
    // signed zone markers: ±1 when beyond kσ on that side, else 0
    def marker(cond: Column) = sf.when(cond && sf.col("__side") =!= 0,
      sf.col("__side")).otherwise(0)
    val flagged = pts
      .withColumn("__b3", beyond(3))
      .withColumn("__z2", marker(beyond(2)))
      .withColumn("__z1", marker(beyond(1)))
      .withColumn("__r1", sf.col("__b3").cast("int"))
      .withColumn("__r2", (sf.col("__z2") === sf.col("__side") &&
        sf.col("__side") =!= 0 &&
        (sf.lag("__z2", 1, 0).over(wo) === sf.col("__side") ||
         sf.lag("__z2", 2, 0).over(wo) === sf.col("__side"))).cast("int"))
      .withColumn("__r3", (sf.col("__z1") === sf.col("__side") &&
        sf.col("__side") =!= 0 &&
        ((sf.lag("__z1", 1, 0).over(wo) === sf.col("__side")).cast("int") +
         (sf.lag("__z1", 2, 0).over(wo) === sf.col("__side")).cast("int") +
         (sf.lag("__z1", 3, 0).over(wo) === sf.col("__side")).cast("int") +
         (sf.lag("__z1", 4, 0).over(wo) === sf.col("__side")).cast("int")) >= 3)
        .cast("int"))
      .withColumn("__r4", (sf.col("__side") =!= 0 &&
        (1 to 7).map(i => sf.lag("__side", i, 0).over(wo) === sf.col("__side"))
          .reduce(_ && _)).cast("int"))
    flagged.groupBy("t").agg(
        sf.max("__n").as("n_bins"),
        sf.max("__s").as("__s1"), sf.max("__mr").as("__mr1"),
        sf.max("__m").as("__m1"),
        sf.sum("__r1").cast("long").as("r1_beyond_3sigma"),
        sf.sum("__r2").cast("long").as("r2_2of3_beyond_2sigma"),
        sf.sum("__r3").cast("long").as("r3_4of5_beyond_1sigma"),
        sf.sum("__r4").cast("long").as("r4_8_same_side"),
        sf.sum(sf.greatest(sf.col("__r1"), sf.col("__r2"), sf.col("__r3"),
          sf.col("__r4"))).cast("long").as("n_flagged"))
      .select({
        val mean = sf.col("__s1").cast("double") / sf.col("n_bins").cast("double")
        val sig = sf.col("__mr1").cast("double") /
          sf.col("__m1").cast("double") / 1.128
        val ok = sf.col("__m1") > 0
        Seq(sf.col("t").as(typeCol), sf.col("n_bins"),
          gf.roundAt(mean, 6).as("mean"),
          sf.when(ok, gf.roundAt(sig, 6)).as("sigma_hat"),
          sf.when(ok, gf.roundAt(mean + sf.lit(3.0) * sig, 6)).as("ucl"),
          sf.when(ok, gf.roundAt(mean - sf.lit(3.0) * sig, 6)).as("lcl"),
          sf.col("r1_beyond_3sigma"), sf.col("r2_2of3_beyond_2sigma"),
          sf.col("r3_4of5_beyond_1sigma"), sf.col("r4_8_same_side"),
          sf.col("n_flagged"))
      }: _*)
      .orderBy(typeCol)
  }

  /** Sample entropy SampEn(m=2, r) (Richman & Moorman 2000) per event
    * type over the [[denseSeries]] gap-filled count grid — the
    * REGULARITY statistic beside the row-426 permutation entropy:
    * PermEn reads only ordinal patterns (amplitude-blind); SampEn
    * counts how often length-2 template matches (Chebyshev distance
    * ≤ r) REMAIN matches when extended to length 3 — self-match-free
    * (its advantage over ApEn), so a periodic series scores near 0
    * and white noise high, with amplitude structure intact. The
    * standard tolerance r = `rFrac`·σ (0.2 by convention).
    *
    * Determinism: σ comes from the exact grid moments and r snaps to
    * a 1e-9 long ONCE; counts are integers, so every Chebyshev test
    * |Δ|·1e9 ≤ r9 is an EXACT integer comparison — no float decides a
    * match; SampEn = ln(B/A) is one pinned assembly rounded 1e-6
    * (NULL when either count is 0, the standard undefined case).
    *
    * Scale shape: the statistic is PAIR-QUADRATIC IN THE GRID LENGTH
    * by definition — honest pricing: one type-keyed self equi join
    * over the bounded bin domain (T² candidate pairs per type; the
    * `maxBins` guard caps T, default 100k ⇒ ≤ 1e10 comparisons per
    * type, and the join key spreads types across the cluster). The
    * grid builds once and checkpoints; moments are one combinable
    * rollup. */
  def sampleEntropy(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", binSec: Long = 86400,
                    rFrac: Double = 0.2,
                    maxBins: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = denseSeries(events, typeCol, tsCol, "value", binSec, maxBins)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // moments + both join sides read it
    val wo = Window.partitionBy("t").orderBy("bin")
    val tmpl = g
      .withColumn("__x1", sf.lead("v", 1).over(wo))
      .withColumn("__x2", sf.lead("v", 2).over(wo))
      .localCheckpoint(true) // both sides of the pair join read it
    val r9 = g.groupBy("t").agg(
        sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("v"))).as("__s1"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("__s2"))
      .select(sf.col("t"), sf.col("__n"),
        sf.floor(sf.sqrt((dec(sf.col("__n")) * sf.col("__s2") -
            sf.col("__s1") * sf.col("__s1")).cast("double")) /
          sf.col("__n").cast("double") * sf.lit(rFrac) * 1e9 + 0.5)
          .cast("long").as("__r9"))
    val a = tmpl.select(sf.col("t"), sf.col("bin").as("__i"),
      sf.col("v").as("__a0"), sf.col("__x1").as("__a1"), sf.col("__x2").as("__a2"))
    val b = tmpl.select(sf.col("t"), sf.col("bin").as("__j"),
      sf.col("v").as("__b0"), sf.col("__x1").as("__b1"), sf.col("__x2").as("__b2"))
    def within(pairs: Seq[(String, String)]) = pairs
      .map { case (x, y) =>
        dec(sf.abs(sf.col(x) - sf.col(y))) * 1000000000L <= dec(sf.col("__r9")) }
      .reduce(_ && _)
    // canonical SampEn: BOTH counts range over i, j <= N - m (templates
    // that can extend to length m+1), so A <= B and SampEn >= 0
    val valid = sf.col("__a2").isNotNull && sf.col("__b2").isNotNull
    val pairCounts = a.join(b, Seq("t")).filter(sf.col("__i") < sf.col("__j"))
      .join(sf.broadcast(r9), "t")
      .groupBy("t", "__n")
      .agg(
        sf.sum(sf.when(valid &&
          within(Seq("__a0" -> "__b0", "__a1" -> "__b1")), 1L).otherwise(0L))
          .cast("long").as("b_pairs"),
        sf.sum(sf.when(valid &&
          within(Seq("__a0" -> "__b0", "__a1" -> "__b1", "__a2" -> "__b2")), 1L)
          .otherwise(0L)).cast("long").as("a_pairs"),
        sf.max("__r9").as("__r9"))
    pairCounts.select(sf.col("t").as(typeCol), sf.col("__n").as("n_bins"),
        gf.roundAt(sf.col("__r9").cast("double") / 1e9, 6).as("r"),
        sf.col("b_pairs"), sf.col("a_pairs"),
        sf.when(sf.col("a_pairs") > 0 && sf.col("b_pairs") > 0,
          gf.roundAt(sf.log(sf.col("b_pairs").cast("double") /
            sf.col("a_pairs").cast("double")), 6)).as("sampen"))
      .orderBy(typeCol)
  }

  /** Intermittent-demand profile + Syntetos–Boylan classification
    * (Syntetos, Boylan & Croston 2005) per event type over the
    * [[denseSeries]] gap-filled grid — the DEMAND-PATTERN router the
    * forecasting ladder (rows 324/404/422) needs BEFORE a method is
    * picked: ADI (average demand interval, grid bins per non-zero
    * bin) and CV² (squared coefficient of variation of the non-zero
    * sizes) place each series in the classic quadrants — `smooth`
    * (ADI < 1.32, CV² < 0.49: SES-class methods fine), `intermittent`
    * (sparse but regular sizes: Croston's method), `erratic` (dense
    * but wild sizes), `lumpy` (both: the hardest class, bootstrap
    * territory).
    *
    * Determinism: counts are exact integers, so ADI and CV² = (m·Q −
    * S²)/S² are pinned integer-ratio divisions rounded 1e-6 — and the
    * QUADRANT CALLS are EXACT INTEGER comparisons (100·n ≥ 132·m,
    * 100·(mQ − S²) ≥ 49·S² in DECIMAL(38,0)): the printed floats can
    * round toward a boundary, the classification never wobbles. A
    * type with zero demand bins reports NULL metrics and `empty`.
    *
    * Scale shape: the grid builds once; ONE combinable per-type
    * rollup — no joins, no windows at any corpus size. */
  def demandProfile(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", binSec: Long = 86400): DataFrame = {
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("n_events").as("v"))
    g.groupBy("t").agg(
        sf.count(sf.lit(1)).as("n_bins"),
        sf.sum(sf.when(sf.col("v") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_demand_bins"),
        sf.sum(dec(sf.col("v"))).as("__s"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("__q"))
      .select({
        val n = sf.col("n_bins")
        val m = sf.col("n_demand_bins")
        val s = sf.col("__s")
        val num = dec(m) * sf.col("__q") - s * s // m*Q - S^2, exact
        val s2 = s * s
        val adiHigh = dec(n) * 100 >= dec(m) * 132
        val cv2High = num * 100 >= dec(sf.lit(49)) * s2
        Seq(sf.col("t").as(typeCol), n, m,
          sf.when(m > 0, gf.roundAt(
            n.cast("double") / m.cast("double"), 6)).as("adi"),
          sf.when(m > 0, gf.roundAt(
            num.cast("double") / s2.cast("double"), 6)).as("cv2"),
          sf.when(m === 0, "empty")
            .when(!adiHigh && !cv2High, "smooth")
            .when(adiHigh && !cv2High, "intermittent")
            .when(!adiHigh && cv2High, "erratic")
            .otherwise("lumpy").as("pattern"))
      }: _*)
      .orderBy(typeCol)
  }

  /** Page–Hinkley mean-shift detector (Page 1954 §5; Hinkley 1971 —
    * the sequential drift test streaming-ML monitors standardized on)
    * per event type over the [[denseSeries]] gap-filled grid — the
    * RUNNING-MEAN sibling of [[cusumChart]]: CUSUM tracks excess over
    * a FIXED target μ̂ fitted once on the whole window (fine for SLO
    * monitoring, but the target itself absorbs drift); Page–Hinkley
    * references the mean-so-far, m_t = Σ_{i≤t}(x_i − x̄_i − δ), and
    * alarms when m_t − min_{j≤t} m_j exceeds λ·σ̂ — the detector that
    * stays calibrated while the level wanders slowly and still fires
    * on a genuine shift.
    *
    * Determinism: x̄_i = S_i/i is a pinned per-row division SNAPPED to
    * a 1e-9 long before the cumulative sum (the cross-row snap rule);
    * the running minimum and the alarm comparison are exact integer
    * operations against λ9 = ⌊λ·σ̂·10⁹⌉ from the exact grid moments;
    * a constant series (σ̂ = 0) flags nothing and reports NULL
    * threshold.
    *
    * Scale shape: the grid builds once and checkpoints; two
    * cumulative windows + one running-min window per TYPE over the
    * maxBins-bounded bin domain + one broadcast moments attach. */
  def pageHinkley(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts", binSec: Long = 86400,
                  delta: Double = 0.0,
                  lambdaSigmas: Double = 5.0): DataFrame = {
    require(delta >= 0 && lambdaSigmas > 0,
      s"pageHinkley: need delta >= 0 and lambdaSigmas > 0")
    import org.apache.spark.sql.expressions.Window
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // moments + the PH pass read it
    val moments = g.groupBy("t").agg(
        sf.count(sf.lit(1)).as("__n"), sf.sum(dec(sf.col("v"))).as("__s1"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("__s2"))
      .select(sf.col("t"), sf.col("__n"),
        sf.floor(sf.lit(lambdaSigmas) *
          (sf.sqrt((dec(sf.col("__n")) * sf.col("__s2") -
            sf.col("__s1") * sf.col("__s1")).cast("double")) /
            sf.col("__n").cast("double")) * 1e9 + 0.5).cast("long").as("__l9"))
    val wo = Window.partitionBy("t").orderBy("bin")
    val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = g
      .withColumn("__i", sf.row_number().over(wo).cast("long"))
      .withColumn("__si", sf.sum("v").over(wc).cast("long"))
      .withColumn("__term9", sf.floor(
        (sf.col("v").cast("double") -
          sf.col("__si").cast("double") / sf.col("__i").cast("double") -
          sf.lit(delta)) * 1e9 + 0.5).cast("long"))
      .withColumn("__m9", sf.sum(dec(sf.col("__term9"))).over(wc))
      .withColumn("__min9", sf.min("__m9").over(wc))
      .join(sf.broadcast(moments), "t")
      .withColumn("__ph9", (sf.col("__m9") - sf.col("__min9")).cast("long"))
      .withColumn("__alarm",
        (sf.col("__l9") > 0 && sf.col("__ph9") > sf.col("__l9")).cast("int"))
    ph.groupBy("t").agg(
        sf.max("__n").as("n_bins"),
        sf.max("__l9").as("__lt9"),
        sf.max("__ph9").as("__max9"),
        sf.sum("__alarm").cast("long").as("n_alarms"),
        sf.min(sf.when(sf.col("__alarm") === 1, sf.col("bin"))).as("first_alarm_bin"))
      .select(sf.col("t").as(typeCol), sf.col("n_bins"),
        sf.when(sf.col("__lt9") > 0,
          gf.roundAt(sf.col("__lt9").cast("double") / 1e9, 6)).as("threshold"),
        gf.roundAt(sf.col("__max9").cast("double") / 1e9, 6).as("max_ph"),
        sf.col("n_alarms"), sf.col("first_alarm_bin"))
      .orderBy(typeCol)
  }

  /** Interrupted time-series excess (single-group ITS; the
    * comparative-ITS design of Campbell & Stanley 1963 without a
    * control arm) per event type — fit level + trend on the FIRST
    * half of the grid, project it through the second, and report the
    * cumulative excess over the projection: the "what did the launch
    * add, net of the trend we already had" number row 332's
    * diff-in-diff gives only when a control group exists; with none,
    * the pre-trend projection IS the counterfactual (and its honesty
    * rests on the pre-fit, which is reported alongside).
    *
    * Determinism: pre-period OLS rides exact DECIMAL(38,0) moments on
    * integer (bin, count) pairs; the projected post total is ONE
    * pinned assembly b₀·n_post + slope·Σbin (no per-row arithmetic at
    * all — the projection SUM is linear in the post-bin aggregates);
    * the bin cut is the integer midpoint. Degenerate pre-fits
    * (< 2 pre bins, zero bin variance) report NULL.
    *
    * Scale shape: the grid builds once; two combinable per-type
    * rollups (pre moments, post aggregates) + a one-row-per-type
    * finish — no windows, no per-row projection. */
  def itsExcess(events: DataFrame, typeCol: String = "event_type",
                tsCol: String = "ts", binSec: Long = 86400): DataFrame = {
    val g = denseSeries(events, typeCol, tsCol, "value", binSec)
      .select(sf.col(typeCol).as("t"), sf.col("bin"), sf.col("n_events").as("v"))
      .localCheckpoint(true) // cut + both halves read it
    val cut = g.agg(sf.expr("CAST((min(bin) + max(bin) + 1) DIV 2 AS BIGINT)")
      .as("__cut"))
    val halves = g.crossJoin(sf.broadcast(cut))
    val pre = halves.filter(sf.col("bin") < sf.col("__cut"))
      .groupBy("t").agg(
        sf.count(sf.lit(1)).as("n_pre"),
        sf.sum(dec(sf.col("bin"))).as("sx"), sf.sum(dec(sf.col("v"))).as("sy"),
        sf.sum(dec(sf.col("bin")) * dec(sf.col("bin"))).as("sxx"),
        sf.sum(dec(sf.col("bin")) * dec(sf.col("v"))).as("sxy"))
    val post = halves.filter(sf.col("bin") >= sf.col("__cut"))
      .groupBy("t").agg(
        sf.count(sf.lit(1)).as("n_post"),
        sf.sum(dec(sf.col("bin"))).as("sb"),
        sf.sum(sf.col("v")).cast("long").as("actual_post"))
    pre.join(post, "t")
      .select({
        val n = sf.col("n_pre").cast("double")
        val cxx = (dec(sf.col("n_pre")) * sf.col("sxx") -
          sf.col("sx") * sf.col("sx")).cast("double")
        val cxy = (dec(sf.col("n_pre")) * sf.col("sxy") -
          sf.col("sx") * sf.col("sy")).cast("double")
        val slope = cxy / cxx
        val b0 = (sf.col("sy").cast("double") -
          slope * sf.col("sx").cast("double")) / n
        val projected = b0 * sf.col("n_post").cast("double") +
          slope * sf.col("sb").cast("double")
        val excess = sf.col("actual_post").cast("double") - projected
        val ok = sf.col("n_pre") >= 2 && cxx > 0.0
        Seq(sf.col("t").as(typeCol), sf.col("n_pre"), sf.col("n_post"),
          sf.when(ok, gf.roundAt(slope, 6)).as("pre_slope"),
          sf.col("actual_post"),
          sf.when(ok, gf.roundAt(projected, 4)).as("projected_post"),
          sf.when(ok, gf.roundAt(excess, 4)).as("excess"),
          sf.when(ok, sf.when(projected =!= 0.0,
            gf.roundAt(excess / projected, 6))).as("excess_share"))
      }: _*)
      .orderBy(typeCol)
  }

  /** Steady-state Holt linear weights: (level, trend) convolution
    * coefficients for lag l, 1e-9-snapped longs. The Holt recursion
    * ℓ_t = αy_t + (1−α)(ℓ_{t-1}+b_{t-1}), b_t = β(ℓ_t−ℓ_{t-1}) +
    * (1−β)b_{t-1} is linear in the state, so [ℓ_t, b_t] =
    * Σ_l A^l·B·y_{t−l} with A = [[1−α, 1−α], [−αβ, 1−αβ]],
    * B = [α, αβ]ᵀ — the matrix powers computed here once, on the
    * driver, and shared VERBATIM by the Spark plan and the oracle. */
  def holtWeights(alpha: Double, beta: Double, lags: Int): Seq[(Int, Long, Long)] = {
    var (a11, a12, a21, a22) = (1.0, 0.0, 0.0, 1.0) // A^0 = I
    val (m11, m12, m21, m22) = (1 - alpha, 1 - alpha, -alpha * beta, 1 - alpha * beta)
    (0 until lags).map { l =>
      val wl = a11 * alpha + a12 * alpha * beta
      val wb = a21 * alpha + a22 * alpha * beta
      val (n11, n12) = (a11 * m11 + a12 * m21, a11 * m12 + a12 * m22)
      val (n21, n22) = (a21 * m11 + a22 * m21, a21 * m12 + a22 * m22)
      a11 = n11; a12 = n12; a21 = n21; a22 = n22
      (l, math.floor(wl * 1e9 + 0.5).toLong, math.floor(wb * 1e9 + 0.5).toLong)
    }
  }

  /** Holt linear (double exponential) smoothing per event type over
    * the [[denseSeries]] gap-filled count grid — level AND local
    * trend where [[ewmaSeries]] tracks level only (an EWMA lags a
    * trending series by trend/α forever; Holt's second state
    * extrapolates it), with the one-step forecast ℓ+b the q121-style
    * anomaly baselines want for drifting streams.
    *
    * Contract: the STEADY-STATE truncated convolution, not the
    * initialized recursion — [ℓ_t, b_t] = Σ_{l<K} A^l B y_{t−l} with
    * the matrix-power weights from [[holtWeights]]; det A = 1−α, so
    * in the complex-eigenvalue regime the spectral radius is
    * √(1−α) < 1 and truncation bias decays geometrically (default
    * α=0.5, β=0.3, K=64: ρ ≈ 0.71, bias < 1e-9 of scale); only bins
    * with a FULL K-lag
    * history emit — no warm-up rows whose value depends on an
    * arbitrary initialization.
    *
    * Determinism: weights are 1e-9-snapped longs computed ONCE on the
    * driver ([[holtWeights]]) and embedded as literals in both
    * engines; level/trend are exact DECIMAL(38,0) dot products of
    * those longs with integer counts, one pinned division each,
    * snapped 1e-6; forecast adds the two EXACT integer sums before
    * the division, so forecast = level + trend holds on the grid.
    *
    * Scale shape: [[ewmaSeries]]'s — the grid builds once and
    * checkpoints, a bounded K-way broadcast lag fan-out + ONE
    * (type, bin) equi join, one combinable rollup. No window, no
    * per-series sort, no iteration. */
  def holtSmoothing(events: DataFrame, alpha: Double = 0.5, beta: Double = 0.3,
                    lags: Int = 64, binSec: Long = 3600): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"holtSmoothing: alpha/beta must be in (0,1), got $alpha/$beta")
    require(lags >= 2 && lags <= 128,
      s"holtSmoothing: lags must be in [2, 128], got $lags")
    val spark = events.sparkSession
    import spark.implicits._
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val lagW = holtWeights(alpha, beta, lags).toDF("l", "wl9", "wb9")
    sv.crossJoin(sf.broadcast(lagW))
      .withColumn("blk", sf.col("bin") - sf.col("l"))
      .join(sv.select(sf.col("t"), sf.col("bin").as("blk"),
        sf.col("v").as("vl")), Seq("t", "blk"))
      .groupBy("t", "bin")
      .agg(sf.count(sf.lit(1)).as("__navail"),
        sf.sum(sf.when(sf.col("l") === 0, sf.col("vl"))).cast("long").as("v"),
        sf.sum(dec(sf.col("wl9")) * dec(sf.col("vl"))).as("__lev9"),
        sf.sum(dec(sf.col("wb9")) * dec(sf.col("vl"))).as("__tr9"))
      .filter(sf.col("__navail") === lags) // full-history bins only
      .select(sf.col("t").as("event_type"), sf.col("bin"),
        sf.col("v").as("n_events"),
        gf.roundAt(sf.col("__lev9").cast("double") / 1e9, 6).as("level"),
        gf.roundAt(sf.col("__tr9").cast("double") / 1e9, 6).as("trend"),
        gf.roundAt((sf.col("__lev9") + sf.col("__tr9")).cast("double") / 1e9, 6)
          .as("forecast_next"))
      .orderBy("event_type", "bin")
  }

  /** Steady-state Holt–Winters ADDITIVE forecast weights: the
    * one-step-forecast convolution coefficient for lag l, 1e-9-snapped
    * longs. The additive recursion (level ℓ, trend b, seasonals
    * s_1..s_m as a delay line) is linear in the state: x_t = A·x_{t−1}
    * + B·y_t over the (2+m)-dim companion form, and the forecast
    * ŷ_{t+1} = ℓ_t + b_t + s_{t+1−m} = cᵀx_t, so ŷ_{t+1} =
    * Σ_l (cᵀAˡB)·y_{t−l} — the matrix powers computed here once, on
    * the driver, and shared VERBATIM by the Spark plan and the oracle
    * (the [[holtWeights]] convention, one dimension up). */
  def holtWintersWeights(alpha: Double, beta: Double, gamma: Double,
                         period: Int, lags: Int): Seq[(Int, Long)] = {
    val d = 2 + period
    val A = Array.ofDim[Double](d, d)
    val B = new Array[Double](d)
    // l_t = a*y - a*s_last + (1-a)l + (1-a)b
    A(0)(0) = 1 - alpha; A(0)(1) = 1 - alpha; A(0)(d - 1) = -alpha
    B(0) = alpha
    // b_t = beta(l_t - l) + (1-beta)b
    A(1)(0) = -beta * alpha
    A(1)(1) = beta * (1 - alpha) + (1 - beta)
    A(1)(d - 1) = -beta * alpha
    B(1) = beta * alpha
    // s_t = gamma(y - l_t) + (1-gamma)s_last
    A(2)(0) = -gamma * (1 - alpha); A(2)(1) = -gamma * (1 - alpha)
    A(2)(d - 1) = gamma * alpha + (1 - gamma)
    B(2) = gamma * (1 - alpha)
    for (j <- 3 until d) A(j)(j - 1) = 1.0 // seasonal delay line
    val c0 = new Array[Double](d); c0(0) = 1; c0(1) = 1; c0(d - 1) = 1
    var v = c0
    (0 until lags).map { l =>
      var w = 0.0
      var i = 0
      while (i < d) { w += v(i) * B(i); i += 1 }
      val nv = new Array[Double](d)
      var j = 0
      while (j < d) {
        var s = 0.0; var i2 = 0
        while (i2 < d) { s += v(i2) * A(i2)(j); i2 += 1 }
        nv(j) = s; j += 1
      }
      v = nv
      (l, math.floor(w * 1e9 + 0.5).toLong)
    }
  }

  /** Holt–Winters additive one-step forecast per event type over the
    * [[denseSeries]] gap-filled HOURLY grid with DAILY (period-24)
    * seasonality — the member of the forecasting ladder
    * ([[holtSmoothing]] level+trend, row 404's decomposition, row
    * 324's seasonal-naive backtest) that carries level, trend AND the
    * repeating intraday shape in one recursion: the baseline an
    * event-rate SLO monitor actually wants for traffic with a daily
    * rhythm.
    *
    * Contract: the STEADY-STATE truncated convolution over `lags`
    * coefficients from [[holtWintersWeights]] — only full-history
    * bins emit, and the truncation is PRICED, not hidden:
    * `weight_coverage` = Σ_{l<K} w_l (a driver constant — exactly
    * what the forecast multiplies a CONSTANT series by) rides every
    * row. It is NOT necessarily ≤ 1 and converges slowly: the
    * seasonal/level pair is only jointly identified (the classic HW
    * ℓ+c / s−c invariance puts a unit eigenvalue in the companion
    * state that the forecast functional annihilates only
    * asymptotically), and a small β keeps the trend mode near 1 — at
    * the defaults K = 96 gives coverage ≈ 1.095, i.e. a constant
    * series is over-forecast ~9.5%. Readers wanting the renormalized
    * truncation divide by this column; the raw convolution is kept so
    * the oracle twin is a pure integer dot product.
    *
    * Determinism: weights are 1e-9-snapped driver literals in both
    * engines; the forecast is an exact DECIMAL(38,0) dot product with
    * integer counts, one pinned division, 1e-6.
    *
    * Scale shape: [[holtSmoothing]]'s — grid builds once, bounded
    * K-way broadcast lag fan-out + ONE (type, bin) equi join + a
    * combinable rollup. No window, no per-series sort, no iteration. */
  def holtWintersSmoothing(events: DataFrame, alpha: Double = 0.3,
                           beta: Double = 0.05, gamma: Double = 0.2,
                           period: Int = 24, lags: Int = 96,
                           binSec: Long = 3600): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1,
      s"holtWintersSmoothing: alpha/beta/gamma must be in (0,1)")
    require(period >= 2 && period <= 366,
      s"holtWintersSmoothing: period must be in [2, 366], got $period")
    require(lags >= 2 * period && lags <= 512,
      s"holtWintersSmoothing: lags must be in [2*period, 512], got $lags")
    val spark = events.sparkSession
    import spark.implicits._
    val weights = holtWintersWeights(alpha, beta, gamma, period, lags)
    val coverage9 = weights.map(_._2).sum
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val lagW = weights.toDF("l", "w9")
    sv.crossJoin(sf.broadcast(lagW))
      .withColumn("blk", sf.col("bin") - sf.col("l"))
      .join(sv.select(sf.col("t"), sf.col("bin").as("blk"),
        sf.col("v").as("vl")), Seq("t", "blk"))
      .groupBy("t", "bin")
      .agg(sf.count(sf.lit(1)).as("__navail"),
        sf.sum(sf.when(sf.col("l") === 0, sf.col("vl"))).cast("long").as("v"),
        sf.sum(dec(sf.col("w9")) * dec(sf.col("vl"))).as("__f9"))
      .filter(sf.col("__navail") === lags) // full-history bins only
      .select(sf.col("t").as("event_type"), sf.col("bin"),
        sf.col("v").as("n_events"),
        gf.roundAt(sf.col("__f9").cast("double") / 1e9, 6).as("forecast_next"),
        gf.roundAt(sf.lit(coverage9).cast("double") / 1e9, 6)
          .as("weight_coverage"))
      .orderBy("event_type", "bin")
  }

  /** Shared per-type trend-OLS residual frame for
    * [[regressionInfluence]] / [[breuschPagan]]: fits count-on-bin by
    * exact-moment OLS per type over the dense grid and emits every row
    * with its pinned fitted value / residual plus the moment columns
    * downstream diagnostics need. The residual is ONE pinned double
    * chain (slope/intercept from DECIMAL(38,0) moments), identical in
    * any engine; callers snap it at their own grid before summing. */
  private def trendResiduals(events: DataFrame, binSec: Long): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val st = g.groupBy("t").agg(sf.count(sf.lit(1)).as("n"),
      sf.sum(dec(sf.col("bin"))).as("sx"), sf.sum(dec(sf.col("v"))).as("sy"),
      sf.sum(dec(sf.col("bin")) * dec(sf.col("bin"))).as("sxx"),
      sf.sum(dec(sf.col("bin")) * dec(sf.col("v"))).as("sxy"))
    g.join(sf.broadcast(st), "t")
      .select(sf.col("t"), sf.col("bin"), sf.col("v"),
        sf.col("n"), sf.col("sx"), sf.col("sxx"), {
          val cxx = (dec(sf.col("n")) * sf.col("sxx") -
            sf.col("sx") * sf.col("sx")).cast("double")
          val cxy = (dec(sf.col("n")) * sf.col("sxy") -
            sf.col("sx") * sf.col("sy")).cast("double")
          val slope = cxy / cxx
          val b0 = (sf.col("sy").cast("double") -
            slope * sf.col("sx").cast("double")) / sf.col("n").cast("double")
          (b0 + slope * sf.col("bin").cast("double")).as("__fit")
        })
      .withColumn("__e", sf.col("v").cast("double") - sf.col("__fit"))
  }

  /** OLS influence diagnostics per (type, bin) for the count-on-time
    * trend — leverage, standardized residual, and Cook's distance
    * (Cook 1977): WHICH observations the row-181 slope actually rests
    * on. A bin can be extreme two different ways — far from the fit
    * (big residual) or far in time from the data's center (big
    * leverage) — and Cook's D prices their PRODUCT, the "delete this
    * point and the trend moves" number an incident review needs
    * before trusting any drift readout through an outage spike.
    *
    * Determinism: slope/intercept ride exact DECIMAL moments;
    * residuals are pinned doubles SNAPPED to 1e-6 longs before the
    * SSE sum (float partial sums would be partition-order-dependent);
    * leverage h = 1/n + (n·x − Σx)²/(n·(n·Σxx − Σx²)) is a pinned
    * ratio of exact integers; r/Cook's D are one chain each, 1e-6.
    * n < 4 or zero SSE → NULL diagnostics.
    *
    * Scale shape: grid once + one broadcast moment row + one
    * combinable SSE rollup + a map-only per-row finish. */
  def regressionInfluence(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val r = trendResiduals(events, binSec)
      .withColumn("__e6", sf.floor(sf.col("__e") * 1e6 + 0.5).cast("long"))
      .localCheckpoint(true) // SSE + per-row finish read it
    val sse = r.groupBy(sf.col("t").as("__t"))
      .agg(sf.sum(dec(sf.col("__e6")) * dec(sf.col("__e6"))).as("__sse"))
    r.join(sf.broadcast(sse), sf.col("t") === sf.col("__t"))
      .select({
        val n = sf.col("n").cast("double")
        val hnum = dec(sf.col("n")) * dec(sf.col("bin")) - sf.col("sx")
        val hden = dec(sf.col("n")) *
          (dec(sf.col("n")) * sf.col("sxx") - sf.col("sx") * sf.col("sx"))
        val h = sf.lit(1.0) / n +
          (hnum * hnum).cast("double") / hden.cast("double")
        val s = sf.sqrt(sf.col("__sse").cast("double") / (n - 2.0)) / 1e6
        val rStd = sf.col("__e6").cast("double") / 1e6 /
          (s * sf.sqrt(sf.lit(1.0) - h))
        val cooks = rStd * rStd * h / (sf.lit(2.0) * (sf.lit(1.0) - h))
        val ok = sf.col("n") >= 4 && sf.col("__sse") > 0
        Seq(sf.col("t").as("event_type"), sf.col("bin"),
          sf.col("v").as("n_events"),
          gf.roundAt(sf.col("__fit"), 6).as("fitted"),
          gf.roundAt(sf.col("__e6").cast("double") / 1e6, 6).as("residual"),
          sf.when(ok, gf.roundAt(h, 6)).as("leverage"),
          sf.when(ok, sf.when(h < 1.0, gf.roundAt(rStd, 6))).as("std_residual"),
          sf.when(ok, sf.when(h < 1.0, gf.roundAt(cooks, 6))).as("cooks_d"))
      }: _*)
      .orderBy("event_type", "bin")
  }

  /** Breusch–Pagan heteroscedasticity test (1979) per event type on
    * the count-on-time trend — does the NOISE grow with time (fanning
    * residuals), which silently invalidates every constant-variance
    * readout built on the fit (the row-181 slope's SE, row 421's
    * single σ, prediction bands): BP = n·R² of regressing squared
    * residuals on the regressor, asymptotically χ²(1); the auxiliary
    * slope's sign says which WAY variance drifts.
    *
    * Determinism: residuals snap at 1e-3 before squaring (e² then
    * e²-squared sums stay inside DECIMAL(38,0) — documented headroom;
    * the 1e-6 influence grid would overflow Σ(e²)²), all five
    * auxiliary sums exact DECIMAL, BP/slope ONE pinned assembly 1e-6.
    * n < 4, zero residual variance, or constant regressor → NULL.
    *
    * Scale shape: grid once + broadcast moments + one combinable
    * five-sum rollup per type. */
  def breuschPagan(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val r = trendResiduals(events, binSec)
      .withColumn("__e3", sf.floor(sf.col("__e") * 1e3 + 0.5).cast("long"))
      .select(sf.col("t"), sf.col("bin"),
        (dec(sf.col("__e3")) * dec(sf.col("__e3"))).as("__g"))
    r.groupBy("t")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("bin"))).as("sx"), sf.sum(sf.col("__g")).as("sg"),
        sf.sum(dec(sf.col("bin")) * dec(sf.col("bin"))).as("sxx"),
        sf.sum(sf.col("__g") * sf.col("__g")).as("sgg"),
        sf.sum(dec(sf.col("bin")) * sf.col("__g")).as("sxg"))
      .select({
        val cxx = dec(sf.col("n")) * sf.col("sxx") - sf.col("sx") * sf.col("sx")
        val cgg = dec(sf.col("n")) * sf.col("sgg") - sf.col("sg") * sf.col("sg")
        val cxg = dec(sf.col("n")) * sf.col("sxg") - sf.col("sx") * sf.col("sg")
        val r2 = cxg.cast("double") * cxg.cast("double") /
          (cxx.cast("double") * cgg.cast("double"))
        val ok = sf.col("n") >= 4 && cxx > 0 && cgg > 0
        Seq(sf.col("t").as("event_type"), sf.col("n").as("n_bins"),
          sf.when(ok, gf.roundAt(sf.col("n").cast("double") * r2, 6))
            .as("bp_stat"),
          sf.when(ok, gf.roundAt(
            cxg.cast("double") / cxx.cast("double") / 1e6, 6))
            .as("aux_slope"))
      }: _*)
      .orderBy("event_type")
  }

  /** Audience-overlap matrix — for every pair of event types, the
    * users active in BOTH, with Jaccard and the conditional reach
    * both ways (share of A's audience also in B, and vice versa):
    * the channel/feature-overlap table every cross-promotion,
    * deduplicated-reach, and funnel-design question starts from —
    * audience SET algebra where row 156's lift reads co-occurrence
    * strength within baskets.
    *
    * Determinism: exact distinct-user counts per type and pair;
    * the three ratios are pinned integer divisions 1e-6; pairs
    * ordered (type_a < type_b) once — reverse reach is reported in
    * the same row.
    *
    * Scale shape: one (user, type) distinct + a type-keyed self join
    * on user (pair volume bounded by users × types²) + broadcast
    * per-type totals — the type domain is small by construction. */
  def audienceOverlap(events: DataFrame, userCol: String = "user_id",
                      typeCol: String = "event_type"): DataFrame = {
    val ut = events.filter(sf.col(userCol).isNotNull && sf.col(typeCol).isNotNull)
      .select(sf.col(userCol).as("u"), sf.col(typeCol).as("t"))
      .distinct()
      .localCheckpoint(true) // totals + both join sides read it
    val tot = ut.groupBy("t").agg(sf.count(sf.lit(1)).as("n"))
    val both = ut.as("a").join(ut.as("b"),
        sf.col("a.u") === sf.col("b.u") && sf.col("a.t") < sf.col("b.t"))
      .groupBy(sf.col("a.t").as("type_a"), sf.col("b.t").as("type_b"))
      .agg(sf.count(sf.lit(1)).as("n_both"))
    both
      .join(sf.broadcast(tot.select(sf.col("t").as("type_a"),
        sf.col("n").as("n_a"))), "type_a")
      .join(sf.broadcast(tot.select(sf.col("t").as("type_b"),
        sf.col("n").as("n_b"))), "type_b")
      .select(sf.col("type_a"), sf.col("type_b"), sf.col("n_a"), sf.col("n_b"),
        sf.col("n_both"),
        gf.roundAt(sf.col("n_both").cast("double") /
          (sf.col("n_a") + sf.col("n_b") - sf.col("n_both")).cast("double"), 6)
          .as("jaccard"),
        gf.roundAt(sf.col("n_both").cast("double") /
          sf.col("n_a").cast("double"), 6).as("share_of_a"),
        gf.roundAt(sf.col("n_both").cast("double") /
          sf.col("n_b").cast("double"), 6).as("share_of_b"))
      .orderBy("type_a", "type_b")
  }

  /** Weekly GROWTH ACCOUNTING — the additive user-lifecycle ledger
    * (the standard SaaS/consumer framework): per week, actives split
    * EXACTLY into new (first-ever week), retained (also active the
    * week before), and resurrected (active earlier but not last
    * week), with churned = last week's actives who went silent; the
    * identity actives_w = new + retained + resurrected and
    * Δactives = new + resurrected − churned holds by construction —
    * the decomposition a bare WAU curve hides (flat WAU can be
    * healthy retention or a leaky bucket refilled by acquisition).
    * Rows 115/468 give the cohort matrix and the long-horizon churn;
    * this is the week-over-week ledger between them.
    *
    * Determinism: weeks are exact epoch-week integers (µs div
    * 7-day-µs — fixed epoch anchor, no locale weeks); classification
    * is exact set logic on (user, week) memberships via lag/min
    * equi-joins; quick ratio is a pinned division 1e-6.
    *
    * Scale shape: one (user, week) distinct + a per-user min + two
    * week-shifted self equi joins + one week rollup — no windows. */
  def growthAccounting(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val uw = events.filter(sf.col(tsCol).isNotNull && sf.col(userCol).isNotNull)
      .select(sf.col(userCol).as("u"),
        sf.expr(s"unix_micros($tsCol) div 604800000000").as("w"))
      .distinct()
      .localCheckpoint(true) // first-week + both shifts read it
    val first = uw.groupBy("u").agg(sf.min("w").as("__fw"))
    val prev = uw.select(sf.col("u"), (sf.col("w") + 1).as("w"),
      sf.lit(1).as("__prev"))
    val classified = uw.join(first, "u")
      .join(prev, Seq("u", "w"), "left")
      .select(sf.col("w"),
        (sf.col("w") === sf.col("__fw")).as("__new"),
        sf.col("__prev").isNotNull.as("__ret"))
    val byWeek = classified.groupBy("w")
      .agg(sf.count(sf.lit(1)).as("actives"),
        sf.sum(sf.col("__new").cast("long")).cast("long").as("new_users"),
        sf.sum((!sf.col("__new") && sf.col("__ret")).cast("long")).cast("long")
          .as("retained"),
        sf.sum((!sf.col("__new") && !sf.col("__ret")).cast("long")).cast("long")
          .as("resurrected"))
    // churned_w = actives_{w-1} - retained_w (last week's actives who
    // did not return) — exact from the same ledger
    val lastWeek = byWeek.select((sf.col("w") + 1).as("w"),
      sf.col("actives").as("__prevA"))
    byWeek.join(lastWeek, Seq("w"), "left")
      .select(sf.col("w").as("epoch_week"), sf.col("actives"),
        sf.col("new_users"), sf.col("retained"), sf.col("resurrected"),
        (sf.coalesce(sf.col("__prevA"), sf.lit(0L)) - sf.col("retained"))
          .as("churned"),
        sf.when(sf.coalesce(sf.col("__prevA"), sf.lit(0L)) - sf.col("retained") > 0,
          gf.roundAt((sf.col("new_users") + sf.col("resurrected")).cast("double") /
            (sf.coalesce(sf.col("__prevA"), sf.lit(0L)) - sf.col("retained"))
              .cast("double"), 6)).as("quick_ratio"))
      .orderBy("epoch_week")
  }

  /** A/B sample-size calculator powered by the OBSERVED baseline —
    * the two-proportion power formula n/arm = (z_α√(2p̄q̄) +
    * z_β√(p₀q₀+p₁q₁))²/(p₁−p₀)² at α = 0.05 two-sided, power 0.8,
    * with p₀ = the corpus' actual conversion rate and p₁ = p₀·(1+MDE):
    * "how many users must each arm see to detect a `mde` relative
    * lift" — the question every experiment review asks BEFORE the
    * rows 129/250/279 readouts make sense, answered from the data
    * instead of a guessed baseline. Also prices the runway: observed
    * users vs the 2n the test needs.
    *
    * Determinism: p₀ is an exact integer ratio (converting users /
    * users); z constants are DRIVER literals shared verbatim with the
    * oracle (the row 453 convention); the n formula is ONE pinned
    * chain, output as an exact ceiling integer. MDE ≤ 0, p₁ ≥ 1, or
    * no users → NULL/require.
    *
    * Scale shape: one per-user rollup + a one-row finish. */
  def sampleSizeCalculator(events: DataFrame, userCol: String,
                           convPred: Column,
                           mde: Double = 0.10): DataFrame = {
    require(mde > 0 && mde < 10, s"mde must be in (0, 10), got $mde")
    val ZA = 1.959963984540054 // Phi^-1(0.975)
    val ZB = 0.8416212335729143 // Phi^-1(0.8)
    val per = events.filter(sf.col(userCol).isNotNull)
      .groupBy(sf.col(userCol))
      .agg(sf.max(sf.coalesce(convPred, sf.lit(false)).cast("long")).as("__c"))
    per.agg(sf.count(sf.lit(1)).as("n_users"),
        sf.sum("__c").cast("long").as("n_converting"))
      .select({
        val p0 = sf.col("n_converting").cast("double") /
          sf.col("n_users").cast("double")
        val p1 = p0 * (1.0 + mde)
        val pbar = (p0 + p1) / 2.0
        val num = sf.lit(ZA) * sf.sqrt(sf.lit(2.0) * pbar * (sf.lit(1.0) - pbar)) +
          sf.lit(ZB) * sf.sqrt(p0 * (sf.lit(1.0) - p0) + p1 * (sf.lit(1.0) - p1))
        val nArm = sf.ceil(num * num / ((p1 - p0) * (p1 - p0))).cast("long")
        val ok = sf.col("n_users") > 0 && sf.col("n_converting") > 0 && p1 < 1.0
        Seq(sf.col("n_users"), sf.col("n_converting"),
          sf.when(sf.col("n_users") > 0, gf.roundAt(p0, 6)).as("p0"),
          sf.when(ok, gf.roundAt(p1, 6)).as("p1"),
          sf.when(ok, nArm).as("n_per_arm"),
          sf.when(ok, gf.roundAt(nArm.cast("double") * 2.0 /
            sf.col("n_users").cast("double"), 6)).as("runway_multiple"))
      }: _*)
  }

  /** Hourly load-concentration datasheet per event type — the
    * capacity-planning trio a mean-based forecast hides: PEAK-TO-
    * AVERAGE ratio (the classic over-provisioning factor), the share
    * of all events landing in the busiest DECILE of hours (burst
    * concentration), and the GINI of hourly counts (0 = perfectly
    * even load, → 1 = everything in a few hours). Reads directly as
    * "provision for the mean × PAR" and pairs with row 453's return
    * levels (Gumbel prices the peak's magnitude; this prices its
    * concentration).
    *
    * Determinism: peak/mean exact; the top-decile share takes exactly
    * K = ⌈n/10⌉ hours off the (count-desc, count) domain with an
    * exact partial-cell boundary (integer arithmetic throughout);
    * Gini uses the rank form (2Σi·v − (n+1)Σv)/(n·Σv) with tied
    * ranks expanded exactly on the domain; the three ratios are
    * pinned divisions 1e-6.
    *
    * Scale shape: grid once + one (type, count) domain collapse +
    * two domain-bounded cumulative windows + one rollup. */
  def loadConcentration(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val cells = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("n_events").as("v"))
      .groupBy("t", "v").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + both cumulatives read it
    val tot = cells.groupBy("t").agg(sf.sum("c").cast("long").as("n"),
      sf.sum(dec(sf.col("c")) * dec(sf.col("v"))).as("s"),
      sf.max("v").cast("long").as("peak"))
    val wAsc = Window.partitionBy("t").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy("t").orderBy(sf.col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("__cumA", sf.sum("c").over(wAsc))
      .withColumn("__cumD", sf.sum("c").over(wDesc))
      .join(tot, "t")
      // Gini rank sum per cell: ranks i..i+c-1 ascending, exact longs
      .withColumn("__sr", sf.expr("c * (__cumA - c + 1) + (c * (c - 1)) DIV 2"))
    val giniTerm = dec(sf.col("__sr")) * dec(sf.col("v"))
    // top-decile: K = ceil(n/10) busiest hours; partial boundary cell
    val k = sf.expr("CAST((n + 9) DIV 10 AS BIGINT)")
    val hoursTaken = sf.greatest(sf.lit(0L),
      sf.least(sf.col("c"), k - (sf.col("__cumD") - sf.col("c"))))
    val topTerm = dec(hoursTaken) * dec(sf.col("v"))
    ranked
      .groupBy("t")
      .agg(sf.max("n").as("n_bins"), sf.max("peak").as("peak"),
        sf.max("s").as("__s"),
        sf.sum(giniTerm).as("__g"), sf.sum(topTerm).as("__top"))
      .select({
        val n = sf.col("n_bins").cast("double")
        val sD = sf.col("__s").cast("double")
        val mean = sD / n
        val gini = (sf.lit(2.0) * sf.col("__g").cast("double") -
          (n + 1.0) * sD) / (n * sD)
        Seq(sf.col("t").as("event_type"), sf.col("n_bins"), sf.col("peak"),
          gf.roundAt(mean, 6).as("mean_per_bin"),
          sf.when(sf.col("__s") > 0, gf.roundAt(
            sf.col("peak").cast("double") / mean, 6)).as("peak_to_avg"),
          sf.when(sf.col("__s") > 0, gf.roundAt(
            sf.col("__top").cast("double") / sD, 6)).as("top_decile_share"),
          sf.when(sf.col("__s") > 0, gf.roundAt(gini, 6)).as("gini"))
      }: _*)
      .orderBy("event_type")
  }

  /** Weekly load heat profile — events by (day-of-week, hour-of-day)
    * with the share of the whole week and the share within the day:
    * the 168-cell heatmap every on-call rotation, maintenance-window
    * choice, and capacity schedule is drawn from, as a table. The
    * CALENDAR-shaped companion of row 159's anomaly baseline (which
    * consumes exactly this structure) and row 466's concentration
    * numbers (which summarize it).
    *
    * Determinism: exact counts; shares are pinned divisions 1e-6.
    * Scale shape: ONE map-side-combined (dow, hour) rollup — 168
    * cells regardless of corpus size — plus a broadcast day margin. */
  def weeklyHeatProfile(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    val cells = events.filter(sf.col(tsCol).isNotNull)
      .select(sf.dayofweek(sf.col(tsCol)).as("dow"),
        sf.hour(sf.col(tsCol)).as("hour"))
      .groupBy("dow", "hour").agg(sf.count(sf.lit(1)).as("n_events"))
      .localCheckpoint(true) // total + day margin read it
    val tot = cells.agg(sf.sum("n_events").cast("long").as("__tot"))
    val byDay = cells.groupBy("dow").agg(sf.sum("n_events").cast("long").as("__day"))
    cells.join(sf.broadcast(byDay), "dow").crossJoin(sf.broadcast(tot))
      .select(sf.col("dow"), sf.col("hour"), sf.col("n_events"),
        sf.when(sf.col("__tot") > 0, gf.roundAt(
          sf.col("n_events").cast("double") / sf.col("__tot").cast("double"), 6))
          .as("share_of_week"),
        sf.when(sf.col("__day") > 0, gf.roundAt(
          sf.col("n_events").cast("double") / sf.col("__day").cast("double"), 6))
          .as("share_of_day"))
      .orderBy("dow", "hour")
  }

  /** Churn / resurrection datasheet — the lifecycle rollup raw
    * activity counts can't give: a user is CHURNED when their last
    * event is more than `gapSec` before the corpus horizon (the only
    * honest churn definition without future data), and a RESURRECTION
    * is any within-history gap longer than `gapSec` (the user the
    * churn model wrote off and shouldn't have). Reports user counts,
    * churn rate, resurrection events, and the share of users with at
    * least one resurrection — the numbers a retention review opens
    * with, beside row 115's cohort matrix.
    *
    * Determinism: gaps are exact microsecond longs from the row 237
    * bounded per-user lag window; the horizon is the exact corpus max
    * timestamp; rates are pinned divisions 1e-6.
    *
    * Scale shape: one bounded per-user window + one combinable
    * per-user rollup + a one-row finish. */
  def churnStats(events: DataFrame, userCol: String = "user_id",
                 tsCol: String = "ts", gapSec: Long = 604800L): DataFrame = {
    require(gapSec >= 1, s"gapSec must be >= 1, got $gapSec")
    val gapUs = gapSec * 1000000L
    val e = events.filter(sf.col(tsCol).isNotNull && sf.col(userCol).isNotNull)
      .select(sf.col(userCol).as("u"), sf.unix_micros(sf.col(tsCol)).as("us"),
        sf.col("event_id"))
    val horizon = e.agg(sf.max("us").as("__h"))
    val w = Window.partitionBy("u").orderBy(sf.col("us"), sf.col("event_id"))
    val per = e.withColumn("__prev", sf.lag("us", 1).over(w))
      .groupBy("u")
      .agg(sf.max("us").as("__last"),
        sf.sum((sf.col("us") - sf.col("__prev") > gapUs).cast("long"))
          .cast("long").as("__res"))
    per.crossJoin(sf.broadcast(horizon))
      .agg(sf.count(sf.lit(1)).as("n_users"),
        sf.sum((sf.col("__h") - sf.col("__last") > gapUs).cast("long"))
          .cast("long").as("n_churned"),
        sf.coalesce(sf.sum("__res"), sf.lit(0L)).cast("long")
          .as("n_resurrections"),
        sf.sum((sf.col("__res") > 0).cast("long")).cast("long")
          .as("n_resurrected_users"))
      .select(sf.col("n_users"), sf.col("n_churned"),
        sf.when(sf.col("n_users") > 0, gf.roundAt(
          sf.col("n_churned").cast("double") / sf.col("n_users").cast("double"),
          6)).as("churn_rate"),
        sf.col("n_resurrections"), sf.col("n_resurrected_users"),
        sf.when(sf.col("n_users") > 0, gf.roundAt(
          sf.col("n_resurrected_users").cast("double") /
            sf.col("n_users").cast("double"), 6)).as("resurrection_rate"))
  }

  /** Negative-binomial fit by moments per event type (Greenwood &
    * Yule 1920) — the ACTION on row 333's dispersion verdict: once
    * counts are overdispersed, NB(r, p) with p̂ = m/v, r̂ = m²/(v−m)
    * is the standard replacement intensity model, and the
    * zero-fraction cross-check (observed empty-bin share vs the NB
    * prediction p̂^r̂) says whether overdispersion alone explains the
    * silence or a ZERO-INFLATED process (outages, gating) is hiding
    * inside — the model-selection fork before any capacity simulation.
    *
    * Determinism: moments are exact DECIMAL integers; m, v, p, r are
    * ONE pinned left-assoc chain; the NB zero probability
    * exp(r·ln p) rides the engine-shared exp/ln (the row 430
    * convention), all rounded 1e-6. Underdispersed types (v ≤ m) →
    * NULL fit — NB does not exist there, the honest answer.
    *
    * Scale shape: grid once + one combinable per-type rollup. */
  def negativeBinomialFit(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("n_events").as("v"))
    g.groupBy("t")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("v"))).as("s"),
        sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("q"),
        sf.sum((sf.col("v") === 0L).cast("long")).cast("long").as("zeros"))
      .select({
        val n = sf.col("n").cast("double")
        val m = sf.col("s").cast("double") / n
        val vv = (dec(sf.col("n")) * sf.col("q") -
          sf.col("s") * sf.col("s")).cast("double") / (n * n)
        val p = m / vv
        val r = m * m / (vv - m)
        val ok = sf.col("n") >= 2 && sf.lit(true)
        Seq(sf.col("t").as("event_type"), sf.col("n").as("n_bins"),
          gf.roundAt(m, 6).as("mean"),
          sf.when(ok, gf.roundAt(vv, 6)).as("variance"),
          sf.when(ok, sf.when(vv > m, gf.roundAt(r, 6))).as("nb_r"),
          sf.when(ok, sf.when(vv > m, gf.roundAt(p, 6))).as("nb_p"),
          gf.roundAt(sf.col("zeros").cast("double") / n, 6)
            .as("zero_frac_observed"),
          sf.when(ok, sf.when(vv > m && m > 0,
            gf.roundAt(sf.exp(r * sf.log(p)), 6))).as("zero_frac_nb"))
      }: _*)
      .orderBy("event_type")
  }

  /** Seasonal Mann–Kendall trend test (Hirsch, Slack & Smith 1982)
    * per event type — row 299's MK restricted to WITHIN-season pairs
    * (hour-of-day strata on the hourly grid): comparing 3 AM only with
    * other 3 AMs removes the diurnal cycle that would otherwise drown
    * (or fake) a secular trend — the hydrology-standard form for any
    * strongly cyclic series, and the trend test that composes with
    * row 159's seasonal baselines instead of fighting them. S = Σ_m
    * S_m, Var·18 = Σ_m [n_m(n_m−1)(2n_m+5) − tie_m] — both EXACT
    * integer sums across seasons (no float accumulation), one pinned
    * z with the standard continuity correction.
    *
    * Scale shape: row 299's within-stratum pair join, now keyed
    * (type, season) — pairs are quadratic only WITHIN a season's
    * bins, the same bounded contract. */
  def seasonalMannKendall(events: DataFrame, season: Int = 24,
                          binSec: Long = 3600): DataFrame = {
    require(season >= 2 && season <= 10000,
      s"season must be in [2, 1e4], got $season")
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"),
        sf.col("bin"), (sf.col("bin") % season).as("m"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // both pair sides + ties read it
    val a = g.select(sf.col("t"), sf.col("m"), sf.col("bin").as("ba"),
      sf.col("v").as("va"))
    val b = g.select(sf.col("t").as("tb"), sf.col("m").as("mb"),
      sf.col("bin").as("bb"), sf.col("v").as("vb"))
    val s = a.join(b, sf.col("t") === sf.col("tb") &&
        sf.col("m") === sf.col("mb") && sf.col("ba") < sf.col("bb"))
      .groupBy("t")
      .agg(sf.sum(sf.signum(sf.col("vb") - sf.col("va")).cast("long"))
        .cast("long").as("s_stat"))
    val perSeason = g.groupBy("t", "m", "v").agg(sf.count(sf.lit(1)).as("tg"))
      .groupBy("t", "m")
      .agg(sf.sum(sf.expr("tg * (tg - 1) * (2 * tg + 5)")).cast("long").as("tie"),
        sf.sum("tg").cast("long").as("nm"))
    val ties = perSeason.groupBy("t")
      .agg(sf.sum(sf.expr("nm * (nm - 1) * (2 * nm + 5) - tie")).cast("long")
          .as("var18"),
        sf.sum("nm").cast("long").as("n"),
        sf.count(sf.lit(1)).as("n_seasons"))
    val varS = sf.col("var18").cast("double") / 18.0
    val sD = sf.col("s_stat").cast("double")
    val zNum = sf.when(sf.col("s_stat") > 0, sD - 1.0)
      .when(sf.col("s_stat") < 0, sD + 1.0).otherwise(0.0)
    s.join(ties, "t")
      .select(sf.col("t").as("event_type"), sf.col("n").as("n_bins"),
        sf.col("n_seasons"), sf.col("s_stat"),
        sf.when(sf.col("n") >= 2 && varS > 0,
          gf.roundAt(zNum / sf.sqrt(varS), 6)).as("z"))
      .orderBy("event_type")
  }

  /** Gumbel block-maxima fit per event type (Gumbel 1958; method of
    * moments) — the EVT complement of row 386's peaks-over-threshold:
    * GPD prices HOW heavy the tail is; block maxima answer the
    * capacity question directly — per type, take each DAY's maximum
    * hourly count, fit Gumbel(μ, β) by moments (β = S·√6/π,
    * μ = x̄ − γβ), and report the T-block RETURN LEVELS μ −
    * β·ln(−ln(1 − 1/T)) for T = 7 and 30: "the hourly peak a week /
    * a month will reach once" — the number an SLO or autoscaling
    * policy is actually set from.
    *
    * Determinism: block maxima and their moments are exact integers
    * on the grid; √6/π, Euler's γ, and the two ln(−ln(…)) return-
    * period constants are DRIVER-COMPUTED double literals embedded
    * verbatim in the plan AND the oracle (the row 422 holtWeights
    * convention — no cross-engine transcendental evaluation);
    * μ/β/levels are ONE pinned assembly each, 1e-6. Fewer than 2
    * blocks or zero variance → NULL fit.
    *
    * Scale shape: grid once + one (type, day) max rollup + one
    * per-type moment rollup — all combinable, no windows. */
  def gumbelBlockMaxima(events: DataFrame, blockBins: Int = 24,
                        binSec: Long = 3600): DataFrame = {
    require(blockBins >= 2 && blockBins <= 100000,
      s"blockBins must be in [2, 1e5], got $blockBins")
    val Sqrt6OverPi = math.sqrt(6.0) / math.Pi
    val EulerGamma = 0.5772156649015329
    def retConst(t: Int) = math.log(-math.log(1.0 - 1.0 / t))
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"),
        sf.expr(s"bin div $blockBins").as("blk"), sf.col("n_events").as("v"))
    val maxima = g.groupBy("t", "blk").agg(sf.max("v").as("m"))
    maxima.groupBy("t")
      .agg(sf.count(sf.lit(1)).as("n_blocks"),
        sf.sum(dec(sf.col("m"))).as("__s"),
        sf.sum(dec(sf.col("m")) * dec(sf.col("m"))).as("__q"))
      .select({
        val n = sf.col("n_blocks").cast("double")
        val mean = sf.col("__s").cast("double") / n
        val num = (dec(sf.col("n_blocks")) * sf.col("__q") -
          sf.col("__s") * sf.col("__s")).cast("double")
        val sd = sf.sqrt(num / (n * n))
        val beta = sd * Sqrt6OverPi
        val mu = mean - sf.lit(EulerGamma) * beta
        def level(t: Int) = mu - beta * sf.lit(retConst(t))
        val ok = sf.col("n_blocks") >= 2 && num > 0
        Seq(sf.col("t").as("event_type"), sf.col("n_blocks"),
          gf.roundAt(mean, 6).as("mean_block_max"),
          sf.when(ok, gf.roundAt(mu, 6)).as("gumbel_mu"),
          sf.when(ok, gf.roundAt(beta, 6)).as("gumbel_beta"),
          sf.when(ok, gf.roundAt(level(7), 6)).as("return_level_7"),
          sf.when(ok, gf.roundAt(level(30), 6)).as("return_level_30"))
      }: _*)
      .orderBy("event_type")
  }

  /** Session engagement datasheet — the product-analytics rollup over
    * [[sessionize]]'s gap-based sessions: session and user counts,
    * BOUNCE RATE (single-event sessions — the first number any
    * engagement review asks for), events-per-session, mean session
    * duration, and mean sessions-per-user, in one pass over the
    * session table. The REPORT on row 56's sessionization the way
    * row 128's rolling actives is the report on raw activity.
    *
    * Determinism: all counts exact; the three means are pinned
    * integer-ratio divisions rounded 1e-6 (durations are exact
    * seconds from sessionize's min/max timestamps).
    *
    * Scale shape: [[sessionize]]'s bounded per-user windows + ONE
    * combinable global rollup — no new shuffles beyond the session
    * build itself. */
  def sessionStats(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    val s = sessionize(events, gapSec = gapSec)
    s.agg(sf.count(sf.lit(1)).as("n_sessions"),
        sf.count_distinct(sf.col("user_id")).as("n_users"),
        sf.sum((sf.col("n_events") === 1).cast("long")).cast("long")
          .as("n_bounces"),
        sf.sum("n_events").cast("long").as("__ev"),
        sf.sum("duration_sec").cast("long").as("__dur"))
      .select(sf.col("n_sessions"), sf.col("n_users"), sf.col("n_bounces"),
        sf.when(sf.col("n_sessions") > 0, gf.roundAt(
          sf.col("n_bounces").cast("double") /
            sf.col("n_sessions").cast("double"), 6)).as("bounce_rate"),
        sf.when(sf.col("n_sessions") > 0, gf.roundAt(
          sf.col("__ev").cast("double") / sf.col("n_sessions").cast("double"),
          6)).as("avg_events_per_session"),
        sf.when(sf.col("n_sessions") > 0, gf.roundAt(
          sf.col("__dur").cast("double") / sf.col("n_sessions").cast("double"),
          6)).as("avg_duration_sec"),
        sf.when(sf.col("n_users") > 0, gf.roundAt(
          sf.col("n_sessions").cast("double") / sf.col("n_users").cast("double"),
          6)).as("sessions_per_user"))
  }

  /** Runs UP-AND-DOWN randomness test per event type over the
    * [[denseSeries]] count grid — the turning-point family member
    * (row 357) read as a z-test: the sequence of signs of consecutive
    * differences should, under independence, contain R runs with
    * E[R] = (2m+1)/3 and Var[R] = (16m−29)/90 (m = nonzero
    * differences; Wallis & Moore 1941). Complements row 296's
    * Wald–Wolfowitz (runs ABOVE/BELOW the mean — catches level
    * clustering) by catching MONOTONE structure: a slow ramp keeps a
    * near-perfect above/below balance while collapsing to very few
    * up-down runs. Zero differences (tied neighbors) drop — the
    * standard ties convention, documented.
    *
    * Determinism: diffs and signs are exact integers; runs count =
    * sign changes + 1 over the bin-ordered nonzero diffs (per-type
    * window, span-bounded — the row 421 grid convention); z is ONE
    * pinned assembly rounded 1e-6. m < 2 → NULL z.
    *
    * Scale shape: grid once + ONE lead equi join + a calendar-bounded
    * per-type window + one combinable rollup. */
  def runsUpDown(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val signs = g
      .join(g.select(sf.col("t"), (sf.col("bin") - 1).as("bin"),
        sf.col("v").as("v1")), Seq("t", "bin"))
      .select(sf.col("t"), sf.col("bin"),
        sf.signum((sf.col("v1") - sf.col("v")).cast("double")).cast("int")
          .as("__s"))
      .filter(sf.col("__s") =!= 0)
    val w = Window.partitionBy("t").orderBy("bin")
    val runs = signs
      .withColumn("__prev", sf.lag("__s", 1).over(w))
      .select(sf.col("t"),
        sf.when(sf.col("__prev").isNull || sf.col("__prev") =!= sf.col("__s"),
          1L).otherwise(0L).as("__new"))
      .groupBy("t")
      .agg(sf.count(sf.lit(1)).as("m"), sf.sum("__new").cast("long").as("n_runs"))
    runs.select({
        val m = sf.col("m").cast("double")
        val e = (sf.lit(2.0) * m + 1.0) / 3.0
        val varR = (sf.lit(16.0) * m - 29.0) / 90.0
        val z = (sf.col("n_runs").cast("double") - e) / sf.sqrt(varR)
        Seq(sf.col("t").as("event_type"), sf.col("m").as("n_diffs"),
          sf.col("n_runs"),
          gf.roundAt(e, 6).as("expected_runs"),
          sf.when(sf.col("m") >= 2, gf.roundAt(z, 6)).as("z"))
      }: _*)
      .orderBy("event_type")
  }

  /** Inter-arrival exponential fit + one-sample KS per event type —
    * the Poisson-process reality check the dispersion index (row 333)
    * reads only at bin granularity: per (user, type) consecutive gaps
    * pool into the type's inter-arrival sample, the MoM exponential
    * rate is λ = n/Σgap, and the exact one-sample Kolmogorov–Smirnov
    * statistic D = sup|ECDF − (1 − e^{−λg})| prices HOW exponential
    * the arrivals really are (retry storms and sessions put mass at
    * tiny gaps; schedulers put spikes at fixed gaps — both blow D up
    * long before the mean moves).
    *
    * Determinism: gaps are exact microsecond longs from a per-(user,
    * type) BOUNDED window (the row 237 bot-cadence shape); the ECDF
    * lives on the (type, gap) DOMAIN with exact cumulative counts
    * (domain-bounded windows, the row 144 KS convention); the model
    * CDF term exponentiates the pinned ratio (n·g)/Σg (exact integers
    * cast once), D is a max over identically-computed doubles with a
    * (−gap) tie-break; mean/λ are pinned assemblies 1e-6. Types whose
    * gaps are all zero (Σg = 0 — a degenerate same-timestamp burst)
    * drop, documented.
    *
    * Scale shape: one bounded per-key lag window + one domain
    * collapse + a per-type domain cumulative + one max-struct rollup. */
  def interarrivalExpFit(events: DataFrame, typeCol: String = "event_type",
                         userCol: String = "user_id",
                         tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy("u", "t").orderBy(sf.col("us"), sf.col("event_id"))
    val gaps = events
      .filter(sf.col(tsCol).isNotNull && sf.col(userCol).isNotNull)
      .select(sf.col(typeCol).as("t"), sf.col(userCol).as("u"),
        sf.unix_micros(sf.col(tsCol)).as("us"), sf.col("event_id"))
      .withColumn("__prev", sf.lag("us", 1).over(w))
      .filter(sf.col("__prev").isNotNull)
      .select(sf.col("t"), (sf.col("us") - sf.col("__prev")).as("g"))
    val cells = gaps.groupBy("t", "g").agg(sf.count(sf.lit(1)).as("c"))
      .localCheckpoint(true) // totals + cumulative read it
    val tot = cells.groupBy("t").agg(sf.sum("c").cast("long").as("n"),
        sf.sum(dec(sf.col("c")) * dec(sf.col("g"))).as("sg"))
      .filter(sf.col("sg") > 0)
    val wd = Window.partitionBy("t").orderBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cells.withColumn("__cum", sf.sum("c").over(wd))
      .join(tot, "t")
      .select(sf.col("t"), sf.col("g"), sf.col("n"), sf.col("sg"), {
        val f = sf.lit(1.0) - sf.exp(-(dec(sf.col("n")) * dec(sf.col("g")))
          .cast("double") / sf.col("sg").cast("double"))
        val hi = sf.abs(sf.col("__cum").cast("double") /
          sf.col("n").cast("double") - f)
        val lo = sf.abs(f - (sf.col("__cum") - sf.col("c")).cast("double") /
          sf.col("n").cast("double"))
        sf.greatest(hi, lo).as("__d")
      })
    scored.groupBy("t")
      .agg(sf.max(sf.struct(sf.col("__d"), (-sf.col("g")).as("__ng"),
        sf.col("n"), sf.col("sg"))).as("__m"))
      .select(sf.col("t").as(typeCol), sf.col("__m.n").as("n_gaps"),
        gf.roundAt(sf.col("__m.sg").cast("double") /
          (sf.col("__m.n").cast("double") * 1e6), 6).as("mean_gap_sec"),
        gf.roundAt(sf.col("__m.n").cast("double") * 3.6e9 /
          sf.col("__m.sg").cast("double"), 6).as("lambda_per_hour"),
        gf.roundAt(sf.col("__m.__d"), 6).as("ks_stat"),
        gf.roundAt((-sf.col("__m.__ng")).cast("double") / 1e6, 6).as("ks_at_sec"))
      .orderBy(typeCol)
  }

  /** Month-end SEMI-ADDITIVE balance rollup — the measure class
    * (account balances, inventory levels, subscription counts) that
    * sums across ACCOUNTS but not across TIME: per month, each
    * account's balance is its LAST observed value CARRIED FORWARD
    * through silent months (an account that didn't transact in March
    * still has its February balance — skipping it would understate
    * every quiet month), then summed across accounts. The classic
    * OLAP snapshot-fact pattern, built directly from the event log.
    *
    * Determinism: the closing row per (account, month) is the exact
    * max(struct(ts, event_id, value)) — event ids are unique, so the
    * argmax is a total order; values ride the 1e-4 grid as exact
    * longs; the carry-forward is last-non-null over a PER-ACCOUNT
    * month window (bounded by the calendar span — never a one-task
    * window); month totals are exact integer sums, one /1e4 rounding.
    * Null-value and null-user events drop (complete-case).
    *
    * Scale shape: one combinable (account, month) argmax + a per-
    * account month-grid explode (accounts × months-since-first-event
    * rows — the honest materialization every snapshot fact table
    * pays) + the bounded carry window + one month rollup. */
  def monthlyBalances(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts",
                      valueCol: String = "value"): DataFrame = {
    val e = events.filter(sf.col(tsCol).isNotNull && sf.col(userCol).isNotNull &&
        sf.col(valueCol).isNotNull)
      .select(sf.col(userCol).as("u"),
        (sf.year(sf.col(tsCol)) * 12 + sf.month(sf.col(tsCol)) - 1).as("mi"),
        sf.unix_micros(sf.col(tsCol)).as("__us"), sf.col("event_id"),
        sf.floor(sf.col(valueCol).cast("double") * 1e4 + 0.5).cast("long")
          .as("__v4"))
    val closing = e.groupBy("u", "mi")
      .agg(sf.max(sf.struct(sf.col("__us"), sf.col("event_id"),
        sf.col("__v4"))).as("__m"))
      .select(sf.col("u"), sf.col("mi"), sf.col("__m.__v4").as("__v4"))
      .localCheckpoint(true) // grid + fill read it
    val hi = closing.agg(sf.max("mi").as("__hi"))
    val grid = closing.groupBy("u").agg(sf.min("mi").as("__lo"))
      .crossJoin(sf.broadcast(hi))
      .select(sf.col("u"),
        sf.explode(sf.sequence(sf.col("__lo"), sf.col("__hi"))).as("mi"))
    val w = Window.partitionBy("u").orderBy("mi")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = grid.join(closing, Seq("u", "mi"), "left")
      .withColumn("__bal", sf.last(sf.col("__v4"), ignoreNulls = true).over(w))
    filled.groupBy("mi")
      .agg(sf.count(sf.col("__bal")).as("n_accounts"),
        sf.sum("__bal").cast("long").as("__t4"))
      .select(sf.concat(
          sf.expr("mi div 12").cast("string"), sf.lit("-"),
          sf.lpad((sf.col("mi") % 12 + 1).cast("string"), 2, "0")).as("month"),
        sf.col("n_accounts"),
        gf.roundAt(sf.col("__t4").cast("double") / 1e4, 4).as("total_balance"),
        sf.when(sf.col("n_accounts") > 0, gf.roundAt(
          sf.col("__t4").cast("double") / 1e4 /
            sf.col("n_accounts").cast("double"), 6)).as("avg_balance"))
      .orderBy("month")
  }

  /** Permutation entropy of order 3 (Bandt & Pompe 2002) per event
    * type over the [[denseSeries]] gap-filled count grid — the
    * COMPLEXITY number the moment ladder (variance, ACF, Hurst) can't
    * give: it reads the distribution of ORDINAL patterns of
    * consecutive triples, so it is invariant to any monotone rescaling
    * of the counts and maximally separates "regular" (few patterns,
    * H→0) from "noisy" (all six equally likely, H→ln 6). The standard
    * cheap pre-screen before fitting any series model: a near-zero PE
    * series is deterministic structure a seasonal model should
    * capture; a near-1 normalized PE series has no forecastable order.
    *
    * Ties break by TIME INDEX (earlier bin ranks first — the Bandt &
    * Pompe stable convention), decided by pure integer comparisons, so
    * every window maps to exactly one of the 6 patterns with no float
    * anywhere. Entropy: with pattern counts c and N windows,
    * H = (N·ln N − Σ c·ln c)/N over per-count 1e-9-snapped ln longs in
    * DECIMAL(38,0) (partition-order-proof), normalized by the same
    * snapped ln 6 — each output ONE pinned division rounded 1e-6.
    * Fewer than 1 windows (n_bins < 3) → no row.
    *
    * Scale shape: the grid builds once and checkpoints; triples come
    * from TWO (type, bin) equi joins on the dense grid (no window, no
    * sort), then a (type, pattern) cell collapse — at most 6 cells per
    * type — and a per-type rollup. */
  def permutationEntropy(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // read three times (triple join)
    val a = sf.col("v"); val b = sf.col("v1"); val c = sf.col("v2")
    val pattern = sf.when(a <= b && b <= c, "012")
      .when(a <= b && a <= c, "021")
      .when(a <= b, "201")
      .when(a <= c, "102")
      .when(b <= c, "120")
      .otherwise("210")
    val triples = g
      .join(g.select(sf.col("t"), (sf.col("bin") - 1).as("bin"),
        sf.col("v").as("v1")), Seq("t", "bin"))
      .join(g.select(sf.col("t"), (sf.col("bin") - 2).as("bin"),
        sf.col("v").as("v2")), Seq("t", "bin"))
    val cells = triples.groupBy(sf.col("t"), pattern.as("__pat"))
      .agg(sf.count(sf.lit(1)).as("__c"))
    val ln9 = (x: Column) =>
      sf.floor(sf.log(x.cast("double")) * 1e9 + 0.5).cast("long")
    val LN6_9 = 1791759469L // floor(ln 6 * 1e9 + 0.5), mirrored in the oracle
    cells.groupBy("t")
      .agg(sf.sum("__c").as("n_windows"),
        sf.count(sf.lit(1)).as("n_patterns"),
        sf.sum(dec(sf.col("__c")) * dec(ln9(sf.col("__c")))).as("__clnc"))
      .select(sf.col("t").as("event_type"), sf.col("n_windows"),
        sf.col("n_patterns"),
        gf.roundAt((dec(sf.col("n_windows")) * dec(ln9(sf.col("n_windows"))) -
          sf.col("__clnc")).cast("double") /
          (sf.col("n_windows").cast("double") * 1e9), 6).as("perm_entropy"),
        gf.roundAt((dec(sf.col("n_windows")) * dec(ln9(sf.col("n_windows"))) -
          sf.col("__clnc")).cast("double") /
          (sf.col("n_windows").cast("double") * LN6_9.toDouble), 6)
          .as("perm_entropy_norm"))
      .orderBy("event_type")
  }

  /** Hjorth parameters (Hjorth 1970) per event type over the
    * [[denseSeries]] count grid — the three-number time-domain
    * datasheet signal processing reads before any spectral analysis:
    * ACTIVITY = population variance of the series (total power),
    * MOBILITY = √(var(Δv)/var(v)) (a mean frequency proxy — how fast
    * the series moves relative to its spread), COMPLEXITY =
    * mobility(Δv)/mobility(v) (how much the CHANGE itself changes —
    * 1 for a pure sine, growing with bandwidth). Together they
    * summarize level noise vs oscillation vs irregularity in one scan
    * where the full periodogram (row 313) costs a candidate sweep.
    *
    * Exactness: with n-scaled centered moments A = n·Σv²−(Σv)² (and
    * likewise A_d over the n−1 first differences, A_dd over the n−2
    * second differences v_{t+2}−2v_{t+1}+v_t), every term is
    * DECIMAL(38,0); activity = A/n², mobility =
    * √((A_d·n²)/(A·n_d²)), complexity = √((A_dd·n_d²)/(A_d·n_dd²)) /
    * mobility — each a pinned double assembly rounded 1e-6. Constant
    * series (A = 0) → NULL mobility/complexity; constant differences
    * (A_d = 0) → NULL complexity.
    *
    * Scale shape: grid once + TWO lag equi joins (lead-1, lead-2) and
    * ONE per-type rollup — no window, no sort, combinable sums. */
  def hjorthParameters(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val joined = g
      .join(g.select(sf.col("t"), (sf.col("bin") - 1).as("bin"),
        sf.col("v").as("v1")), Seq("t", "bin"), "left")
      .join(g.select(sf.col("t"), (sf.col("bin") - 2).as("bin"),
        sf.col("v").as("v2")), Seq("t", "bin"), "left")
    val d = sf.col("v1") - sf.col("v")
    val dd = sf.col("v2") - sf.lit(2L) * sf.col("v1") + sf.col("v")
    val m = joined.groupBy("t").agg(
      sf.count(sf.lit(1)).as("n"),
      sf.sum("v").as("s"), sf.sum(dec(sf.col("v")) * dec(sf.col("v"))).as("q"),
      sf.count(sf.col("v1")).as("nd"),
      sf.sum(d).as("sd"),
      sf.sum(sf.when(sf.col("v1").isNotNull, dec(d) * dec(d))).as("qd"),
      sf.count(sf.col("v2")).as("ndd"),
      sf.sum(dd).as("sdd"),
      sf.sum(sf.when(sf.col("v2").isNotNull, dec(dd) * dec(dd))).as("qdd"))
    val A = dec(sf.col("n")) * sf.col("q") - dec(sf.col("s")) * dec(sf.col("s"))
    val Ad = dec(sf.col("nd")) * sf.col("qd") -
      dec(sf.col("sd")) * dec(sf.col("sd"))
    val Add = dec(sf.col("ndd")) * sf.col("qdd") -
      dec(sf.col("sdd")) * dec(sf.col("sdd"))
    val mob = sf.sqrt((Ad * dec(sf.col("n")) * dec(sf.col("n"))).cast("double") /
      (A * dec(sf.col("nd")) * dec(sf.col("nd"))).cast("double"))
    val mobD = sf.sqrt(
      (Add * dec(sf.col("nd")) * dec(sf.col("nd"))).cast("double") /
      (Ad * dec(sf.col("ndd")) * dec(sf.col("ndd"))).cast("double"))
    m.select(sf.col("t").as("event_type"), sf.col("n").as("n_bins"),
        gf.roundAt(A.cast("double") /
          (sf.col("n") * sf.col("n")).cast("double"), 6).as("activity"),
        sf.when(A > 0 && sf.col("nd") >= 2,
          gf.roundAt(mob, 6)).as("mobility"),
        sf.when(A > 0 && Ad > 0 && sf.col("ndd") >= 2,
          gf.roundAt(mobD / mob, 6)).as("complexity"))
      .orderBy("event_type")
  }

  /** AR(2) fit by the Yule–Walker equations per event type over the
    * [[denseSeries]] count grid — the smallest honest AUTOREGRESSIVE
    * model: φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) from the
    * lag-1/lag-2 autocorrelations (row 266's exact population form),
    * plus the innovation-variance ratio 1−φ₁r₁−φ₂r₂ (what fraction of
    * the series' variance the AR structure does NOT explain — the
    * one-number forecastability readout). φ₂ < 0 with φ₁ large is the
    * damped-oscillation signature (pseudo-periodic traffic); φ₁+φ₂→1
    * approaches a unit root (trending/bursty, differencing needed) —
    * the model-selection fork before any heavier forecast.
    *
    * Determinism: num₁, num₂, den are the row-266 exact
    * DECIMAL(38,0) n²-scaled sums; r₁, r₂ and the three outputs are
    * ONE pinned left-assoc double chain each, rounded 1e-6. den = 0
    * (constant series) or 1−r₁² = 0 → NULL coefficients.
    *
    * Scale shape: grid once + one bounded 2-lag explode equi join
    * (the row 266 shape) + per-type rollup. */
  def ar2YuleWalker(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val stats = g.groupBy("t").agg(sf.count(sf.lit(1)).as("n"),
      sf.sum("v").as("s"))
    val den = g.join(stats, "t")
      .select(sf.col("t"),
        (dec(sf.col("n")) * dec(sf.col("v")) - dec(sf.col("s"))).as("__d"))
      .groupBy("t").agg(sf.sum(sf.col("__d") * sf.col("__d")).as("den"))
    val pairs = g
      .withColumn("lag", sf.explode(sf.sequence(sf.lit(1L), sf.lit(2L))))
      .select(sf.col("t"), (sf.col("bin") + sf.col("lag")).as("bin"),
        sf.col("lag"), sf.col("v").as("v1"))
      .join(g.select(sf.col("t"), sf.col("bin"), sf.col("v").as("v2")),
        Seq("t", "bin"))
    val num = pairs.join(stats, "t")
      .select(sf.col("t"), sf.col("lag"),
        ((dec(sf.col("n")) * dec(sf.col("v1")) - dec(sf.col("s"))) *
          (dec(sf.col("n")) * dec(sf.col("v2")) - dec(sf.col("s")))).as("__p"))
      .groupBy("t")
      .agg(sf.sum(sf.when(sf.col("lag") === 1L, sf.col("__p"))).as("num1"),
        sf.sum(sf.when(sf.col("lag") === 2L, sf.col("__p"))).as("num2"))
    num.join(den, "t").join(stats, "t")
      .select({
        val r1 = sf.col("num1").cast("double") / sf.col("den").cast("double")
        val r2 = sf.col("num2").cast("double") / sf.col("den").cast("double")
        val disc = sf.lit(1.0) - r1 * r1
        val phi1 = r1 * (sf.lit(1.0) - r2) / disc
        val phi2 = (r2 - r1 * r1) / disc
        // NESTED guards: ANSI division errors on den = 0, and CaseWhen
        // only skips the VALUE lazily — a den-using CONDITION would
        // still evaluate. Outer when keys on the exact decimal; the
        // disc check runs only once den > 0 makes r1 safe.
        def guarded(x: Column) = sf.when(sf.col("den") > 0,
          sf.when(disc =!= 0.0, gf.roundAt(x, 6)))
        Seq(sf.col("t").as("event_type"), sf.col("n").as("n_bins"),
          sf.when(sf.col("den") > 0, gf.roundAt(r1, 6)).as("r1"),
          sf.when(sf.col("den") > 0, gf.roundAt(r2, 6)).as("r2"),
          guarded(phi1).as("phi1"),
          guarded(phi2).as("phi2"),
          guarded(sf.lit(1.0) - phi1 * r1 - phi2 * r2)
            .as("innovation_ratio"))
      }: _*)
      .orderBy("event_type")
  }

  /** Lo–MacKinlay variance ratio (Lo & MacKinlay 1988) per event type
    * over the [[denseSeries]] count grid, treating each bin's count as
    * the INCREMENT of the cumulative event process: VR(q) =
    * Var(q-bin sums)/(q·Var(1-bin)) over OVERLAPPING windows — exactly
    * 1 for independent increments, > 1 when shocks persist
    * (burst/trend clustering), < 1 under mean reversion. The
    * aggregation-consistency check beside Hurst (row 416): H reads
    * long memory on a log–log ladder, VR reads it at specific horizons
    * q ∈ {2, 4, 8}, so a capacity model sized on hourly variance can
    * be checked directly at its true batch horizon.
    *
    * Exactness: with S = Σv over n bins and the q-window sum w_t,
    * every centered term n·w_t − qS and n·v_t − S is an exact integer;
    * A_q = Σ(n·w_t − qS)² over m_q = n−q+1 windows and B = Σ(n·v−S)²
    * are DECIMAL(38,0), and VR(q) = (A_q·n)/(m_q·q·B) — ONE pinned
    * division of two exact decimals, rounded 1e-6. Constant series
    * (B = 0) or n ≤ q → NULL.
    *
    * Scale shape: grid once + ONE bounded 8-lag fan-out equi join
    * (the row 287 trailing-window shape; window sums for all three q
    * fall out of the same join via conditional aggregation) + one
    * per-type rollup. No window function, no per-series sort. */
  def varianceRatio(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val qs = Seq(2, 4, 8)
    val maxQ = qs.max
    val g = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true)
    val stats = g.groupBy("t").agg(sf.count(sf.lit(1)).as("n"),
      sf.sum("v").as("s"))
    val base = g.join(stats, "t")
      .select(sf.col("t"),
        (dec(sf.col("n")) * dec(sf.col("v")) - dec(sf.col("s"))).as("__d"))
      .groupBy("t").agg(sf.sum(sf.col("__d") * sf.col("__d")).as("b"))
    // forward fan-out: window anchored at bin collects v from bin+l
    val win = g
      .withColumn("l", sf.explode(sf.sequence(sf.lit(0L), sf.lit(maxQ - 1L))))
      .select(sf.col("t"), (sf.col("bin") - sf.col("l")).as("bin"),
        sf.col("l"), sf.col("v").as("vl"))
      .join(g.select(sf.col("t"), sf.col("bin")), Seq("t", "bin"))
      .groupBy("t", "bin")
      .agg(sf.count(sf.lit(1)).as("__avail"),
        (for (q <- qs) yield
          sf.sum(sf.when(sf.col("l") < q, sf.col("vl"))).cast("long")
            .as(s"w$q")): _*)
    val aCols = for (q <- qs) yield {
      val cw = dec(sf.col("n")) * dec(sf.col(s"w$q")) -
        sf.lit(q).cast("decimal(38,0)") * dec(sf.col("s"))
      sf.sum(sf.when(sf.col("__avail") >= q, cw * cw)).as(s"a$q")
    }
    val aq = win.join(stats, "t")
      .groupBy("t")
      .agg(aCols.head, aCols.tail: _*)
    aq.join(base, "t").join(stats, "t")
      .select(Seq(sf.col("t").as("event_type"), sf.col("n").as("n_bins")) ++
        (for (q <- qs) yield {
          val mq = sf.col("n") - sf.lit(q.toLong) + sf.lit(1L)
          sf.when(sf.col("b") > 0 && sf.col("n") > q, gf.roundAt(
            (sf.col(s"a$q") * dec(sf.col("n"))).cast("double") /
              (dec(mq) * sf.lit(q).cast("decimal(38,0)") * sf.col("b"))
                .cast("double"), 6)).as(s"vr$q")
        }): _*)
      .orderBy("event_type")
  }

  /** Concurrency profile + Little's-law certification — the capacity
    * question asked of the session log: how many sessions are open AT
    * ONCE (time-weighted mean, p95, max), the arrival rate λ and mean
    * session duration W beside them, and the L = λ·W identity gap as
    * an internal-consistency certification (over a closed horizon the
    * time-average concurrency EQUALS λ·W exactly in exact arithmetic —
    * the reported gap is the two readouts' independent 1e-6 roundings,
    * so a material gap means a broken sweep, not broken queueing
    * theory). The peak/percentile rows are what capacity planning
    * actually provisions for; rows 466/467 profile LOAD by calendar
    * cell, this profiles SIMULTANEITY on the exact event-time sweep.
    *
    * Determinism: sessions are the row 56 gap rule on exact micros;
    * the sweep collapses boundaries per distinct timestamp with ends
    * applied BEFORE starts (adjacent sessions never overlap — pinned
    * in both engines by summing net deltas per timestamp); levels are
    * exact integers from a range-partitioned prefix sum; every
    * readout is one pinned 1e-6 division of exact integer sums.
    *
    * Scale shape: one key-windowed sessionization (events shuffle
    * once, by key), then BOUNDARY-domain work only (<= 2 sessions
    * rows): a per-timestamp collapse, the row 135 range-partitioned
    * prefix sum (never a one-task window), one dense-index self join
    * for interval widths, a level-domain cumulative (bounded by max
    * concurrency, the ksTest pmod idiom), and one-row rollups. */
  def concurrencyProfile(events: DataFrame, keyCol: String = "user_id",
                         tsCol: String = "ts", idCol: String = "event_id",
                         gapSec: Long = 1800): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(sf.col(tsCol), sf.col(idCol))
    val lagTs = sf.lag(sf.col(tsCol), 1).over(byKey)
    val isNew = sf.when(lagTs.isNull, 1).otherwise(
      (sf.unix_micros(sf.col(tsCol)) - sf.unix_micros(lagTs) >
        gapSec * 1000000L).cast("int"))
    val sessions = events
      .filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
      .withColumn("__new", isNew)
      .withColumn("__sess", sf.sum("__new").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(sf.col(keyCol), sf.col("__sess"))
      .agg(sf.min(sf.unix_micros(sf.col(tsCol))).as("__a"),
        sf.max(sf.unix_micros(sf.col(tsCol))).as("__b"))
      .localCheckpoint(true) // boundaries + the W/λ rollup read it
    // per-timestamp boundary collapse: net = starts − ends at that us;
    // ends-before-starts is implied by summing the net (a level never
    // passes THROUGH a higher intermediate at a tied timestamp)
    val bounds = sessions.select(sf.col("__a").as("us"), sf.lit(1L).as("__d"))
      .union(sessions.select(sf.col("__b"), sf.lit(-1L)))
      .groupBy("us").agg(sf.sum("__d").as("__net"))
    val leveled = StarSchema.globalPrefixSumsMulti(
      bounds.withColumn("__one", sf.lit(1L)), Seq("us"),
      Seq("__net" -> "level", "__one" -> "__idx"))
      .localCheckpoint(true) // both sides of the width self join read it
    val widths = leveled.select(sf.col("__idx").as("__i"), sf.col("us").as("__u0"),
        sf.col("level"))
      .join(leveled.select((sf.col("__idx") - 1).as("__i"), sf.col("us").as("__u1")),
        Seq("__i"))
      .select(sf.col("level"), (sf.col("__u1") - sf.col("__u0")).as("__w"))
    val byLevel = widths.groupBy("level").agg(sf.sum(dec(sf.col("__w"))).as("__lw"))
    val lw = Window.partitionBy(sf.pmod(sf.hash(sf.col("level")), sf.lit(1)))
      .orderBy("level").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byLevel.withColumn("__cw", sf.sum("__lw").over(lw))
      .localCheckpoint(true) // total + the p95 probe read it
    val sweep = cum.agg(
      sf.sum(dec(sf.col("level")) * sf.col("__lw")).as("__num"),
      sf.sum(sf.col("__lw")).as("__hor"),
      sf.max("level").as("l_max")).localCheckpoint(true)
    val p95 = cum.crossJoin(sf.broadcast(sweep.select(sf.col("__hor").as("__h2"))))
      .filter(sf.col("__cw") * 100 >= sf.col("__h2") * 95)
      .agg(sf.min("level").as("l_p95"))
    val base = sessions.agg(
      sf.count(sf.lit(1)).as("n_sessions"),
      sf.sum(dec(sf.col("__b")) - dec(sf.col("__a"))).as("__durus"))
    base.crossJoin(sf.broadcast(sweep)).crossJoin(sf.broadcast(p95))
      .select(sf.col("n_sessions"),
        gf.roundAt(sf.col("__hor").cast("double") / 1e6, 6).as("horizon_s"),
        gf.roundAt(sf.col("n_sessions").cast("double") /
          (sf.col("__hor").cast("double") / 1e6) * 3600.0, 6).as("lambda_per_hour"),
        gf.roundAt(sf.col("__durus").cast("double") / 1e6 /
          sf.col("n_sessions").cast("double"), 6).as("w_mean_s"),
        gf.roundAt((dec(sf.col("__num"))).cast("double") /
          sf.col("__hor").cast("double"), 6).as("l_time_avg"),
        sf.col("l_max"), sf.col("l_p95"))
      // the certification: λ·W from the PUBLISHED (already-rounded)
      // readouts — the gap a reader could recompute from the row
      .withColumn("l_littles",
        gf.roundAt(sf.col("lambda_per_hour") / 3600.0 * sf.col("w_mean_s"), 6))
      .withColumn("identity_gap",
        gf.roundAt(sf.abs(sf.col("l_littles") - sf.col("l_time_avg")), 6))
  }

  /** Erlang-C staffing table (Erlang 1917; the M/M/c delay formula) —
    * the question [[concurrencyProfile]]'s offered load a = λ·W
    * exists to feed: FOR EACH candidate agent count c > a, the
    * probability an arrival must WAIT, P_wait = (aᶜ/c!)·(c/(c−a)) /
    * (Σ_{k<c} aᵏ/k! + (aᶜ/c!)·(c/(c−a))), plus utilization a/c and
    * the first c meeting `targetWaitProb` — the canonical
    * support-desk / on-call / connection-pool sizing table, computed
    * from the log's own arrival rate and service time instead of a
    * guessed load.
    *
    * Determinism: a is the PUBLISHED (1e-6-pinned) offered load from
    * the session sweep; each term aᵏ/k! evaluates as exp(k·ln a −
    * ln k!) with ln k! accumulated from 1e-9-snapped lns over the
    * bounded k grid (the row 526 factorial convention) and each term
    * snapped 1e-9 before the sum, so the cumulative denominator is an
    * exact long; P_wait is one pinned assembly 1e-6. Rows are the
    * BOUNDED c domain [⌊a⌋+1, ⌊a⌋+maxExtra].
    *
    * Scale shape: the corpus pass is [[concurrencyProfile]]'s session
    * sweep reduced to ONE row; everything after is a bounded domain
    * explode (⌊a⌋ + maxExtra rows) with a bounded cumulative.
    * Contract: terms evaluate in log space and the direct assembly is
    * safe for offered loads a ≲ 700 (double's exp range); a call
    * center with thousands of erlangs should switch to the
    * normalized Erlang-B recursion — at that magnitude the TABLE, not
    * the arithmetic, is what needs rethinking. */
  def erlangStaffing(events: DataFrame, keyCol: String = "user_id",
                     tsCol: String = "ts", idCol: String = "event_id",
                     gapSec: Long = 1800, targetWaitProb: Double = 0.2,
                     maxExtra: Int = 16): DataFrame = {
    require(maxExtra >= 1 && maxExtra <= 64,
      s"maxExtra must be in [1, 64], got $maxExtra")
    require(targetWaitProb > 0 && targetWaitProb < 1,
      s"targetWaitProb in (0,1), got $targetWaitProb")
    val prof = concurrencyProfile(events, keyCol, tsCol, idCol, gapSec)
      .select(sf.col("l_littles").as("__a"))
    // c domain with running ln k! and the k < c partial sum of
    // snapped-1e-9 terms a^k/k!
    val grid = prof
      .select(sf.col("__a"),
        sf.explode(sf.sequence(sf.lit(0),
          sf.floor(sf.col("__a")).cast("int") + maxExtra)).as("k"))
      .withColumn("__lnk", sf.when(sf.col("k") === 0, sf.lit(0L))
        .otherwise(sf.floor(sf.log(sf.col("k").cast("double")) * 1e9 + 0.5)
          .cast("long")))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__a")), sf.lit(1)))
      .orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = grid
      .withColumn("__lnfact", sf.sum("__lnk").over(w))
      .withColumn("__term9", sf.floor(sf.exp(
        sf.col("k").cast("double") * sf.log(sf.col("__a")) -
          sf.col("__lnfact").cast("double") / 1e9) * 1e9 + 0.5).cast("long"))
      .withColumn("__cum9", sf.sum(dec(sf.col("__term9"))).over(w))
      .localCheckpoint(true) // the c rows and their k<c sums read it
    val floorA = sf.floor(sf.col("__a")).cast("long")
    terms
      .filter(sf.col("k") > floorA)
      .select(sf.col("__a"), sf.col("k").cast("long").as("agents"),
        sf.col("__term9"), (sf.col("__cum9") - sf.col("__term9")).as("__below9"))
      .withColumn("__erl", sf.col("__term9").cast("double") *
        (sf.col("agents").cast("double") /
          (sf.col("agents").cast("double") - sf.col("__a"))))
      .select(sf.col("agents"),
        gf.roundAt(sf.col("__a") / sf.col("agents").cast("double"), 6)
          .as("utilization"),
        gf.roundAt(sf.col("__erl") /
          (sf.col("__below9").cast("double") + sf.col("__erl")), 6)
          .as("p_wait"))
      .withColumn("meets_target",
        (sf.col("p_wait") <= targetWaitProb).cast("int"))
      .orderBy("agents")
  }

  /** Bass diffusion fit (Bass 1969, the discrete-OLS form) over the
    * weekly FIRST-SEEN adopter series — the innovation/imitation
    * decomposition of a product's adoption curve: S_t = p·m +
    * (q−p)·Y_{t−1} − (q/m)·Y²_{t−1} with S_t new adopters, Y
    * cumulative; OLS on (1, Y, Y²) gives (a, b, c), then m =
    * (−b−√(b²−4ac))/(2c), p = a/m, q = −c·m, and the implied PEAK
    * WEEK t* = ln(q/p)/(p+q) — the growth question (organic pull q
    * vs marketing push p, and when the curve turns) that rows 115/
    * 478/525's retention ledgers don't ask. One row out.
    *
    * Determinism: S and Y are exact integers on the dense week grid;
    * the 3×3 normal equations' moments (ΣY, ΣY², ΣY³, ΣY⁴, ΣS, ΣSY,
    * ΣSY²) are exact DECIMAL(38,0) sums; Cramer determinants and the
    * root/ln/sqrt assembly are ONE pinned chain 1e-6 in lazy
    * when-branches (singular/degenerate fits -> NULLs, oracle-guarded
    * the same way: needs c < 0, disc >= 0, m/p/q > 0).
    *
    * Scale shape: one per-user min rollup, one week-domain collapse
    * with a bounded dense-grid cumulative, a one-row moment reduce. */
  def bassDiffusion(events: DataFrame, keyCol: String = "user_id",
                    tsCol: String = "ts"): DataFrame = {
    val firstSeen = events
      .filter(sf.col(keyCol).isNotNull && sf.col(tsCol).isNotNull)
      .groupBy(keyCol)
      .agg(sf.min(sf.expr(s"unix_micros($tsCol) div 604800000000"))
        .as("__w"))
    val adopters = firstSeen.groupBy("__w")
      .agg(sf.count(sf.lit(1)).as("__s"))
    // dense week grid so Y carries across silent weeks
    val bounds = adopters.agg(sf.min("__w").as("__lo"), sf.max("__w").as("__hi"))
    val grid = bounds.select(
        sf.explode(sf.sequence(sf.col("__lo"), sf.col("__hi"))).as("__w"))
      .join(adopters, Seq("__w"), "left")
      .select(sf.col("__w"), sf.coalesce(sf.col("__s"), sf.lit(0L)).as("s"))
    val w = Window.partitionBy(sf.pmod(sf.hash(sf.col("__w")), sf.lit(1)))
      .orderBy("__w").rowsBetween(Window.unboundedPreceding, -1)
    val series = grid
      .withColumn("y", sf.coalesce(sf.sum("s").over(w), sf.lit(0L)))
    val m = series.agg(
      sf.count(sf.lit(1)).as("n"),
      sf.sum(dec(sf.col("y"))).as("sy"),
      sf.sum(dec(sf.col("y")) * sf.col("y")).as("sy2"),
      sf.sum(dec(sf.col("y")) * sf.col("y") * sf.col("y")).as("sy3"),
      sf.sum(dec(sf.col("y")) * sf.col("y") * sf.col("y") * sf.col("y")).as("sy4"),
      sf.sum(dec(sf.col("s"))).as("ss"),
      sf.sum(dec(sf.col("s")) * sf.col("y")).as("ssy"),
      sf.sum(dec(sf.col("s")) * sf.col("y") * sf.col("y")).as("ssy2"))
    def d(c: Column) = c.cast("double")
    // Cramer's rule on the (1, Y, Y^2) normal equations
    val det = d(sf.col("n")) * (d(sf.col("sy2")) * d(sf.col("sy4")) - d(sf.col("sy3")) * d(sf.col("sy3"))) -
      d(sf.col("sy")) * (d(sf.col("sy")) * d(sf.col("sy4")) - d(sf.col("sy3")) * d(sf.col("sy2"))) +
      d(sf.col("sy2")) * (d(sf.col("sy")) * d(sf.col("sy3")) - d(sf.col("sy2")) * d(sf.col("sy2")))
    val detA = d(sf.col("ss")) * (d(sf.col("sy2")) * d(sf.col("sy4")) - d(sf.col("sy3")) * d(sf.col("sy3"))) -
      d(sf.col("sy")) * (d(sf.col("ssy")) * d(sf.col("sy4")) - d(sf.col("sy3")) * d(sf.col("ssy2"))) +
      d(sf.col("sy2")) * (d(sf.col("ssy")) * d(sf.col("sy3")) - d(sf.col("sy2")) * d(sf.col("ssy2")))
    val detB = d(sf.col("n")) * (d(sf.col("ssy")) * d(sf.col("sy4")) - d(sf.col("ssy2")) * d(sf.col("sy3"))) -
      d(sf.col("ss")) * (d(sf.col("sy")) * d(sf.col("sy4")) - d(sf.col("sy3")) * d(sf.col("sy2"))) +
      d(sf.col("sy2")) * (d(sf.col("sy")) * d(sf.col("ssy2")) - d(sf.col("ssy")) * d(sf.col("sy2")))
    val detC = d(sf.col("n")) * (d(sf.col("sy2")) * d(sf.col("ssy2")) - d(sf.col("sy3")) * d(sf.col("ssy"))) -
      d(sf.col("sy")) * (d(sf.col("sy")) * d(sf.col("ssy2")) - d(sf.col("ssy")) * d(sf.col("sy2"))) +
      d(sf.col("ss")) * (d(sf.col("sy")) * d(sf.col("sy3")) - d(sf.col("sy2")) * d(sf.col("sy2")))
    val out = m
      .withColumn("__a", sf.when(det =!= 0.0, detA / det))
      .withColumn("__b", sf.when(det =!= 0.0, detB / det))
      .withColumn("__c", sf.when(det =!= 0.0, detC / det))
      .withColumn("__disc", sf.col("__b") * sf.col("__b") -
        sf.lit(4.0) * sf.col("__a") * sf.col("__c"))
      .withColumn("__m", sf.when(sf.col("__c") < 0.0,
        sf.when(sf.col("__disc") >= 0.0,
          (-sf.col("__b") - sf.sqrt(sf.col("__disc"))) / (sf.lit(2.0) * sf.col("__c")))))
      .withColumn("__p", sf.when(sf.col("__m") > 0.0, sf.col("__a") / sf.col("__m")))
      .withColumn("__q", sf.when(sf.col("__m") > 0.0, -sf.col("__c") * sf.col("__m")))
    out.select(
        sf.col("n").cast("long").as("n_weeks"),
        sf.col("ss").cast("long").as("n_adopters"),
        gf.roundAt(sf.col("__p"), 6).as("p_innovation"),
        gf.roundAt(sf.col("__q"), 6).as("q_imitation"),
        gf.roundAt(sf.col("__m"), 6).as("m_market_size"),
        sf.when(sf.col("__p") > 0.0 && sf.col("__q") > 0.0, gf.roundAt(
          sf.log(sf.col("__q") / sf.col("__p")) / (sf.col("__p") + sf.col("__q")),
          6)).as("peak_week"))
  }

  /** Theta-method one-step forecast per event type (Assimakopoulos &
    * Nikolopoulos 2000 — the M3-competition winner; computed in the
    * Hyndman & Billah 2003 equivalent form: SES plus half the linear
    * trend, ŷ(1) = SES_T + (b/2)·(1 − (1−α)ⁿ)/α) over the dense
    * hourly grid — the robust middle of the forecasting ladder: row
    * 287's EWMA has no drift, row 404/443's Holt(-Winters) carry
    * explicit trend/season state; Theta is the famously hard-to-beat
    * two-parameter compromise.
    *
    * Determinism: SES unrolls to per-bin weights α(1−α)^j (desc rank
    * j, init term at the oldest bin — the row 541 convention), each
    * term snapped 1e-9 before exact sums; the trend slope is exact
    * integer OLS moments with ONE pinned assembly; the drift
    * multiplier's (1−α)ⁿ is an engine-portable per-row pow. Types
    * with n < 3 bins or zero slope variance -> NULL forecast.
    *
    * Scale shape: the row 165 dense grid, one per-type window over
    * the BIN domain (bounded by the horizon, never raw events), two
    * combinable rollups. */
  def thetaForecast(events: DataFrame, alpha: Double = 0.3,
                    binSec: Long = 3600): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val beta = 1.0 - alpha
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
    val w = Window.partitionBy("t").orderBy(sf.col("bin").desc)
    val ranked = sv.withColumn("__j", sf.row_number().over(w) - 1)
      .localCheckpoint(true) // ses + ols moments read it
    val n = sf.col("__n")
    val terms = ranked
      .join(sf.broadcast(ranked.groupBy(sf.col("t").as("__t2"))
        .agg(sf.count(sf.lit(1)).as("__n"))), sf.col("t") === sf.col("__t2"))
      .select(sf.col("t"), sf.col("__n"), sf.col("bin"), sf.col("v"), sf.col("__j"),
        sf.floor(
          sf.when(sf.col("__j") === n - 1,
            sf.pow(sf.lit(beta), sf.col("__j").cast("double")))
            .otherwise(sf.lit(alpha) * sf.pow(sf.lit(beta), sf.col("__j").cast("double")))
          * sf.col("v") * 1e9 + 0.5).cast("long").as("__s9"))
    val agg = terms.groupBy("t").agg(
      sf.max("__n").as("nb"),
      sf.sum(dec(sf.col("__s9"))).as("__ses9"),
      // exact OLS moments of v on the bin index j (any affine time
      // axis gives the same slope magnitude; desc j flips the sign)
      sf.sum(dec(sf.col("__j"))).as("sx"),
      sf.sum(dec(sf.col("__j")) * sf.col("__j")).as("sxx"),
      sf.sum(dec(sf.col("v"))).as("sy"),
      sf.sum(dec(sf.col("__j")) * sf.col("v")).as("sxy"))
    def d(c: Column) = c.cast("double")
    val den = d(agg("nb")) * d(sf.col("sxx")) - d(sf.col("sx")) * d(sf.col("sx"))
    val slopeDesc = (d(agg("nb")) * d(sf.col("sxy")) - d(sf.col("sx")) * d(sf.col("sy"))) / den
    agg
      .withColumn("__slope", sf.when(sf.col("nb") >= 3 && den =!= 0.0,
        -slopeDesc)) // j runs backwards in time: negate to per-bin drift
      .select(sf.col("t").as("event_type"),
        sf.col("nb").cast("long").as("n_bins"),
        gf.roundAt(sf.col("__ses9").cast("double") / 1e9, 6).as("ses_level"),
        gf.roundAt(sf.col("__slope") / 2, 6).as("half_drift"),
        sf.when(sf.col("__slope").isNotNull, gf.roundAt(
          sf.col("__ses9").cast("double") / 1e9 +
            sf.col("__slope") / 2 *
            (sf.lit(1.0) - sf.pow(sf.lit(beta), sf.col("nb").cast("double"))) /
            sf.lit(alpha), 6)).as("theta_forecast"))
      .orderBy("event_type")
  }

  /** Off-policy replay evaluation by inverse propensity scoring (Li
    * et al. WSDM 2011) — "what reward WOULD the greedy per-context
    * policy have earned", answered from logged data alone (with exact
    * empirical propensities the SNIPS self-normalizer is identically
    * n, so the self-normalized estimate coincides — noted in-code):
    * arms =
    * event types, contexts = a caller-named column, logged propensity
    * = the empirical arm share within the context, target policy =
    * each context's highest-mean-reward arm. The counterfactual
    * question rows 129/250 (A/B readouts) need a live experiment for.
    *
    * Determinism: rewards snap 1e-4; the per-context argmax is
    * integer-decided (mean rank = sum·10⁶ div count, ties to the
    * lower arm); each context's IPS term (matched-reward sum × n_x /
    * n_{a*,x}) is ONE DECIMAL floor division to 1e-9; the estimates
    * are pinned ratios of exact longs 1e-6. The estimator is the
    * standard REPLAY self-evaluation — upward-biased on the training
    * log (the argmax saw these rewards), documented.
    *
    * Scale shape: one (context, arm) rollup (bounded domain), a
    * per-context argmax window over arms, one matched-event rollup —
    * events shuffle once. */
  def ipsOffPolicy(events: DataFrame, contextCol: Column,
                   armCol: String = "event_type",
                   rewardCol: String = "value"): DataFrame = {
    val base = events
      .filter(sf.col(armCol).isNotNull && sf.col(rewardCol).isNotNull &&
        contextCol.isNotNull)
      .select(contextCol.cast("long").as("__x"), sf.col(armCol).as("__a"),
        sf.floor(sf.col(rewardCol).cast("double") * 1e4 + 0.5).cast("long")
          .as("__r4"))
      .localCheckpoint(true) // cells + the logging-value rollup read it
    val cells = base.groupBy("__x", "__a")
      .agg(sf.count(sf.lit(1)).as("__nax"), sf.sum(dec(sf.col("__r4"))).as("__rax"))
      .localCheckpoint(true) // argmax + context totals read it
    val wArm = Window.partitionBy("__x")
      .orderBy(sf.expr("CAST(__rax * 1000000 div __nax AS BIGINT)").desc,
        sf.col("__a"))
    val best = cells.withColumn("__rk", sf.row_number().over(wArm))
      .filter(sf.col("__rk") === 1)
      .select(sf.col("__x").as("__bx"), sf.col("__a").as("__ba"),
        sf.col("__nax").as("__nbx"), sf.col("__rax").as("__rbx"))
    val nx = cells.groupBy(sf.col("__x").as("__tx"))
      .agg(sf.sum("__nax").as("__nx"))
    val perCtx = best.join(sf.broadcast(nx), sf.col("__bx") === sf.col("__tx"))
      .select(
        sf.expr("CAST(__rbx * __nx * 100000 div __nbx AS DECIMAL(38,0))").as("__v9"))
    val tot = base.agg(sf.count(sf.lit(1)).as("n_events"),
      sf.sum(dec(sf.col("__r4"))).as("__rall"),
      sf.count_distinct(sf.col("__x")).as("n_contexts"))
    // With EXACT empirical propensities the SNIPS self-normalizer is
    // identically n (each context's matched weight sum is n_bx * n_x /
    // n_bx = n_x), so SNIPS == IPS here — reported once, with the
    // uplift over the logging policy as the decision readout.
    perCtx.agg(sf.sum("__v9").as("__sv9"))
      .crossJoin(sf.broadcast(tot))
      .select(sf.col("n_events"), sf.col("n_contexts"),
        gf.roundAt(sf.col("__rall").cast("double") / 1e4 /
          sf.col("n_events").cast("double"), 6).as("v_logging"),
        gf.roundAt(sf.col("__sv9").cast("double") / 1e9 /
          sf.col("n_events").cast("double"), 6).as("v_ips"))
      .withColumn("uplift",
        gf.roundAt(sf.col("v_ips") - sf.col("v_logging"), 6))
  }

  /** Forecast-bias tracking signal per event type (Trigg 1964's
    * monitoring question in its cumulative form) against the NAIVE
    * lag-1 forecast on the dense grid: TS = Σe / MAD with e_t = v_t −
    * v_{t−1} and MAD = Σ|e|/n — |TS| beyond ~4 flags a persistently
    * biased forecast (drift the MAD-scaled CUSUM row 368 would also
    * catch, here in the units every ops textbook quotes); beside it
    * the signed-error share. The naive baseline makes this a DATA
    * diagnostic (is the series driftless?) rather than a model one.
    *
    * Determinism: errors are exact integer differences on the dense
    * grid; TS and shares are pinned ratios of exact longs 1e-6.
    *
    * Scale shape: the row 165 grid + one per-type lag window over the
    * BIN domain + one combinable rollup. */
  def trackingSignal(events: DataFrame, binSec: Long = 3600): DataFrame = {
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
    val w = Window.partitionBy("t").orderBy("bin")
    sv.withColumn("__e", sf.col("v") - sf.lag("v", 1).over(w))
      .filter(sf.col("__e").isNotNull)
      .groupBy(sf.col("t").as("event_type"))
      .agg(sf.count(sf.lit(1)).as("n_errors"),
        sf.sum("__e").cast("long").as("sum_error"),
        sf.sum(sf.abs(sf.col("__e"))).cast("long").as("__sabs"),
        sf.sum((sf.col("__e") > 0).cast("long")).as("__pos"),
        sf.sum((sf.col("__e") < 0).cast("long")).as("__neg"))
      .select(sf.col("event_type"), sf.col("n_errors"), sf.col("sum_error"),
        sf.when(sf.col("n_errors") > 0, gf.roundAt(
          sf.col("__sabs").cast("double") / sf.col("n_errors").cast("double"),
          6)).as("mad"),
        sf.when(sf.col("__sabs") > 0, gf.roundAt(
          sf.col("sum_error").cast("double") * sf.col("n_errors").cast("double") /
            sf.col("__sabs").cast("double"), 6)).as("tracking_signal"),
        gf.roundAt((sf.col("__pos") - sf.col("__neg")).cast("double") /
          sf.col("n_errors").cast("double"), 6).as("signed_error_share"))
      .orderBy("event_type")
  }

  /** Pairwise transfer entropy (Schreiber 2000) between event-type
    * activity series — DIRECTED information flow on the shared hourly
    * grid, the question the symmetric row 305 correlation and row 454
    * lead-lag scan cannot answer: does knowing Y's last move reduce
    * uncertainty about X's next move beyond X's own history?
    * Series are binarized to up-moves (count > previous bin — the
    * distribution-free state the row 140 Spearman family also leans
    * on); for every ordered pair (src Y, dst X), TE(Y→X) =
    * Σ p(x',x,y)·ln[ c(x',x,y)·c(x) / (c(x,y)·c(x',x)) ] over the
    * triple (X current, X previous, Y previous), in NATS. TE = 0
    * exactly when Y's past adds nothing beyond X's own lag.
    *
    * Determinism: states and all 4 count tables are exact integers
    * on the dense grid (silent bins are real zero-activity states);
    * each triple's ln rides the engine-portable per-row ln of an
    * exact integer ratio, snapped 1e-9 before the cross-cell sum;
    * one pinned final division 1e-6.
    *
    * Scale shape: the row 165 dense grid + one per-type lag window
    * over the BIN domain, a bin-keyed pair join (types² × bins,
    * bounded by the horizon guard), then DOMAIN work only — the
    * triple table is ≤ 8·types² rows and every marginal derives from
    * it by rollup. */
  /** ALL-ORDERED-PAIRS lag-1 Granger screening matrix — the
    * pairwise table [[grangerLag1]] (the single-pair test) and
    * [[transferEntropy]] (the nonparametric sibling) bracket: for
    * EVERY ordered type pair at once, does adding Y's last value to
    * X's own lag-1 autoregression reduce squared error?
    * Per pair, X_t = a + b·X_{t−1} + c·Y_{t−1} is solved
    * in closed form from exact moments; reported are b, c, the
    * restricted (c = 0) and unrestricted error sums, and the
    * single-restriction F statistic (SSE_r − SSE_u)/(SSE_u/(n−3)).
    *
    * Determinism: counts are exact integers on the dense grid; every
    * n-scaled covariance s_ab = n·Σab − Σa·Σb accumulates in
    * DECIMAL(38,0); the 2x2 solve and F are ONE pinned double
    * assembly (det and SSE_u guards nested, ANSI-safe), 1e-6.
    *
    * Scale shape: the row 165 dense grid + one lag window over the
    * BIN domain + one bin-keyed pair join (types² × bins), then a
    * combinable moment rollup per pair — domain work only. */
  def grangerMatrix(events: DataFrame, binSec: Long = 3600): DataFrame = {
    def d(c: Column) = c.cast("double")
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
      .localCheckpoint(true) // current + both lag sides read it
    val cur = sv.select(sf.col("t").as("tx"), sf.col("bin"), sf.col("v").as("y"))
    val lagSelf = sv.select(sf.col("t").as("__tp"),
      (sf.col("bin") + 1).as("__bp"), sf.col("v").as("z1"))
    val lagOther = sv.select(sf.col("t").as("ty"),
      (sf.col("bin") + 1).as("__bo"), sf.col("v").as("z2"))
    val m = cur
      .join(lagSelf, sf.col("tx") === sf.col("__tp") &&
        sf.col("bin") === sf.col("__bp"))
      .join(lagOther, sf.col("bin") === sf.col("__bo") &&
        sf.col("tx") =!= sf.col("ty"))
      .groupBy("tx", "ty")
      .agg(sf.count(sf.lit(1)).as("n"),
        sf.sum(dec(sf.col("y"))).as("sy"),
        sf.sum(dec(sf.col("z1"))).as("s1"),
        sf.sum(dec(sf.col("z2"))).as("s2"),
        sf.sum(dec(sf.col("y")) * sf.col("y")).as("syy"),
        sf.sum(dec(sf.col("z1")) * sf.col("z1")).as("s11"),
        sf.sum(dec(sf.col("z2")) * sf.col("z2")).as("s22"),
        sf.sum(dec(sf.col("z1")) * sf.col("y")).as("s1y"),
        sf.sum(dec(sf.col("z2")) * sf.col("y")).as("s2y"),
        sf.sum(dec(sf.col("z1")) * sf.col("z2")).as("s12"))
    val n = d(sf.col("n"))
    def cs(ab: String, a: String, b: String) =
      n * d(sf.col(ab)) - d(sf.col(a)) * d(sf.col(b))
    val cyy = cs("syy", "sy", "sy")
    val c11 = cs("s11", "s1", "s1")
    val c22 = cs("s22", "s2", "s2")
    val c1y = cs("s1y", "s1", "sy")
    val c2y = cs("s2y", "s2", "sy")
    val c12 = cs("s12", "s1", "s2")
    val det = c11 * c22 - c12 * c12
    val b = (c1y * c22 - c2y * c12) / det
    val c = (c2y * c11 - c1y * c12) / det
    val sseU = cyy - b * c1y - c * c2y
    val sseR = sf.when(c11 =!= 0.0, cyy - c1y * c1y / c11)
    val f = sf.when(sseU > 0.0, (sseR - sseU) / (sseU / (n - 3.0)))
    val assembled = sf.when(sf.col("n") > 3 && det =!= 0.0,
      sf.struct(gf.roundAt(b, 6).as("beta_self"),
        gf.roundAt(c, 6).as("beta_cross"),
        gf.roundAt(f, 6).as("f_stat")))
    m.withColumn("__a", assembled)
      .select(sf.col("ty").as("src_type"), sf.col("tx").as("dst_type"),
        sf.col("n").cast("long").as("n_transitions"),
        sf.col("__a.beta_self").as("beta_self"),
        sf.col("__a.beta_cross").as("beta_cross"),
        sf.col("__a.f_stat").as("f_stat"))
      .orderBy("src_type", "dst_type")
  }

  def transferEntropy(events: DataFrame, binSec: Long = 3600): DataFrame = {
    def d(c: Column) = c.cast("double")
    val sv = denseSeries(events, binSec = binSec)
      .select(sf.col("event_type").as("t"), sf.col("bin"),
        sf.col("n_events").as("v"))
    val w = Window.partitionBy("t").orderBy("bin")
    val st = sv
      .select(sf.col("t"), sf.col("bin"),
        (sf.col("v") > sf.lag("v", 1).over(w)).cast("int").as("x"))
      .filter(sf.col("x").isNotNull)
      .localCheckpoint(true) // current, lagged-self and lagged-other read it
    val cur = st.select(sf.col("t").as("tx"), sf.col("bin"), sf.col("x").as("xc"))
    val prevSelf = st.select(sf.col("t").as("__tp"),
      (sf.col("bin") + 1).as("__bp"), sf.col("x").as("xp"))
    val prevOther = st.select(sf.col("t").as("ty"),
      (sf.col("bin") + 1).as("__bo"), sf.col("x").as("yp"))
    val triples = cur
      .join(prevSelf, sf.col("tx") === sf.col("__tp") &&
        sf.col("bin") === sf.col("__bp"))
      .join(prevOther, sf.col("bin") === sf.col("__bo") &&
        sf.col("tx") =!= sf.col("ty"))
      .groupBy("tx", "ty", "xc", "xp", "yp")
      .agg(sf.count(sf.lit(1)).as("c3"))
      .localCheckpoint(true) // the four marginal rollups read it
    def marg(cols: Seq[String], out: String) = sf.broadcast(
      triples.groupBy(cols.map(c => sf.col(c).as("_" + c)): _*)
        .agg(sf.sum("c3").as(out)))
    val cxx = marg(Seq("tx", "ty", "xc", "xp"), "cxx")
    val cxy = marg(Seq("tx", "ty", "xp", "yp"), "cxy")
    val cx = marg(Seq("tx", "ty", "xp"), "cx")
    val nn = marg(Seq("tx", "ty"), "nn")
    triples
      .join(cxx, sf.col("tx") === sf.col("_tx") && sf.col("ty") === sf.col("_ty")
        && sf.col("xc") === sf.col("_xc") && sf.col("xp") === sf.col("_xp"))
      .drop("_tx", "_ty", "_xc", "_xp")
      .join(cxy, sf.col("tx") === sf.col("_tx") && sf.col("ty") === sf.col("_ty")
        && sf.col("xp") === sf.col("_xp") && sf.col("yp") === sf.col("_yp"))
      .drop("_tx", "_ty", "_xp", "_yp")
      .join(cx, sf.col("tx") === sf.col("_tx") && sf.col("ty") === sf.col("_ty")
        && sf.col("xp") === sf.col("_xp"))
      .drop("_tx", "_ty", "_xp")
      .join(nn, sf.col("tx") === sf.col("_tx") && sf.col("ty") === sf.col("_ty"))
      .drop("_tx", "_ty")
      .select(sf.col("tx"), sf.col("ty"), sf.col("nn"),
        sf.floor(d(sf.col("c3")) * sf.log(
          d(sf.col("c3") * sf.col("cx")) / d(sf.col("cxy") * sf.col("cxx")))
          * 1e9 + 0.5).cast("long").as("__t9"))
      .groupBy("tx", "ty", "nn")
      .agg(sf.sum(dec(sf.col("__t9"))).as("__s9"))
      .select(sf.col("ty").as("src_type"), sf.col("tx").as("dst_type"),
        sf.col("nn").cast("long").as("n_transitions"),
        gf.roundAt(d(sf.col("__s9")) / 1e9 / d(sf.col("nn")), 6)
          .as("transfer_entropy"))
      .orderBy("src_type", "dst_type")
  }
}
