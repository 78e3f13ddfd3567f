package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources._
import graft.{Query, QueryModule}

/** Time-series regularization operators: dense time-grid generation
  * and last-observation-carried-forward (LOCF) gap filling — the prep
  * every model-training pipeline runs over irregular sensor feeds
  * (the reference's stream is exactly such a feed, reference:
  * kafka/producer.py:37-47).
  *
  * Scale notes (100 TB): the grid is generated per key with
  * `sequence` + `explode` — size is keys × span, independent of event
  * count, and generation is scan-side (no shuffle). The LOCF window
  * shares the hourly aggregation's user_id partitioning, so the whole
  * plan is one shuffle plus one narrow generator stage.
  */
object TimeSeries extends QueryModule {

  /** Hourly LOCF gap fill per user: aggregate events to (user, hour),
    * densify the hour range, and carry the last observed hourly mean
    * forward through the gaps. Gap decisions and grid bounds are on
    * floor-second epoch hours so both engines agree exactly.
    */
  def gapFillLocf(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .select(col("user_id"),
        expr("unix_timestamp(ts) DIV 3600").as("hr"), col("value"))
      .groupBy(col("user_id"), col("hr"))
      .agg(avg(col("value")).as("v"))
    val grid = hourly
      .groupBy(col("user_id"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"))).as("hr"))
    val locf = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        round(last(col("v"), ignoreNulls = true).over(locf), 4).as("value_locf"),
        col("v").isNull.as("is_gap"))
      .orderBy(col("user_id"), col("hr"))
  }

  val gapFillLocfSql: String =
    """WITH hourly AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
      |    avg(value) AS v
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(lo, hi)) AS hr
      |  FROM (SELECT user_id, min(hr) AS lo, max(hr) AS hi
      |        FROM hourly GROUP BY user_id)
      |)
      |SELECT g.user_id, g.hr,
      |  round(last_value(h.v IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_locf,
      |  (h.v IS NULL) AS is_gap
      |FROM grid g LEFT JOIN hourly h
      |  ON g.user_id = h.user_id AND g.hr = h.hr
      |ORDER BY g.user_id, g.hr""".stripMargin

  /** Yearly cohort retention over customers' order history: customers
    * are cohorted by the year of their first order; each later active
    * year lands in (cohort_yr, yr_offset) with distinct-customer
    * counts and a retention ratio against the cohort's size.
    *
    * Scale notes (100 TB): ONE shuffle on o_custkey builds both the
    * cohort label and the distinct active-year set (collect_set is
    * bounded by the observation span in years, not by order count);
    * the explode + (cohort, offset) re-aggregation move only
    * customer × active-year rows. The retention ratio is a window
    * over the tiny aggregated cube, never over the raw data.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val perCust = orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).cast("bigint").as("yr"))
      .groupBy(col("o_custkey"))
      .agg(min(col("yr")).as("cohort_yr"), collect_set(col("yr")).as("yrs"))
    val byCohort = Window.partitionBy(col("cohort_yr")).orderBy(col("yr_offset"))
    perCust
      .select(col("cohort_yr"), explode(col("yrs")).as("yr"))
      .withColumn("yr_offset", col("yr") - col("cohort_yr"))
      .groupBy(col("cohort_yr"), col("yr_offset"))
      .agg(count(lit(1)).as("n_cust"))
      .withColumn("retention",
        round(col("n_cust") / first(col("n_cust")).over(byCohort), 4))
      .orderBy(col("cohort_yr"), col("yr_offset"))
  }

  val cohortRetentionSql: String =
    """WITH cy AS (
      |  SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr
      |  FROM orders
      |), cohorts AS (
      |  SELECT o_custkey, min(yr) AS cohort_yr FROM cy GROUP BY o_custkey
      |), cells AS (
      |  SELECT c.cohort_yr, cy.yr - c.cohort_yr AS yr_offset, count(*) AS n_cust
      |  FROM cy JOIN cohorts c USING (o_custkey)
      |  GROUP BY 1, 2
      |)
      |SELECT cohort_yr, yr_offset, n_cust,
      |  round(n_cust / (first_value(n_cust) OVER (
      |    PARTITION BY cohort_yr ORDER BY yr_offset)), 4) AS retention
      |FROM cells
      |ORDER BY cohort_yr, yr_offset""".stripMargin

  /** Exact trailing 7-day distinct actives per day, by self-expansion:
    * each distinct (user, active-day) pair fans out to the ≤ 7 window
    * days it contributes to, then ONE distinct-count per window day
    * finishes the job. The alternative — re-scanning a 7-day slice per
    * calendar day — reads every row 7× from storage; the expansion
    * materializes the same 7× only as in-flight shuffle rows, after
    * per-user dedup has already collapsed events to active days.
    * Same-day actives ride along as a conditional distinct (offset 0).
    *
    * Window days past the last observed day cover a partial trailing
    * range and are clipped against the global max, carried as a
    * broadcast scalar (1-row BNLJ, same shape as the corpus-size
    * scalar in TextOps).
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val perUser = ev
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("d"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("d")).as("ds"))
      .select(col("user_id"), explode(col("ds")).as("d"))
    val maxDay = ev.agg(max(expr("unix_timestamp(ts) DIV 86400")).as("max_d"))
    // dedup to one row per (user, window-day) WITHOUT a new exchange:
    // the explode preserves the user_id hash partitioning, which
    // satisfies the (user_id, day) clustering requirement — then the
    // final distinct-counts degrade to plain count/sum over the
    // deduped rows (no two-pass countDistinct expand).
    perUser
      .select(col("user_id"), col("d"),
        explode(sequence(col("d"), col("d") + 6)).as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(when(col("day") === col("d"), 1L).otherwise(0L)).as("active_today"))
      .join(broadcast(maxDay), col("day") <= col("max_d"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("users_7d"),
        sum(col("active_today")).as("users_1d"))
      .orderBy(col("day"))
  }

  val rollingActiveUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
      |  FROM events
      |), ex AS (
      |  SELECT user_id, d, d + g.o AS day
      |  FROM ud CROSS JOIN generate_series(0, 6) AS g(o)
      |)
      |SELECT day,
      |  count(DISTINCT user_id) AS users_7d,
      |  count(DISTINCT CASE WHEN day = d THEN user_id END) AS users_1d
      |FROM ex
      |WHERE day <= (SELECT max(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
      |              FROM events)
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** Each error event opens a ±[[IncidentPadSeconds]] incident window. */
  val IncidentPadSeconds = 600L

  /** Bucket width for the banded interval join. On the harness data
    * sessions and incident windows both span single-digit hours, so
    * 1-hour buckets keep the fan-out per interval small while the
    * per-bucket group stays far below a reducer's memory.
    */
  val OverlapBucketSeconds = 3600L

  /** Interval-overlap join: user sessions (from the shared gap-session
    * build) × incident windows around error events — which sessions
    * overlapped an incident, how many, and for how long.
    *
    * Spark has no interval-join operator and the naive formulation is
    * a broadcast-nested-loop over an inequality. The scale form is the
    * banded join every big engine uses for range joins: both interval
    * sets fan out to the fixed-width time buckets they cover, the join
    * is an EQUI-join on bucket + exact overlap residual, and each
    * overlapping pair is emitted exactly once by keeping only the
    * FIRST bucket the two intervals share (b = max of the two start
    * buckets) — no distinct pass. Cost scales with overlapping bucket
    * pairs, not |sessions| × |incidents|; at 100 TB the bucket width
    * is the one knob, and AQE re-splits any hot bucket. The banding
    * itself is the reusable [[graft.operators.Intervals.overlapJoin]]
    * operator (property-tested against a nested-loop on random
    * intervals).
    */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ses = Events.sessions(spark, dir)
      .select(col("user_id"), col("session_id"),
        col("session_start_s").as("s_lo"), col("session_end_s").as("s_hi"))
    val inc = events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
        (unix_timestamp(col("ts")) - IncidentPadSeconds).as("i_lo"),
        (unix_timestamp(col("ts")) + IncidentPadSeconds).as("i_hi"))
    graft.operators.Intervals.overlapJoin(ses, inc,
      "s_lo", "s_hi", "i_lo", "i_hi", OverlapBucketSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_incidents"),
        sum(least(col("s_hi"), col("i_hi")) -
          greatest(col("s_lo"), col("i_lo"))).as("overlap_s"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** The oracle states overlap directly as the inequality join over
    * the SAME session definition (shared CTE chain) — proving both the
    * banding's completeness (no pair missed by bucket clipping) and
    * its exactly-once emission (no pair double-counted).
    */
  val intervalOverlapSql: String =
    s"""WITH ${Events.sessionCtesSql},
      |sessions AS (
      |  SELECT user_id, session_id,
      |    min(epoch_s) AS s_lo, max(epoch_s) AS s_hi
      |  FROM numbered GROUP BY user_id, session_id
      |), incidents AS (
      |  SELECT event_id AS incident_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) - $IncidentPadSeconds AS i_lo,
      |    CAST(floor(epoch(ts)) AS BIGINT) + $IncidentPadSeconds AS i_hi
      |  FROM events WHERE event_type = 'error'
      |)
      |SELECT s.user_id, s.session_id,
      |  count(*) AS n_incidents,
      |  CAST(sum(least(s.s_hi, i.i_hi) - greatest(s.s_lo, i.i_lo)) AS BIGINT)
      |    AS overlap_s
      |FROM sessions s JOIN incidents i
      |  ON s.s_lo <= i.i_hi AND i.i_lo <= s.s_hi
      |GROUP BY s.user_id, s.session_id
      |ORDER BY s.user_id, s.session_id""".stripMargin

  /** EMA smoothing factor as an integer percentage (α = 0.25). */
  val EmaAlphaPct = 25L

  /** Per-user exponential moving average of the sensor value — the
    * classic order-sensitive sequential aggregate Spark has no native
    * operator for (an EMA cannot be expressed as a window frame: each
    * state depends on the previous STATE, not the previous rows).
    *
    * The scale form: ONE shuffle groups each user's readings, an
    * explicit sort key (epoch-µs, event_id) fixes the order inside the
    * collected array, and a codegen'd `aggregate` HOF folds the
    * recurrence ema' = (α·x + (1−α)·ema) div 100 — in FIXED-POINT
    * integer cents, so the fold is exact on any engine and any
    * partitioning (a float fold would drift by summation order and
    * the oracle's list_reduce would diverge). The division contract
    * is TRUNCATION toward zero, which Spark's `DIV` and DuckDB's
    * integer `//` share natively — including on negative states
    * (measured: −630 // 100 = −6 in DuckDB 1.0; an earlier pmod-floor
    * form here made Spark FLOOR and would have diverged from the twin
    * one unit per negative step — caught by [[holtTrend]], whose trend
    * state actually goes negative). State per user is one long; array
    * size is bounded by per-key history, the knob a real deployment
    * caps with windowed retention.
    */
  def sensorEma(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        // 2-decimal data → exact integer cents (see Quality.sensorHourly)
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("us"), col("event_id"),
          col("cents")))).as("seq"))
      .withColumn("cs", expr("transform(seq, s -> s.cents)"))
      .withColumn("ema_cents", expr(
        s"""aggregate(slice(cs, 2, size(cs) - 1), cs[0],
           |  (acc, x) -> ($EmaAlphaPct * x + ${100 - EmaAlphaPct} * acc) DIV 100)
           |""".stripMargin))
      .select(col("user_id"), col("n_events"),
        col("ema_cents"),
        (col("ema_cents") / 100.0).as("ema_value"))
      .orderBy(col("user_id"))

  val sensorEmaSql: String =
    s"""WITH seqd AS (
      |  SELECT user_id,
      |    list(CAST(round(value * 100) AS BIGINT)
      |         ORDER BY date_trunc('microseconds', ts), event_id) AS cs,
      |    count(*) AS n_events
      |  FROM events
      |  GROUP BY user_id
      |)
      |SELECT user_id, n_events,
      |  list_reduce(cs, (acc, x) ->
      |    ($EmaAlphaPct * x + ${100 - EmaAlphaPct} * acc) // 100) AS ema_cents,
      |  list_reduce(cs, (acc, x) ->
      |    ($EmaAlphaPct * x + ${100 - EmaAlphaPct} * acc) // 100) / 100.0
      |    AS ema_value
      |FROM seqd
      |ORDER BY user_id""".stripMargin

  /** CUSUM drift parameters, integer cents: target μ₀ = 50.00, slack
    * k = 5.00 (the half-shift the chart is tuned to catch), alarm
    * threshold h = 200.00 of accumulated excess.
    */
  val CusumTargetCents = 5000L
  val CusumSlackCents = 500L
  val CusumThresholdCents = 20000L

  /** Two-sided CUSUM change-point detection per user series (Page
    * 1954) — the sequential drift monitor every sensor/metrics
    * pipeline runs: alarm when the cumulative excess over
    * target ± slack crosses h, i.e. a persistent mean SHIFT, where a
    * plain threshold filter ([[graft.analytics.Quality]] alerts) only
    * sees single outliers.
    *
    * The textbook form is a recurrence (S_i = max(0, S_{i-1} + d_i) —
    * state depends on previous STATE), but it has a closed prefix
    * form: S_i = P_i − min_{0≤j≤i} P_j with P the prefix sum of
    * deviations — a reflected random walk's running drawdown. That
    * turns the sequential fold into two stacked window functions over
    * ONE per-user sort: no aggregate-HOF fold, no collect, and the
    * whole series never leaves its partition (same single-shuffle
    * shape as the rolling-stats family; at 100 TB the partition key is
    * (user, day) with carried-in opening state, the standard
    * sessionized-restart trick). All arithmetic is exact integer
    * cents, so both engines agree bit-for-bit.
    */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hi = CusumTargetCents + CusumSlackCents
    val lo = CusumTargetCents - CusumSlackCents
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("p_hi", sum(col("cents") - hi).over(wAll))
      .withColumn("p_lo", sum(col("cents") - lo).over(wAll))
      // S⁺ = P − min(0, running-min P): upward drift accumulator;
      // S⁻ mirrors it for downward shifts. The least/greatest with 0
      // is the j = 0 (empty-prefix) term of the closed form.
      .withColumn("s_hi", col("p_hi") - least(lit(0L), min(col("p_hi")).over(wAll)))
      .withColumn("s_lo", greatest(lit(0L), max(col("p_lo")).over(wAll)) - col("p_lo"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("s_hi")).as("max_cusum_hi_cents"),
        max(col("s_lo")).as("max_cusum_lo_cents"),
        sum(when(col("s_hi") > CusumThresholdCents, 1L).otherwise(0L))
          .as("n_alarms_hi"),
        sum(when(col("s_lo") > CusumThresholdCents, 1L).otherwise(0L))
          .as("n_alarms_lo"),
        min(when(col("s_hi") > CusumThresholdCents, col("us")))
          .as("first_alarm_hi_us"),
        min(when(col("s_lo") > CusumThresholdCents, col("us")))
          .as("first_alarm_lo_us"))
      .withColumn("shifted",
        (col("n_alarms_hi") > 0 || col("n_alarms_lo") > 0).cast("int"))
      .orderBy(col("user_id"))
  }

  val cusumShiftSql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), p AS (
      |  SELECT user_id, event_id, us,
      |    sum(cents - ${CusumTargetCents + CusumSlackCents}) OVER w AS p_hi,
      |    sum(cents - ${CusumTargetCents - CusumSlackCents}) OVER w AS p_lo
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |               ROWS UNBOUNDED PRECEDING)
      |), s AS (
      |  SELECT user_id, us,
      |    p_hi - least(0, min(p_hi) OVER w) AS s_hi,
      |    greatest(0, max(p_lo) OVER w) - p_lo AS s_lo
      |  FROM p
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |               ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT user_id, count(*) AS n_events,
      |  -- sum() OVER on BIGINT is HUGEINT in DuckDB, which pandas
      |  -- reads as float64 and the driver hash then diverges — pin
      |  -- the emitted aggregates back to BIGINT
      |  CAST(max(s_hi) AS BIGINT) AS max_cusum_hi_cents,
      |  CAST(max(s_lo) AS BIGINT) AS max_cusum_lo_cents,
      |  CAST(count(*) FILTER (WHERE s_hi > $CusumThresholdCents) AS BIGINT)
      |    AS n_alarms_hi,
      |  CAST(count(*) FILTER (WHERE s_lo > $CusumThresholdCents) AS BIGINT)
      |    AS n_alarms_lo,
      |  min(us) FILTER (WHERE s_hi > $CusumThresholdCents) AS first_alarm_hi_us,
      |  min(us) FILTER (WHERE s_lo > $CusumThresholdCents) AS first_alarm_lo_us,
      |  CAST(count(*) FILTER (WHERE s_hi > $CusumThresholdCents
      |                           OR s_lo > $CusumThresholdCents) > 0 AS INT)
      |    AS shifted
      |FROM s
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Holt smoothing factors as integer percentages (α = 0.25 level,
    * β = 0.10 trend).
    */
  val HoltAlphaPct = 25L
  val HoltBetaPct = 10L

  /** Holt's linear-trend double exponential smoothing per user series
    * (Holt 1957) — [[sensorEma]]'s upgrade for drifting signals: a
    * second state tracks the local slope, so the smoothed level stops
    * lagging a trending series and a forecast column falls out
    * (level + h·trend). The same class of order-sensitive sequential
    * aggregate: two COUPLED recurrences
    *   l' = α·x + (1−α)·(l + b),  b' = β·(l' − l) + (1−β)·b
    * folded in FIXED-POINT integer cents. The division contract here
    * is TRUNCATION toward zero — Spark's `DIV` and DuckDB's integer
    * `//` both truncate (measured: −630 // 100 = −6 in DuckDB 1.0,
    * NOT −7), so the native operators already agree on the negative
    * values the trend state takes on downtrends; [[sensorEma]]'s
    * pmod-floor trick exists for reference sides whose `%`/`//` pair
    * floors, and would here DISAGREE with the DuckDB twin on negative
    * numerators. Initial state l₀ = first observation, b₀ = 0. One
    * shuffle per key; state per user is two longs.
    */
  def holtTrend(spark: SparkSession, dir: String): DataFrame = {
    val a = HoltAlphaPct; val b = HoltBetaPct
    val lNum = s"($a * x + ${100 - a} * (acc.l + acc.b))"
    val lNew = s"($lNum DIV 100)"
    val bNum = s"($b * ($lNew - acc.l) + ${100 - b} * acc.b)"
    val bNew = s"($bNum DIV 100)"
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("us"), col("event_id"),
          col("cents")))).as("seq"))
      .withColumn("cs", expr("transform(seq, s -> s.cents)"))
      .withColumn("st", expr(
        s"""aggregate(slice(cs, 2, size(cs) - 1),
           |  named_struct('l', cs[0], 'b', CAST(0 AS BIGINT)),
           |  (acc, x) -> named_struct('l', $lNew, 'b', $bNew))""".stripMargin))
      .select(col("user_id"), col("n_events"),
        col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
        (col("st.l") + col("st.b") * 3).as("forecast3_cents"),
        (col("st.l") / 100.0).as("level"),
        (col("st.b") / 100.0).as("trend"))
      .orderBy(col("user_id"))
  }

  val holtTrendSql: String = {
    val a = HoltAlphaPct; val b = HoltBetaPct
    val lNum = s"($a * x[1] + ${100 - a} * (acc[1] + acc[2]))"
    val lNew = s"($lNum // 100)"
    val bNum = s"($b * ($lNew - acc[1]) + ${100 - b} * acc[2])"
    val bNew = s"($bNum // 100)"
    s"""WITH seqd AS (
      |  SELECT user_id,
      |    list(CAST(round(value * 100) AS BIGINT)
      |         ORDER BY date_trunc('microseconds', ts), event_id) AS cs,
      |    count(*) AS n_events
      |  FROM events
      |  GROUP BY user_id
      |), folded AS (
      |  -- fold 2-lists so the FIRST element becomes the init state
      |  -- [l = x₁, b = 0]: DuckDB's list_reduce has no explicit init.
      |  -- LIST state, not a struct: DuckDB 1.0's vectorized lambda
      |  -- mis-evaluates repeated struct-field references in a reduce
      |  -- (verified: manual unrolled steps give [170, 6] where the
      |  -- struct-state fold returns [170, 5]); list indexing folds
      |  -- correctly
      |  SELECT user_id, n_events,
      |    list_reduce(
      |      list_transform(cs, x -> [x, CAST(0 AS BIGINT)]),
      |      (acc, x) -> [$lNew, $bNew]) AS st
      |  FROM seqd
      |)
      |SELECT user_id, n_events,
      |  st[1] AS level_cents, st[2] AS trend_cents,
      |  st[1] + 3 * st[2] AS forecast3_cents,
      |  st[1] / 100.0 AS level, st[2] / 100.0 AS trend
      |FROM folded
      |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // ACF / CCF — correlation of daily series from exact integer moments
  // ---------------------------------------------------------------

  /** Exact per-(event_type, day) cent sums — the shared spine of
    * [[acfDaily]] and [[ccfDaily]]. ONE corpus-sized shuffle; the
    * result is types × days rows, corpus-size-INDEPENDENT, so every
    * downstream join/rollup is driver-trivial at any scale.
    */
  private def dailyCents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
          .as("day_idx"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(sum(col("cents")).as("cents"))

  /** The six exact moments of an (x, y) pair stream — no FP
    * accumulation order anywhere. Round 11: the product moments ride
    * DECIMAL(38,0) (cast BEFORE the multiply, so even the per-row
    * product never touches i64) — the old BIGINT form documented its
    * own ceiling ("a 1000× corpus needs the cent sums rescaled");
    * now Σxy is exact to ~10³⁸. Every consumer casts the moments to
    * double for the Pearson/AR(1) readout, and DuckDB's sum(BIGINT)
    * is HUGEINT natively, so both engines see the identical integers.
    */
  private val momentAggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("x")).as("sx"), sum(col("y")).as("sy"),
    sum(col("x").cast("decimal(20,0)") * col("y")).as("sxy"),
    sum(col("x").cast("decimal(20,0)") * col("x")).as("sxx"),
    sum(col("y").cast("decimal(20,0)") * col("y")).as("syy"))

  /** Pearson correlation from the moments — the ONLY doubles in the
    * ACF/CCF pipelines, written ONCE so the Spark tree and (via
    * [[pearsonSql]]) the DuckDB tree stay the same IEEE expression and
    * the results match bitwise. NULL on zero variance.
    */
  private def pearsonFromMoments: Column = {
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double"); val syd = col("sy").cast("double")
    val denom = sqrt(nd * col("sxx").cast("double") - sxd * sxd) *
      sqrt(nd * col("syy").cast("double") - syd * syd)
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(round(
        (nd * col("sxy").cast("double") - sxd * syd) / denom, 6))
  }

  /** SQL twin fragments of the shared spine — one source of truth per
    * engine side, so an overflow-rescaling fix cannot land in one
    * query's oracle and miss the other's.
    */
  private val dailyCentsSql: String =
    """daily AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_idx,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  private val momentSqlCols: String =
    """CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy""".stripMargin

  private def pearsonSql(alias: String): String =
    s"""CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0
      |       THEN NULL
      |       ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |  END AS $alias""".stripMargin

  /** Autocorrelation function (ACF) of the daily value series per
    * event type, lags 1..7 — the seasonality probe run before fitting
    * any forecast model (is there a weekly cycle? how fast does the
    * signal decorrelate?). Built on [[dailyCents]] + the exact-moment
    * Pearson ([[momentAggs]]/[[pearsonFromMoments]]).
    */
  def acfDaily(spark: SparkSession, dir: String): DataFrame = {
    // OPTIMIZATION r15 (guide §5, the r14 wqi_trend discipline): the
    // daily spine feeds BOTH self-join sides — un-checkpointed, the
    // events scan + groupBy ran twice (renamed join sides don't
    // canonicalize equal, so AQE stage reuse can't catch it). The
    // checkpointed frame is types×days-bounded, never corpus-sized.
    val daily = dailyCents(spark, dir).localCheckpoint()
    val b = daily.select(col("event_type").as("et_b"),
      col("day_idx").as("day_b"), col("cents").as("y"))
    daily
      .join(b, col("event_type") === col("et_b") &&
        (col("day_idx") - col("day_b")).between(1, 7))
      .select(col("event_type"),
        (col("day_idx") - col("day_b")).cast("int").as("lag"),
        col("cents").as("x"), col("y"))
      .groupBy(col("event_type"), col("lag"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("event_type"), col("lag"), col("n"),
        pearsonFromMoments.as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  val acfDailySql: String =
    s"""WITH $dailyCentsSql, pairs AS (
      |  SELECT a.event_type, CAST(a.day_idx - b.day_idx AS INT) AS lag,
      |         a.cents AS x, b.cents AS y
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type
      |   AND a.day_idx - b.day_idx BETWEEN 1 AND 7
      |), m AS (
      |  SELECT event_type, lag, $momentSqlCols
      |  FROM pairs GROUP BY 1, 2
      |)
      |SELECT event_type, lag, n,
      |  ${pearsonSql("acf")}
      |FROM m ORDER BY event_type, lag""".stripMargin

  /** Cross-correlation function (CCF) between event-type pairs at lags
    * −3..3 — does activity in one metric LEAD another? Pairs are
    * unordered (type_a < type_b); at lag k, type_a's day t is paired
    * with type_b's day t−k, so a high corr at k > 0 says b LEADS a by
    * k days and k < 0 says a leads b — both directions measured on
    * the one ordered join (a previous revision only scanned k ≥ 0 and
    * could never see the lexicographically-smaller type leading).
    * Same [[dailyCents]] spine and exact-moment Pearson as the ACF;
    * everything after the one corpus shuffle is types²×days rows.
    */
  def ccfDaily(spark: SparkSession, dir: String): DataFrame = {
    // r15: both self-join sides — one checkpointed corpus pass (§5)
    val daily = dailyCents(spark, dir).localCheckpoint()
    val b = daily.select(col("event_type").as("type_b"),
      col("day_idx").as("day_b"), col("cents").as("y"))
    daily
      .join(b, col("event_type") < col("type_b") &&
        (col("day_idx") - col("day_b")).between(-3, 3))
      .select(col("event_type").as("type_a"), col("type_b"),
        (col("day_idx") - col("day_b")).cast("int").as("lag"),
        col("cents").as("x"), col("y"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("type_a"), col("type_b"), col("lag"), col("n"),
        pearsonFromMoments.as("ccf"))
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  val ccfDailySql: String =
    s"""WITH $dailyCentsSql, pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         CAST(a.day_idx - b.day_idx AS INT) AS lag,
      |         a.cents AS x, b.cents AS y
      |  FROM daily a JOIN daily b
      |    ON a.event_type < b.event_type
      |   AND a.day_idx - b.day_idx BETWEEN -3 AND 3
      |), m AS (
      |  SELECT type_a, type_b, lag, $momentSqlCols
      |  FROM pairs GROUP BY 1, 2, 3
      |)
      |SELECT type_a, type_b, lag, n,
      |  ${pearsonSql("ccf")}
      |FROM m ORDER BY type_a, type_b, lag""".stripMargin

  /** Theil–Sen robust trend per event type (Sen 1968, JASA 63(324);
    * Theil 1950): the median of all pairwise day-slopes — a 29%-
    * breakdown-point alternative to OLS trend, immune to the outlier
    * days that fold a least-squares slope. Slopes are exact-integer
    * cent/day differences through ONE IEEE divide, so ordering and the
    * median row are engine-portable; the lower median ((n+1) DIV 2) is
    * taken deterministically.
    *
    * Scale shape: the pairwise stage runs on the [[dailyCents]] spine
    * (types × days rows, corpus-size-INDEPENDENT after one shuffle), so
    * the O(days²) pair join never touches corpus-sized data — the same
    * bounded-domain discipline as ACF/CCF. At an unbounded day domain
    * you'd window the series (trend per quarter) to keep days² small.
    */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    // r15: both self-join sides — one checkpointed corpus pass (§5)
    val daily = dailyCents(spark, dir).localCheckpoint()
    val b = daily.select(col("event_type").as("et_b"),
      col("day_idx").as("day_b"), col("cents").as("cents_b"))
    val slopes = daily
      .join(b, col("event_type") === col("et_b") &&
        col("day_b") > col("day_idx"))
      .select(col("event_type"),
        ((col("cents_b") - col("cents")).cast("double") /
          (col("day_b") - col("day_idx")).cast("double")).as("slope"))
    val byType = Window.partitionBy(col("event_type"))
    slopes
      .withColumn("rn", row_number().over(byType.orderBy(col("slope").asc)))
      .withColumn("n_pairs", count(lit(1)).over(byType))
      .filter(col("rn") === floor((col("n_pairs") + 1) / 2).cast("long"))
      .select(col("event_type"), col("n_pairs"),
        round(col("slope"), 6).as("ts_slope"))
      .orderBy(col("event_type"))
  }

  val theilSenTrendSql: String =
    s"""WITH $dailyCentsSql, slopes AS (
      |  SELECT a.event_type,
      |    CAST(b.cents - a.cents AS DOUBLE)
      |      / CAST(b.day_idx - a.day_idx AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.day_idx > a.day_idx
      |), ranked AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY slope ASC) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n_pairs
      |  FROM slopes
      |)
      |SELECT event_type, n_pairs, round(slope, 6) AS ts_slope
      |FROM ranked
      |WHERE rn = CAST(floor((n_pairs + 1) / 2.0) AS BIGINT)
      |ORDER BY event_type""".stripMargin

  /** Burstiness of the event stream — the index of dispersion (Fano
    * factor, Var/Mean of DAILY EVENT COUNTS) per event type, the
    * diagnostic that separates Poisson-like arrivals (Fano ≈ 1) from
    * bursty ones (≫ 1) and under-dispersed schedules (< 1); load
    * forecasting and anomaly thresholds both key off it. Computed
    * from exact integer power sums over the dense day spine (days
    * with zero events COUNT — omitting them biases Var/Mean up), one
    * fixed IEEE op sequence per type, emitted in millis via floor.
    *
    * Scale shape: one corpus aggregation to (type, day) counts, a
    * days-domain spine fill, and |types|-row moment algebra.
    */
  def eventBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
          .cast("long").as("day_idx"))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(count(lit(1)).as("n"))
    // dense spine: every type crossed with every day in the GLOBAL
    // observed range (types are active over the same span; a type's
    // own min/max would hide leading/trailing silence)
    val span = daily.agg(min(col("day_idx")).as("lo"),
      max(col("day_idx")).as("hi"))
    val types = daily.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day_idx"))
    spine.join(daily, Seq("event_type", "day_idx"), "left")
      .select(col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("s1"),
        // decimal carrier: n is events/day — its square leaves i64
        // past ~3e9 events on one (type, day)
        sum(col("n").cast("decimal(20,0)") * col("n")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n_days"))
      .withColumn("variance",
        col("s2").cast("double") / col("n_days") - col("mean") * col("mean"))
      .select(col("event_type"), col("n_days"), col("s1").as("n_events"),
        floor(col("mean") * 1000).cast("long").as("mean_milli"),
        floor(col("variance") / col("mean") * 1000).cast("long")
          .as("fano_milli"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: same dense spine, same moment algebra, same floor. */
  val eventBurstinessSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
      |      AS day_idx,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(day_idx) AS lo, max(day_idx) AS hi FROM daily
      |), spine AS (
      |  SELECT t.event_type, g.day_idx
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS day_idx
      |              FROM span) g
      |), dense AS (
      |  SELECT s.event_type, COALESCE(d.n, 0) AS n
      |  FROM spine s LEFT JOIN daily d USING (event_type, day_idx)
      |), m AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
      |  FROM dense GROUP BY event_type
      |)
      |SELECT event_type, n_days, s1 AS n_events,
      |  CAST(floor(CAST(s1 AS DOUBLE) / n_days * 1000) AS BIGINT)
      |    AS mean_milli,
      |  CAST(floor((CAST(s2 AS DOUBLE) / n_days
      |              - (CAST(s1 AS DOUBLE) / n_days)
      |                * (CAST(s1 AS DOUBLE) / n_days))
      |             / (CAST(s1 AS DOUBLE) / n_days) * 1000) AS BIGINT)
      |    AS fano_milli
      |FROM m
      |ORDER BY event_type""".stripMargin

  /** Day-of-week seasonal profile — the classical multiplicative
    * decomposition's seasonal-index step (index = dow mean / grand
    * mean) over the [[dailyCents]] spine, per event type. dow 0 is
    * the spine's epoch weekday (day_idx % 7, epoch 2024-01-01). The
    * index is computed as TWO mirrored integer divisions —
    * share_ppm = (1e6·Σ_dow) DIV Σ_total, then ·n_days_total DIV
    * n_days_dow — every operand positive, so trunc ≡ floor on both
    * engines and the two-step order is part of the pinned contract
    * (one combined ratio would overflow i64 at ~10× this corpus;
    * the two-step keeps every intermediate ≤ 1e6·Σ).
    *
    * Scale shape: one corpus scan into the daily spine (the shuffle
    * ACF/CCF/Theil-Sen already pay), then day-count-sized aggregates
    * and a broadcast of the |types|-row totals.
    */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    // examined r15, left UN-checkpointed: byDow and totals do consume
    // the spine twice, but both are cheap single-agg branches and the
    // measured A/B read ×1.64 WITH a checkpoint (0.32 → 0.53 s solo,
    // matched ambient) — the eager materialization costs more than
    // the saved scan here, unlike the self-join consumers above
    val daily = dailyCents(spark, dir)
    val byDow = daily
      .withColumn("dow", pmod(col("day_idx").cast("long"), lit(7L)))
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(col("cents")).as("cents_dow"),
        count(lit(1)).as("n_days_dow"))
    val totals = daily.groupBy(col("event_type"))
      .agg(sum(col("cents")).as("cents_total"),
        count(lit(1)).as("n_days_total"))
    byDow.join(broadcast(totals), Seq("event_type"))
      // decimal carrier (round 11): 10⁶ × a corpus-scale cents sum
      // overflowed i64 past ~9·10¹² cents; the mirrored two-step `//`
      // sequence is unchanged, only the first step's carrier widens
      .withColumn("seasonal_ppm",
        expr("((1000000L * CAST(cents_dow AS DECIMAL(20,0)))" +
          " DIV cents_total) * n_days_total DIV n_days_dow"))
      .select(col("event_type"), col("dow"), col("n_days_dow"),
        col("cents_dow"), col("seasonal_ppm"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** DuckDB twin: same spine, same two mirrored `//` steps. */
  val seasonalProfileSql: String =
    s"""WITH $dailyCentsSql, byd AS (
       |  SELECT event_type, day_idx % 7 AS dow,
       |    CAST(sum(cents) AS BIGINT) AS cents_dow,
       |    count(*) AS n_days_dow
       |  FROM daily GROUP BY 1, 2
       |), tot AS (
       |  SELECT event_type, CAST(sum(cents) AS BIGINT) AS cents_total,
       |    count(*) AS n_days_total
       |  FROM daily GROUP BY 1
       |)
       |SELECT b.event_type, b.dow, b.n_days_dow, b.cents_dow,
       |  CAST((1000000 * CAST(b.cents_dow AS HUGEINT)) // t.cents_total
       |    AS BIGINT)
       |    * t.n_days_total // b.n_days_dow AS seasonal_ppm
       |FROM byd b JOIN tot t USING (event_type)
       |ORDER BY event_type, dow""".stripMargin

  /** AR(1) fit per event-type daily series — the autoregressive
    * coefficient φ, the intercept, and the lag-1 correlation, all from
    * the same exact BIGINT moment spine as the ACF: consecutive-day
    * (xₜ₋₁, xₜ) pairs come from ONE window pass (a calendar gap breaks
    * the pair — day t pairs only with t−1), the six moments are exact
    * longs, and φ = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) and the intercept
    * (Σy − φ·Σx)/n are each ONE double expression written identically
    * in the oracle, so both engines evaluate the same IEEE tree.
    * φ near 1 = strong day-over-day persistence; the intercept is the
    * series' reversion level in cents (μ·(1−φ) form of the AR(1)
    * mean). Everything after the dailyCents shuffle is
    * types×days-sized.
    */
  def ar1Fit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
    val pairs = dailyCents(spark, dir)
      .withColumn("prev_day", lag(col("day_idx"), 1).over(w))
      .withColumn("x", lag(col("cents"), 1).over(w))
      .filter(col("prev_day") === col("day_idx") - 1)
      .select(col("event_type"), col("x"), col("cents").as("y"))
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double"); val syd = col("sy").cast("double")
    val den = nd * col("sxx").cast("double") - sxd * sxd
    val phiRaw = (nd * col("sxy").cast("double") - sxd * syd) / den
    pairs.groupBy(col("event_type"))
      .agg(momentAggs.head, momentAggs.tail: _*)
      .select(col("event_type"), col("n").as("n_pairs"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(phiRaw, 6)).as("phi"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round((syd - phiRaw * sxd) / nd, 4)).as("mu_cents"),
        pearsonFromMoments.as("r1"))
      .orderBy(col("event_type"))
  }

  val ar1FitSql: String =
    s"""WITH $dailyCentsSql, pairs AS (
      |  SELECT event_type, x, y FROM (
      |    SELECT event_type, day_idx, cents AS y,
      |      lag(day_idx, 1) OVER w AS prev_day,
      |      lag(cents, 1) OVER w AS x
      |    FROM daily
      |    WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
      |  ) WHERE prev_day = day_idx - 1
      |), m AS (
      |  SELECT event_type, $momentSqlCols
      |  FROM pairs GROUP BY 1
      |)
      |SELECT event_type, n AS n_pairs,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
      |    ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |  END AS phi,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN NULL
      |    ELSE round((CAST(sy AS DOUBLE)
      |                - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4)
      |  END AS mu_cents,
      |  ${pearsonSql("r1")}
      |FROM m ORDER BY event_type""".stripMargin

  /** Exact trailing rolling MEDIAN (7 observations) of the daily cent
    * series — the robust smoother a mean-based rolling stat can't
    * give (one outlier day pollutes a mean window; the median shrugs).
    * Exactness without a sketch: the window is a compile-time-odd row
    * count, so the median IS the 4th order statistic of the window —
    * Spark sorts the 7-element window array and indexes it (bounded
    * per-row state, no percentile_approx), DuckDB's native median over
    * the same ROWS frame returns the identical middle BIGINT. Rows
    * before the 7th observation are suppressed (no partial windows),
    * keeping the contract total-order deterministic. ROWS semantics:
    * 7 OBSERVATIONS, not calendar days — a gap day simply isn't in
    * the frame (the LOCF/LERP fillers exist for calendar-regular
    * views).
    */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
    val w7 = w.rowsBetween(-6, 0)
    dailyCents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("med_cents",
        element_at(array_sort(collect_list(col("cents")).over(w7)), 4))
      .filter(col("rn") >= 7)
      .select(col("event_type"), col("day_idx"), col("cents"),
        col("med_cents"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  val rollingMedianSql: String =
    s"""WITH $dailyCentsSql
      |SELECT event_type, day_idx, cents, med_cents FROM (
      |  SELECT event_type, day_idx, cents,
      |    row_number() OVER w AS rn,
      |    CAST(median(cents) OVER w7 AS BIGINT) AS med_cents
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx),
      |    w7 AS (PARTITION BY event_type ORDER BY day_idx
      |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |) WHERE rn >= 7
      |ORDER BY event_type, day_idx""".stripMargin

  /** Linear-interpolation gap fill — [[gapFillLocf]]'s better-behaved
    * sibling for metrics that drift between observations: each grid
    * hour gets pv + (nv − pv)·(h − pħ)/(nħ − pħ) between its nearest
    * known neighbors (LOCF holds a stale level flat through the gap;
    * LERP splits the observed change across it). Leading gaps
    * backfill from the first observation, trailing gaps hold the
    * last — the filler stays TOTAL. Same one-shuffle shape as LOCF:
    * the dense grid is per-user bounded, the four neighbor columns
    * are two frames of the same window pass, and the interpolation is
    * exact micro-dollar integer arithmetic (see the in-body note).
    */
  def gapFillLerp(spark: SparkSession, dir: String): DataFrame = {
    // EXACT fixed point end to end: the hourly mean is micro-dollar
    // integers ((cent_sum·10⁴) DIV count — values are nonnegative, so
    // truncating DIV is floor on both engines), and the interpolation
    // uses the weighted form (pv·(nh−h) + nv·(h−ph)) DIV (nh−ph),
    // whose operands stay nonnegative even on a falling segment —
    // the algebraic pv + (nv−pv)·frac form would put a NEGATIVE
    // numerator under DIV, where Spark truncates toward zero but
    // DuckDB's // floors. (A float formulation was tried first: the
    // two engines' doubles drift one ulp apart and the 4-decimal
    // rounding flips on real rows.)
    val hourly = events(spark, dir)
      .select(col("user_id"),
        expr("unix_timestamp(ts) DIV 3600").as("hr"), col("value"))
      .groupBy(col("user_id"), col("hr"))
      .agg(expr("(sum(CAST(round(value * 100) AS BIGINT)) * 10000)" +
        " DIV count(*)").as("v"))
    val grid = hourly
      .groupBy(col("user_id"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"))).as("hr"))
    val wp = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
      .withColumn("ph",
        last(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wp))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wn))
      .withColumn("nh",
        first(when(col("v").isNotNull, col("hr")), ignoreNulls = true).over(wn))
      .select(col("user_id"), col("hr"),
        when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("nh") === col("ph"), col("pv"))
          .otherwise(expr(
            "(pv * (nh - hr) + nv * (hr - ph)) DIV (nh - ph)"))
          .as("value_lerp_micro"),
        col("v").isNull.as("is_gap"))
      .orderBy(col("user_id"), col("hr"))
  }

  val gapFillLerpSql: String =
    """WITH hourly AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
      |    (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |     * 10000) // count(*) AS v
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(lo, hi)) AS hr
      |  FROM (SELECT user_id, min(hr) AS lo, max(hr) AS hi
      |        FROM hourly GROUP BY user_id)
      |), nb AS (
      |  SELECT g.user_id, g.hr, h.v,
      |    last_value(h.v IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN h.v IS NOT NULL THEN g.hr END IGNORE NULLS)
      |      OVER wp AS ph,
      |    first_value(h.v IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN h.v IS NOT NULL THEN g.hr END IGNORE NULLS)
      |      OVER wn AS nh
      |  FROM grid g LEFT JOIN hourly h
      |    ON g.user_id = h.user_id AND g.hr = h.hr
      |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.hr
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY g.user_id ORDER BY g.hr
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, hr,
      |  CASE WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       WHEN nh = ph THEN pv
      |       ELSE (pv * (nh - hr) + nv * (hr - ph)) // (nh - ph)
      |  END AS value_lerp_micro,
      |  (v IS NULL) AS is_gap
      |FROM nb
      |ORDER BY user_id, hr""".stripMargin

  /** Offset that makes every DIV operand positive in [[stlLite]]'s
    * seasonal means: (Σx + n·OFF) DIV n − OFF equals floor(Σx/n)
    * EXACTLY for integer OFF, turning Spark's truncating DIV into
    * floor semantics on possibly-negative detrended sums — the same
    * engine-portability trick as the lerp filler's weighted form.
    */
  val StlOffset = 1000000000000L

  /** Additive seasonal decomposition, STL-lite: y = trend + seasonal
    * + residual over the per-type daily cent series. Trend is the
    * centered 7-day moving mean (full windows only — the classic
    * moving-average decomposition, Cleveland et al.'s STL without
    * the loess robustness loop); seasonal is the per-weekday mean of
    * the detrended series; the residual closes the identity exactly,
    * because every step is integer arithmetic: trend = Σ₇ DIV 7 on
    * positive cents, seasonal via the [[StlOffset]] floor-division
    * trick on possibly-negative detrended values, residual a pure
    * subtraction. One shuffle builds the day table; both windows and
    * the weekday means run on types×days-bounded frames.
    */
  def stlLite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
    val w7 = w.rowsBetween(-3, 3)
    val trended = dailyCents(spark, dir)
      .withColumn("n_in_win", count(lit(1)).over(w7))
      .withColumn("trend", expr("sum(cents) OVER (PARTITION BY event_type " +
        "ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) DIV 7"))
      .filter(col("n_in_win") === 7)
      .withColumn("detr", col("cents") - col("trend"))
      .withColumn("dow", expr("day_idx % 7"))
      // r15: trended feeds the seasonal means AND the final join —
      // checkpointed, the corpus pass + trend window run once (§5)
      .localCheckpoint()
    val seasonal = trended
      .groupBy(col("event_type"), col("dow"))
      .agg(expr(s"(sum(detr) + count(*) * ${StlOffset}L) DIV count(*)" +
        s" - ${StlOffset}L").as("seasonal"))
    trended.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"), col("day_idx"), col("cents"),
        col("trend"), col("seasonal"),
        (col("detr") - col("seasonal")).as("residual"))
      .orderBy(col("event_type"), col("day_idx"))
  }

  val stlLiteSql: String =
    s"""WITH $dailyCentsSql, t AS (
      |  SELECT event_type, day_idx, cents,
      |    count(*) OVER w7 AS n_in_win,
      |    CAST(sum(cents) OVER w7 AS BIGINT) // 7 AS trend
      |  FROM daily
      |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day_idx
      |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), d AS (
      |  SELECT *, cents - trend AS detr, day_idx % 7 AS dow
      |  FROM t WHERE n_in_win = 7
      |), s AS (
      |  SELECT event_type, dow,
      |    (CAST(sum(detr) AS BIGINT) + count(*) * $StlOffset) // count(*)
      |      - $StlOffset AS seasonal
      |  FROM d GROUP BY 1, 2
      |)
      |SELECT d.event_type, d.day_idx, d.cents, d.trend, s.seasonal,
      |  d.detr - s.seasonal AS residual
      |FROM d JOIN s ON d.event_type = s.event_type AND d.dow = s.dow
      |ORDER BY d.event_type, d.day_idx""".stripMargin

  /** First forecasted day (inclusive) of the [[forecastBacktest]]
    * holdout — the last week of the 30-day corpus.
    */
  val BacktestFromDay = 23

  /** Seasonal-naive forecast backtest: predict each holdout day's
    * per-type revenue as the value one season (7 days) earlier, then
    * score sMAPE / MAE / bias over the holdout — the baseline
    * backtest every forecasting pipeline runs FIRST, because a model
    * that cannot beat seasonal-naive is not a model. Errors are exact
    * integer ppm/cents: per-day sMAPE is (2e6·|f−a|) DIV (f+a)
    * (day-cent sums are positive), the per-type mean is a second
    * positive DIV, and bias is a raw signed sum (no division — the
    * repo's negative-DIV discipline).
    *
    * Scale shape: one corpus pass builds the daily table; the
    * forecast is a self-join on (type, day−7) over day-count-sized
    * frames; everything downstream is per-type constants.
    */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    // r15: actuals AND the shifted forecast side — one checkpointed
    // corpus pass (§5)
    val daily = dailyCents(spark, dir).localCheckpoint()
    val f = daily.select(col("event_type"),
      (col("day_idx") + 7).as("day_idx"), col("cents").as("fc"))
    daily.filter(col("day_idx") >= BacktestFromDay)
      .join(f, Seq("event_type", "day_idx"))
      .withColumn("ae", abs(col("fc") - col("cents")))
      // decimal carrier (round 11): ae is a DAILY cents total — 2·10⁶
      // × it leaves i64 past ~$46B/day; the per-day ppm output is tiny
      .withColumn("smape_ppm",
        expr("(2000000L * CAST(ae AS DECIMAL(20,0))) DIV (fc + cents)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        expr("sum(smape_ppm) DIV count(1)").as("smape_ppm"),
        expr("sum(ae) DIV count(1)").as("mae_cents"),
        sum(col("fc") - col("cents")).as("bias_cents"))
      .orderBy(col("event_type"))
  }

  val forecastBacktestSql: String =
    s"""WITH $dailyCentsSql
      |SELECT a.event_type,
      |  CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum((2000000 * CAST(abs(f.cents - a.cents) AS HUGEINT))
      |      // (f.cents + a.cents))
      |    AS BIGINT) // count(*) AS smape_ppm,
      |  CAST(sum(abs(f.cents - a.cents)) AS BIGINT) // count(*) AS mae_cents,
      |  CAST(sum(f.cents - a.cents) AS BIGINT) AS bias_cents
      |FROM daily a
      |JOIN daily f ON f.event_type = a.event_type
      |            AND f.day_idx = a.day_idx - 7
      |WHERE a.day_idx >= $BacktestFromDay
      |GROUP BY a.event_type
      |ORDER BY a.event_type""".stripMargin

  /** PAA segment length (days) and motif word length (symbols) for
    * [[saxMotifs]].
    */
  val SaxSegDays = 2
  val SaxWordLen = 4

  /** SAX-style symbolic motif discovery (Lin–Keogh–Lonardi–Chiu 2003,
    * discretization reworked to the repo's exact-integer discipline):
    * each type's daily-revenue series is piecewise-aggregated
    * ([[SaxSegDays]]-day integer means), discretized to a 4-letter
    * alphabet by the series' OWN exact quartile order statistics
    * (rank-based breakpoints replace the classic z-normal Gaussian
    * table — no float normalization anywhere, and the symbols adapt
    * per series exactly like z-norming intends), and the most
    * frequent length-[[SaxWordLen]] symbol word is reported — the
    * recurring weekly "shape" of the series. Ties break on the
    * lexicographically smallest word.
    *
    * Scale shape: one corpus pass → the day table; everything after
    * (PAA, order statistics, word counts) runs on day-count-sized
    * frames per type.
    */
  def saxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(spark, dir)
      .withColumn("idx", row_number().over(Window
        .partitionBy(col("event_type")).orderBy(col("day_idx"))) - 1)
    val paa = daily
      .withColumn("seg", expr(s"idx DIV $SaxSegDays"))
      .groupBy(col("event_type"), col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .filter(col("n") === SaxSegDays) // drop the ragged tail segment
      .withColumn("v", expr("s DIV n"))
    val ranked = paa
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("event_type")).orderBy(col("v").asc, col("seg").asc)))
      .localCheckpoint() // feeds the breakpoint pick AND the symbols
    val nSeg = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_seg"))
    // conditional picks (not min/max over the filtered rows): the
    // three rank positions coincide for tiny series and must then
    // yield q1 = q2 = q3 rather than a broken difference
    val bps = ranked.join(broadcast(nSeg), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === expr("(n_seg + 3) DIV 4"), col("v"))).as("q1"),
        max(when(col("rn") === expr("(n_seg + 1) DIV 2"), col("v"))).as("q2"),
        max(when(col("rn") === expr("(3 * n_seg + 3) DIV 4"), col("v")))
          .as("q3"))
    val sym = ranked.join(broadcast(bps), Seq("event_type"))
      .withColumn("sym",
        when(col("v") <= col("q1"), "a")
          .when(col("v") <= col("q2"), "b")
          .when(col("v") <= col("q3"), "c")
          .otherwise("d"))
    val words = sym
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("seg"), col("sym")))).as("ss"))
      .select(col("event_type"),
        transform(col("ss"), s => s.getField("sym")).as("syms"))
      .filter(size(col("syms")) >= SaxWordLen)
      .select(col("event_type"), explode(transform(
        sequence(lit(1), size(col("syms")) - (SaxWordLen - 1)),
        i => concat_ws("", slice(col("syms"), i, lit(SaxWordLen)))))
        .as("word"))
      .groupBy(col("event_type"), col("word"))
      .agg(count(lit(1)).as("n"))
    words
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("word").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("word").as("motif"), col("n"))
      .orderBy(col("event_type"))
  }

  val saxMotifsSql: String = {
    val s = SaxSegDays
    val w = SaxWordLen
    s"""WITH $dailyCentsSql, idxed AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day_idx) - 1
      |      AS idx
      |  FROM daily
      |), paa AS (
      |  SELECT event_type, idx // $s AS seg,
      |    CAST(sum(cents) AS BIGINT) // count(*) AS v
      |  FROM idxed GROUP BY 1, 2
      |  HAVING count(*) = $s
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY v ASC, seg ASC) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n_seg
      |  FROM paa
      |), bps AS (
      |  SELECT event_type,
      |    max(CASE WHEN rn = (n_seg + 3) // 4 THEN v END) AS q1,
      |    max(CASE WHEN rn = (n_seg + 1) // 2 THEN v END) AS q2,
      |    max(CASE WHEN rn = (3 * n_seg + 3) // 4 THEN v END) AS q3
      |  FROM ranked
      |  GROUP BY 1
      |), sym AS (
      |  SELECT r.event_type, r.seg,
      |    CASE WHEN v <= q1 THEN 'a' WHEN v <= q2 THEN 'b'
      |         WHEN v <= q3 THEN 'c' ELSE 'd' END AS sym
      |  FROM ranked r JOIN bps USING (event_type)
      |), seqs AS (
      |  SELECT event_type, array_agg(sym ORDER BY seg) AS syms
      |  FROM sym GROUP BY 1
      |), words AS (
      |  SELECT event_type,
      |    array_to_string(list_slice(syms, i, i + ${w - 1}), '') AS word
      |  FROM seqs, unnest(range(1, len(syms) - ${w - 2})) AS u(i)
      |  WHERE len(syms) >= $w
      |), counted AS (
      |  SELECT event_type, word, CAST(count(*) AS BIGINT) AS n
      |  FROM words GROUP BY 1, 2
      |)
      |SELECT event_type, word AS motif, n
      |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY n DESC, word ASC) AS rn FROM counted)
      |WHERE rn = 1
      |ORDER BY event_type""".stripMargin
  }

  /** Cohort lifetime-value curve — [[cohortRetention]]'s revenue twin:
    * per (cohort year, years-since-first-order), the CUMULATIVE
    * revenue per cohort member in exact micro-dollars — the payback
    * readout ("how much has the 1996 cohort spent per head by year
    * 2") that retention counts alone can't answer. Cohort size is the
    * year-0 member count; cumulative cents are a running window sum;
    * the per-head division is one positive-operand DIV per cell.
    *
    * Scale shape: one orders pass (min-year per customer rides the
    * same aggregation as the revenue cells); everything after runs on
    * cohort × offset cells.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val perCust = orders(spark, dir)
      .select(col("o_custkey"),
        year(col("o_orderdate")).cast("bigint").as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"), col("yr"))
      .agg(sum(col("cents")).as("cents"))
      .withColumn("cohort_yr",
        min(col("yr")).over(Window.partitionBy(col("o_custkey"))))
    val cells = perCust
      .withColumn("yr_offset", col("yr") - col("cohort_yr"))
      .groupBy(col("cohort_yr"), col("yr_offset"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_active"))
    val w = Window.partitionBy(col("cohort_yr")).orderBy(col("yr_offset"))
    cells
      .withColumn("cum_cents", sum(col("cents"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cohort_size", first(col("n_active")).over(w))
      // decimal carrier (round 11): cum_cents is a corpus-scale cents
      // sum — ×10⁴ overflowed i64 past ~9·10¹⁴ cents
      .withColumn("ltv_micro_per_head",
        expr("(CAST(cum_cents AS DECIMAL(20,0)) * 10000L)" +
          " DIV cohort_size"))
      .select(col("cohort_yr"), col("yr_offset"), col("n_active"),
        col("cum_cents"), col("cohort_size"), col("ltv_micro_per_head"))
      .orderBy(col("cohort_yr"), col("yr_offset"))
  }

  val cohortLtvSql: String =
    """WITH pc AS (
      |  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2
      |), wc AS (
      |  SELECT *, min(yr) OVER (PARTITION BY o_custkey) AS cohort_yr
      |  FROM pc
      |), cells AS (
      |  SELECT cohort_yr, yr - cohort_yr AS yr_offset,
      |    CAST(sum(cents) AS BIGINT) AS cents,
      |    CAST(count(*) AS BIGINT) AS n_active
      |  FROM wc GROUP BY 1, 2
      |)
      |SELECT cohort_yr, yr_offset, n_active,
      |  CAST(sum(cents) OVER (PARTITION BY cohort_yr ORDER BY yr_offset)
      |    AS BIGINT) AS cum_cents,
      |  first(n_active) OVER (PARTITION BY cohort_yr ORDER BY yr_offset)
      |    AS cohort_size,
      |  CAST((CAST(sum(cents) OVER (PARTITION BY cohort_yr ORDER BY yr_offset)
      |    AS HUGEINT) * 10000)
      |    // first(n_active) OVER (PARTITION BY cohort_yr ORDER BY yr_offset)
      |    AS BIGINT) AS ltv_micro_per_head
      |FROM cells
      |ORDER BY cohort_yr, yr_offset""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_cohort_ltv" -> Query(cohortLtv, cohortLtvSql),
    "q_sax_motifs" -> Query(saxMotifs, saxMotifsSql),
    "q_forecast_backtest" -> Query(forecastBacktest, forecastBacktestSql),
    "q_stl_lite" -> Query(stlLite, stlLiteSql),
    "q_ar1_fit" -> Query(ar1Fit, ar1FitSql),
    "q_rolling_median" -> Query(rollingMedian, rollingMedianSql),
    "q_gap_fill_lerp" -> Query(gapFillLerp, gapFillLerpSql),
    "q_seasonal_profile" -> Query(seasonalProfile, seasonalProfileSql),
    "q_event_burstiness" -> Query(eventBurstiness, eventBurstinessSql),
    "q_theilsen_trend" -> Query(theilSenTrend, theilSenTrendSql),
    "q_ccf_daily" -> Query(ccfDaily, ccfDailySql),
    "q_acf_daily" -> Query(acfDaily, acfDailySql),
    "q_holt_trend" -> Query(holtTrend, holtTrendSql),
    "q_cusum_shift" -> Query(cusumShift, cusumShiftSql),
    "q_sensor_ema" -> Query(sensorEma, sensorEmaSql),
    "q_gap_fill_locf" -> Query(gapFillLocf, gapFillLocfSql),
    "q_cohort_retention" -> Query(cohortRetention, cohortRetentionSql),
    "q_rolling_active_users" -> Query(rollingActiveUsers, rollingActiveUsersSql),
    "q_interval_overlap" -> Query(intervalOverlap, intervalOverlapSql)
  )
}
