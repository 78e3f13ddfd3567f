package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources._
import graft.{Query, QueryModule}

/** Event-stream batch analytics (SURVEY.md §2.8 L5–L6).
  *
  * The reference's stream is a replayed sensor feed (reference:
  * kafka/producer.py:37-47); the harness `events` table is the bounded
  * stand-in. Sessionization here is the batch (window-function) twin of
  * the streaming `session_window` path in graft.streaming.Pipeline —
  * same gap semantics, oracle-checkable.
  *
  * Scale notes (100 TB): sessionization shuffles ONCE on user_id (both
  * window functions share the same partitioning, and the groupBy on
  * (user_id, session_id) reuses it — no second exchange); JSON
  * extraction is a codegen'd scalar expression applied scan-side, so
  * column pruning still reaches parquet.
  */
object Events extends QueryModule {

  /** Session gap: a new session starts after 30 idle minutes. Gap
    * decisions are made on floor-second epoch values so batch, stream
    * and the DuckDB oracle agree bit-for-bit even though the source
    * timestamps carry nanoseconds (Spark truncates to micros on read).
    */
  val SessionGapSeconds = 1800L

  /** Un-ordered session table: the shared build behind [[sessionize]]
    * (which only adds the presentation sort) and the interval-overlap
    * join in [[TimeSeries.intervalOverlap]] (which must NOT inherit a
    * global sort mid-pipeline — the range-bucket join repartitions
    * right after, and Catalyst does not remove a sort under a join).
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("prev_s", lag(col("epoch_s"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_s").isNull ||
          col("epoch_s") - col("prev_s") > SessionGapSeconds, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("epoch_s")).as("session_start_s"),
        max(col("epoch_s")).as("session_end_s"),
        (max(col("epoch_s")) - min(col("epoch_s"))).as("duration_s"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** L5: gap-based sessionization via lag + running sum of boundaries.
    * One shuffle on user_id; session aggregation reuses the same
    * partitioning (child distribution satisfies groupBy's requirement).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessions(spark, dir).orderBy(col("user_id"), col("session_id"))

  /** Shared session-assignment CTE chain (base → marked → numbered):
    * every event tagged with its gap-session id. Spliced into both
    * [[sessionizeSql]] and the interval-overlap oracle in
    * [[TimeSeries]] so the two gates pin the SAME session definition.
    */
  val sessionCtesSql: String =
    s"""base AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
      |    lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
      |      OVER (PARTITION BY user_id
      |            ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC) AS prev_s
      |  FROM events
      |), marked AS (
      |  SELECT user_id, event_id, ts, value, epoch_s,
      |    CASE WHEN prev_s IS NULL OR epoch_s - prev_s > $SessionGapSeconds
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM base
      |), numbered AS (
      |  SELECT user_id, epoch_s, value,
      |    CAST(sum(new_session) OVER (
      |      PARTITION BY user_id
      |      ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked
      |)""".stripMargin

  val sessionizeSql: String =
    s"""WITH $sessionCtesSql
      |SELECT user_id, session_id,
      |  count(*) AS n_events,
      |  min(epoch_s) AS session_start_s,
      |  max(epoch_s) AS session_end_s,
      |  max(epoch_s) - min(epoch_s) AS duration_s,
      |  round(sum(value), 2) AS sum_value
      |FROM numbered
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** L6: JSON property extraction — `props` is a JSON object column;
    * `$$.k` is pulled with the codegen'd get_json_object expression
    * (no UDF), cast, filtered and aggregated.
    */
  def eventProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // try_cast on both engines: a malformed k degrades to null (and
      // is filtered) instead of aborting one engine but not the other
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("int"))
      .filter(col("k") > 50)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val eventPropsSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(avg(k), 4) AS avg_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |WHERE k > 50
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Funnel via conditional aggregation (pivot without a second pass):
    * per-user event-type flags in one shuffle, then a tiny re-agg on the
    * 8 flag combinations. No `pivot()` metadata query, no collect.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("has_view"),
        max(when(col("event_type") === "click", 1).otherwise(0)).as("has_click"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("has_purchase"))
      .groupBy(col("has_view"), col("has_click"), col("has_purchase"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("has_view"), col("has_click"), col("has_purchase"))

  val eventFunnelSql: String =
    """SELECT has_view, has_click, has_purchase, count(*) AS n_users
      |FROM (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      |  FROM events GROUP BY user_id
      |)
      |GROUP BY has_view, has_click, has_purchase
      |ORDER BY has_view, has_click, has_purchase""".stripMargin

  /** J7 (as-of join): each purchase matched to the same user's most
    * recent prior-or-simultaneous signup. Spark lacks a native as-of
    * operator; the idiomatic scale form is union-tag + one window pass
    * — a SINGLE shuffle on user_id, no range join, no state explosion
    * (the classic merge-join formulation of as-of). The DuckDB oracle
    * uses its native ASOF JOIN, proving operator equivalence.
    */
  def asofSignup(spark: SparkSession, dir: String): DataFrame = {
    // Tie policy: among same-instant signups the MAX event_id wins.
    // The window below already implements that (ties order event_id
    // ASC, so last() picks the largest) in ONE scan + one shuffle;
    // only the DuckDB oracle needs an explicit dedupe, because its
    // ASOF JOIN picks an arbitrary row among equal timestamps.
    val tagged = events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .filter(col("event_type").isin("purchase", "signup"))
      .withColumn("is_signup", (col("event_type") === "signup").cast("int"))
    // signups sort before a same-instant purchase so ts >= matches
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("is_signup").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("signup_event_id",
        last(when(col("is_signup") === 1, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("signup_epoch_s",
        last(when(col("is_signup") === 1, col("epoch_s")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("signup_event_id"),
        (col("epoch_s") - col("signup_epoch_s")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** The oracle truncates ts to microseconds before the ASOF
    * comparison: Spark reads the nanos column at micro precision, so
    * both engines must order same-microsecond events identically.
    */
  val asofSignupSql: String =
    """SELECT p.event_id, p.user_id, s.event_id AS signup_event_id,
      |  CAST(floor(epoch(p.ts)) AS BIGINT)
      |    - CAST(floor(epoch(s.ts)) AS BIGINT) AS gap_s
      |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      |      FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT event_id, user_id, ts FROM (
      |    SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('microseconds', ts)
      |                         ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'signup')
      |  WHERE rn = 1) s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  /** Array aggregation: each user's distinct event types as a sorted
    * array — collect_set is unordered by contract, so the sort_array
    * wrapper is what makes the value deterministic. The gate column is
    * the ','-joined string form (array cells aren't hashable in the
    * driver's compare) and the count is emitted as BIGINT on both
    * engines.
    */
  def userEventTypes(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sort_array(collect_set(col("event_type"))).as("types_arr"),
        count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        concat_ws(",", col("types_arr")).as("event_types"),
        col("n_events"),
        size(col("types_arr")).cast("bigint").as("n_types"))
      .orderBy(col("user_id"))

  val userEventTypesSql: String =
    """SELECT user_id,
      |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
      |  count(*) AS n_events,
      |  len(list_distinct(list(event_type))) AS n_types
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** The same as-of semantics as [[asofSignup]], but executed by the
    * engine's own whole-operator implementation
    * ([[graft.plans.AsOfJoinPlan]]: custom logical node → planner
    * strategy → streamed merge exec) instead of the union-tag window
    * rewrite. Shares q_asof_signup's DuckDB ASOF JOIN oracle — the
    * hash gate proves the custom operator row-for-row correct.
    * The merge exec keeps O(1) per-partition state, vs the window
    * form's running per-user state; tie policy (max signup event_id
    * at equal ts) is expressed as the right-side tie-break ordering.
    */
  def asofSignupCustom(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("epoch_s"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_event_id"),
        col("user_id").as("s_user_id"), col("ts").as("s_ts"),
        col("epoch_s").as("s_epoch_s"))
    graft.plans.AsOfJoinPlan.join(purchases, signups,
      leftKey = "user_id", rightKey = "s_user_id",
      leftTimeCol = "ts", rightTimeCol = "s_ts",
      rightTieBreakCols = Seq("signup_event_id"))
      .select(col("event_id"), col("user_id"), col("signup_event_id"),
        (col("epoch_s") - col("s_epoch_s")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** Temporal cutoff for [[coldStartCoverage]]: events strictly
    * before it are "history", the rest the evaluation period (the
    * corpus spans January 2024; the last ~9 days evaluate).
    */
  val ColdStartCutoff = "2024-01-22"

  /** Cold-start coverage of the evaluation period — the recommender
    * eval-hygiene audit: of the events after [[ColdStartCutoff]], per
    * event type, what fraction of users (and of events) have ANY
    * history before the cutoff? Users without it are cold-start rows
    * a personalization model cannot score from history, and an eval
    * period dominated by them measures the fallback path, not the
    * model. A TEMPORAL split is the point — a user-hash split would
    * make the metric vacuous (every held-out user is unseen by
    * construction). Counts are exact integers; shares exact ppm.
    *
    * Scale shape: one distinct-user table for history (hash
    * aggregate), a user-keyed join, per-type rollups.
    */
  def coldStartCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(ColdStartCutoff).cast("timestamp")
    val ev = events(spark, dir)
    val histUsers = ev.filter(col("ts") < cutoff)
      .select(col("user_id")).distinct().withColumn("seen", lit(1))
    ev.filter(col("ts") >= cutoff)
      .join(histUsers, Seq("user_id"), "left")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("seen").isNotNull, col("user_id")))
          .as("n_seen_users"),
        sum(when(col("seen").isNotNull, 1L).otherwise(0L))
          .as("n_covered_events"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("n_seen_users"),
        expr("(1000000 * n_seen_users) DIV n_users").as("seen_users_ppm"),
        expr("(1000000 * n_covered_events) DIV n_events")
          .as("covered_events_ppm"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: same cutoff, same semi-join accounting. */
  val coldStartCoverageSql: String =
    s"""WITH hist AS (
      |  SELECT DISTINCT user_id FROM events
      |  WHERE ts < TIMESTAMP '$ColdStartCutoff'
      |)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
      |  CAST(count(DISTINCT CASE WHEN h.user_id IS NOT NULL
      |                      THEN e.user_id END) AS BIGINT) AS n_seen_users,
      |  (1000000 * CAST(count(DISTINCT CASE WHEN h.user_id IS NOT NULL
      |                      THEN e.user_id END) AS BIGINT))
      |    // CAST(count(DISTINCT e.user_id) AS BIGINT) AS seen_users_ppm,
      |  (1000000 * CAST(sum(CASE WHEN h.user_id IS NOT NULL
      |                      THEN 1 ELSE 0 END) AS BIGINT))
      |    // count(*) AS covered_events_ppm
      |FROM events e LEFT JOIN hist h ON e.user_id = h.user_id
      |WHERE e.ts >= TIMESTAMP '$ColdStartCutoff'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Max staleness for [[asofTolerance]] (seconds): a purchase only
    * attributes to a signup within this window.
    */
  val AsofToleranceSecs = 30L * 24 * 3600

  /** The as-of join with a STALENESS TOLERANCE — pandas
    * merge_asof(tolerance=...)'s semantics, which plain ASOF JOIN
    * (DuckDB included) lacks: a match older than
    * [[AsofToleranceSecs]] is rejected and the left row keeps its
    * left-outer nulls. Runs through the custom Catalyst operator
    * ([[graft.plans.AsOfJoinPlan]], tolerance applied inside the
    * streamed-merge pass — no post-join filter re-widening the
    * plan); the oracle post-filters DuckDB's native ASOF the same
    * way, which is exactly the equivalence that proves the in-exec
    * tolerance correct.
    */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("epoch_s"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_event_id"),
        col("user_id").as("s_user_id"), col("ts").as("s_ts"),
        col("epoch_s").as("s_epoch_s"))
    graft.plans.AsOfJoinPlan.join(purchases, signups,
      leftKey = "user_id", rightKey = "s_user_id",
      leftTimeCol = "ts", rightTimeCol = "s_ts",
      rightTieBreakCols = Seq("signup_event_id"),
      tolerance = Some(java.time.Duration.ofSeconds(AsofToleranceSecs)))
      .select(col("event_id"), col("user_id"), col("signup_event_id"),
        (col("epoch_s") - col("s_epoch_s")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** DuckDB twin: native ASOF, tolerance as a match post-filter. The
    * match predicate compares exact EPOCH MICROS (epoch_us), the same
    * unit the Catalyst operator enforces in-exec — a floor-second
    * comparison would diverge on a pair straddling the boundary by
    * under one second. Only the reported gap_s stays floor-seconds,
    * matching the Spark projection.
    */
  val asofToleranceSql: String =
    s"""SELECT p.event_id, p.user_id,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(s.ts)
      |         <= ${AsofToleranceSecs * 1000000L}
      |       THEN s.event_id END AS signup_event_id,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(s.ts)
      |         <= ${AsofToleranceSecs * 1000000L}
      |       THEN CAST(floor(epoch(p.ts)) AS BIGINT)
      |            - CAST(floor(epoch(s.ts)) AS BIGINT) END AS gap_s
      |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      |      FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT event_id, user_id, ts FROM (
      |    SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('microseconds', ts)
      |                         ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'signup')
      |  WHERE rn = 1) s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  /** Event-type transition matrix (first-order Markov): for each
    * (type → next type) bigram within a user's timeline, the count and
    * the transition probability. One shuffle on user_id for the lead
    * window; the bigram aggregation and the per-source normalization
    * run over the tiny 5×5 cube. Probabilities are ratios of exact
    * integer counts, so both engines divide the same longs.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val bySrc = Window.partitionBy(col("event_type"))
    events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(bySrc), 6))
      .orderBy(col("event_type"), col("next_type"))
  }

  /** Fixed-point scale for the Markov stationary distribution
    * (parts-per-million) and the number of power-iteration steps —
    * plan-time constants shared with the unrolled DuckDB twin.
    */
  val MarkovScale = 1000000L
  val MarkovIters = 20

  /** Stationary distribution of the event-type Markov chain — "where
    * does user behavior settle": estimate the row-stochastic transition
    * matrix from per-user consecutive event pairs, then power-iterate
    * π ← πP to the steady state. All arithmetic is fixed-point ppm
    * integers (floor division) so every step — and therefore the
    * result — is engine-portable; each iteration renormalizes to
    * [[MarkovScale]], absorbing floor loss and mass parked on
    * absorbing types.
    *
    * Scale shape: the ONLY corpus-sized work is the transition count
    * (one user_id window sort + one |types|² aggregation — the same
    * spine as q_event_transitions); the collected matrix is
    * alphabet-sized (corpus-size-independent), and the 20-step
    * iteration is driver arithmetic on a |types|-vector — the same
    * driver-literal discipline as the IVF/PQ codebooks.
    */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val counts = events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = counts.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val idx = types.zipWithIndex.toMap
    val k = types.length
    // no consecutive event pairs (e.g. every user has one event):
    // the oracle's CTEs yield zero rows — match it instead of
    // dividing MarkovScale by k = 0
    if (k == 0)
      return Seq.empty[(String, Long, Long)]
        .toDF("event_type", "out_transitions", "stationary_ppm")
    val outCnt = Array.fill(k)(0L)
    counts.foreach { case (a, _, n) => outCnt(idx(a)) += n }
    val ppm = Array.ofDim[Long](k, k)
    counts.foreach { case (a, b, n) =>
      ppm(idx(a))(idx(b)) = MarkovScale * n / outCnt(idx(a))
    }
    var v = Array.fill(k)(MarkovScale / k)
    (1 to MarkovIters).foreach { _ =>
      val raw = Array.tabulate(k)(j =>
        (0 until k).map(i => v(i) * ppm(i)(j)).sum)
      val tot = raw.sum
      if (tot != 0L) v = raw.map(r => MarkovScale * r / tot)
    }
    types.zipWithIndex
      .map { case (t, i) => (t, outCnt(i), v(i)) }
      .toSeq.toDF("event_type", "out_transitions", "stationary_ppm")
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: same transition estimation, [[MarkovIters]] unrolled
    * normalize-after-multiply steps over the alphabet-sized CTEs.
    */
  val markovStationarySql: String = {
    val steps = (1 to MarkovIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT p.dst AS et, CAST(sum(v.val * p.ppm) AS BIGINT) AS raw
         |  FROM v${i - 1} v JOIN p ON p.src = v.et GROUP BY 1
         |), t$i AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM r$i),
         |v$i AS MATERIALIZED (
         |  SELECT t.et,
         |    CASE WHEN tt.tot IS NULL OR tt.tot = 0 THEN vp.val
         |         ELSE ($MarkovScale * COALESCE(r.raw, 0)) // tt.tot
         |    END AS val
         |  FROM typ t
         |  LEFT JOIN r$i r ON r.et = t.et
         |  LEFT JOIN v${i - 1} vp ON vp.et = t.et
         |  CROSS JOIN t$i tt
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH nx AS (
       |  SELECT event_type,
       |    lead(event_type, 1) OVER (
       |      PARTITION BY user_id
       |      ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
       |      AS next_type
       |  FROM events
       |), bi AS MATERIALIZED (
       |  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM nx WHERE next_type IS NOT NULL
       |  GROUP BY 1, 2
       |), typ AS MATERIALIZED (
       |  SELECT DISTINCT et FROM (
       |    SELECT event_type AS et FROM bi
       |    UNION ALL SELECT next_type AS et FROM bi)
       |), p AS MATERIALIZED (
       |  SELECT event_type AS src, next_type AS dst,
       |    ($MarkovScale * n) // (sum(n) OVER (PARTITION BY event_type))
       |      AS ppm
       |  FROM bi
       |), outc AS (
       |  SELECT event_type AS et, CAST(sum(n) AS BIGINT) AS outn
       |  FROM bi GROUP BY 1
       |), v0 AS MATERIALIZED (
       |  SELECT et,
       |    $MarkovScale // (SELECT CAST(count(*) AS BIGINT) FROM typ)
       |      AS val
       |  FROM typ
       |),
       |$steps
       |SELECT t.et AS event_type,
       |  COALESCE(o.outn, 0) AS out_transitions,
       |  v.val AS stationary_ppm
       |FROM typ t
       |LEFT JOIN outc o ON o.et = t.et
       |JOIN v$MarkovIters v ON v.et = t.et
       |ORDER BY event_type""".stripMargin
  }

  val eventTransitionsSql: String =
    """WITH nx AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER (
      |      PARTITION BY user_id
      |      ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
      |      AS next_type
      |  FROM events
      |), bi AS (
      |  SELECT event_type, next_type, count(*) AS n
      |  FROM nx WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2
      |)
      |SELECT event_type, next_type, n,
      |  round(n / (sum(n) OVER (PARTITION BY event_type)), 6) AS p
      |FROM bi
      |ORDER BY event_type, next_type""".stripMargin

  /** The collapsed change log behind [[scd2Status]] and
    * [[scd2Lookup]]: one row per (user, status CHANGE), duplicates
    * dropped, original event_id kept as the deterministic tie-break
    * for same-second changes.
    */
  private def scd2Collapsed(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
  }

  /** SCD2 (slowly-changing-dimension type-2) build from a change log:
    * each user's event-type stream becomes validity intervals
    * [valid_from, valid_to), with consecutive duplicates collapsed
    * first (an SCD row opens only when the attribute CHANGES) and the
    * open row carrying a null valid_to. The warehouse op every
    * dimension pipeline runs over CDC feeds.
    *
    * Both window passes (the dedup lag and the interval lead) share
    * the user_id partitioning — ONE shuffle; the second window runs
    * on the already-collapsed rows.
    */
  def scd2Status(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val collapsed = scd2Collapsed(spark, dir)
    // second pass orders by the same keys over the collapsed rows —
    // same partitioning, no second exchange
    collapsed
      .withColumn("valid_from", unix_timestamp(col("ts")))
      .withColumn("valid_to", lead(unix_timestamp(col("ts")), 1).over(byUser))
      .select(col("user_id"), col("event_type").as("status"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  val scd2StatusSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    lag(event_type, 1) OVER (
      |      PARTITION BY user_id
      |      ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
      |      AS prev_type
      |  FROM events
      |), collapsed AS (
      |  SELECT user_id, event_id, ts, event_type
      |  FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT user_id, event_type AS status,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
      |  lead(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (
      |    PARTITION BY user_id
      |    ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
      |    AS valid_to,
      |  (lead(ts, 1) OVER (
      |    PARTITION BY user_id
      |    ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
      |    IS NULL) AS is_current
      |FROM collapsed
      |ORDER BY user_id, valid_from""".stripMargin

  /** Strictly-ORDERED funnel (contrast [[eventFunnel]]'s unordered
    * flags): a click converts only if it happens on/after the user's
    * first view, a purchase only on/after that first qualifying
    * click. Three cascaded per-user min-aggregations — each stage is
    * one shuffle on user_id over an already-filtered slice, and each
    * stage output (one row per converting user) joins the next stage's
    * slice on the same user_id partitioning. Conversion rates are
    * ratios of exact integer counts.
    */
  def orderedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"))
    // the per-user stage gates scale with the user base, so no forced
    // broadcast hints — the joins shuffle on user_id (same partitioning
    // as the aggregations that produced them; AQE may still broadcast)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("t") >= col("t_view"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("t") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t_purchase"))
    val nv = v.agg(count(lit(1)).as("n_view")).select(col("n_view"))
    val nc = c.agg(count(lit(1)).as("n_click")).select(col("n_click"))
    val np = p.agg(count(lit(1)).as("n_purchase")).select(col("n_purchase"))
    nv.crossJoin(nc).crossJoin(np)
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click") / col("n_view"), 6).as("view_to_click"),
        round(col("n_purchase") / col("n_click"), 6).as("click_to_purchase"))
  }

  val orderedFunnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events
      |), v AS (
      |  SELECT user_id, min(t) AS t_view FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT ev.user_id, min(t) AS t_click
      |  FROM ev JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND t >= t_view
      |  GROUP BY ev.user_id
      |), p AS (
      |  SELECT ev.user_id, min(t) AS t_purchase
      |  FROM ev JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND t >= t_click
      |  GROUP BY ev.user_id
      |)
      |SELECT
      |  (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  round((SELECT count(*) FROM c) / (SELECT count(*) FROM v), 6)
      |    AS view_to_click,
      |  round((SELECT count(*) FROM p) / (SELECT count(*) FROM c), 6)
      |    AS click_to_purchase""".stripMargin


  /** Point-in-time SCD2 lookup through the engine's own whole-operator
    * as-of join ([[graft.plans.AsOfJoinPlan]]): each purchase fetches
    * the user's status as of ONE SECOND BEFORE the purchase — the
    * attribution question ("what state converted?"), and a second,
    * differently-shaped workload for the custom operator (LONG time
    * axis, a derived dimension instead of a raw fact). Purchases with
    * no prior state (the user's very first event) surface as 'none'
    * via the operator's left-outer semantics.
    */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val purchases = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        (unix_timestamp(col("ts")) - 1).as("probe_t"))
    val dim = scd2Collapsed(spark, dir)
      .select(col("user_id").as("d_user"), col("event_id").as("d_eid"),
        col("event_type").as("status"),
        unix_timestamp(col("ts")).as("d_from"))
    graft.plans.AsOfJoinPlan.join(purchases, dim,
      leftKey = "user_id", rightKey = "d_user",
      leftTimeCol = "probe_t", rightTimeCol = "d_from",
      rightTieBreakCols = Seq("d_eid"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("status"), lit("none")).as("prev_status"))
      .orderBy(col("event_id"))
  }

  val scd2LookupSql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    lag(event_type, 1) OVER (
      |      PARTITION BY user_id
      |      ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
      |      AS prev_type
      |  FROM events
      |), dim AS (
      |  SELECT user_id, event_id AS d_eid, event_type AS status,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS d_from
      |  FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |), p AS (
      |  SELECT event_id, user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) - 1 AS probe_t
      |  FROM events WHERE event_type = 'purchase'
      |), m AS (
      |  SELECT p.event_id, d.status,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY d.d_from DESC, d.d_eid DESC) AS rn
      |  FROM p JOIN dim d
      |    ON p.user_id = d.user_id AND d.d_from <= p.probe_t
      |)
      |SELECT p.event_id, p.user_id,
      |  coalesce(m.status, 'none') AS prev_status
      |FROM p LEFT JOIN (SELECT event_id, status FROM m WHERE rn = 1) m
      |  USING (event_id)
      |ORDER BY p.event_id""".stripMargin

  /** Attribution lookback window: 72 h in epoch micros. */
  val AttribWindowUs = 259200000000L

  /** First/last-touch marketing attribution: for every purchase, the
    * earliest and latest click/view TOUCH by the same user inside a
    * 72-hour lookback window — the report that decides which channel
    * gets credit for a conversion (first-touch vs last-touch being the
    * two classic models).
    *
    * Scale shape: ONE shuffle on user_id; both touch lookups are
    * RANGE-frame window aggregates over the same per-user sort — no
    * self-join of conversions against touches (the naive shape, which
    * explodes quadratically on active users). Each touch packs into a
    * single BIGINT (us·4 + type code), so the range-frame min IS the
    * first touch and the max IS the last touch — min/max over packed
    * integers are the one aggregate every engine agrees on, where
    * struct-valued min/max are not portable (DuckDB's vectorized
    * lambda/struct paths, see [[TimeSeries.holtTrendSql]]). Ties at
    * the same microsecond resolve by type code — deterministic on any
    * engine and partitioning.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val packed = when(col("event_type") === "click", col("us") * 4 + 1)
      .when(col("event_type") === "view", col("us") * 4 + 2)
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-AttribWindowUs, -1)
    def decodeType(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(pmod(p, lit(4)) === 1, "click")
        .when(pmod(p, lit(4)) === 2, "view")
    events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("p", packed)
      .withColumn("ft", min(col("p")).over(w))
      .withColumn("lt", max(col("p")).over(w))
      .withColumn("n_touches", count(col("p")).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("us").as("conv_us"),
        decodeType(col("ft")).as("first_touch_type"),
        expr("ft DIV 4").as("first_touch_us"),
        decodeType(col("lt")).as("last_touch_type"),
        expr("lt DIV 4").as("last_touch_us"),
        col("n_touches"))
      .orderBy(col("event_id"))
  }

  val attributionSql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |    CASE WHEN event_type = 'click' THEN us * 4 + 1
      |         WHEN event_type = 'view' THEN us * 4 + 2 END AS p
      |  FROM events
      |), att AS (
      |  SELECT user_id, event_id, us, event_type,
      |    min(p) OVER w AS ft, max(p) OVER w AS lt,
      |    count(p) OVER w AS n_touches
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us
      |               RANGE BETWEEN $AttribWindowUs PRECEDING
      |                         AND 1 PRECEDING)
      |)
      |SELECT user_id, event_id, us AS conv_us,
      |  CASE WHEN ft % 4 = 1 THEN 'click'
      |       WHEN ft % 4 = 2 THEN 'view' END AS first_touch_type,
      |  ft // 4 AS first_touch_us,
      |  CASE WHEN lt % 4 = 1 THEN 'click'
      |       WHEN lt % 4 = 2 THEN 'view' END AS last_touch_type,
      |  lt // 4 AS last_touch_us,
      |  n_touches
      |FROM att
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** Eventually-follows footprint matrix — the process-mining
    * discovery primitive, generalizing [[orderedFunnel]]'s fixed
    * 3-stage chain to EVERY ordered pair of event types: for each
    * (a, b), how many users that do both ever do a strictly before b
    * (∃ t_a < t_b ⟺ min ts(a) < max ts(b), so the whole history
    * collapses to one (min, max) row per (user, type) before any
    * join). The self-join fans out per user by at most
    * (#event types)² — alphabet-bounded, never history-bounded — and
    * re-shuffles on user_id (the aggregation partitioned on
    * (user_id, event_type), so its distribution can't be reused), but
    * what crosses that shuffle is the collapsed per-(user, type)
    * table: one row per pair, independent of history length.
    * Second-resolution timestamps, exact counts, one rounded share.
    */
  def followsMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ut = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("t")).as("mn"), max(col("t")).as("mx"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"),
      col("mn").as("mn_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"),
      col("mx").as("mx_b"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_users_both"),
        sum(when(col("mn_a") < col("mx_b"), 1L).otherwise(0L))
          .as("n_follows"))
      .withColumn("follow_share",
        round(col("n_follows") / col("n_users_both"), 6))
      .orderBy(col("type_a"), col("type_b"))
  }

  val followsMatrixSql: String =
    """WITH ut AS (
      |  SELECT user_id, event_type,
      |    min(CAST(floor(epoch(ts)) AS BIGINT)) AS mn,
      |    max(CAST(floor(epoch(ts)) AS BIGINT)) AS mx
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(*) AS n_users_both,
      |  CAST(sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_follows,
      |  round(CAST(sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS BIGINT)
      |    / count(*), 6) AS follow_share
      |FROM ut a JOIN ut b
      |  ON a.user_id = b.user_id AND a.event_type <> b.event_type
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Censoring horizon (days) for [[conversionHazard]] — part of the
    * operator contract: conversions beyond it count as censored AT
    * the horizon, so the risk table is a fixed 0..H domain.
    */
  val HazardHorizon = 30L

  /** Discrete time-to-event (survival) table for view→purchase
    * conversion WITH right-censoring — the analysis "average lag"
    * gets wrong, because users who never converted still carry
    * information (they were at risk as long as they were observed).
    * Per user: t₀ = first view; event day = (first purchase ≥ t₀) −
    * t₀ in whole days if within [[HazardHorizon]]; otherwise the user
    * is censored at min(last-seen day, horizon). Output per day d
    * with a non-empty risk set: n_risk (users whose event/censor day
    * ≥ d — the censored-still-at-risk-on-their-day convention),
    * n_conv (events at d), and the discrete hazard
    * (1000·n_conv) DIV n_risk in exact permille. The Kaplan–Meier
    * survival curve is the running product of (1 − hazard) — left to
    * the consumer because a cumulative float product is
    * order-sensitive, while everything emitted here is exact
    * integers.
    *
    * Scale shape: two per-user min/max aggregations (one user_id
    * shuffle), then counts over the BOUNDED day domain; the suffix
    * sums building the risk sets run on the ≤ H+1-row table (the
    * sketch-quantile bin-walk precedent), never the fact.
    */
  def conversionHazard(spark: SparkSession, dir: String): DataFrame = {
    // OPTIMIZATION r15 (guide §2.4): the old shape scanned events
    // THREE times (first view, last event, first qualifying purchase)
    // and joined the three per-user frames back together — 3 scans, 3
    // shuffles, 2 joins. One pass computes all three: a per-user
    // window pins tv (first view) on every row, and the groupBy that
    // follows shares the window's hash partitioning, so the whole
    // thing is ONE scan + ONE exchange. Semantics identical: users
    // without a view have tv NULL (dropped, as the old inner join on
    // v did); a purchase before the first view fails t >= tv exactly
    // as the old pre-join filter did.
    val w = Window.partitionBy(col("user_id"))
    val users = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("t"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("tv")).as("tv"), max(col("t")).as("tl"),
        min(when(col("event_type") === "purchase" &&
          col("t") >= col("tv"), col("t"))).as("tp"))
      .filter(col("tv").isNotNull)
      .withColumn("lag", expr("(tp - tv) DIV 86400"))
      .withColumn("conv",
        col("tp").isNotNull && col("lag") <= HazardHorizon)
      .withColumn("day",
        when(col("conv"), col("lag"))
          .otherwise(least(expr("(tl - tv) DIV 86400"),
            lit(HazardHorizon))))
    val byDay = users.groupBy(col("day"))
      .agg(sum(when(col("conv"), 1L).otherwise(0L)).as("n_conv"),
        sum(when(col("conv"), 0L).otherwise(1L)).as("n_cens"))
    val days = spark.range(0, HazardHorizon + 1).toDF("day")
    val suffix = Window.orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(byDay, Seq("day"), "left")
      .na.fill(0L, Seq("n_conv", "n_cens"))
      .withColumn("n_risk",
        sum(col("n_conv") + col("n_cens")).over(suffix))
      .filter(col("n_risk") > 0)
      .select(col("day"), col("n_risk"), col("n_conv"),
        expr("(1000 * n_conv) DIV n_risk").as("hazard_permille"))
      .orderBy(col("day"))
  }

  val conversionHazardSql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events
      |), v AS (
      |  SELECT user_id, min(t) AS tv FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id
      |), l AS (
      |  SELECT user_id, max(t) AS tl FROM ev GROUP BY user_id
      |), p AS (
      |  SELECT ev.user_id, min(t) AS tp
      |  FROM ev JOIN v USING (user_id)
      |  WHERE event_type = 'purchase' AND t >= tv
      |  GROUP BY ev.user_id
      |), users AS (
      |  SELECT v.user_id,
      |    (tp - tv) // 86400 AS lag,
      |    (tp IS NOT NULL AND (tp - tv) // 86400 <= $HazardHorizon) AS conv,
      |    CASE WHEN tp IS NOT NULL AND (tp - tv) // 86400 <= $HazardHorizon
      |         THEN (tp - tv) // 86400
      |         ELSE least((tl - tv) // 86400, $HazardHorizon) END AS day
      |  FROM v JOIN l USING (user_id) LEFT JOIN p USING (user_id)
      |), by_day AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
      |    CAST(sum(CASE WHEN conv THEN 0 ELSE 1 END) AS BIGINT) AS n_cens
      |  FROM users GROUP BY day
      |), tab AS (
      |  SELECT d.day,
      |    coalesce(n_conv, 0) AS n_conv, coalesce(n_cens, 0) AS n_cens
      |  FROM (SELECT unnest(range(0, ${HazardHorizon + 1})) AS day) d
      |  LEFT JOIN by_day USING (day)
      |)
      |SELECT day,
      |  CAST(sum(n_conv + n_cens) OVER (ORDER BY day DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_risk,
      |  n_conv,
      |  CAST((1000 * n_conv) // (sum(n_conv + n_cens) OVER (ORDER BY day DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
      |    AS hazard_permille
      |FROM tab
      |QUALIFY n_risk > 0
      |ORDER BY day""".stripMargin

  /** Forward-match window for [[asofForward]] (seconds): a signup only
    * attributes to a purchase within the next 7 days.
    */
  val AsofForwardTolSecs = 7L * 24 * 3600

  /** FORWARD as-of join through the custom Catalyst operator —
    * pandas merge_asof(direction="forward"): each signup joined to
    * the same user's FIRST purchase at or after it, null past
    * [[AsofForwardTolSecs]] (the activation-window attribution the
    * backward join can't express). Ties take the smallest purchase
    * event_id (the operator's (time, tieBreak) ascending head rule).
    * Forward is the CHEAPER direction in the streamed merge: no
    * buffered candidate at all — everything strictly behind the left
    * row is consumed and the right head is the match.
    */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"), col("epoch_s"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"),
        col("epoch_s").as("p_epoch_s"))
    graft.plans.AsOfJoinPlan.join(signups, purchases,
      leftKey = "user_id", rightKey = "p_user_id",
      leftTimeCol = "ts", rightTimeCol = "p_ts",
      rightTieBreakCols = Seq("purchase_event_id"),
      tolerance = Some(java.time.Duration.ofSeconds(AsofForwardTolSecs)),
      direction = graft.plans.AsOfJoinPlan.Forward)
      .select(col("event_id"), col("user_id"), col("purchase_event_id"),
        (col("p_epoch_s") - col("epoch_s")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** DuckDB twin: first-at-or-after via row_number (ties event_id
    * ASC), exact epoch-micros tolerance — the unit the operator
    * enforces in-exec.
    */
  val asofForwardSql: String =
    s"""WITH s AS (
      |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE event_type = 'signup'
      |), p AS (
      |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE event_type = 'purchase'
      |), ranked AS (
      |  SELECT s.event_id, s.user_id,
      |    p.event_id AS purchase_event_id,
      |    CAST(floor(epoch(p.ts)) AS BIGINT)
      |      - CAST(floor(epoch(s.ts)) AS BIGINT) AS gap_s,
      |    row_number() OVER (PARTITION BY s.event_id
      |                       ORDER BY p.ts ASC, p.event_id ASC) AS rn
      |  FROM s JOIN p ON s.user_id = p.user_id
      |    AND p.ts >= s.ts
      |    AND epoch_us(p.ts) - epoch_us(s.ts)
      |        <= ${AsofForwardTolSecs * 1000000L}
      |)
      |SELECT s.event_id, s.user_id, r.purchase_event_id, r.gap_s
      |FROM s LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
      |  ON s.event_id = r.event_id
      |ORDER BY s.event_id""".stripMargin

  /** Nearest-match window for [[asofNearest]] (seconds). */
  val AsofNearestTolSecs = 3600L

  /** NEAREST as-of join through the custom operator — pandas
    * merge_asof(direction="nearest"): each error event matched to the
    * same user's closest click in EITHER direction within
    * [[AsofNearestTolSecs]] (what was the user doing around the
    * failure?), exact ties preferring the backward (at-or-before)
    * click. gap_s is signed: negative = the click preceded the error.
    */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("epoch_s"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_event_id"),
        col("user_id").as("c_user_id"), col("ts").as("c_ts"),
        col("epoch_s").as("c_epoch_s"))
    graft.plans.AsOfJoinPlan.join(errors, clicks,
      leftKey = "user_id", rightKey = "c_user_id",
      leftTimeCol = "ts", rightTimeCol = "c_ts",
      rightTieBreakCols = Seq("click_event_id"),
      tolerance = Some(java.time.Duration.ofSeconds(AsofNearestTolSecs)),
      direction = graft.plans.AsOfJoinPlan.Nearest)
      .select(col("event_id"), col("user_id"), col("click_event_id"),
        (col("c_epoch_s") - col("epoch_s")).as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** DuckDB twin: rank same-user clicks by (|gap micros| ASC, backward
    * first, then the operator's per-direction duplicate rule — max
    * event_id among equal-time backward rows, min among forward).
    */
  val asofNearestSql: String =
    s"""WITH e AS (
      |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE event_type = 'error'
      |), c AS (
      |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE event_type = 'click'
      |), ranked AS (
      |  SELECT e.event_id, e.user_id,
      |    c.event_id AS click_event_id,
      |    CAST(floor(epoch(c.ts)) AS BIGINT)
      |      - CAST(floor(epoch(e.ts)) AS BIGINT) AS gap_s,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY abs(epoch_us(c.ts) - epoch_us(e.ts)) ASC,
      |        CASE WHEN c.ts <= e.ts THEN 0 ELSE 1 END ASC,
      |        CASE WHEN c.ts <= e.ts THEN -c.event_id
      |             ELSE c.event_id END ASC) AS rn
      |  FROM e JOIN c ON e.user_id = c.user_id
      |    AND abs(epoch_us(c.ts) - epoch_us(e.ts))
      |        <= ${AsofNearestTolSecs * 1000000L}
      |)
      |SELECT e.event_id, e.user_id, r.click_event_id, r.gap_s
      |FROM e LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
      |  ON e.event_id = r.event_id
      |ORDER BY e.event_id""".stripMargin

  /** Kaplan–Meier survival curve of time-to-first-purchase after
    * signup — right-censored at the corpus horizon (users who never
    * purchase are censored, NOT dropped: dropping them is the classic
    * conversion-analysis bias this estimator exists to avoid;
    * [[conversionHazard]] is the discrete per-day hazard view, this
    * is the cumulative product). Per event day: the risk set n, the
    * events d, the censored c, and S(t) = Π (1 − d/n).
    *
    * Exactness: the product is carried in LOG space under the
    * micro-nat discipline — each event day contributes
    * floor(10⁶·ln((n−d)/n)) once (one ln per row of the bounded
    * day table), the cumulative sum is exact integers, and the
    * display ppm is one exp per row at the end. A day that exhausts
    * the risk set (d = n) sends survival to exactly 0 from then on
    * (masked via a cumulative flag rather than ln(0)).
    *
    * Scale shape: two user-keyed aggregations (first signup, first
    * qualifying purchase) + one left join; everything after lives on
    * the observation-span-bounded day table (unpartitioned windows
    * over ≤ hundreds of rows, never the event stream).
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"))
      .join(su, Seq("user_id"))
      .filter(col("pts") >= col("signup_ts"))
      .groupBy(col("user_id")).agg(min(col("pts")).as("event_ts"))
    val hor = ev.agg(max(col("ts")).as("horizon"))
    val obs = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(hor))
      .select(col("user_id"),
        datediff(to_date(coalesce(col("event_ts"), col("horizon"))),
          to_date(col("signup_ts"))).cast("long").as("t"),
        col("event_ts").isNotNull.cast("long").as("is_event"))
    val byDay = obs.groupBy(col("t"))
      .agg(sum(col("is_event")).as("d"),
        sum(lit(1L) - col("is_event")).as("c"))
    val tot = obs.agg(count(lit(1)).as("n_users"))
    val before = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("d") + col("c")).over(before), lit(0L)))
      .withColumn("term", when(col("d") < col("n_risk"),
        floor(lit(1e6) * log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double"))).cast("long")))
      .withColumn("hit_zero",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(upto))
      .withColumn("log_surv_micro",
        when(col("hit_zero") === 1, lit(null).cast("long"))
          .otherwise(sum(coalesce(col("term"), lit(0L))).over(upto)))
      .withColumn("surv_ppm", when(col("hit_zero") === 1, lit(0L))
        .otherwise(floor(lit(1e6) *
          exp(col("log_surv_micro").cast("double") / lit(1e6))).cast("long")))
      .filter(col("d") > 0)
      .select(col("t").as("day"), col("n_risk"), col("d").as("d_events"),
        col("c").as("c_censored"), col("log_surv_micro"), col("surv_ppm"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: micros-truncated timestamps in every comparison
    * (events carry nanos there but micros here), identical floored
    * log terms, identical zero masking.
    */
  val kaplanMeierSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts
      |  FROM events
      |), su AS (
      |  SELECT user_id, min(ts) AS signup_ts FROM e
      |  WHERE event_type = 'signup' GROUP BY 1
      |), pu AS (
      |  SELECT e.user_id, min(e.ts) AS event_ts
      |  FROM e JOIN su ON e.user_id = su.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
      |  GROUP BY 1
      |), hor AS (
      |  SELECT max(ts) AS horizon FROM e
      |), obs AS (
      |  SELECT su.user_id,
      |    CAST(datediff('day', CAST(su.signup_ts AS DATE),
      |      CAST(coalesce(pu.event_ts, hor.horizon) AS DATE)) AS BIGINT) AS t,
      |    CASE WHEN pu.event_ts IS NOT NULL THEN 1 ELSE 0 END AS is_event
      |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN hor
      |), byday AS (
      |  SELECT t, CAST(sum(is_event) AS BIGINT) AS d,
      |    CAST(sum(1 - is_event) AS BIGINT) AS c
      |  FROM obs GROUP BY 1
      |), tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users FROM obs
      |), rk AS (
      |  SELECT *, n_users - coalesce(CAST(sum(d + c) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |    AS n_risk
      |  FROM byday CROSS JOIN tot
      |), tm AS (
      |  SELECT *,
      |    CASE WHEN d < n_risk THEN
      |      CAST(floor(1e6 * ln(CAST(n_risk - d AS DOUBLE)
      |                          / CAST(n_risk AS DOUBLE))) AS BIGINT)
      |    END AS term,
      |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
      |  FROM rk
      |), fin AS (
      |  SELECT *, CASE WHEN hit_zero = 1 THEN NULL
      |    ELSE CAST(sum(coalesce(term, 0)) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |  END AS log_surv_micro
      |  FROM tm
      |)
      |SELECT t AS day, n_risk, d AS d_events, c AS c_censored,
      |  log_surv_micro,
      |  CASE WHEN hit_zero = 1 THEN 0
      |    ELSE CAST(floor(1e6 * exp(CAST(log_surv_micro AS DOUBLE) / 1e6))
      |         AS BIGINT)
      |  END AS surv_ppm
      |FROM fin WHERE d > 0
      |ORDER BY day""".stripMargin

  /** Paths returned by [[topPaths]] and the n-gram length. */
  val PathTopK = 10
  val PathLen = 3

  /** Top event paths: the [[PathTopK]] most frequent length-
    * [[PathLen]] event-type sequences users actually walk — the
    * product-analytics "what do people do next" readout that funnels
    * (fixed steps) and transition matrices (one hop) both miss.
    * Each user's event stream is ordered by (ts, event_id) — the
    * repo's deterministic event order — and n-grams are generated
    * SCAN-SIDE from the per-user array (no self-joins); counting is
    * one path-vocabulary-sized aggregation.
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val seqs = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("evs"))
      .select(transform(col("evs"), e => e.getField("event_type")).as("ets"))
    seqs
      .filter(size(col("ets")) >= PathLen)
      .select(explode(transform(
        sequence(lit(1), size(col("ets")) - (PathLen - 1)),
        i => concat_ws(">", slice(col("ets"), i, lit(PathLen))))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(PathTopK)
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("n").desc, col("path").asc)))
      .select(col("rnk"), col("path"), col("n"))
      .orderBy(col("rnk"))
  }

  val topPathsSql: String =
    s"""WITH seqs AS (
      |  SELECT user_id,
      |    array_agg(event_type ORDER BY date_trunc('microseconds', ts),
      |              event_id) AS ets
      |  FROM events GROUP BY 1
      |), grams AS (
      |  SELECT array_to_string(list_slice(ets, i, i + ${PathLen - 1}), '>')
      |      AS path
      |  FROM seqs, unnest(range(1, len(ets) - ${PathLen - 2})) AS u(i)
      |  WHERE len(ets) >= $PathLen
      |)
      |SELECT row_number() OVER (ORDER BY count(*) DESC, path ASC) AS rnk,
      |  path, CAST(count(*) AS BIGINT) AS n
      |FROM grams
      |GROUP BY path
      |ORDER BY n DESC, path ASC
      |LIMIT $PathTopK""".stripMargin

  /** Pre/post boundary for [[diffInDiff]] — the experiment "launch"
    * instant, interpolated into both sides.
    */
  val DidBoundary = "2024-01-16"

  /** Difference-in-differences readout — the experiment-analysis
    * primitive: users split into treatment (odd user_id) and control
    * (even), the corpus into pre/post at [[DidBoundary]], per-cell
    * event-value means in exact micro-dollars, and the DiD estimate
    * (Δtreat − Δcontrol) that removes both the group baseline and the
    * secular time trend. On this synthetic corpus no treatment
    * exists, so the estimate doubles as an A/A test — the readout a
    * real pipeline runs FIRST to validate its assignment hashing and
    * metric plumbing.
    *
    * Exactness: cents are exact integers; each cell mean is one
    * positive-operand DIV into micro-dollars; the (possibly negative)
    * differences happen only AFTER the four floors, so both engines
    * subtract identical integers. Scale: one corpus pass → a 4-cell
    * aggregate; the group/period labels are scan-side expressions so
    * partial aggregation absorbs everything map-side.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .select(
        when(col("user_id") % 2 === 1, "treat").otherwise("control").as("grp"),
        when(col("ts") < lit(DidBoundary).cast("timestamp"), "pre")
          .otherwise("post").as("period"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("grp"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      // decimal carrier (round 11): s is a corpus-scale cents sum —
      // ×10⁴ overflowed i64 past ~9·10¹⁴ cents ($9T); the micro-mean
      // output stays a small exact BIGINT
      .withColumn("mean_micro",
        expr("(CAST(s AS DECIMAL(20,0)) * 10000L) DIV n"))
    val row = cells
      .select(concat_ws("_", col("grp"), col("period")).as("cell"),
        col("n"), col("mean_micro"))
      .groupBy()
      .pivot("cell", Seq("control_pre", "control_post",
        "treat_pre", "treat_post"))
      .agg(first(col("n")).as("n"), first(col("mean_micro")).as("mean_micro"))
    row.select(
      col("control_pre_n"), col("control_post_n"),
      col("treat_pre_n"), col("treat_post_n"),
      col("control_pre_mean_micro").as("control_pre_micro"),
      col("control_post_mean_micro").as("control_post_micro"),
      col("treat_pre_mean_micro").as("treat_pre_micro"),
      col("treat_post_mean_micro").as("treat_post_micro"),
      ((col("treat_post_mean_micro") - col("treat_pre_mean_micro")) -
        (col("control_post_mean_micro") - col("control_pre_mean_micro")))
        .as("did_micro"))
  }

  val diffInDiffSql: String =
    s"""WITH cells AS (
      |  SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END
      |      AS grp,
      |    CASE WHEN ts < TIMESTAMP '$DidBoundary' THEN 'pre' ELSE 'post' END
      |      AS period,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      |  FROM events
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT grp, period, n,
      |    CAST((CAST(s AS HUGEINT) * 10000) // n AS BIGINT) AS mean_micro
      |  FROM cells
      |)
      |SELECT
      |  max(CASE WHEN grp = 'control' AND period = 'pre' THEN n END)
      |    AS control_pre_n,
      |  max(CASE WHEN grp = 'control' AND period = 'post' THEN n END)
      |    AS control_post_n,
      |  max(CASE WHEN grp = 'treat' AND period = 'pre' THEN n END)
      |    AS treat_pre_n,
      |  max(CASE WHEN grp = 'treat' AND period = 'post' THEN n END)
      |    AS treat_post_n,
      |  max(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_micro END)
      |    AS control_pre_micro,
      |  max(CASE WHEN grp = 'control' AND period = 'post' THEN mean_micro END)
      |    AS control_post_micro,
      |  max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_micro END)
      |    AS treat_pre_micro,
      |  max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_micro END)
      |    AS treat_post_micro,
      |  (max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_micro END)
      |   - max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_micro END))
      |  - (max(CASE WHEN grp = 'control' AND period = 'post' THEN mean_micro END)
      |     - max(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_micro END))
      |    AS did_micro
      |FROM m""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_diff_in_diff" -> Query(diffInDiff, diffInDiffSql),
    "q_top_paths" -> Query(topPaths, topPathsSql),
    "q_kaplan_meier" -> Query(kaplanMeier, kaplanMeierSql),
    "q_asof_forward" -> Query(asofForward, asofForwardSql),
    "q_asof_nearest" -> Query(asofNearest, asofNearestSql),
    "q_conversion_hazard" -> Query(conversionHazard, conversionHazardSql),
    "q_follows_matrix" -> Query(followsMatrix, followsMatrixSql),
    "q_attribution" -> Query(attribution, attributionSql),
    "q_ordered_funnel" -> Query(orderedFunnel, orderedFunnelSql),
    "q_scd2_status" -> Query(scd2Status, scd2StatusSql),
    "q_scd2_lookup" -> Query(scd2Lookup, scd2LookupSql),
    "q_event_transitions" -> Query(eventTransitions, eventTransitionsSql),
    "q_markov_stationary" -> Query(markovStationary, markovStationarySql),
    "q_asof_custom" -> Query(asofSignupCustom, asofSignupSql),
    "q_asof_tolerance" -> Query(asofTolerance, asofToleranceSql),
    "q_cold_start" -> Query(coldStartCoverage, coldStartCoverageSql),
    "q_user_event_types" -> Query(userEventTypes, userEventTypesSql),
    "q_sessionize" -> Query(sessionize, sessionizeSql),
    "q_event_props" -> Query(eventProps, eventPropsSql),
    "q_event_funnel" -> Query(eventFunnel, eventFunnelSql),
    "q_asof_signup" -> Query(asofSignup, asofSignupSql)
  )
}
