package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources._
import graft.{Query, QueryModule}

/** Sensor-quality analytics (SURVEY.md §2.5 A1–A3, §2.7 X1, §2.2 F1)
  * — the reference's stated monitoring/anomaly/alerting goals
  * (reference: README.md:5-6) realized as declarative plans over the
  * harness `events` stream table (user_id ≈ sensor, value ≈ reading).
  *
  * Scale notes (100 TB): tumbling windows are plain hash aggregations
  * on a derived time key (partial+final, no windowing state); rolling
  * stats are bounded-frame window functions — one shuffle on the
  * sensor key, frame buffers hold ≤12 rows regardless of data size.
  * Timestamps are emitted as formatted strings so engine timestamp
  * precision (µs vs ns) can never leak into results.
  */
object Quality extends QueryModule {

  /** X1: Water-Quality-Index-style weighted composite of three sensor
    * sub-readings, each normalized to its healthy band. Pure Column
    * arithmetic — codegen-friendly, no UDF (reference intent:
    * README.md:5-6; sub-index weighting mirrors the WQI dataset lineage
    * of reference kafka/sort_the_source.py:6).
    */
  def wqi(ph: Column, doSat: Column, tds: Column): Column =
    round(wqiRaw(ph, doSat, tds), 4)

  /** Unrounded WQI — aggregate THIS and round only in the projection:
    * averaging pre-rounded 4-decimal values lands exactly on .xxxx5
    * rounding boundaries (e.g. the mean of two 4-decimal numbers),
    * where Spark (HALF_UP on shortest-decimal) and DuckDB (binary
    * double) round apart.
    */
  def wqiRaw(ph: Column, doSat: Column, tds: Column): Column = {
    // sub-index: 100 at band center, linear falloff to 0 at band edge
    def sub(c: Column, lo: Double, hi: Double): Column = {
      val center = lit((lo + hi) / 2)
      val halfWidth = lit((hi - lo) / 2)
      greatest(lit(0.0), lit(100.0) * (lit(1.0) - abs(c - center) / halfWidth))
    }
    sub(ph, 6.5, 8.5) * 0.4 + sub(doSat, 30, 120) * 0.35 +
      sub(tds, 50, 1500) * 0.25
  }

  /** A2: tumbling 1-hour window aggregation per event type — the batch
    * twin of the streaming windowed aggregation in
    * graft.streaming.Pipeline.
    */
  def sensorHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // value is 2-decimal data: aggregate EXACT integer cents and
        // round once in integer space — round(avg(double),4) lands on
        // .xxxx5 boundaries at sf>=0.1 where Spark (shortest-decimal
        // HALF_UP) and DuckDB (binary) disagree. cents*100/n is the
        // avg in 1e-4 units; round → integer; /10000.0 is exact.
        sum(round(col("value") * 100).cast("long")).as("cents"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"),
        round(stddev_samp(col("value")), 4).as("sd_value"))
      .select(col("hour_start"), col("event_type"), col("n"),
        (round(col("cents") * lit(100.0) / col("n")).cast("long") /
          lit(10000.0)).as("avg_value"),
        col("min_value"), col("max_value"), col("sd_value"))
      .orderBy(col("hour_start"), col("event_type"))

  val sensorHourlySql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  event_type, count(*) AS n,
      |  CAST(round(sum(CAST(round(value * 100) AS BIGINT)) * 100.0
      |             / count(*)) AS BIGINT) / 10000.0 AS avg_value,
      |  round(min(value), 2) AS min_value,
      |  round(max(value), 2) AS max_value,
      |  round(stddev_samp(value), 4) AS sd_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin

  /** A3: rolling z-score anomaly detection — each reading scored
    * against the trailing 12 readings of the same sensor (current row
    * excluded so the anomaly can't suppress itself). Only full frames
    * score, making the result deterministic at any parallelism.
    */
  def rollingZscore(spark: SparkSession, dir: String,
                    zThreshold: Double = 3.0): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-12, -1)
    events(spark, dir)
      .withColumn("mu", avg(col("value")).over(frame))
      .withColumn("sd", stddev_samp(col("value")).over(frame))
      .withColumn("n_frame", count(col("value")).over(frame))
      .filter(col("n_frame") === 12 && col("sd") > 0)
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > zThreshold)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"), round(col("z"), 4).as("zscore"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val rollingZscoreSql: String =
    """SELECT user_id, event_id, round(value, 2) AS value, round(z, 4) AS zscore
      |FROM (
      |  SELECT user_id, event_id, value,
      |    (value - mu) / sd AS z
      |  FROM (
      |    SELECT user_id, event_id, value,
      |      avg(value) OVER w AS mu,
      |      stddev_samp(value) OVER w AS sd,
      |      count(value) OVER w AS n_frame
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id
      |                 ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC
      |                 ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
      |  )
      |  WHERE n_frame = 12 AND sd > 0
      |)
      |WHERE abs(z) > 3.0
      |ORDER BY user_id, event_id""".stripMargin

  /** F1: threshold alerting — out-of-band readings rolled up per type
    * and day (the alert feed a dashboard would consume).
    */
  def valueAlerts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("value") < 2.0 || col("value") > 98.0)
      .groupBy(
        col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_alerts"),
        // exact-cents average (see sensorHourly): cents/n is the avg
        // in 1e-2 units; round once as an integer, then exact /100.0
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("event_type"), col("day"), col("n_alerts"),
        (round(col("cents").cast("double") / col("n_alerts")).cast("long") /
          lit(100.0)).as("avg_value"))
      .orderBy(col("event_type"), col("day"))

  val valueAlertsSql: String =
    """SELECT event_type,
      |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  count(*) AS n_alerts,
      |  CAST(round(sum(CAST(round(value * 100) AS BIGINT)) * 1.0
      |             / count(*)) AS BIGINT) / 100.0 AS avg_value
      |FROM events
      |WHERE value < 2.0 OR value > 98.0
      |GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  /** A3 (range frame): per-sensor trailing-1-hour rolling sum over the
    * TIME RANGE, not a row count — the frame width adapts to event
    * density, which is the correct semantics for rate-style metrics.
    * Frame bounds are on floor-second epochs so both engines agree.
    */
  def rollingHourSum(spark: SparkSession, dir: String): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-3600L, 0L)
    events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("hour_sum", round(sum(col("value")).over(frame), 2))
      .withColumn("hour_n", count(col("value")).over(frame))
      // same-second events share a frame value; aggregate to the
      // (user, second) grain so output is deterministic
      .groupBy(col("user_id"), col("epoch_s"))
      .agg(max(col("hour_sum")).as("hour_sum"), max(col("hour_n")).as("hour_n"))
      .orderBy(col("user_id"), col("epoch_s"))
  }

  val rollingHourSumSql: String =
    """SELECT user_id, epoch_s,
      |  max(hour_sum) AS hour_sum, max(hour_n) AS hour_n
      |FROM (
      |  SELECT user_id, epoch_s,
      |    round(sum(value) OVER w, 2) AS hour_sum,
      |    count(value) OVER w AS hour_n
      |  FROM (SELECT user_id, value,
      |          CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
      |               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |)
      |GROUP BY user_id, epoch_s
      |ORDER BY user_id, epoch_s""".stripMargin

  /** Data-quality profile of the orders table — the one-pass
    * null/distinct/range audit a pipeline runs before trusting an
    * input (motivated by the reference's own wire/schema mismatch,
    * SURVEY.md §1.3). One scan, one aggregate, no per-column jobs.
    */
  def profileOrders(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("null_custkey"),
        countDistinct(col("o_custkey")).as("distinct_custkey"),
        countDistinct(col("o_orderpriority")).as("distinct_priority"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))

  val profileOrdersSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
      |  count(DISTINCT o_custkey) AS distinct_custkey,
      |  count(DISTINCT o_orderpriority) AS distinct_priority,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price,
      |  strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
      |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
      |FROM orders""".stripMargin

  /** Robust anomaly detection via median absolute deviation: per
    * event type, the median value, the MAD, and how many readings sit
    * beyond the classic 3σ-equivalent fence (3 · 1.4826 · MAD — the
    * consistency constant scales MAD to σ under normality). Mean/σ
    * fences move with the outliers they hunt; median/MAD don't, which
    * is why sensor-quality pipelines fence on MAD.
    *
    * Three passes over the same event_type partitioning (median →
    * deviations → fence count), each re-join a 5-row broadcast —
    * at 100 TB the data shuffles once per pass and the per-group
    * scalars ride the broadcast, never a wide join. Spark
    * `percentile` and DuckDB `quantile_cont` share the interpolation
    * rule, so medians compare exactly.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val fences = dev.groupBy(col("event_type"))
      .agg(min(col("med")).as("med"),
        percentile(col("adev"), lit(0.5)).as("mad"),
        count(lit(1)).as("n"))
    dev.join(broadcast(fences.select(col("event_type"),
        col("mad"), col("n"))), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(min(col("n")).as("n"),
        round(min(col("med")), 4).as("med_value"),
        round(min(col("mad")), 4).as("mad"),
        sum(when(col("adev") > expr("3 * 1.4826 * mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_rate", round(col("n_outliers") / col("n"), 6))
      .orderBy(col("event_type"))
  }

  val madOutliersSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type
      |), dev AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      |  FROM events e JOIN med m USING (event_type)
      |), fences AS (
      |  SELECT event_type, min(med) AS med,
      |    quantile_cont(adev, 0.5) AS mad, count(*) AS n
      |  FROM dev GROUP BY event_type
      |)
      |SELECT d.event_type, f.n AS n,
      |  round(f.med, 4) AS med_value,
      |  round(f.mad, 4) AS mad,
      |  CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * f.mad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * f.mad
      |                      THEN 1 ELSE 0 END) AS BIGINT) / f.n, 6)
      |    AS outlier_rate
      |FROM dev d JOIN fences f USING (event_type)
      |GROUP BY d.event_type, f.n, f.med, f.mad
      |ORDER BY d.event_type""".stripMargin

  /** Winsorization fences as integer percents (clip at p05/p95). */
  val WinsorLoPct = 5L
  val WinsorHiPct = 95L

  /** Winsorization per event type — the CORRECTIVE action after
    * [[madOutliers]] flags a tail: clip readings to the [p05, p95]
    * band and report the before/after means with exact clip counts.
    * Quantiles are DISCRETE (the value at rank ⌈p·n⌉ under the total
    * order (cents, event_id)) computed in integer arithmetic —
    * ⌈p·n⌉ = (p·n + 99) div 100 — so both engines pick the identical
    * element; interpolated quantiles would hang the hash gate on a
    * float midpoint. Means divide exact integer cent sums by exact
    * counts.
    *
    * Scale shape (round 10): the per-type rank previously rode
    * `Window.partitionBy(event_type)` over the RAW event rows —
    * parallelism |event types| (5), each task sorting corpus/5: the
    * q_price_deciles single-task ceiling divided by a small constant.
    * Rank and group size now come from
    * [[graft.operators.Scale.distributedGroupedRowNumber]] (per-group
    * 2-phase sharded rank, all 32 shards busy per type); the two
    * fence rows per group filter out of that same frame and broadcast
    * back — no second scan, no per-row join against anything wider
    * than #groups rows, and the window-form oracle is unchanged as
    * the bit-identity gate.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.Scale.distributedGroupedRowNumber(
      events(spark, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
      col("event_type"), col("cents"), col("event_id"), "rnk",
      totalOut = Some("n"))
    val fences = ranked
      .filter(col("rnk") === expr(s"(n * $WinsorLoPct + 99) DIV 100") ||
        col("rnk") === expr(s"(n * $WinsorHiPct + 99) DIV 100"))
      .groupBy(col("event_type"))
      // a tiny group can make both fence ranks coincide — min/max of
      // the (≤2) fence rows are then the same element on both engines
      .agg(min(col("cents")).as("p05_cents"), max(col("cents")).as("p95_cents"))
    ranked.join(broadcast(fences), Seq("event_type"))
      .withColumn("clipped",
        greatest(least(col("cents"), col("p95_cents")), col("p05_cents")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("p05_cents")).as("p05_cents"),
        min(col("p95_cents")).as("p95_cents"),
        sum(when(col("cents") < col("p05_cents"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("cents") > col("p95_cents"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        round(sum(col("cents")) / (count(lit(1)) * lit(100.0)), 4)
          .as("mean_raw"),
        round(sum(col("clipped")) / (count(lit(1)) * lit(100.0)), 4)
          .as("mean_winsor"))
      .orderBy(col("event_type"))
  }

  val winsorizeSql: String = {
    def ceilRank(pct: Long) = s"(n * $pct + 99) // 100"
    s"""WITH ranked AS (
      |  SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY CAST(round(value * 100) AS BIGINT) ASC,
      |                                event_id ASC) AS rnk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |), fences AS (
      |  SELECT event_type,
      |    min(cents) AS p05_cents, max(cents) AS p95_cents
      |  FROM ranked
      |  WHERE rnk = ${ceilRank(WinsorLoPct)} OR rnk = ${ceilRank(WinsorHiPct)}
      |  GROUP BY event_type
      |)
      |SELECT r.event_type, count(*) AS n,
      |  CAST(min(f.p05_cents) AS BIGINT) AS p05_cents,
      |  CAST(min(f.p95_cents) AS BIGINT) AS p95_cents,
      |  CAST(sum(CASE WHEN r.cents < f.p05_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_lo,
      |  CAST(sum(CASE WHEN r.cents > f.p95_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_hi,
      |  round(sum(r.cents) / (count(*) * 100.0), 4) AS mean_raw,
      |  round(sum(greatest(least(r.cents, f.p95_cents), f.p05_cents))
      |        / (count(*) * 100.0), 4) AS mean_winsor
      |FROM ranked r JOIN fences f USING (event_type)
      |GROUP BY r.event_type
      |ORDER BY r.event_type""".stripMargin
  }

  /** A2 (hopping variant): sliding 1-hour windows every 15 minutes
    * via Spark's native `window()` generator — each event lands in 4
    * overlapping windows scan-side (a generator, no self-join), then
    * one aggregation keyed on the window start. The oracle rebuilds
    * the same assignment arithmetically (window starts are the 900 s
    * ticks in (t−3600, t]), proving the generator's alignment.
    * Exact-cents sums and the integer-space avg follow
    * [[sensorHourly]].
    */
  def hoppingStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(
        col("window.start").cast("long").as("win_start_s"),
        col("n"),
        col("cents"),
        (round(col("cents") * lit(100.0) / col("n")).cast("long") /
          lit(10000.0)).as("avg_value"))
      .orderBy(col("win_start_s"))

  val hoppingStatsSql: String =
    """WITH ticks AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), ex AS (
      |  -- a 3600 s window hopping every 900 s covers each tick exactly
      |  -- 4 times: starts (t//900 - o)*900 for o in 0..3 (constant
      |  -- series; DuckDB can't lateral-join generate_series on t)
      |  SELECT (t // 900 - g.o) * 900 AS win_start_s, cents
      |  FROM ticks CROSS JOIN generate_series(0, 3) AS g(o)
      |)
      |SELECT win_start_s, count(*) AS n,
      |  CAST(sum(cents) AS BIGINT) AS cents,
      |  CAST(round(sum(cents) * 100.0 / count(*)) AS BIGINT) / 10000.0
      |    AS avg_value
      |FROM ex
      |GROUP BY win_start_s
      |ORDER BY win_start_s""".stripMargin



  /** The generic one-pass row-rule evaluator behind
    * [[orderExpectations]] (and directly spec-testable on crafted
    * dirty data): each rule becomes a conditional sum in ONE
    * aggregation, unpivoted to (rule, n_rows, n_violations).
    *
    * A NULL predicate is a VIOLATION, not a pass: `when(!pred)` alone
    * would send NULL to otherwise(0) while a SQL CASE counts it —
    * coalesce pins every engine to the same dirty-input policy.
    */
  def rowExpectations(df: DataFrame,
                      rules: Seq[(String, Column)]): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      rules.map { case (name, pred) =>
        sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)).as(name)
      }: _*)
      .unpivot(
        Array(col("n_rows")),
        rules.map { case (n, _) => col(n) }.toArray,
        "rule", "n_violations")

  /** Declarative data-quality expectations: a rule set evaluated in
    * ONE conditional-aggregation pass over the fact (plus one anti-join
    * for the referential rule — the only expectation that needs a
    * second table), emitted as (rule, n_rows, n_violations, rate).
    * The "expectations suite" every ingestion pipeline gates on; at
    * 100 TB the row rules cost a single scan regardless of rule count,
    * because each rule is a codegen'd CASE inside the same aggregate.
    */
  def orderExpectations(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val rowRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "price_positive" -> (col("o_totalprice") > 0),
      "date_in_range" -> (col("o_orderdate").isNotNull &&
        col("o_orderdate") >= lit("1990-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("2005-01-01").cast("timestamp")),
      "priority_in_domain" -> col("o_orderpriority").isin(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      "status_not_null" -> col("o_orderstatus").isNotNull)
    val rowResults = rowExpectations(o, rowRules)
    // n_rows rides a lazy 1-row broadcast (corpus-size scalar pattern)
    // — an eager o.count() here would block at plan-construction time
    // and bill an extra synchronous scan
    val orphans = o.join(customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n_rows"))))
      .select(col("n_rows"), lit("custkey_referential").as("rule"),
        col("n_violations"))
    rowResults.unionByName(orphans)
      .select(col("rule"), col("n_rows"),
        col("n_violations"),
        round(col("n_violations") / col("n_rows"), 6).as("violation_rate"))
      .orderBy(col("rule"))
  }

  val orderExpectationsSql: String =
    """WITH agg AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE)
      |        THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
      |    CAST(sum(CASE WHEN NOT coalesce(o_orderdate IS NOT NULL
      |        AND o_orderdate >= TIMESTAMP '1990-01-01'
      |        AND o_orderdate < TIMESTAMP '2005-01-01', FALSE)
      |        THEN 1 ELSE 0 END) AS BIGINT) AS date_in_range,
      |    CAST(sum(CASE WHEN NOT coalesce(o_orderpriority IN
      |        ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'),
      |        FALSE)
      |        THEN 1 ELSE 0 END) AS BIGINT) AS priority_in_domain,
      |    CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IS NOT NULL, FALSE)
      |        THEN 1 ELSE 0 END) AS BIGINT) AS status_not_null
      |  FROM orders
      |), rows_u AS (
      |  SELECT rule, n_rows, n_violations FROM (
      |    UNPIVOT agg ON price_positive, date_in_range,
      |      priority_in_domain, status_not_null
      |    INTO NAME rule VALUE n_violations
      |  )
      |), ref AS (
      |  SELECT 'custkey_referential' AS rule,
      |    (SELECT count(*) FROM orders) AS n_rows,
      |    (SELECT count(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                       WHERE c.c_custkey = o.o_custkey)) AS n_violations
      |)
      |SELECT rule, n_rows, n_violations,
      |  round(n_violations / n_rows, 6) AS violation_rate
      |FROM (SELECT * FROM rows_u UNION ALL SELECT rule, n_rows, n_violations FROM ref)
      |ORDER BY rule""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_hopping_stats" -> Query(hoppingStats, hoppingStatsSql),
    "q_order_expectations" -> Query(orderExpectations, orderExpectationsSql),
    "q_mad_outliers" -> Query(madOutliers, madOutliersSql),
    "q_winsorize" -> Query(winsorize, winsorizeSql),
    "q_sensor_hourly" -> Query(sensorHourly, sensorHourlySql),
    "q_rolling_zscore" -> Query(rollingZscore(_, _), rollingZscoreSql),
    "q_value_alerts" -> Query(valueAlerts, valueAlertsSql),
    "q_rolling_hour_sum" -> Query(rollingHourSum, rollingHourSumSql),
    "q_profile_orders" -> Query(profileOrders, profileOrdersSql)
  )
}
