package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources._
import graft.{Query, QueryModule}

/** Statistical / reshaping operators (SURVEY.md §2.5 extensions):
  * fixed-width histograms, bivariate statistics (corr / covariance /
  * regression slope), wide→long unpivot, and a blocked fuzzy
  * (edit-distance) self-join.
  *
  * Scale notes (100 TB): the histogram and corr queries are single
  * hash aggregations on low-cardinality keys — partial aggregation
  * collapses each executor's input to a handful of rows before the
  * shuffle, so data volume is irrelevant. The fuzzy join blocks on
  * p_brand; at cluster scale the block key keeps the pair explosion
  * per-partition (same shape as the LSH band-bucket joins), and
  * levenshtein runs codegen'd inside the join condition.
  */
object Stats extends QueryModule {

  /** Fixed-width histogram of order totals: 20 bins of 30k over
    * [0, 600k), top bin clamped. floor(x / width) on the same double
    * gives identical bins in any engine — no width_bucket dependency.
    */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .select(
        least(floor(col("o_totalprice") / 30000.0), lit(19.0))
          .cast("int").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("bin_lo", (col("bin") * 30000).cast("double"))
      .select(col("bin"), col("bin_lo"), col("n_orders"))
      .orderBy(col("bin"))

  val priceHistogramSql: String =
    """SELECT bin, CAST(bin * 30000 AS DOUBLE) AS bin_lo, count(*) AS n_orders
      |FROM (SELECT CAST(least(floor(o_totalprice / 30000.0), 19.0) AS INT) AS bin
      |      FROM orders)
      |GROUP BY bin
      |ORDER BY bin""".stripMargin

  /** Benford first-significant-digit audit of order totals — the
    * classic forensic screen for fabricated or truncated numeric
    * columns: observed share of each leading digit 1–9 against the
    * Benford expectation log10(1 + 1/d), with the absolute deviation
    * per digit. (TPC-H totals are synthetic and WILL deviate — the
    * operator is the audit mechanics, and the deviation column is
    * exactly what it should flag on such data.)
    *
    * Digit extraction stays exact: cents = round(100·x) is an exact
    * integer on both engines, and the leading digit comes from the
    * integer's decimal string — no log10 of the VALUE is ever taken
    * (a float log at a power-of-ten boundary could misclassify).
    * One scan, 9-row output; shares are single divisions of exact
    * counts.
    */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val tot = Window.partitionBy()
    orders(spark, dir)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      // Benford's law is defined on leading digits 1..9 only: a value
      // whose cents round to 0 yields digit 0 (log10(1 + 1/0) = +Inf),
      // and a negative value's '-' casts to a NULL digit — both must
      // be excluded from the screen, not poison it (vacuous on orders,
      // load-bearing for the generic forensic use the op documents)
      .filter(col("digit").between(1, 9))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
      .withColumn("n", sum(col("n_orders")).over(tot))
      .select(col("digit"), col("n_orders"),
        round(col("n_orders").cast("double") / col("n"), 6).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_share"))
      .withColumn("abs_dev",
        round(abs(col("obs_share") - col("benford_share")), 6))
      .orderBy(col("digit"))
  }

  val benfordDigitsSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
      |                          AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders
      |), dd AS (
      |  SELECT digit FROM d WHERE digit BETWEEN 1 AND 9
      |), c AS (
      |  SELECT digit, count(*) AS n_orders FROM dd GROUP BY 1
      |), t AS (
      |  SELECT *, CAST(sum(n_orders) OVER () AS BIGINT) AS n FROM c
      |)
      |SELECT digit, n_orders,
      |  round(CAST(n_orders AS DOUBLE) / n, 6) AS obs_share,
      |  round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
      |  round(abs(round(CAST(n_orders AS DOUBLE) / n, 6) -
      |            round(log10(1.0 + 1.0 / digit), 6)), 6) AS abs_dev
      |FROM t
      |ORDER BY digit""".stripMargin

  /** Bin width of the [[sketchQuantiles]] histogram sketch. */
  val SkqWidth = 1000L

  /** Histogram-sketch quantiles with an exact-error audit: estimate
    * p50/p90/p99 of line extended price from a fixed-width bin
    * histogram (nearest-rank bin + linear interpolation inside it)
    * and report each estimate next to the exact interpolated
    * percentile and the absolute error.
    *
    * This is the mergeable-quantile path for 100 TB: the sketch state
    * is (bin → count) — bounded by the value domain over [[SkqWidth]],
    * corpus-size-independent, elementwise-addable across partitions,
    * days, or snapshots — where the exact percentile needs a global
    * sort (or full-value `percentile` state) every time. The estimate
    * sits inside the bin holding the nearest-rank value, so its error
    * vs that value is under one bin width (the interpolated exact
    * percentile can add at most the local gap between adjacent order
    * statistics); the audit column MEASURES the error on this corpus
    * instead of asserting it. Everything up to the final
    * interpolation is exact integer arithmetic (rank = ceil(q·N) as
    * integer div, cumulative counts over ~100 bins), so the output is
    * engine-portable; the bin walk's unpartitioned window runs on the
    * bounded bin table, never the data.
    */
  def sketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = lineitem(spark, dir).select(col("l_extendedprice").as("x"))
    val bins = x.select(floor(col("x") / SkqWidth).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_cum", col("cum") - col("cnt"))
    val tot = x.agg(count(lit(1)).as("n"),
      round(percentile(col("x"), lit(0.5)), 4).as("e50"),
      round(percentile(col("x"), lit(0.9)), 4).as("e90"),
      round(percentile(col("x"), lit(0.99)), 4).as("e99"))
    val qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
      .toDF("q_label", "qnum", "qden")
    cum.crossJoin(broadcast(qs)).crossJoin(broadcast(tot))
      .withColumn("r", expr("(n * qnum + qden - 1) div qden"))
      // prev_cum < r ≤ cum picks exactly the bin holding the rank
      .filter(col("prev_cum") < col("r") && col("r") <= col("cum"))
      .withColumn("sketch_est", round(col("bin") * SkqWidth +
        lit(SkqWidth) * (col("r") - col("prev_cum")).cast("double") /
          col("cnt"), 4))
      .withColumn("exact_val",
        when(col("q_label") === "p50", col("e50"))
          .when(col("q_label") === "p90", col("e90"))
          .otherwise(col("e99")))
      .select(col("q_label"), col("r").as("at_rank"),
        col("sketch_est"), col("exact_val"),
        round(abs(col("sketch_est") - col("exact_val")), 4).as("abs_err"))
      .orderBy(col("q_label"))
  }

  val sketchQuantilesSql: String =
    s"""WITH x AS (
      |  SELECT l_extendedprice AS x FROM lineitem
      |), bins AS (
      |  SELECT CAST(floor(x / $SkqWidth) AS BIGINT) AS bin, count(*) AS cnt
      |  FROM x GROUP BY 1
      |), cum AS (
      |  SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum
      |  FROM bins
      |), tot AS (
      |  SELECT count(*) AS n,
      |    round(quantile_cont(x, 0.5), 4) AS e50,
      |    round(quantile_cont(x, 0.9), 4) AS e90,
      |    round(quantile_cont(x, 0.99), 4) AS e99
      |  FROM x
      |), qs AS (
      |  SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
      |                        ('p99', 99, 100)) AS t(q_label, qnum, qden)
      |), picked AS (
      |  SELECT q_label, (n * qnum + qden - 1) // qden AS r,
      |    bin, cnt, cum, cum - cnt AS prev_cum, e50, e90, e99
      |  FROM cum CROSS JOIN qs CROSS JOIN tot
      |)
      |SELECT q_label, CAST(r AS BIGINT) AS at_rank,
      |  round(bin * $SkqWidth +
      |    $SkqWidth * CAST(r - prev_cum AS DOUBLE) / cnt, 4) AS sketch_est,
      |  CASE q_label WHEN 'p50' THEN e50 WHEN 'p90' THEN e90
      |       ELSE e99 END AS exact_val,
      |  round(abs(round(bin * $SkqWidth +
      |    $SkqWidth * CAST(r - prev_cum AS DOUBLE) / cnt, 4) -
      |    CASE q_label WHEN 'p50' THEN e50 WHEN 'p90' THEN e90
      |         ELSE e99 END), 4) AS abs_err
      |FROM picked
      |WHERE prev_cum < r AND r <= cum
      |ORDER BY q_label""".stripMargin

  /** Bivariate statistics per group: Pearson correlation, sample
    * covariance and OLS slope of extendedprice on quantity. All three
    * are one-pass partial-aggregatable moments — a single shuffle of
    * 3 rows per group regardless of input size.
    */
  def orderCorrStats(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope_price_per_qty"))
      .orderBy(col("l_returnflag"))

  val orderCorrStatsSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
      |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope_price_per_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** TWO-feature ordinary least squares via the normal equations —
    * the multiple-regression operator Spark has no built-in for
    * (regr_slope is single-feature): price ~ quantity + discount per
    * return flag, fit exactly the way a 100 TB job must: ONE
    * distributed aggregation computes the ten sufficient statistics
    * (the X'X / X'y moments — exact integers on DECIMAL(38,0)
    * carriers since round 11: Σy² leaves i64 around 10⁹ rows at
    * these value scales, and DuckDB's sum(BIGINT) is HUGEINT
    * natively, so both engines hold the identical exact integers at
    * any corpus size), then the 3×3 solve is
    * Cramer's rule as ONE fixed-arity double expression per
    * coefficient — no iteration, no driver data path, no
    * order-dependent float accumulation anywhere (the only doubles
    * are products of exact longs, so the oracle's identical
    * expression tree is bit-identical). R² comes from the same
    * moments. Degenerate design (det = 0) degrades to NULL
    * coefficients rather than a throw.
    */
  def olsNormalEq(spark: SparkSession, dir: String): DataFrame = {
    val m = lineitem(spark, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_extendedprice")).cast("long").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        // decimal product moments (round 11): Σy² leaves i64 around
        // 10⁹ rows at these value scales; every consumer below casts
        // to double for the determinant, so only the carrier widens
        sum(col("x1").cast("decimal(20,0)") * col("x1")).as("s11"),
        sum(col("x2").cast("decimal(20,0)") * col("x2")).as("s22"),
        sum(col("x1").cast("decimal(20,0)") * col("x2")).as("s12"),
        sum(col("y")).as("sy"),
        sum(col("x1").cast("decimal(20,0)") * col("y")).as("s1y"),
        sum(col("x2").cast("decimal(20,0)") * col("y")).as("s2y"),
        sum(col("y").cast("decimal(20,0)") * col("y")).as("syy"))
    val nd = col("n").cast("double")
    val s1d = col("s1").cast("double"); val s2d = col("s2").cast("double")
    val s11d = col("s11").cast("double"); val s22d = col("s22").cast("double")
    val s12d = col("s12").cast("double")
    val syd = col("sy").cast("double")
    val s1yd = col("s1y").cast("double"); val s2yd = col("s2y").cast("double")
    val syyd = col("syy").cast("double")
    val mA = s11d * s22d - s12d * s12d
    val mB = s1d * s22d - s12d * s2d
    val mC = s1d * s12d - s11d * s2d
    val det = nd * mA - s1d * mB + s2d * mC
    val det0 = syd * mA - s1d * (s1yd * s22d - s12d * s2yd) +
      s2d * (s1yd * s12d - s11d * s2yd)
    val det1 = nd * (s1yd * s22d - s12d * s2yd) - syd * mB +
      s2d * (s1d * s2yd - s1yd * s2d)
    val det2 = nd * (s11d * s2yd - s1yd * s12d) -
      s1d * (s1d * s2yd - s1yd * s2d) + syd * mC
    val b0 = det0 / det; val b1 = det1 / det; val b2 = det2 / det
    val sse = syyd - b0 * syd - b1 * s1yd - b2 * s2yd
    val sst = syyd - syd * syd / nd
    m.select(col("l_returnflag"), col("n"),
      when(det === 0.0, lit(null).cast("double"))
        .otherwise(round(b0, 4)).as("intercept_usd"),
      when(det === 0.0, lit(null).cast("double"))
        .otherwise(round(b1, 6)).as("usd_per_qty"),
      when(det === 0.0, lit(null).cast("double"))
        .otherwise(round(b2, 6)).as("usd_per_disc_pct"),
      when(det === 0.0 || sst === 0.0, lit(null).cast("double"))
        .otherwise(round(lit(1.0) - sse / sst, 6)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val olsNormalEqSql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
      |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
      |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
      |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
      |    CAST(sum(x2 * y) AS BIGINT) AS s2y,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM (
      |    SELECT l_returnflag,
      |      CAST(l_quantity AS BIGINT) AS x1,
      |      CAST(round(l_discount * 100) AS BIGINT) AS x2,
      |      CAST(round(l_extendedprice) AS BIGINT) AS y
      |    FROM lineitem)
      |  GROUP BY l_returnflag
      |), d AS (
      |  SELECT l_returnflag, n,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
      |    CAST(s11 AS DOUBLE) AS s11d, CAST(s22 AS DOUBLE) AS s22d,
      |    CAST(s12 AS DOUBLE) AS s12d,
      |    CAST(sy AS DOUBLE) AS syd,
      |    CAST(s1y AS DOUBLE) AS s1yd, CAST(s2y AS DOUBLE) AS s2yd,
      |    CAST(syy AS DOUBLE) AS syyd
      |  FROM m
      |), k AS (
      |  SELECT *,
      |    s11d * s22d - s12d * s12d AS mA,
      |    s1d * s22d - s12d * s2d AS mB,
      |    s1d * s12d - s11d * s2d AS mC
      |  FROM d
      |), dets AS (
      |  SELECT *,
      |    nd * mA - s1d * mB + s2d * mC AS det,
      |    syd * mA - s1d * (s1yd * s22d - s12d * s2yd)
      |      + s2d * (s1yd * s12d - s11d * s2yd) AS det0,
      |    nd * (s1yd * s22d - s12d * s2yd) - syd * mB
      |      + s2d * (s1d * s2yd - s1yd * s2d) AS det1,
      |    nd * (s11d * s2yd - s1yd * s12d)
      |      - s1d * (s1d * s2yd - s1yd * s2d) + syd * mC AS det2
      |  FROM k
      |)
      |SELECT l_returnflag, n,
      |  CASE WHEN det = 0 THEN NULL
      |       ELSE round(det0 / det, 4) END AS intercept_usd,
      |  CASE WHEN det = 0 THEN NULL
      |       ELSE round(det1 / det, 6) END AS usd_per_qty,
      |  CASE WHEN det = 0 THEN NULL
      |       ELSE round(det2 / det, 6) END AS usd_per_disc_pct,
      |  CASE WHEN det = 0 OR syyd - syd * syd / nd = 0 THEN NULL
      |       ELSE round(1.0 - (syyd - (det0 / det) * syd
      |                         - (det1 / det) * s1yd
      |                         - (det2 / det) * s2yd)
      |                  / (syyd - syd * syd / nd), 6)
      |  END AS r2
      |FROM dets
      |ORDER BY l_returnflag""".stripMargin

  /** One-way ANOVA across order priorities — does mean order value
    * differ between priority classes more than within-class noise
    * explains? F = (SSB/(k−1)) / (SSW/(n−k)) with the sums of squares
    * derived from per-group exact moments (n_g, Σy, Σy² in integer
    * dollars — cents would push Σy² past i64 at sf0.1).
    *
    * The one cross-group float hazard — Σ_g S_g²/n_g is a sum of k
    * DOUBLES, whose accumulation order differs between engines — is
    * removed the same way the micro-nat family handles ln: each
    * group's S_g²/n_g is floored to an integer ONCE (a deterministic
    * fixed-arity double op on exact longs), and only exact integers
    * are summed after that. The floor redefines each term by < 1
    * dollar² against SS values in the 10¹³ range — a documented
    * contract choice, not an approximation hazard (and the oracle
    * applies the identical floor).
    */
  def anovaPriority(spark: SparkSession, dir: String): DataFrame = {
    val g = orders(spark, dir)
      .select(col("o_orderpriority"),
        round(col("o_totalprice")).cast("long").as("y"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_g"), sum(col("y")).as("s_g"),
        // decimal carrier: Σy² over a corpus-scale group leaves i64
        // around 10⁹ rows at order-total value scales
        sum(col("y").cast("decimal(20,0)") * col("y")).as("q_g"))
      .withColumn("term_g",
        floor(col("s_g").cast("double") * col("s_g").cast("double") /
          col("n_g").cast("double")).cast("long"))
    val nd = col("n").cast("double"); val kd = col("k").cast("double")
    val ssb = (col("terms") - expr("CAST(floor(CAST(s AS DOUBLE) " +
      "* CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
      .cast("double")
    val ssw = (col("q") - col("terms")).cast("double")
    g.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
      sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
      sum(col("term_g")).as("terms"))
      .select(col("n"), col("k"),
        round(ssb / (kd - 1), 2).as("msb_usd2"),
        round(ssw / (nd - kd), 2).as("msw_usd2"),
        when(ssw === 0.0, lit(null).cast("double"))
          .otherwise(round((ssb / (kd - 1)) / (ssw / (nd - kd)), 4))
          .as("f_stat"))
  }

  val anovaPrioritySql: String =
    """WITH g AS (
      |  SELECT o_orderpriority,
      |    CAST(count(*) AS BIGINT) AS n_g,
      |    CAST(sum(y) AS BIGINT) AS s_g,
      |    CAST(sum(y * y) AS BIGINT) AS q_g
      |  FROM (SELECT o_orderpriority,
      |          CAST(round(o_totalprice) AS BIGINT) AS y FROM orders)
      |  GROUP BY o_orderpriority
      |), t AS (
      |  SELECT *, CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |                       / CAST(n_g AS DOUBLE)) AS BIGINT) AS term_g
      |  FROM g
      |), a AS (
      |  SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k,
      |    CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(q_g) AS BIGINT) AS q,
      |    CAST(sum(term_g) AS BIGINT) AS terms
      |  FROM t
      |)
      |SELECT n, k,
      |  round(CAST(terms - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |                                / CAST(n AS DOUBLE)) AS BIGINT)
      |             AS DOUBLE) / (CAST(k AS DOUBLE) - 1), 2) AS msb_usd2,
      |  round(CAST(q - terms AS DOUBLE)
      |        / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 2) AS msw_usd2,
      |  CASE WHEN CAST(q - terms AS DOUBLE) = 0 THEN NULL
      |    ELSE round((CAST(terms - CAST(floor(CAST(s AS DOUBLE)
      |                      * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |                      AS BIGINT) AS DOUBLE)
      |                / (CAST(k AS DOUBLE) - 1))
      |               / (CAST(q - terms AS DOUBLE)
      |                  / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 4)
      |  END AS f_stat
      |FROM a""".stripMargin

  /** Exact WEIGHTED median per group — quantity-weighted median line
    * price per return flag: the robust "typical transacted price"
    * where the unweighted median over-counts small lots. Definition
    * (lower weighted median): the smallest value v with
    * cumWeight(≤ v) ≥ W/2, tested as 2·cum ≥ W in exact integers so
    * no half ever materializes. Neither engine has a weighted median
    * built-in, so BOTH run the same formulation: collapse to
    * (group, value) weight sums (one shuffle — the value domain is
    * price-grid bounded), cumulate along the value order, keep the
    * first qualifying value. No sketch, no floats.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val byVal = lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("w"))
      .groupBy(col("l_returnflag"), col("cents"))
      .agg(sum(col("w")).as("w"))
    val cum = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("l_returnflag"))
    byVal
      .withColumn("cw", sum(col("w")).over(cum))
      .withColumn("tw", sum(col("w")).over(tot))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("cents")).as("wmedian_cents"),
        max(col("tw")).as("total_qty"))
      .orderBy(col("l_returnflag"))
  }

  val weightedMedianSql: String =
    """WITH bv AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2
      |), c AS (
      |  SELECT *, CAST(sum(w) OVER (PARTITION BY l_returnflag
      |      ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cw,
      |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
      |  FROM bv
      |)
      |SELECT l_returnflag, min(cents) AS wmedian_cents,
      |  max(tw) AS total_qty
      |FROM c WHERE cw * 2 >= tw
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Wide→long unpivot: per-priority metrics melted to (metric, val)
    * rows — the reshape every feature-extraction pipeline needs before
    * a generic metric sink. Uses the native unpivot operator (Expand
    * under the hood, no shuffle beyond the aggregation's own).
    */
  def priorityMetricsUnpivot(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        round(avg(col("o_totalprice")), 4).as("avg_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("avg_price"), col("max_price")),
        "metric", "val")
      .orderBy(col("o_orderpriority"), col("metric"))

  val priorityMetricsUnpivotSql: String =
    """SELECT o_orderpriority, metric, val FROM (
      |  UNPIVOT (
      |    SELECT o_orderpriority,
      |      CAST(count(*) AS DOUBLE) AS n_orders,
      |      round(avg(o_totalprice), 4) AS avg_price,
      |      round(max(o_totalprice), 2) AS max_price
      |    FROM orders GROUP BY o_orderpriority
      |  ) ON n_orders, avg_price, max_price INTO NAME metric VALUE val
      |)
      |ORDER BY o_orderpriority, metric""".stripMargin

  /** Blocked fuzzy self-join: near-duplicate part names by edit
    * distance within a (brand, type) block. The composite block bounds
    * the quadratic pair set (identical shape to the LSH band-bucket
    * join at cluster scale — brand alone is 6× more pairs for the same
    * matches), and the length-difference lower bound
    * (levenshtein(a,b) ≥ |len(a)−len(b)|) prunes pairs BEFORE the
    * O(len²) distance runs — semantics-preserving for a thresholded
    * query. The rollup keeps output compact.
    */
  def partFuzzyMatch(spark: SparkSession, dir: String,
                     maxDist: Int = 4): DataFrame = {
    val p = part(spark, dir).select(
      col("p_brand"), col("p_type"), col("p_partkey"), col("p_name"))
    val a = p.select(col("p_brand"), col("p_type"),
      col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("p_type"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, Seq("p_brand", "p_type"))
      .filter(col("key_a") < col("key_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_similar_pairs"),
        min(col("dist")).cast("bigint").as("min_dist"),
        round(avg(col("dist")), 4).as("avg_dist"))
      .orderBy(col("p_brand"))
  }

  val partFuzzyMatchSql: String =
    """SELECT a.p_brand, count(*) AS n_similar_pairs,
      |  CAST(min(levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_dist,
      |  round(avg(levenshtein(a.p_name, b.p_name)), 4) AS avg_dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |     AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 4
      |GROUP BY a.p_brand
      |ORDER BY a.p_brand""".stripMargin

  /** Edit-distance threshold for [[entityClusters]] — tight, so a
    * cluster means "the same catalog entity spelled slightly
    * differently", not merely "similar".
    */
  val EntityMaxDist = 2

  /** Entity resolution: blocked fuzzy match → transitive closure →
    * entity table. The full record-linkage pipeline (Fellegi–Sunter
    * blocking + compare + cluster): candidate pairs come from the
    * (brand, type) block with the |len| lower bound and the codegen'd
    * Damerau distance at ≤ [[EntityMaxDist]]; A≈B, B≈C must land in
    * ONE entity even when A̸≈C, so pairs run through the same
    * co-partitioned connected-components loop the dedup family uses;
    * the canonical record is the minimum part key. Output is the
    * multi-record entities (singletons suppressed — they are the
    * catalog itself).
    *
    * Scale shape: pair generation is block-bounded (never catalog²)
    * AND deduped to distinct (brand, type, name) groups before the
    * kernel (see [[entityBlockPairs]] — star edges keep the closure
    * identical at linear edge count);
    * the closure is the RDD CC loop (one shuffle per round); the
    * oracle recomputes the closure as a recursive CTE over the same
    * pair set — feasible because pairs are threshold-sparse.
    */
  def entityClusters(spark: SparkSession, dir: String): DataFrame =
    entityReadout(entityBlockPairs(spark, dir))

  /** Block-1 candidate edges — exact (brand, type) block, length
    * lower bound, codegen'd Damerau kernel — shared by
    * [[entityClusters]] and [[entityClustersLsh]] so the two passes
    * cannot drift.
    *
    * Round 9 restructures pair generation around the oldest ER
    * optimization there is — DEDUPE TO DISTINCT RECORDS BEFORE THE
    * QUADRATIC KERNEL: the catalog is grouped to distinct
    * (brand, type, name) with a min-key representative; the Damerau
    * kernel runs on DISTINCT-name pairs only, and each part connects
    * to its group rep by one STAR edge (a group's all-pairs clique
    * and its star have the same connected components, at linear
    * instead of quadratic edge count). On the synthetic catalog the
    * name-diversity is tiny (64 distinct names across 20k parts at
    * sf0.1), so the old form ran ~3M kernel calls where ~2k suffice —
    * and on a real catalog this is exactly the standardize → group →
    * block → compare pipeline. The closure (and therefore the
    * unchanged recursive-CTE oracle) is provably identical.
    */
  private def entityBlockPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringDistances.damerauLevenshtein
    val p = part(spark, dir).select(col("p_brand"), col("p_type"),
      col("p_partkey"), col("p_name"))
    // one group row per distinct (brand, type, name) — reused by the
    // star edges AND both sides of the distinct-pair kernel
    val groups = p.groupBy(col("p_brand"), col("p_type"), col("p_name"))
      .agg(min(col("p_partkey")).as("rep"))
      .localCheckpoint()
    val star = p.join(groups, Seq("p_brand", "p_type", "p_name"))
      .filter(col("p_partkey") =!= col("rep"))
      .select(col("rep").as("key_a"), col("p_partkey").as("key_b"))
    val a = groups.select(col("p_brand"), col("p_type"),
      col("rep").as("rep_a"), col("p_name").as("name_a"))
    val b = groups.select(col("p_brand"), col("p_type"),
      col("rep").as("rep_b"), col("p_name").as("name_b"))
    val cross = a.join(b, Seq("p_brand", "p_type"))
      .filter(col("rep_a") < col("rep_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= EntityMaxDist)
      .filter(damerauLevenshtein(col("name_a"), col("name_b")) <=
        EntityMaxDist)
      .select(col("rep_a").as("key_a"), col("rep_b").as("key_b"))
    star.union(cross)
  }

  /** Shared closure + readout: CC over a pair set, entities keyed by
    * min part key, singletons suppressed.
    */
  private def entityReadout(pairs: DataFrame): DataFrame =
    graft.operators.Graph.connectedComponents(
        pairs.select(col("key_a").as("src"), col("key_b").as("dst")))
      .groupBy(col("comp").as("entity"))
      .agg(count(lit(1)).as("n_records"),
        concat_ws(",", transform(sort_array(collect_list(col("v"))),
          x => x.cast("string"))).as("part_keys"))
      .orderBy(col("entity"))

  val entityClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |   AND a.p_partkey < b.p_partkey
      |   AND abs(length(a.p_name) - length(b.p_name)) <= $EntityMaxDist
      |  WHERE damerau_levenshtein(a.p_name, b.p_name) <= $EntityMaxDist
      |), edges AS (
      |  SELECT key_a AS src, key_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT key_b, key_a FROM pairs
      |), verts AS (SELECT DISTINCT src AS v FROM edges),
      |reach(v, r) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT reach.v, e.dst FROM reach JOIN edges e ON reach.r = e.src
      |), comp AS (
      |  SELECT v AS key, min(r) AS entity FROM reach GROUP BY v
      |)
      |SELECT entity, CAST(count(*) AS BIGINT) AS n_records,
      |  array_to_string(list_sort(list(key)), ',') AS part_keys
      |FROM comp
      |GROUP BY entity
      |ORDER BY entity""".stripMargin

  /** MinHash lanes / bands for the [[entityClustersLsh]] second
    * blocking pass: 8 lanes in 4 bands of r = 2 — candidates must
    * agree on BOTH lanes of some band. r = 1 was measured first and
    * REJECTED: with tiny token sets over a small shared vocabulary,
    * the token whose hash is globally minimal becomes the lane
    * minimum for every record containing it, so single-lane buckets
    * go hub-shaped (measured 60 s at sf0.1 vs ~3 s for the whole
    * exact pass — quadratic pair volume in the hub bucket). r = 2
    * multiplies bucket membership probabilities (P² per pair), which
    * collapses the hubs; recall at the one-word-variant Jaccard
    * (J ≈ 2/3 on a five-word name) is 1−(1−J²)⁴ ≈ 90%, the standard
    * recall/candidate-volume trade a second blocking pass makes.
    */
  val EntityLshLanes = 8
  val EntityLshBands = 4

  /** [[entityClusters]] with a SECOND, block-crossing candidate pass:
    * name-token MinHash bands (the dedup family's engine-portable
    * md5 hash family, [[EntityLshLanes]] lanes in [[EntityLshBands]]
    * bands of 2) bucket records REGARDLESS of (brand, type), so a
    * spelling variant entered under the wrong brand or type — which
    * the exact block is structurally blind to — still reaches the
    * Damerau compare. Pairs from both passes union (set semantics)
    * before the same CC closure; the Fellegi–Sunter structure is
    * unchanged, only the blocking key set grew.
    *
    * Scale shape: the signature build is scan-side (the one-pass
    * [[graft.functions.MinHashSigs]] kernel, no explode before the
    * bucket join); candidate volume is Σ_buckets |bucket|² where a
    * bucket is "records agreeing on BOTH lanes of a band" — r = 2
    * exists precisely to keep those buckets small (see
    * [[EntityLshLanes]] for the measured r = 1 hub blowup); the
    * first-agreeing-band discipline dedupes multi-band collisions
    * with ZERO extra shuffle (no pair-level distinct before the
    * kernel); the cross-pass union IS a distinct, on the
    * threshold-sparse surviving pairs only.
    */
  def entityClustersLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringDistances.damerauLevenshtein
    val p = part(spark, dir).select(col("p_partkey"), col("p_name"))
    // the same dedupe-before-compare restructuring as
    // [[entityBlockPairs]], with GLOBAL name groups (this pass is the
    // block-crossing one): signatures, banding and the kernel all run
    // on distinct names; identical-name parts connect by star edges
    val groups = p.groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("rep"))
      .localCheckpoint()
    val star = p.join(groups, Seq("p_name"))
      .filter(col("p_partkey") =!= col("rep"))
      .select(col("rep").as("key_a"), col("p_partkey").as("key_b"))
    val toks = array_distinct(split(col("p_name"), " "))
    val sigs = groups
      .select(col("rep"), col("p_name"),
        transform(toks, t => md5(t)).as("mds"))
      .select(col("rep"), col("p_name"),
        graft.functions.MinHashOps.minhashSigs(
          transform(col("mds"), s =>
            conv(substring(s, 1, 8), 16, 10).cast("long")),
          transform(col("mds"), s =>
            conv(substring(s, 9, 8), 16, 10).cast("long")),
          EntityLshLanes, graft.analytics.TextOps.MinHashP).as("sig"))
    val r = EntityLshLanes / EntityLshBands
    val bandCols: Seq[Column] = (0 until EntityLshBands).map { band =>
      md5(concat_ws(",", (band * r until (band + 1) * r)
        .map(i => element_at(col("sig"), i + 1)): _*))
    }
    val banded = sigs.select(col("rep"), col("p_name"), col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val a = banded.select(col("rep").as("rep_a"),
      col("p_name").as("name_a"), col("sig").as("sig_a"),
      col("band"), col("bucket"))
    val b = banded.select(col("rep").as("rep_b"),
      col("p_name").as("name_b"), col("sig").as("sig_b"),
      col("band"), col("bucket"))
    val lshPairs = a.join(b, Seq("band", "bucket"))
      .filter(col("rep_a") < col("rep_b"))
      .filter(col("band") === graft.functions.MinHashOps.firstAgreeBand(
        col("sig_a"), col("sig_b"), EntityLshBands))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <=
        EntityMaxDist)
      .filter(damerauLevenshtein(col("name_a"), col("name_b")) <=
        EntityMaxDist)
      .select(col("rep_a").as("key_a"), col("rep_b").as("key_b"))
    entityReadout(
      entityBlockPairs(spark, dir).union(star).union(lshPairs).distinct())
  }

  val entityClustersLshSql: String =
    s"""WITH RECURSIVE p1 AS (
      |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |   AND a.p_partkey < b.p_partkey
      |   AND abs(length(a.p_name) - length(b.p_name)) <= $EntityMaxDist
      |  WHERE damerau_levenshtein(a.p_name, b.p_name) <= $EntityMaxDist
      |), ptoks AS (
      |  SELECT p_partkey,
      |    unnest(list_distinct(string_split(p_name, ' '))) AS tok
      |  FROM part
      |), h AS (
      |  SELECT p_partkey,
      |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h1,
      |    CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS h2
      |  FROM ptoks
      |), sig AS (
      |  SELECT p_partkey, i,
      |    min((h1 + i * h2) % ${graft.analytics.TextOps.MinHashP}) AS m
      |  FROM h CROSS JOIN (SELECT unnest(range(0, $EntityLshLanes)) AS i) seeds
      |  GROUP BY p_partkey, i
      |), band AS MATERIALIZED (
      |  SELECT p_partkey, i // ${EntityLshLanes / EntityLshBands} AS band,
      |    md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS bucket
      |  FROM sig GROUP BY p_partkey, i // ${EntityLshLanes / EntityLshBands}
      |), cand AS (
      |  SELECT DISTINCT ba.p_partkey AS key_a, bb.p_partkey AS key_b
      |  FROM band ba JOIN band bb USING (band, bucket)
      |  WHERE ba.p_partkey < bb.p_partkey
      |), p2 AS (
      |  SELECT c.key_a, c.key_b
      |  FROM cand c
      |  JOIN part pa ON pa.p_partkey = c.key_a
      |  JOIN part pb ON pb.p_partkey = c.key_b
      |  WHERE abs(length(pa.p_name) - length(pb.p_name)) <= $EntityMaxDist
      |    AND damerau_levenshtein(pa.p_name, pb.p_name) <= $EntityMaxDist
      |), pairs AS MATERIALIZED (
      |  SELECT key_a, key_b FROM p1
      |  UNION
      |  SELECT key_a, key_b FROM p2
      |), edges AS MATERIALIZED (
      |  SELECT key_a AS src, key_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT key_b, key_a FROM pairs
      |), verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
      |reach(v, r) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT reach.v, e.dst FROM reach JOIN edges e ON reach.r = e.src
      |), comp AS (
      |  SELECT v AS key, min(r) AS entity FROM reach GROUP BY v
      |)
      |SELECT entity, CAST(count(*) AS BIGINT) AS n_records,
      |  array_to_string(list_sort(list(key)), ',') AS part_keys
      |FROM comp
      |GROUP BY entity
      |ORDER BY entity""".stripMargin

  /** Max edit distance for [[damerauMatch]] — interpolated into both
    * the Column plan and the oracle SQL.
    */
  val DamerauMaxDist = 4

  /** Transposition-aware fuzzy matching through the engine's own
    * codegen'd [[graft.functions.DamerauLevenshtein]] expression —
    * the record-linkage upgrade over [[partFuzzyMatch]]: a swapped
    * word pair ("brown blue" vs "blue brown") is cheap under Damerau
    * but expensive under Levenshtein, so transposition-heavy
    * near-duplicates surface at tight thresholds where plain edit
    * distance misses them. Same blocked self-join shape (composite
    * (brand, type) block bounds the pair set; the |len(a)−len(b)|
    * lower bound — valid for Damerau too — prunes before the O(len²)
    * kernel runs). `n_transposition_wins` counts pairs where the
    * Damerau distance is strictly below Levenshtein — exactly the
    * matches a transposition-blind pipeline would score worse.
    * Oracle: DuckDB's NATIVE damerau_levenshtein (the full
    * Lowrance–Wagner metric, like ours) — integer-exact cross-engine
    * parity of a custom Catalyst expression against an independent
    * native implementation.
    */
  def damerauMatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringDistances.damerauLevenshtein
    val p = part(spark, dir).select(
      col("p_brand"), col("p_type"), col("p_partkey"), col("p_name"))
    val a = p.select(col("p_brand"), col("p_type"),
      col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("p_type"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, Seq("p_brand", "p_type"))
      .filter(col("key_a") < col("key_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= DamerauMaxDist)
      .withColumn("dl", damerauLevenshtein(col("name_a"), col("name_b")))
      .filter(col("dl") <= DamerauMaxDist)
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("dl") < col("lev"), 1)).as("n_transposition_wins"),
        min(col("dl")).cast("bigint").as("min_dl"),
        round(avg(col("dl")), 4).as("avg_dl"))
      .orderBy(col("p_brand"))
  }

  val damerauMatchSql: String =
    s"""SELECT a.p_brand, count(*) AS n_pairs,
      |  count(CASE WHEN damerau_levenshtein(a.p_name, b.p_name)
      |                  < levenshtein(a.p_name, b.p_name)
      |        THEN 1 END) AS n_transposition_wins,
      |  CAST(min(damerau_levenshtein(a.p_name, b.p_name)) AS BIGINT) AS min_dl,
      |  round(avg(damerau_levenshtein(a.p_name, b.p_name)), 4) AS avg_dl
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |     AND a.p_partkey < b.p_partkey
      |WHERE damerau_levenshtein(a.p_name, b.p_name) <= $DamerauMaxDist
      |GROUP BY a.p_brand
      |ORDER BY a.p_brand""".stripMargin

  /** Cross-tabulation with expected frequencies and per-cell χ²
    * contributions: market segment × region over customers. The test
    * statistic's ingredients stay per-cell (no cross-cell float sum,
    * which would be summation-order-dependent): obs/row/col totals
    * are exact integers (window sums over the 25-cell cube), and each
    * cell's expected count and contribution divide the SAME integers
    * on both engines. The deviation is squared in exact-long space
    * ((obs·n − rt·ct)² — |d| < 2⁵³ up to ~10⁸ customers) before the
    * one double division.
    */
  def segmentRegionCrosstab(spark: SparkSession, dir: String): DataFrame = {
    val cells = customer(spark, dir)
      .join(broadcast(nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("c_mktsegment"), col("r_name"))
      .agg(count(lit(1)).as("obs"))
    val byRow = Window.partitionBy(col("c_mktsegment"))
    val byCol = Window.partitionBy(col("r_name"))
    val all = Window.partitionBy()
    cells
      .withColumn("rt", sum(col("obs")).over(byRow))
      .withColumn("ct", sum(col("obs")).over(byCol))
      .withColumn("n", sum(col("obs")).over(all))
      .withColumn("expected",
        round((col("rt") * col("ct")) / col("n"), 4))
      // d·d, not pow(d, 2): libm pow is only ~1-ulp accurate and the
      // two engines link different libms; the product is IEEE-exact
      .withColumn("d",
        (col("obs") * col("n") - col("rt") * col("ct")).cast("double"))
      .withColumn("chi2_contrib", round(
        (col("d") * col("d")) /
          ((col("rt") * col("ct")).cast("double") * col("n")), 6))
      .select(col("c_mktsegment"), col("r_name"), col("obs"),
        col("expected"), col("chi2_contrib"))
      .orderBy(col("c_mktsegment"), col("r_name"))
  }

  val segmentRegionCrosstabSql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment, r_name, count(*) AS obs
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2
      |), tot AS (
      |  SELECT c_mktsegment, r_name, obs,
      |    CAST(sum(obs) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS rt,
      |    CAST(sum(obs) OVER (PARTITION BY r_name) AS BIGINT) AS ct,
      |    CAST(sum(obs) OVER () AS BIGINT) AS n
      |  FROM cells
      |)
      |SELECT c_mktsegment, r_name, obs,
      |  round((rt * ct) / n, 4) AS expected,
      |  round((CAST(obs * n - rt * ct AS DOUBLE) *
      |         CAST(obs * n - rt * ct AS DOUBLE)) /
      |        (CAST(rt * ct AS DOUBLE) * n), 6) AS chi2_contrib
      |FROM tot
      |ORDER BY c_mktsegment, r_name""".stripMargin


  /** 2-D heatmap binning for dashboards (the reference's stated tail:
    * monitoring dashboards over the sensor feed): hour-of-day ×
    * fixed-width value band, with counts and the exact-cents average
    * per cell. One hash aggregation over ≤ 24×10 cells — partial
    * aggregation collapses each executor's input before the shuffle,
    * so the heatmap costs one scan at any data size.
    */
  def valueHeatmap(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(hour(col("ts")).as("hod"),
        least(floor(col("value") / 50.0), lit(9.0)).cast("int").as("bin"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("hod"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(col("hod"), col("bin"), col("n"),
        (round(col("cents") * lit(100.0) / col("n")).cast("long") /
          lit(10000.0)).as("avg_value"))
      .orderBy(col("hod"), col("bin"))

  val valueHeatmapSql: String =
    """SELECT hod, bin, count(*) AS n,
      |  CAST(round(sum(cents) * 100.0 / count(*)) AS BIGINT) / 10000.0
      |    AS avg_value
      |FROM (
      |  SELECT hour(ts) AS hod,
      |    CAST(least(floor(value / 50.0), 9.0) AS INT) AS bin,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |)
      |GROUP BY hod, bin
      |ORDER BY hod, bin""".stripMargin


  /** Equi-depth decile table of order values: exact ntile(10) over a
    * TOTAL order (value, then key — ties must not float between
    * deciles or the per-bucket extrema drift), with per-decile
    * count/min/max/sum. The complement of the fixed-width
    * [[priceHistogram]]: bucket WIDTH adapts, bucket MASS is constant
    * — the binning used for quantile-calibrated features.
    *
    * Scale shape: an unpartitioned `ntile(10)` window would plan as
    * `Exchange SinglePartition` — the ENTIRE fact table sorted in one
    * task (measured round 8; the round-6 class of inversion). The
    * rank now comes from [[graft.operators.Scale.distributedNtile]]
    * (2-phase sharded prefix-sum global rank, closed-form ntile from
    * (rank, N)) — bit-identical to the window ntile, which is why the
    * unchanged DuckDB ntile oracle stays the done-gate.
    */
  def priceDeciles(spark: SparkSession, dir: String): DataFrame =
    decilesOf(orders(spark, dir))

  /** The [[priceDeciles]] recurrence over any (o_orderkey,
    * o_totalprice) frame — split out so the spec can drive it at a
    * row count NOT divisible by 10 (the remainder front-loading is
    * the part a naive `(r-1)*10 DIV n` formula gets wrong).
    */
  private[graft] def decilesOf(input: DataFrame): DataFrame =
    graft.operators.Scale.distributedNtile(
        input.select(col("o_orderkey"), col("o_totalprice")),
        10, round(col("o_totalprice") * 100), col("o_orderkey"), "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"),
        round(sum(col("o_totalprice")), 2).as("mass"))
      .orderBy(col("decile"))

  val priceDecilesSql: String =
    """SELECT decile, count(*) AS n,
      |  round(min(o_totalprice), 2) AS lo,
      |  round(max(o_totalprice), 2) AS hi,
      |  round(sum(o_totalprice), 2) AS mass
      |FROM (
      |  SELECT o_totalprice,
      |    ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
      |  FROM orders
      |)
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  /** Shipping-lag distribution: days between order date and line ship
    * date, bucketed per priority — the fulfillment-latency histogram
    * behind any operations dashboard. datediff on both engines is
    * exact calendar-day arithmetic; the join broadcasts nothing (fact
    * × fact on the order key, the J6 shape).
    */
  def shippingLag(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
      // the harness data contains ship-before-order lines; they all
      // land in ONE explicit anomaly bucket (-1) instead of an
      // open-ended negative range — a data-quality signal, not noise
      .withColumn("lag_bucket",
        greatest(least(floor(col("lag_days") / 30.0), lit(4.0)), lit(-1.0))
          .cast("int"))
      .groupBy(col("o_orderpriority"), col("lag_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("lag_days")).cast("bigint").as("min_lag"),
        max(col("lag_days")).cast("bigint").as("max_lag"))
      .orderBy(col("o_orderpriority"), col("lag_bucket"))

  val shippingLagSql: String =
    """SELECT o_orderpriority, lag_bucket, count(*) AS n,
      |  CAST(min(lag_days) AS BIGINT) AS min_lag,
      |  CAST(max(lag_days) AS BIGINT) AS max_lag
      |FROM (
      |  SELECT o_orderpriority,
      |    datediff('day', o_orderdate, l_shipdate) AS lag_days,
      |    CAST(greatest(least(
      |      floor(datediff('day', o_orderdate, l_shipdate) / 30.0), 4.0), -1.0)
      |         AS INT) AS lag_bucket
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |GROUP BY o_orderpriority, lag_bucket
      |ORDER BY o_orderpriority, lag_bucket""".stripMargin

  /** Bin width (tokens) and dense bin count for [[snapshotDrift]]. */
  val DriftBinWidth = 50L
  val DriftBins = 20

  /** THE binned-document base shared by the drift monitor and its
    * corrective resampler — (doc_id, n_tok, bin, is_batch), with the
    * batch marker from [[graft.operators.Scale.isBatch]]. One
    * definition point: the pair is designed to act on the SAME
    * histogram, and a binning edit applied to one operator only would
    * silently decouple the monitor from its corrective action while
    * both still self-hash-match.
    */
  private def binnedDocs(spark: SparkSession, dir: String): DataFrame =
    graft.ingest.Sources.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("bin", least(expr(s"n_tok DIV $DriftBinWidth"),
        lit(DriftBins - 1L)))
      .withColumn("is_batch",
        graft.operators.Scale.isBatch(col("doc_id")).cast("long"))

  /** DuckDB twin of [[binnedDocs]] as a CTE body named `d`. */
  private def binnedDocsSql: String =
    s"""SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    least(CAST(len(string_split(text, ' ')) AS BIGINT)
      |          // $DriftBinWidth, ${DriftBins - 1}) AS bin,
      |    CASE WHEN ${graft.operators.Scale.isBatchSql("doc_id")}
      |         THEN 1 ELSE 0 END AS is_batch
      |  FROM documents""".stripMargin

  /** Snapshot distribution-drift monitor — the acceptance check a
    * production pipeline runs before admitting a new batch: compare
    * the batch's token-length distribution (doc_id ≡ 4 mod 5, the
    * same deterministic batch marker as the incremental dedup)
    * against the historical corpus over [[DriftBins]] dense
    * fixed-width bins, with a χ² contribution per bin. Laplace +1
    * smoothing keeps every expected count positive, and every number
    * derives from exact integer counts through deterministic double
    * ops (products ≤ 1e10 are exact; one divide, one square, one
    * divide), so the hash gate holds. The dense bin spine (every bin
    * 0..19 present on both sides, zero-filled) is what makes the
    * engines agree on row count regardless of which bins the data
    * happens to hit. One scan + one tiny aggregation — the operator
    * costs a histogram at any corpus size.
    */
  def snapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = binnedDocs(spark, dir)
    val counts = docs.groupBy(col("bin"))
      .agg(sum(lit(1L) - col("is_batch")).as("h"),
        sum(col("is_batch")).as("b"))
    val spine = spark.range(DriftBins).select(col("id").as("bin"))
    val dense = spine.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("h"), lit(0L)).as("n_hist"),
        coalesce(col("b"), lit(0L)).as("n_batch"))
    val tot = Window.partitionBy()
    dense
      .withColumn("ht", sum(col("n_hist")).over(tot))
      .withColumn("bt", sum(col("n_batch")).over(tot))
      .withColumn("expected",
        (col("n_hist") + 1) * (col("bt") + DriftBins) /
          (col("ht") + DriftBins))
      .withColumn("chi2",
        round(((col("n_batch") + 1) - col("expected")) *
          ((col("n_batch") + 1) - col("expected")) / col("expected"), 6))
      .select(col("bin"), (col("bin") * DriftBinWidth).as("lo_tok"),
        col("n_hist"), col("n_batch"),
        round(col("expected"), 6).as("expected_batch"),
        col("chi2"))
      .orderBy(col("bin"))
  }

  val snapshotDriftSql: String =
    s"""WITH d AS (
      |  $binnedDocsSql
      |), binned AS (
      |  SELECT bin,
      |    CAST(sum(1 - is_batch) AS BIGINT) AS h,
      |    CAST(sum(is_batch) AS BIGINT) AS b
      |  FROM d GROUP BY 1
      |), dense AS (
      |  SELECT s.bin, COALESCE(h, 0) AS n_hist, COALESCE(b, 0) AS n_batch
      |  FROM (SELECT unnest(range(0, $DriftBins)) AS bin) s
      |  LEFT JOIN binned USING (bin)
      |), t AS (
      |  SELECT *, CAST(sum(n_hist) OVER () AS BIGINT) AS ht,
      |    CAST(sum(n_batch) OVER () AS BIGINT) AS bt
      |  FROM dense
      |)
      |SELECT bin, bin * $DriftBinWidth AS lo_tok, n_hist, n_batch,
      |  round((n_hist + 1) * (bt + $DriftBins) / (ht + $DriftBins), 6)
      |    AS expected_batch,
      |  round(((n_batch + 1) - (n_hist + 1) * (bt + $DriftBins)
      |                         / (ht + $DriftBins))
      |      * ((n_batch + 1) - (n_hist + 1) * (bt + $DriftBins)
      |                         / (ht + $DriftBins))
      |      / ((n_hist + 1) * (bt + $DriftBins) / (ht + $DriftBins)), 6)
      |    AS chi2
      |FROM t
      |ORDER BY bin""".stripMargin

  /** Population Stability Index over the SAME drift histogram — the
    * industry-standard drift score ops dashboards alarm on (PSI < 0.1
    * stable, 0.1-0.25 moderate, > 0.25 action): per bin,
    * (p_batch − p_hist)·ln(p_batch/p_hist) with Laplace-smoothed
    * shares (+1 per bin, the same smoothing as the χ² monitor), plus
    * the running cumulative so the final row IS the index. Shares the
    * [[binnedDocs]] base — the monitor trio (χ², KS, PSI) reads ONE
    * histogram definition and cannot decouple. Every input is an
    * exact integer count; each term is a fixed sequence of IEEE ops
    * identical on both engines; the cumulative sums in bin order
    * (deterministic order ⇒ identical partials).
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = binnedDocs(spark, dir)
    val counts = docs.groupBy(col("bin"))
      .agg(sum(lit(1L) - col("is_batch")).as("h"),
        sum(col("is_batch")).as("b"))
    val spine = spark.range(DriftBins).select(col("id").as("bin"))
    val dense = spine.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("h"), lit(0L)).as("n_hist"),
        coalesce(col("b"), lit(0L)).as("n_batch"))
    val tot = Window.partitionBy()
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("ht", sum(col("n_hist")).over(tot))
      .withColumn("bt", sum(col("n_batch")).over(tot))
      .withColumn("ph", (col("n_hist") + 1).cast("double") /
        (col("ht") + DriftBins))
      .withColumn("pb", (col("n_batch") + 1).cast("double") /
        (col("bt") + DriftBins))
      .withColumn("term", (col("pb") - col("ph")) * log(col("pb") / col("ph")))
      .withColumn("psi_term", round(col("term"), 6))
      .withColumn("psi_cum", round(sum(col("term")).over(cum), 6))
      .select(col("bin"), (col("bin") * DriftBinWidth).as("lo_tok"),
        col("n_hist"), col("n_batch"), col("psi_term"), col("psi_cum"))
      .orderBy(col("bin"))
  }

  /** DuckDB twin: same dense spine, same smoothing, same term. */
  val psiDriftSql: String =
    s"""WITH d AS (
      |  $binnedDocsSql
      |), binned AS (
      |  SELECT bin,
      |    CAST(sum(1 - is_batch) AS BIGINT) AS h,
      |    CAST(sum(is_batch) AS BIGINT) AS b
      |  FROM d GROUP BY 1
      |), dense AS (
      |  SELECT s.bin, COALESCE(h, 0) AS n_hist, COALESCE(b, 0) AS n_batch
      |  FROM (SELECT unnest(range(0, $DriftBins)) AS bin) s
      |  LEFT JOIN binned USING (bin)
      |), t AS (
      |  SELECT *, CAST(sum(n_hist) OVER () AS BIGINT) AS ht,
      |    CAST(sum(n_batch) OVER () AS BIGINT) AS bt
      |  FROM dense
      |), terms AS (
      |  SELECT bin, n_hist, n_batch,
      |    (CAST(n_batch + 1 AS DOUBLE) / (bt + $DriftBins)
      |     - CAST(n_hist + 1 AS DOUBLE) / (ht + $DriftBins))
      |    * ln((CAST(n_batch + 1 AS DOUBLE) / (bt + $DriftBins))
      |         / (CAST(n_hist + 1 AS DOUBLE) / (ht + $DriftBins))) AS term
      |  FROM t
      |)
      |SELECT bin, bin * $DriftBinWidth AS lo_tok, n_hist, n_batch,
      |  round(term, 6) AS psi_term,
      |  round(sum(term) OVER (ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS psi_cum
      |FROM terms
      |ORDER BY bin""".stripMargin

  /** Bin width of the [[ksDrift]] quantized ECDF grid. */
  val KsBinWidth = 100L

  /** Two-sample Kolmogorov–Smirnov drift statistic between order-price
    * distributions of consecutive years, on a quantized value grid:
    * KS = max over the grid of |F₁ − F₂|, the distribution-free
    * complement to [[snapshotDrift]]'s per-bin chi2 (KS is one number,
    * sensitive to cumulative shift; chi2 localizes which bins moved).
    *
    * Exactness: the ECDF difference |ca/n − cb/m| is maximized as the
    * INTEGER |ca·m − cb·n| (cross-multiplied — no float ever enters
    * the argmax), so the reported max, its grid location, and the
    * final single division are engine-portable. Quantization to
    * [[KsBinWidth]] makes the statistic the exact KS of the binned
    * distributions (within max-bin-mass of the unbinned one) AND
    * bounds every post-scan structure by the value domain: one
    * bin-count shuffle on corpus-sized data, then the cumulative walk
    * runs over ~thousands of bins — the same bounded-sketch discipline
    * as [[sketchQuantiles]]; the unbinned variant would drag a
    * corpus-sized distinct-value list through a global sort.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
      .select(year(col("o_orderdate")).as("yr"),
        floor(col("o_totalprice") / KsBinWidth).cast("long").as("bin"))
      .filter(col("yr").isin(1995, 1996))
    val counts = o.groupBy(col("bin"))
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("da"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("db"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    counts
      .withColumn("ca", sum(col("da")).over(w))
      .withColumn("cb", sum(col("db")).over(w))
      .withColumn("n", sum(col("da")).over(tot))
      .withColumn("m", sum(col("db")).over(tot))
      .withColumn("num", abs(col("ca") * col("m") - col("cb") * col("n")))
      .orderBy(col("num").desc, col("bin").asc)
      .limit(1)
      .select(col("n").as("n_1995"), col("m").as("n_1996"),
        (col("bin") * KsBinWidth).as("at_price"),
        round(col("num").cast("double") / (col("n") * col("m")), 6)
          .as("ks_stat"))
  }

  val ksDriftSql: String =
    s"""WITH o AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(floor(o_totalprice / $KsBinWidth) AS BIGINT) AS bin
      |  FROM orders
      |  WHERE year(o_orderdate) IN (1995, 1996)
      |), counts AS (
      |  SELECT bin,
      |    CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS da,
      |    CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS db
      |  FROM o GROUP BY 1
      |), walk AS (
      |  SELECT bin,
      |    CAST(sum(da) OVER (ORDER BY bin) AS BIGINT) AS ca,
      |    CAST(sum(db) OVER (ORDER BY bin) AS BIGINT) AS cb,
      |    CAST(sum(da) OVER () AS BIGINT) AS n,
      |    CAST(sum(db) OVER () AS BIGINT) AS m
      |  FROM counts
      |)
      |SELECT n AS n_1995, m AS n_1996,
      |  bin * $KsBinWidth AS at_price,
      |  round(CAST(abs(ca * m - cb * n) AS DOUBLE) / (n * m), 6) AS ks_stat
      |FROM walk
      |ORDER BY abs(ca * m - cb * n) DESC, bin ASC
      |LIMIT 1""".stripMargin

  /** Distribution-matched resampling — the CORRECTIVE action after
    * [[snapshotDrift]] flags a batch: per length bin, down-sample the
    * batch toward the history's (Laplace-smoothed) share with
    * keep_rate = min(1, target_share / batch_share), decided per doc
    * by the engine-portable md5-word uniform (u = word32/2^32 — the
    * proven [[graft.operators.Scale.hashBucket]] family), so the SAME
    * documents are kept on any engine, partitioning or rerun. The
    * rate is a ratio of exact integer products and the comparison is
    * one exact double, so the whole operator hash-gates. TWO scans of
    * the table (one builds the 20-row rate histogram that broadcasts,
    * one streams the batch through the rates) + one tiny broadcast
    * join at any corpus size — the histogram side is a
    * partial-aggregated 2-column scan.
    */
  def lengthResample(spark: SparkSession, dir: String): DataFrame = {
    val k = DriftBins
    val base = binnedDocs(spark, dir)
    val tot = Window.partitionBy()
    val rates = base.groupBy(col("bin"))
      .agg(sum(lit(1L) - col("is_batch")).as("h"),
        sum(col("is_batch")).as("b"))
      .withColumn("ht", sum(col("h")).over(tot))
      .withColumn("bt", sum(col("b")).over(tot))
      .withColumn("keep_rate", least(lit(1.0),
        ((col("h") + 1) * (col("bt") + k)).cast("double") /
          ((col("b") + 1) * (col("ht") + k))))
      .select(col("bin"), col("keep_rate"))
    val u = graft.operators.Scale.md5Uniform(
      concat(lit("resample:"), col("doc_id").cast("string")))
    base.filter(col("is_batch") === 1L)
      .join(broadcast(rates), Seq("bin"))
      .withColumn("kept", u < col("keep_rate"))
      .groupBy(col("bin"), col("keep_rate"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("kept_tok"))
      .select(col("bin"), col("n_batch"),
        round(col("keep_rate"), 6).as("keep_rate"),
        col("n_kept"), col("kept_tok"))
      .orderBy(col("bin"))
  }

  val lengthResampleSql: String = {
    val k = DriftBins
    s"""WITH d AS (
      |  $binnedDocsSql
      |), counts AS (
      |  SELECT bin,
      |    CAST(sum(1 - is_batch) AS BIGINT) AS h,
      |    CAST(sum(is_batch) AS BIGINT) AS b
      |  FROM d GROUP BY bin
      |), rates AS (
      |  SELECT bin, least(1.0,
      |    CAST((h + 1) * (CAST(sum(b) OVER () AS BIGINT) + $k) AS DOUBLE)
      |      / ((b + 1) * (CAST(sum(h) OVER () AS BIGINT) + $k)))
      |    AS keep_rate
      |  FROM counts
      |), scored AS (
      |  SELECT d.bin, d.n_tok, r.keep_rate,
      |    ${graft.operators.Scale.md5UniformSql(
             "'resample:' || CAST(doc_id AS VARCHAR)")}
      |      < r.keep_rate AS kept
      |  FROM d JOIN rates r USING (bin)
      |  WHERE d.is_batch = 1
      |)
      |SELECT bin, count(*) AS n_batch,
      |  round(keep_rate, 6) AS keep_rate,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tok
      |FROM scored
      |GROUP BY bin, keep_rate
      |ORDER BY bin""".stripMargin
  }

  /** Replicate count for [[bootstrapCi]]. 64 gives rank-2/rank-63 as
    * the ~2.5%/97.5% order statistics (ceil(.025·64)=2,
    * ceil(.975·64)=63) — the percentile-bootstrap CI without any
    * interpolation, so the bound is an exact order statistic both
    * engines select identically.
    */
  val BootReps = 64

  /** Poisson(1) CDF thresholds P(X ≤ k), k = 0..7, as decimal
    * literals shared verbatim with the oracle SQL: both engines parse
    * the same strings to the same binary64 values, so the weight is a
    * pure function of the md5-uniform draw with zero float drift.
    * Weights are capped at 8 (P ≈ 1e-5 per draw — the truncation is
    * part of the operator contract, not an approximation claim).
    */
  val PoissonCdf: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253")

  /** Poisson-bootstrap confidence intervals for the mean order total
    * per priority — the single-pass resampling scheme for data too
    * large to resample-with-replacement: each row draws an independent
    * Poisson(1) multiplicity per replicate (≈ its count in a true
    * bootstrap resample when n is large), so all [[BootReps]]
    * replicates ride ONE scan. The draw is the deterministic
    * md5-uniform of (orderkey ':' replicate) pushed through the
    * Poisson inverse CDF ([[PoissonCdf]]) — reproducible across runs,
    * engines, partitionings and retries, like every sampling decision
    * in the engine.
    *
    * Scale shape: the explode is map-side (×[[BootReps]] rows, never
    * shuffled raw — partial aggregation collapses each task to
    * ≤ groups×reps rows before the one shuffle); replicate means are
    * exact-integer cent sums divided once (no accumulation-order
    * drift); the CI is an exact order statistic over the tiny
    * (group × replicate) frame, tie-broken by replicate id. Replicate
    * totals stay double-exact while Σcents·w < 2^53 per
    * (group, replicate) — beyond that, decimal cents, same shape.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val rep = orders(spark, dir)
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        cents.as("cents"),
        explode(sequence(lit(0), lit(BootReps - 1))).as("rep"))
    val u = graft.operators.Scale.md5Uniform(
      concat(col("o_orderkey").cast("string"), lit(":"),
        col("rep").cast("string")))
    // when-cascade, first matching threshold wins — the literal
    // strings are parsed to doubles once here and once by DuckDB,
    // landing on the identical binary64 values
    val w = PoissonCdf.zipWithIndex.reverse
      .foldLeft(lit(8L): org.apache.spark.sql.Column) {
        case (tail, (t, k)) => when(u < lit(t.toDouble), k.toLong).otherwise(tail)
      }
    val repMeans = rep.withColumn("w", w)
      .groupBy(col("pri"), col("rep"))
      // decimal carrier: w·cents sums over a corpus-scale (pri, rep)
      // group leave i64 past ~2e10 rows at these value scales
      .agg(sum(col("w").cast("decimal(20,0)") * col("cents")).as("s"),
        sum(col("w")).as("n"))
      .withColumn("m",
        when(col("n") > 0, col("s") / (lit(100.0) * col("n")))
          .otherwise(lit(0.0)))
    val ranked = repMeans.withColumn("rk",
      row_number().over(
        Window.partitionBy(col("pri")).orderBy(col("m"), col("rep"))))
    val ci = ranked.groupBy(col("pri")).agg(
      round(min(when(col("rk") === 2, col("m"))), 4).as("ci_lo"),
      round(min(when(col("rk") === BootReps - 1, col("m"))), 4).as("ci_hi"))
    val base = orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n_orders"), sum(cents).as("c"))
      .withColumn("mean_price",
        round(col("c") / (lit(100.0) * col("n_orders")), 4))
    base.join(ci, Seq("pri"))
      .select(col("pri").as("o_orderpriority"), col("n_orders"),
        col("mean_price"), col("ci_lo"), col("ci_hi"))
      .orderBy(col("o_orderpriority"))
  }

  val bootstrapCiSql: String = {
    val uni = graft.operators.Scale.md5UniformSql(
      "CAST(o_orderkey AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)")
    val cases = PoissonCdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString(" ")
    s"""WITH draws AS (
      |  SELECT o_orderpriority AS pri, r.rep,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
      |    $uni AS u
      |  FROM orders CROSS JOIN (SELECT unnest(range($BootReps)) AS rep) r
      |), weighted AS (
      |  SELECT pri, rep, cents, CASE $cases ELSE 8 END AS w FROM draws
      |), agg AS (
      |  SELECT pri, rep, sum(w * cents) AS s, sum(w) AS n
      |  FROM weighted GROUP BY 1, 2
      |), means AS (
      |  SELECT pri, rep,
      |    CASE WHEN n > 0 THEN s / (100.0 * n) ELSE 0.0 END AS m
      |  FROM agg
      |), ranked AS (
      |  SELECT pri, m,
      |    row_number() OVER (PARTITION BY pri ORDER BY m, rep) AS rk
      |  FROM means
      |), ci AS (
      |  SELECT pri,
      |    round(min(CASE WHEN rk = 2 THEN m END), 4) AS ci_lo,
      |    round(min(CASE WHEN rk = ${BootReps - 1} THEN m END), 4) AS ci_hi
      |  FROM ranked GROUP BY pri
      |), base AS (
      |  SELECT o_orderpriority AS pri, count(*) AS n_orders,
      |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS c
      |  FROM orders GROUP BY 1
      |)
      |SELECT pri AS o_orderpriority, n_orders,
      |  round(c / (100.0 * n_orders), 4) AS mean_price, ci_lo, ci_hi
      |FROM base JOIN ci USING (pri)
      |ORDER BY o_orderpriority""".stripMargin
  }

  /** Feature-histogram bin width for [[decisionStump]] — cents, so the
    * binning is exact integer floor division (part of the operator
    * contract: candidate thresholds are bin edges, exactly the
    * histogram trick LightGBM/XGBoost-hist use to make split finding
    * scale-independent of row count).
    */
  val StumpBinCents = 2000000L

  /** Gini impurity in exact ppm over integer class counts, with
    * DECIMAL(38,0) intermediates (round 11):
    * `1e6 − ((p² + (n−p)²)·1e6) DIV n²`. The original all-BIGINT form
    * overflowed at n ≈ 3·10⁶ rows (n²·1e6 > i64) — not even TPC-H
    * sf10's orders table fits, let alone a 100 TB corpus. Casting the
    * square operands to DECIMAL(20,0) makes every product land in
    * Spark's capped DECIMAL(38,0) (values ≤ ~2·10³⁰ for n ≤ 10¹²,
    * headroom to n ≈ 3·10¹⁵) and `DIV` on decimals still returns an
    * exact floored BIGINT; the DuckDB twins take the same route via
    * HUGEINT. Identical outputs wherever the old form didn't overflow
    * (same integer algebra, wider carrier) — the oracle gate and the
    * BigInt differential spec pin both. The per-row cost is nil: the
    * formula runs on HISTOGRAM rows (Σ bins), never on the corpus.
    *
    * Takes column NAMES (the call sites inline it into `expr`); both
    * operands must be nonnegative BIGINTs with p ≤ n.
    */
  private[graft] def giniPpmSql(p: String, n: String): String =
    s"1000000L - ((CAST($p AS DECIMAL(20,0)) * $p + " +
      s"CAST($n - $p AS DECIMAL(20,0)) * ($n - $p)) * 1000000L) " +
      s"DIV (CAST($n AS DECIMAL(20,0)) * $n)"

  /** The DuckDB twin of [[giniPpmSql]]: HUGEINT intermediates, final
    * BIGINT cast (HUGEINT reaching the comparison layer would arrive
    * as float64 and break the exact hash).
    */
  private[graft] def giniPpmDuck(p: String, n: String): String =
    s"CAST(1000000 - ((CAST($p AS HUGEINT) * $p + " +
      s"CAST($n - $p AS HUGEINT) * ($n - $p)) * 1000000) " +
      s"// (CAST($n AS HUGEINT) * $n) AS BIGINT)"

  /** Best single decision-stump split: predict "priority order"
    * (o_orderpriority ∈ {1-URGENT, 2-HIGH}) from o_totalprice, by
    * minimizing the weighted Gini impurity over histogram-bin
    * candidate thresholds — the inner loop of every gradient-boosted
    * tree / random-forest learner, in its scalable histogram form.
    *
    * Exactness: impurity in ppm over exact integer class counts —
    * [[giniPpmSql]] and the weighted score
    * (n_L·imp_L + n_R·imp_R) DIV n — all operands nonnegative, floor
    * division identical in both engines, ties broken on the lowest
    * bin. Round 11: the squares ride DECIMAL(38,0)/HUGEINT
    * intermediates, so the formula is exact to n ≈ 3·10¹⁵ rows on the
    * FULL corpus — no sampling caveat needed (the all-BIGINT form it
    * replaces overflowed at n ≈ 3·10⁶).
    *
    * Scale shape: ONE corpus pass aggregates (bin → n, pos); every
    * downstream step (prefix sums, candidate scoring, argmin) runs on
    * the bin table — a few hundred rows regardless of corpus size.
    */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    val hist = orders(spark, dir)
      .select(
        expr(s"CAST(round(o_totalprice * 100) AS BIGINT) DIV ${StumpBinCents}L")
          .as("bin"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = hist
      .withColumn("nl", sum(col("n")).over(w))
      .withColumn("pl", sum(col("p")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("n")).as("tot_n"),
        sum(col("p")).as("tot_p"))))
      .filter(col("nl") > 0 && col("nl") < col("tot_n"))
      .withColumn("nr", col("tot_n") - col("nl"))
      .withColumn("pr", col("tot_p") - col("pl"))
      .withColumn("imp_l", expr(giniPpmSql("pl", "nl")))
      .withColumn("imp_r", expr(giniPpmSql("pr", "nr")))
      // the weighted sum rides decimal too: nl·imp_l ≤ n·1e6 was its
      // own i64 ceiling at n ≈ 9·10¹²
      .withColumn("wg_ppm", expr("(CAST(nl AS DECIMAL(20,0)) * imp_l" +
        " + CAST(nr AS DECIMAL(20,0)) * imp_r) DIV tot_n"))
    scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("wg_ppm").asc, col("bin").asc)))
      .filter(col("rn") === 1)
      .select(col("bin").as("split_bin"),
        ((col("bin") + 1) * StumpBinCents).as("threshold_cents"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        col("nr").as("n_right"), col("pr").as("pos_right"),
        col("wg_ppm").as("weighted_gini_ppm"),
        expr(giniPpmSql("tot_p", "tot_n")).as("base_gini_ppm"))
      .withColumn("gain_ppm", col("base_gini_ppm") - col("weighted_gini_ppm"))
  }

  val decisionStumpSql: String =
    s"""WITH hist AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // $StumpBinCents AS bin,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS p
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS tot_n, CAST(sum(p) AS BIGINT) AS tot_p
      |  FROM hist
      |), cum AS (
      |  SELECT bin,
      |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS nl,
      |    CAST(sum(p) OVER (ORDER BY bin) AS BIGINT) AS pl
      |  FROM hist
      |), scored AS (
      |  SELECT bin, nl, pl, tot_n - nl AS nr, tot_p - pl AS pr, tot_n, tot_p,
      |    ${giniPpmDuck("pl", "nl")} AS imp_l,
      |    ${giniPpmDuck("(tot_p - pl)", "(tot_n - nl)")} AS imp_r
      |  FROM cum CROSS JOIN tot
      |  WHERE nl > 0 AND nl < tot_n
      |), ranked AS (
      |  SELECT *, CAST((CAST(nl AS HUGEINT) * imp_l
      |      + CAST(nr AS HUGEINT) * imp_r) // tot_n AS BIGINT) AS wg_ppm
      |  FROM scored
      |)
      |SELECT bin AS split_bin,
      |  (bin + 1) * $StumpBinCents AS threshold_cents,
      |  nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
      |  wg_ppm AS weighted_gini_ppm,
      |  ${giniPpmDuck("tot_p", "tot_n")} AS base_gini_ppm,
      |  ${giniPpmDuck("tot_p", "tot_n")} - wg_ppm AS gain_ppm
      |FROM ranked
      |ORDER BY wg_ppm ASC, bin ASC
      |LIMIT 1""".stripMargin

  /** Extended-price bin width (cents) for [[featureImportance]]. */
  val FiPriceBinCents = 500000L

  /** Split-gain feature ranking: the best decision-stump split is
    * computed for THREE lineitem features at once (extendedprice /
    * quantity / discount, each exactly integer-binned) against the
    * label returnflag = 'R', and features are ranked by Gini gain —
    * the single-tree feature-importance signal every boosted-tree
    * trainer reports, in its scalable histogram form.
    *
    * Scale shape: ONE corpus pass — each row explodes into its three
    * (feature, bin) incidences scan-side, one shuffle aggregates the
    * joint histogram; prefix sums, split scoring and both argmins
    * (per-feature best split, cross-feature rank) run on the
    * histogram table (Σ bins, corpus-size-independent). Same exact
    * ppm arithmetic as [[decisionStump]] — [[giniPpmSql]]'s decimal
    * intermediates, exact on the full corpus to n ≈ 3·10¹⁵ rows.
    */
  def featureImportance(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select(
      expr(s"CAST(round(l_extendedprice * 100) AS BIGINT) DIV ${FiPriceBinCents}L")
        .as("b_price"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("b_qty"),
      expr("CAST(round(l_discount * 100) AS BIGINT)").as("b_disc"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
    val hist = li.select(explode(array(
        struct(lit("extendedprice").as("feature"), col("b_price").as("bin")),
        struct(lit("quantity").as("feature"), col("b_qty").as("bin")),
        struct(lit("discount").as("feature"), col("b_disc").as("bin"))))
        .as("fb"), col("pos"))
      .groupBy(col("fb.feature").as("feature"), col("fb.bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val cumW = Window.partitionBy(col("feature")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy(col("feature"))
      .agg(sum(col("n")).as("tot_n"), sum(col("p")).as("tot_p"))
    val scored = hist
      .withColumn("nl", sum(col("n")).over(cumW))
      .withColumn("pl", sum(col("p")).over(cumW))
      .join(tot, Seq("feature"))
      .filter(col("nl") > 0 && col("nl") < col("tot_n"))
      .withColumn("nr", col("tot_n") - col("nl"))
      .withColumn("pr", col("tot_p") - col("pl"))
      .withColumn("imp_l", expr(giniPpmSql("pl", "nl")))
      .withColumn("imp_r", expr(giniPpmSql("pr", "nr")))
      .withColumn("wg_ppm", expr("(CAST(nl AS DECIMAL(20,0)) * imp_l" +
        " + CAST(nr AS DECIMAL(20,0)) * imp_r) DIV tot_n"))
      .withColumn("base_ppm", expr(giniPpmSql("tot_p", "tot_n")))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("feature"))
        .orderBy(col("wg_ppm").asc, col("bin").asc)))
      .filter(col("rn") === 1)
      .withColumn("gain_ppm", col("base_ppm") - col("wg_ppm"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("gain_ppm").desc, col("feature").asc)))
      .select(col("rank"), col("feature"), col("bin").as("split_bin"),
        col("nl").as("n_left"), col("wg_ppm").as("weighted_gini_ppm"),
        col("gain_ppm"))
      .orderBy(col("rank"))
  }

  val featureImportanceSql: String =
    s"""WITH rows_ AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // $FiPriceBinCents
      |      AS b_price,
      |    CAST(round(l_quantity) AS BIGINT) AS b_qty,
      |    CAST(round(l_discount * 100) AS BIGINT) AS b_disc,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      |  FROM lineitem
      |), hist AS (
      |  SELECT feature, bin, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(pos) AS BIGINT) AS p
      |  FROM (
      |    SELECT 'extendedprice' AS feature, b_price AS bin, pos FROM rows_
      |    UNION ALL
      |    SELECT 'quantity', b_qty, pos FROM rows_
      |    UNION ALL
      |    SELECT 'discount', b_disc, pos FROM rows_
      |  ) GROUP BY 1, 2
      |), tot AS (
      |  SELECT feature, CAST(sum(n) AS BIGINT) AS tot_n,
      |    CAST(sum(p) AS BIGINT) AS tot_p
      |  FROM hist GROUP BY 1
      |), cum AS (
      |  SELECT feature, bin,
      |    CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS nl,
      |    CAST(sum(p) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT) AS pl
      |  FROM hist
      |), scored AS (
      |  SELECT cum.feature, bin, nl, pl, tot_n - nl AS nr, tot_p - pl AS pr,
      |    tot_n, tot_p,
      |    ${giniPpmDuck("pl", "nl")} AS imp_l,
      |    ${giniPpmDuck("(tot_p - pl)", "(tot_n - nl)")} AS imp_r
      |  FROM cum JOIN tot USING (feature)
      |  WHERE nl > 0 AND nl < tot_n
      |), best AS (
      |  SELECT *, CAST((CAST(nl AS HUGEINT) * imp_l
      |      + CAST(nr AS HUGEINT) * imp_r) // tot_n AS BIGINT) AS wg_ppm,
      |    ${giniPpmDuck("tot_p", "tot_n")} AS base_ppm,
      |    row_number() OVER (PARTITION BY feature
      |      ORDER BY CAST((CAST(nl AS HUGEINT) * imp_l
      |        + CAST(nr AS HUGEINT) * imp_r) // tot_n AS BIGINT) ASC,
      |        bin ASC) AS rn
      |  FROM scored
      |)
      |SELECT row_number() OVER (ORDER BY base_ppm - wg_ppm DESC, feature ASC)
      |    AS rank,
      |  feature, bin AS split_bin, nl AS n_left,
      |  wg_ppm AS weighted_gini_ppm, base_ppm - wg_ppm AS gain_ppm
      |FROM best WHERE rn = 1
      |ORDER BY rank""".stripMargin

  /** Weight-of-evidence / information-value audit of the price→
    * priority relationship over the [[StumpBinCents]] histogram —
    * the classic feature-screening readout (credit-scoring lineage):
    * WOE(bin) = ln(P(bin|pos)/P(bin|neg)) says WHERE the feature
    * separates the classes; Σ (P(bin|pos) − P(bin|neg))·WOE — the
    * information value — says HOW MUCH, on the same
    * <0.02 useless / >0.3 strong scale practitioners quote.
    *
    * Fixed-point discipline: Laplace-smoothed class-conditional
    * ratios ((n+1)/(T+B)) collapse into ONE ln per histogram bin
    * (micro-nats, floored once); the probability difference is a
    * subtraction of two independently-floored nonneg ppm terms; the
    * IV contribution is their integer product (micro·ppm), summed
    * raw — no division of a possibly-negative value anywhere.
    *
    * Scale shape: identical to [[decisionStump]] — one corpus pass
    * into the bin histogram, everything else bin-table-sized.
    */
  def woeIv(spark: SparkSession, dir: String): DataFrame = {
    val hist = orders(spark, dir)
      .select(
        expr(s"CAST(round(o_totalprice * 100) AS BIGINT) DIV ${StumpBinCents}L")
          .as("bin"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(sum(col("pos")).as("np"),
        sum(lit(1L) - col("pos")).as("nn"))
    val tot = hist.agg(sum(col("np")).as("tp"), sum(col("nn")).as("tn"),
      count(lit(1)).as("b"))
    hist.crossJoin(broadcast(tot))
      .withColumn("woe_micro",
        floor(lit(1e6) * log(
          ((col("np") + 1).cast("double") / (col("tp") + col("b"))) /
            ((col("nn") + 1).cast("double") / (col("tn") + col("b")))))
          .cast("long"))
      .withColumn("dp_ppm", expr(
        "(np * 1000000L) DIV tp - (nn * 1000000L) DIV tn"))
      .withColumn("iv_contrib", col("dp_ppm") * col("woe_micro"))
      .select(col("bin"), col("np").as("n_pos"), col("nn").as("n_neg"),
        col("woe_micro"), col("iv_contrib"))
      .orderBy(col("bin"))
  }

  val woeIvSql: String =
    s"""WITH hist AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // $StumpBinCents
      |      AS bin,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |             THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |             THEN 0 ELSE 1 END) AS BIGINT) AS nn
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nn) AS BIGINT) AS tn,
      |    CAST(count(*) AS BIGINT) AS b
      |  FROM hist
      |)
      |SELECT bin, np AS n_pos, nn AS n_neg,
      |  CAST(floor(1e6 * ln(
      |    (CAST(np + 1 AS DOUBLE) / (tp + b)) /
      |    (CAST(nn + 1 AS DOUBLE) / (tn + b)))) AS BIGINT) AS woe_micro,
      |  ((np * 1000000) // tp - (nn * 1000000) // tn) *
      |    CAST(floor(1e6 * ln(
      |      (CAST(np + 1 AS DOUBLE) / (tp + b)) /
      |      (CAST(nn + 1 AS DOUBLE) / (tn + b)))) AS BIGINT) AS iv_contrib
      |FROM hist CROSS JOIN tot
      |ORDER BY bin""".stripMargin

  /** Split-conformal miscoverage α in percent (10 ⇒ 90% intervals). */
  val ConformalAlphaPct = 10L

  /** Split-conformal prediction intervals (Vovk et al.; Lei et al.
    * 2018): a three-way deterministic split of the event stream —
    * train fits the per-type mean predictor, calibration takes the
    * ⌈(n+1)(1−α)⌉-th order statistic of absolute residuals as the
    * interval half-width, test measures empirical coverage — the
    * distribution-free guarantee (coverage ≥ 1−α in expectation)
    * every production prediction-interval service is built on.
    *
    * Exactness: values in micro-dollars, the predictor one positive
    * DIV, the quantile an exact ORDER STATISTIC (no interpolation),
    * the ceil an integer identity ((n+1)·(100−α)+99) DIV 100, and
    * coverage one final ppm DIV — bit-portable end to end.
    *
    * Scale shape: one corpus pass tags splits scan-side; the quantile
    * is a per-type rank (per-type calibration rows in one task is the
    * textbook shape — the tested scale path is [[conformalSketch]],
    * which swaps the rank for the histogram-sketch walk and whose ε
    * the spec pins at one bin width); test scoring is a broadcast
    * join of the per-type constants.
    */
  def conformal(spark: SparkSession, dir: String): DataFrame = {
    val (ev, mean) = conformalBase(spark, dir)
    conformalReadout(ev, mean, conformalQhatExact(ev, mean))
  }

  /** Split tagging + per-type mean predictor — the front shared by the
    * exact and sketch conformal variants, factored so their qhat
    * definitions are the ONLY difference.
    */
  private def conformalBase(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = events(spark, dir).select(col("event_type"),
      (col("event_id") % 3).as("fold"),
      (round(col("value") * 100).cast("long") * 10000L).as("v_micro"))
    val mean = ev.filter(col("fold") === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_train"), sum(col("v_micro")).as("s"))
      .withColumn("mean_micro", expr("s DIV n_train"))
      .select(col("event_type"), col("n_train"), col("mean_micro"))
      // r15: |types| rows consumed by the residual join AND the
      // readout — un-checkpointed, each consumer re-ran the fold-0
      // corpus aggregate (plan sweep: q_conformal_sketch carried 12
      // events scans)
      .localCheckpoint()
    (ev, mean)
  }

  /** Per-type calibration residuals (event_type, r) — fold-1 rows
    * against the fold-0 predictor.
    */
  private def conformalResiduals(ev: DataFrame, mean: DataFrame): DataFrame =
    ev.filter(col("fold") === 1)
      .join(broadcast(mean.select(col("event_type"), col("mean_micro"))),
        Seq("event_type"))
      .withColumn("r", abs(col("v_micro") - col("mean_micro")))
      .select(col("event_type"), col("r"))

  /** Per-type calibration size and conformal rank
    * k = ⌈(n+1)(1−α)⌉ from any (event_type, …) calibration frame.
    */
  private def conformalNCal(cal: DataFrame): DataFrame =
    cal.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr(
        s"((n_cal + 1) * (100 - $ConformalAlphaPct) + 99) DIV 100"))

  /** qhat as the exact k-th order statistic of the residuals.
    * Round 10: the per-type rank rides
    * [[graft.operators.Scale.distributedGroupedRowNumber]] instead of
    * a `partitionBy(event_type)` window — the calibration frame is
    * HALF THE CORPUS and event types are a fixed domain, so the
    * window capped parallelism at |types| with corpus/|types| rows
    * per task. Ties on r need no tie-break column: whichever tied row
    * lands at rank k carries the same r, so the selected qhat (the
    * only thing read out) is tie-order-invariant — and the oracle's
    * window form stays the gate.
    */
  private def conformalQhatExact(ev: DataFrame, mean: DataFrame): DataFrame = {
    val cal = graft.operators.Scale.distributedGroupedRowNumber(
      conformalResiduals(ev, mean),
      col("event_type"), col("r"), col("r"), "rn")
    // examined r15, left: counting the RANKED frame looks like wasted
    // rank machinery, but distributedGroupedRowNumber localCheckpoints
    // its input, so this count reads the checkpoint — re-deriving
    // n_cal from the raw residuals instead re-ran the scan + join
    // (measured: 4 → 8 events scans in the final plan)
    cal.join(broadcast(conformalNCal(cal)), Seq("event_type"))
      .filter(col("rn") === least(col("k"), col("n_cal")))
      .select(col("event_type"), col("n_cal"), col("r").as("qhat_micro"))
  }

  /** Test-fold coverage readout shared by both variants: qhat must be
    * (event_type, n_cal, qhat_micro).
    */
  private def conformalReadout(ev: DataFrame, mean: DataFrame,
                               qhat: DataFrame): DataFrame =
    ev.filter(col("fold") === 2)
      .join(broadcast(mean), Seq("event_type"))
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy(col("event_type"), col("n_train"), col("n_cal"),
        col("mean_micro"), col("qhat_micro"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("v_micro") - col("mean_micro")) <=
          col("qhat_micro"), 1L).otherwise(0L)).as("n_in"))
      .withColumn("coverage_ppm", expr("(n_in * 1000000L) DIV n_test"))
      .select(col("event_type"), col("n_train"), col("n_cal"),
        col("n_test"), col("mean_micro"), col("qhat_micro"),
        col("coverage_ppm"))
      .orderBy(col("event_type"))

  val conformalSql: String =
    s"""WITH ev AS (
      |  SELECT event_type, event_id % 3 AS fold,
      |    CAST(round(value * 100) AS BIGINT) * 10000 AS v_micro
      |  FROM events
      |), mean_ AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
      |    CAST(sum(v_micro) AS BIGINT) // count(*) AS mean_micro
      |  FROM ev WHERE fold = 0 GROUP BY 1
      |), cal AS (
      |  SELECT ev.event_type, abs(v_micro - mean_micro) AS r,
      |    row_number() OVER (PARTITION BY ev.event_type
      |      ORDER BY abs(v_micro - mean_micro) ASC) AS rn
      |  FROM ev JOIN mean_ USING (event_type) WHERE fold = 1
      |), ncal AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
      |    ((count(*) + 1) * (100 - $ConformalAlphaPct) + 99) // 100 AS k
      |  FROM cal GROUP BY 1
      |), qhat AS (
      |  SELECT cal.event_type, n_cal, r AS qhat_micro
      |  FROM cal JOIN ncal USING (event_type)
      |  WHERE rn = least(k, n_cal)
      |)
      |SELECT ev.event_type, n_train, n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test, mean_micro, qhat_micro,
      |  (CAST(sum(CASE WHEN abs(v_micro - mean_micro) <= qhat_micro
      |           THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*)
      |    AS coverage_ppm
      |FROM ev
      |JOIN mean_ USING (event_type)
      |JOIN qhat ON qhat.event_type = ev.event_type
      |WHERE fold = 2
      |GROUP BY 1, 2, 3, 5, 6
      |ORDER BY ev.event_type""".stripMargin

  /** Residual-histogram bin width (micro-dollars) for
    * [[conformalSketch]] — 10 whole dollars of absolute residual per
    * bin, so qhat's sketch error is ≤ $10 by construction.
    */
  val ConformalSkqWidth = 10000000L

  /** [[conformal]] with the calibration quantile taken from the
    * mergeable histogram sketch instead of the exact per-type rank —
    * the round-8 docstring's "becomes the sketch-quantile walk at
    * scale" made real and oracle-gated (same recipe as
    * [[sketchQuantiles]]: fixed-width bins, nearest-rank bin pick,
    * integer interpolation inside the bin). The spec pins
    * |qhat_sketch − qhat_exact| ≤ [[ConformalSkqWidth]] per type.
    *
    * Scale shape: the sketch state is (event_type, bin → count) —
    * value-domain-bounded and elementwise-addable, so the calibration
    * fold never needs a per-type sort or rank; the cumulative walk
    * runs per type over ≤ range/width bins (a PARTITIONED window on a
    * bounded frame), and everything else is the shared conformal
    * machinery. Interpolation is integer DIV, so both engines emit
    * identical micro-dollar qhats and the coverage ppm stays
    * hash-exact.
    */
  def conformalSketch(spark: SparkSession, dir: String): DataFrame = {
    val (ev, mean) = conformalBase(spark, dir)
    val calR = conformalResiduals(ev, mean)
    val bins = calR
      .select(col("event_type"), expr(s"r DIV $ConformalSkqWidth").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      // r15: types×bins-bounded sketch state, consumed by the
      // cumulative walk AND the n_cal derivation below — without the
      // checkpoint each consumer re-ran the calibration scan + join
      .localCheckpoint()
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(Window
        .partitionBy(col("event_type")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_cum", col("cum") - col("cnt"))
    // r15: n_cal = Σ bin counts — pure arithmetic over the
    // checkpointed sketch, not a second pass over the residuals
    val nCal = bins.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_cal"))
      .withColumn("k", expr(
        s"((n_cal + 1) * (100 - $ConformalAlphaPct) + 99) DIV 100"))
    val qhat = cum.join(broadcast(nCal), Seq("event_type"))
      .withColumn("kk", least(col("k"), col("n_cal")))
      .filter(col("prev_cum") < col("kk") && col("kk") <= col("cum"))
      .withColumn("qhat_micro", expr(
        s"bin * $ConformalSkqWidth + " +
          s"($ConformalSkqWidth * (kk - prev_cum)) DIV cnt"))
      .select(col("event_type"), col("n_cal"), col("qhat_micro"))
    conformalReadout(ev, mean, qhat)
  }

  val conformalSketchSql: String =
    s"""WITH ev AS (
      |  SELECT event_type, event_id % 3 AS fold,
      |    CAST(round(value * 100) AS BIGINT) * 10000 AS v_micro
      |  FROM events
      |), mean_ AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
      |    CAST(sum(v_micro) AS BIGINT) // count(*) AS mean_micro
      |  FROM ev WHERE fold = 0 GROUP BY 1
      |), calr AS (
      |  SELECT ev.event_type, abs(v_micro - mean_micro) AS r
      |  FROM ev JOIN mean_ USING (event_type) WHERE fold = 1
      |), bins AS (
      |  SELECT event_type, r // $ConformalSkqWidth AS bin,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM calr GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, bin, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
      |      AS BIGINT) AS cum
      |  FROM bins
      |), ncal AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
      |    ((count(*) + 1) * (100 - $ConformalAlphaPct) + 99) // 100 AS k
      |  FROM calr GROUP BY 1
      |), qhat AS (
      |  SELECT event_type, n_cal,
      |    bin * $ConformalSkqWidth +
      |      ($ConformalSkqWidth * (least(k, n_cal) - (cum - cnt))) // cnt
      |      AS qhat_micro
      |  FROM cum JOIN ncal USING (event_type)
      |  WHERE cum - cnt < least(k, n_cal) AND least(k, n_cal) <= cum
      |)
      |SELECT ev.event_type, n_train, n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test, mean_micro, qhat_micro,
      |  (CAST(sum(CASE WHEN abs(v_micro - mean_micro) <= qhat_micro
      |           THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*)
      |    AS coverage_ppm
      |FROM ev
      |JOIN mean_ USING (event_type)
      |JOIN qhat ON qhat.event_type = ev.event_type
      |WHERE fold = 2
      |GROUP BY 1, 2, 3, 5, 6
      |ORDER BY ev.event_type""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_conformal" -> Query(conformal, conformalSql),
    "q_conformal_sketch" -> Query(conformalSketch, conformalSketchSql),
    "q_decision_stump" -> Query(decisionStump, decisionStumpSql),
    "q_woe_iv" -> Query(woeIv, woeIvSql),
    "q_feature_importance" -> Query(featureImportance, featureImportanceSql),
    "q_bootstrap_ci" -> Query(bootstrapCi, bootstrapCiSql),
    "q_length_resample" -> Query(lengthResample, lengthResampleSql),
    "q_snapshot_drift" -> Query(snapshotDrift, snapshotDriftSql),
    "q_psi_drift" -> Query(psiDrift, psiDriftSql),
    "q_ks_drift" -> Query(ksDrift, ksDriftSql),
    "q_crosstab_chi2" -> Query(segmentRegionCrosstab, segmentRegionCrosstabSql),
    "q_value_heatmap" -> Query(valueHeatmap, valueHeatmapSql),
    "q_price_deciles" -> Query(priceDeciles, priceDecilesSql),
    "q_shipping_lag" -> Query(shippingLag, shippingLagSql),
    "q_price_histogram" -> Query(priceHistogram, priceHistogramSql),
    "q_benford_digits" -> Query(benfordDigits, benfordDigitsSql),
    "q_sketch_quantiles" -> Query(sketchQuantiles, sketchQuantilesSql),
    "q_order_corr_stats" -> Query(orderCorrStats, orderCorrStatsSql),
    "q_priority_metrics_unpivot" -> Query(priorityMetricsUnpivot, priorityMetricsUnpivotSql),
    "q_part_fuzzy_match" -> Query(partFuzzyMatch(_, _), partFuzzyMatchSql),
    "q_damerau_match" -> Query(damerauMatch, damerauMatchSql),
    "q_entity_clusters" -> Query(entityClusters, entityClustersSql),
    "q_entity_clusters_lsh" -> Query(entityClustersLsh, entityClustersLshSql),
    "q_ols_normal_eq" -> Query(olsNormalEq, olsNormalEqSql),
    "q_anova_priority" -> Query(anovaPriority, anovaPrioritySql),
    "q_weighted_median" -> Query(weightedMedian, weightedMedianSql)
  )
}
