package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.Sources
import graft.{Query, QueryModule}

/** Privacy / pseudonymization operators — the de-identification pass a
  * training-data pipeline runs before a dataset leaves its enclave.
  *
  * Scale notes (100 TB): masking is a pure scan-side projection (no
  * shuffle at all); the k-anonymity audit adds ONE hash shuffle on the
  * quasi-identifier tuple — the same shape as any groupBy, so skew
  * handling (salting, AQE) applies unchanged. Nothing here ever
  * carries the raw identifier past the projection that hashes it.
  */
object Privacy extends QueryModule {

  /** Stand-in for the deployment secret (see [[piiMask]] scaladoc). */
  val PseudoSalt = "graft-pii-v1:"

  /** Pseudonymize the customer dimension and audit its re-identification
    * risk in one pass:
    *  - `pseudo_id`: 64-bit md5 prefix of SALT + key — a stable join
    *    key across releases. The salt below is a fixture constant so
    *    the DuckDB oracle can reproduce it; in production it is the
    *    secret a KMS injects (HMAC), because an UNSALTED hash of an
    *    enumerable key is reversible by brute-force enumeration.
    *  - `name_token`: salted md5 of c_name. TPC-H names embed the row
    *    key ("Customer#000000001"), so the name is a DIRECT identifier
    *    — tokenized, not truncated, same salt rule.
    *  - `balance_band`: c_acctbal generalized to its 100-wide band
    *    (k-anonymity generalization, keeps the column analytically
    *    useful).
    *  - `group_k`: the anonymity-set size of the row's quasi-identifier
    *    tuple (nation, segment, band) — rows with small `group_k` are
    *    the re-identification risk a release gate would block on.
    */
  def piiMask(spark: SparkSession, dir: String): DataFrame = {
    val masked = Sources.customer(spark, dir).select(
      substring(md5(concat(lit(PseudoSalt),
        col("c_custkey").cast("string"))), 1, 16).as("pseudo_id"),
      md5(concat(lit(PseudoSalt), col("c_name"))).as("name_token"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      (floor(col("c_acctbal") / 100) * 100).cast("long").as("balance_band"))
    masked
      .withColumn("group_k", count(lit(1)).over(
        Window.partitionBy(col("nation"), col("segment"),
          col("balance_band"))))
      .orderBy(col("pseudo_id"))
  }

  val piiMaskSql: String =
    s"""WITH masked AS (
      |  SELECT
      |    substr(md5('$PseudoSalt' || CAST(c_custkey AS VARCHAR)), 1, 16) AS pseudo_id,
      |    md5('$PseudoSalt' || c_name) AS name_token,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    c_mktsegment AS segment,
      |    CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS balance_band
      |  FROM customer
      |)
      |SELECT pseudo_id, name_token, nation, segment, balance_band,
      |  count(*) OVER (PARTITION BY nation, segment, balance_band) AS group_k
      |FROM masked
      |ORDER BY pseudo_id""".stripMargin

  /** Minimum distinct sensitive values for a group to count as
    * diverse (the "l" of l-diversity) — part of the audit contract.
    */
  val LDiv = 3L

  /** l-diversity audit of the [[piiMask]] release: k-anonymity alone
    * does not stop attribute disclosure — a group of 50
    * indistinguishable rows that all share ONE sensitive value still
    * leaks it. Per quasi-identifier group (nation, segment,
    * balance_band): the anonymity-set size k, the number of distinct
    * sensitive values l (the exact balance the band generalizes —
    * precisely the attribute the release withholds), and whether the
    * group clears [[LDiv]]. A release gate blocks on diverse = 0
    * rows the same way it blocks on small group_k.
    *
    * Scale shape: one hash shuffle on the QI tuple (count + distinct
    * count ride the same aggregation); group count is bounded by the
    * generalized domain, not the table.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    Sources.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        (floor(col("c_acctbal") / 100) * 100).cast("long").as("balance_band"),
        col("c_acctbal"))
      .groupBy(col("nation"), col("segment"), col("balance_band"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("c_acctbal")).as("l_distinct"))
      .withColumn("diverse",
        when(col("l_distinct") >= LDiv, 1L).otherwise(0L))
      .orderBy(col("nation"), col("segment"), col("balance_band"))

  val lDiversitySql: String =
    s"""SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |  c_mktsegment AS segment,
      |  CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS balance_band,
      |  count(*) AS k,
      |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
      |  CAST(CASE WHEN count(DISTINCT c_acctbal) >= $LDiv
      |       THEN 1 ELSE 0 END AS BIGINT) AS diverse
      |FROM customer
      |GROUP BY 1, 2, 3
      |ORDER BY nation, segment, balance_band""".stripMargin

  /** Cumulative CDF ladder of the two-sided geometric mechanism with
    * α = 1/2 (ε = ln 2 for a sensitivity-1 count): P(0) = 1/3, then
    * ±k each carry (1/3)·2^−k, laddered 0, −1, +1, −2, +2, …, −7, +7;
    * the residual tail (≈0.52%) splits EVENLY between −8 and +8
    * (final threshold below, else +8), so the truncated distribution
    * stays symmetric — zero-mean noise, no bias from the clamp.
    * Literal strings shared verbatim with the oracle SQL: both
    * engines parse them to identical binary64 values, so the noise is
    * a pure function of the md5-uniform draw.
    */
  val GeoCdf: Seq[(String, Int)] = Seq(
    "0.3333333333333333" -> 0, "0.5" -> -1, "0.6666666666666666" -> 1,
    "0.75" -> -2, "0.8333333333333334" -> 2, "0.875" -> -3,
    "0.9166666666666666" -> 3, "0.9375" -> -4, "0.9583333333333334" -> 4,
    "0.96875" -> -5, "0.9791666666666666" -> 5, "0.984375" -> -6,
    "0.9895833333333334" -> 6, "0.9921875" -> -7,
    "0.9947916666666666" -> 7, "0.9973958333333333" -> -8)

  /** Differentially-private count release — the discrete (two-sided
    * geometric) mechanism, the integer-exact classical DP primitive:
    * per (priority, order-year) cell, the exact count plus geometric
    * noise drawn deterministically from the md5-uniform of the CELL
    * KEY through [[GeoCdf]], then clamped at zero (counts cannot go
    * negative — standard post-processing, privacy-free). ε = ln 2 per
    * cell; |noise| ≤ 8 by symmetric truncation (contract, documented
    * in [[GeoCdf]]). The certification query emits n_true and noise
    * alongside n_noisy to make the mechanism auditable — a production
    * release projects n_noisy only (and uses a secret seed in the
    * draw key, exactly like [[PseudoSalt]]'s KMS note). Aggregation
    * first (one partial-agg shuffle), noise as a scan of the tiny
    * cell table: mechanism cost is independent of fact size.
    */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    val base = Sources.orders(spark, dir)
      .groupBy(col("o_orderpriority"),
        year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_true"))
    val u = graft.operators.Scale.md5Uniform(
      concat(lit("dp:"), col("o_orderpriority"), lit(":"),
        col("o_year").cast("string")))
    val noise = GeoCdf.reverse
      .foldLeft(lit(8L): org.apache.spark.sql.Column) {
        case (tail, (t, k)) =>
          when(u < lit(t.toDouble), k.toLong).otherwise(tail)
      }
    base.withColumn("noise", noise)
      .withColumn("n_noisy",
        greatest(col("n_true") + col("noise"), lit(0L)))
      .orderBy(col("o_orderpriority"), col("o_year"))
  }

  val dpCountsSql: String = {
    val uni = graft.operators.Scale.md5UniformSql(
      "'dp:' || o_orderpriority || ':' || CAST(o_year AS VARCHAR)")
    val cases = GeoCdf
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString(" ")
    s"""WITH base AS (
      |  SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year,
      |    count(*) AS n_true
      |  FROM orders GROUP BY 1, 2
      |), drawn AS (
      |  SELECT *, $uni AS u FROM base
      |), noised AS (
      |  SELECT o_orderpriority, o_year, n_true,
      |    CAST(CASE $cases ELSE 8 END AS BIGINT) AS noise
      |  FROM drawn
      |)
      |SELECT o_orderpriority, o_year, n_true, noise,
      |  greatest(n_true + noise, 0) AS n_noisy
      |FROM noised
      |ORDER BY o_orderpriority, o_year""".stripMargin
  }

  /** Per-user contribution bounds for [[dpUserCounts]]: a customer
    * counts at most [[DpMaxPerCell]] orders inside any one cell (L∞)
    * and contributes to at most [[DpMaxCellsPerUser]] cells (L0) —
    * user-level sensitivity ≤ L0·L∞ = 6.
    */
  val DpMaxCellsPerUser = 3
  val DpMaxPerCell = 2L

  /** USER-level DP count release — the contribution-bounding step
    * [[dpCounts]] (event-level) omits, and the one that actually
    * bounds a user's influence in training-data statistics: each
    * customer's per-cell order count is clipped at [[DpMaxPerCell]],
    * then each customer keeps only [[DpMaxCellsPerUser]] cells —
    * selected by the md5-uniform of (customer, cell), the
    * deterministic twin of the mechanism's random cell sampling (and
    * crucially INDEPENDENT of the data values, so the selection
    * itself leaks nothing). The bounded counts then draw the same
    * truncated-geometric noise as [[dpCounts]] (larger sensitivity ⇒
    * a real release would scale ε accordingly; the mechanism shape is
    * identical). Emits raw vs bounded vs noisy per cell — the
    * clipping loss is part of the certified output.
    *
    * Scale shape: one shuffle to (customer, cell) counts; the L0 cut
    * is a per-customer window over ≤ |cells| rows (priority × year —
    * dozens, corpus-size-independent); the release is a cell-count
    * aggregate.
    */
  def dpUserCounts(spark: SparkSession, dir: String): DataFrame = {
    val perCell = Sources.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderpriority"),
        year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n"))
      .withColumn("contrib", least(col("n"), lit(DpMaxPerCell)))
    val sel = graft.operators.Scale.md5Uniform(
      concat(lit("dpsel:"), col("o_custkey"), lit(":"),
        col("o_orderpriority"), lit(":"), col("o_year").cast("string")))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(sel.asc, col("o_orderpriority").asc, col("o_year").asc)
    val bounded = perCell
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DpMaxCellsPerUser)
      .groupBy(col("o_orderpriority"), col("o_year"))
      .agg(sum(col("contrib")).as("n_bounded"))
    val raw = Sources.orders(spark, dir)
      .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_raw"))
    val u = graft.operators.Scale.md5Uniform(
      concat(lit("dpu:"), col("o_orderpriority"), lit(":"),
        col("o_year").cast("string")))
    val noise = GeoCdf.reverse
      .foldLeft(lit(8L): org.apache.spark.sql.Column) {
        case (tail, (t, k)) =>
          when(u < lit(t.toDouble), k.toLong).otherwise(tail)
      }
    raw.join(bounded, Seq("o_orderpriority", "o_year"), "left")
      .withColumn("n_bounded", coalesce(col("n_bounded"), lit(0L)))
      .withColumn("noise", noise)
      .withColumn("n_noisy", greatest(col("n_bounded") + col("noise"), lit(0L)))
      .orderBy(col("o_orderpriority"), col("o_year"))
  }

  /** DuckDB twin: same clip, same md5 cell selection, same noise. */
  val dpUserCountsSql: String = {
    val sel = graft.operators.Scale.md5UniformSql(
      "'dpsel:' || o_custkey || ':' || o_orderpriority || ':' || CAST(o_year AS VARCHAR)")
    val uni = graft.operators.Scale.md5UniformSql(
      "'dpu:' || o_orderpriority || ':' || CAST(o_year AS VARCHAR)")
    val cases = GeoCdf
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString(" ")
    s"""WITH per_cell AS (
      |  SELECT o_custkey, o_orderpriority,
      |    CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
      |    least(count(*), $DpMaxPerCell) AS contrib
      |  FROM orders GROUP BY 1, 2, 3
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY $sel ASC, o_orderpriority ASC, o_year ASC) AS rk
      |  FROM per_cell
      |), bounded AS (
      |  SELECT o_orderpriority, o_year,
      |    CAST(sum(contrib) AS BIGINT) AS n_bounded
      |  FROM ranked WHERE rk <= $DpMaxCellsPerUser
      |  GROUP BY 1, 2
      |), raw AS (
      |  SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year,
      |    count(*) AS n_raw
      |  FROM orders GROUP BY 1, 2
      |), drawn AS (
      |  SELECT r.o_orderpriority, r.o_year, r.n_raw,
      |    COALESCE(b.n_bounded, 0) AS n_bounded, $uni AS u
      |  FROM raw r LEFT JOIN bounded b USING (o_orderpriority, o_year)
      |), noised AS (
      |  SELECT o_orderpriority, o_year, n_raw, n_bounded,
      |    CAST(CASE $cases ELSE 8 END AS BIGINT) AS noise
      |  FROM drawn
      |)
      |SELECT o_orderpriority, o_year, n_raw, n_bounded, noise,
      |  greatest(n_bounded + noise, 0) AS n_noisy
      |FROM noised
      |ORDER BY o_orderpriority, o_year""".stripMargin
  }

  /** t-closeness threshold in ppm (t = 0.2) — release-gate contract,
    * interpolated into both engines.
    */
  val TClosePpm = 200000L

  /** t-closeness audit — the third leg of the classic anonymity
    * ladder (k-anonymity bounds re-identification, l-diversity bounds
    * bare attribute disclosure, t-closeness bounds DISTRIBUTIONAL
    * disclosure: a group whose sensitive values are diverse but
    * skewed far from the population still leaks "this group is
    * richer"). Per QI group (nation, segment): the Earth Mover's
    * Distance between the group's balance-band distribution and the
    * global one, under the ordered-distance ground metric — for
    * ordered bins EMD = Σ_b |cumshare_g(b) − cumshare_all(b)| / (m−1)
    * (Li, Li & Venkatasubramanian 2007, ICDE). Everything is ppm
    * fixed point: cumulative counts are exact integers, each share is
    * one positive-operand DIV, the final /(m−1) likewise — no floats
    * anywhere, so both engines emit identical BIGINTs.
    *
    * Scale shape: one hash shuffle on (QI, band); the dense
    * group×band grid, the cumulative windows and the EMD fold all
    * live on generalized-domain-bounded tables (groups × bands),
    * never the customer table.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val rows = Sources.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        (floor(col("c_acctbal") / 100) * 100).cast("long").as("band"))
    val gcnt = rows.groupBy(col("nation"), col("segment"), col("band"))
      .agg(count(lit(1)).as("c"))
    val groups = rows.groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).as("n_g"))
    val bandTot = rows.groupBy(col("band")).agg(count(lit(1)).as("c_all"))
    val bandCum = bandTot
      .withColumn("cum_all", sum(col("c_all")).over(Window.orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("band"), col("cum_all"))
    val scalars = rows.agg(count(lit(1)).as("n_all"),
      countDistinct(col("band")).as("m"))
    val wg = Window.partitionBy(col("nation"), col("segment"))
      .orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    groups
      .crossJoin(broadcast(bandCum))
      .join(gcnt, Seq("nation", "segment", "band"), "left")
      .withColumn("cum_g", sum(coalesce(col("c"), lit(0L))).over(wg))
      .crossJoin(broadcast(scalars))
      .withColumn("diff_ppm",
        expr("(1000000 * cum_g) DIV n_g - (1000000 * cum_all) DIV n_all"))
      .groupBy(col("nation"), col("segment"))
      .agg(max(col("n_g")).as("n_g"),
        expr("sum(abs(diff_ppm)) DIV (max(m) - 1)").as("emd_ppm"))
      .withColumn("t_close",
        when(col("emd_ppm") <= TClosePpm, 1L).otherwise(0L))
      .orderBy(col("nation"), col("segment"))
  }

  val tClosenessSql: String =
    s"""WITH rows_ AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |    c_mktsegment AS segment,
      |    CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS band
      |  FROM customer
      |), gcnt AS (
      |  SELECT nation, segment, band, count(*) AS c
      |  FROM rows_ GROUP BY 1, 2, 3
      |), groups_ AS (
      |  SELECT nation, segment, count(*) AS n_g FROM rows_ GROUP BY 1, 2
      |), band_cum AS (
      |  SELECT band, CAST(sum(c_all) OVER (ORDER BY band
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_all
      |  FROM (SELECT band, count(*) AS c_all FROM rows_ GROUP BY 1)
      |), scalars AS (
      |  SELECT count(*) AS n_all, count(DISTINCT band) AS m FROM rows_
      |), grid AS (
      |  SELECT g.nation, g.segment, g.n_g, b.band, b.cum_all,
      |    CAST(sum(COALESCE(gc.c, 0)) OVER (
      |      PARTITION BY g.nation, g.segment ORDER BY b.band
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_g
      |  FROM groups_ g CROSS JOIN band_cum b
      |  LEFT JOIN gcnt gc ON gc.nation = g.nation
      |    AND gc.segment = g.segment AND gc.band = b.band
      |)
      |SELECT nation, segment, max(n_g) AS n_g,
      |  CAST(sum(abs((1000000 * cum_g) // n_g
      |               - (1000000 * cum_all) // n_all))
      |       // (max(m) - 1) AS BIGINT) AS emd_ppm,
      |  CAST(CASE WHEN CAST(sum(abs((1000000 * cum_g) // n_g
      |                              - (1000000 * cum_all) // n_all))
      |                 // (max(m) - 1) AS BIGINT) <= $TClosePpm
      |       THEN 1 ELSE 0 END AS BIGINT) AS t_close
      |FROM grid CROSS JOIN scalars
      |GROUP BY nation, segment
      |ORDER BY nation, segment""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_t_closeness" -> Query(tCloseness, tClosenessSql),
    "q_dp_user_counts" -> Query(dpUserCounts, dpUserCountsSql),
    "q_dp_counts" -> Query(dpCounts, dpCountsSql),
    "q_pii_mask" -> Query(piiMask, piiMaskSql),
    "q_l_diversity" -> Query(lDiversity, lDiversitySql)
  )
}
