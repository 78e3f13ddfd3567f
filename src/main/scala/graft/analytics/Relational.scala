package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources._
import graft.{Query, QueryModule}

/** Relational operator suite on the star schema (SURVEY.md §2.5).
  *
  * The reference implements no joins/aggregations/windows itself, but its
  * stated goals (reference: README.md:5-6 — real-time monitoring,
  * anomaly detection, dashboards) and warehouse tail (reference:
  * imgs/overall-architecture.png) require them; each is expressed as a
  * declarative DataFrame plan so Catalyst handles pushdown, pruning,
  * partial aggregation and join strategy selection.
  *
  * Scale notes (100 TB): every aggregate here is partial+final
  * (HashAggregateExec); dimension joins broadcast explicitly; fact-fact
  * joins shuffle on join keys and rely on AQE for skew (proven live by
  * ScaleSpec's OptimizeSkewedJoin test — the hot partition really is
  * split; for skewed AGGREGATION keys, which AQE cannot split, the
  * prescribed path is [[graft.operators.Scale.saltedSumCount]]); no
  * collect() on any data path.
  */
object Relational extends QueryModule {

  /** A1: per-group hash aggregation over the largest fact table —
    * TPC-H-Q1-shaped pricing summary. Filter is pushed to the parquet
    * scan; aggregation is map-side partial then final.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 2) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** J5: multi-way equi-join with explicitly broadcast dimensions
    * (region/nation are tiny; customer is small relative to orders).
    * At 100 TB the orders fact never shuffles for the dim joins.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  round(sum(o_totalprice), 2) AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** J6: fact-fact equi-join (lineitem x orders). Both sides shuffle on
    * the order key; AQE picks sort-merge at scale and can convert to
    * broadcast if one side's runtime stats allow.
    */
  def orderPriorityRevenue(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_discount") > lit(0.02))
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))

  val orderPriorityRevenueSql: String =
    """SELECT o_orderpriority,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_discount > 0.02
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** O2: top-k by value — planned as TakeOrderedAndProject, so only k
    * rows per partition survive the map side; no global sort of the fact.
    */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

  val topOrdersSql: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
      |FROM (SELECT * FROM orders
      |      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)
      |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin

  /** O3: skyline (Pareto frontier) of orders under (newer date,
    * cheaper price) — the multi-objective "best tradeoffs" extraction
    * no single ORDER BY can express: a row survives iff no other row
    * is at least as new AND at least as cheap with one strictly
    * better. The pipeline use is curation frontiers (quality vs
    * cost); the relational shape is the classic SKYLINE operator.
    *
    * Distributed 2-D skyline with NO global window and NO pair join:
    * dominance against strictly-later dates decomposes into (a) a
    * per-month-shard suffix-min over the date order — one shuffle on
    * the shard key, every frame computed in that same sort — and
    * (b) a cross-shard suffix-min over the per-shard minima, a
    * month-cardinality frame (corpus-size-independent, like the
    * sketch-quantile bin walk) broadcast back. Same-date dominance is
    * the peers frame (RANGE 0..0) of the same sort. Exact integer
    * cents/day arithmetic end to end; the oracle states dominance
    * directly (NOT EXISTS over per-date minima).
    */
  def orderSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate").as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // negated day number: ASC order = newest first, so "preceding"
      // rows are strictly newer — no desc-frame ambiguity
      .withColumn("nd",
        -datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("shard", (year(col("d")) * 12 + month(col("d"))).cast("int"))
    val byShard = Window.partitionBy(col("shard")).orderBy(col("nd"))
    val newerInShard = byShard.rangeBetween(Window.unboundedPreceding, -1)
    val sameDate = byShard.rangeBetween(0, 0)
    val scored = p
      .withColumn("mn_newer", min(col("cents")).over(newerInShard))
      .withColumn("mn_same", min(col("cents")).over(sameDate))
    val shardMins = p.groupBy(col("shard")).agg(min(col("cents")).as("mn"))
    // suffix-min over the tiny shard frame (≤ #months rows): min price
    // in any strictly-later month
    val wsh = Window.orderBy(col("shard").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val laterShards = shardMins
      .withColumn("mn_later", min(col("mn")).over(wsh))
      .select(col("shard"), col("mn_later"))
    scored.join(broadcast(laterShards), Seq("shard"))
      .filter(
        coalesce(col("mn_newer"), lit(Long.MaxValue)) > col("cents") &&
          coalesce(col("mn_later"), lit(Long.MaxValue)) > col("cents") &&
          col("mn_same") >= col("cents"))
      .select(col("o_orderkey"), col("d").as("o_orderdate"),
        round(col("cents") / 100.0, 2).as("price"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
  }

  /** DuckDB twin: dominance stated literally. Only per-date minima
    * can dominate, so the NOT EXISTS probes a date-cardinality
    * relation, not the fact — same output, oracle-sized cost.
    */
  val orderSkylineSql: String =
    """WITH p AS (
      |  SELECT o_orderkey, o_orderdate AS d,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |  FROM orders
      |), dm AS (
      |  SELECT d, min(cents) AS mn FROM p GROUP BY d
      |)
      |SELECT o_orderkey, d AS o_orderdate,
      |  round(cents / 100.0, 2) AS price
      |FROM p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM dm q
      |  WHERE q.d >= p.d AND q.mn <= p.cents
      |    AND (q.d > p.d OR q.mn < p.cents))
      |ORDER BY o_orderdate DESC, o_orderkey""".stripMargin

  /** R1: ranking window — top-3 customers by account balance per nation.
    * Single shuffle on the partition key; ties broken by c_custkey so
    * the result is deterministic across engines.
    */
  def topCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("n_name"), col("rnk"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy(col("n_name"), col("rnk"))
  }

  val topCustomersPerNationSql: String =
    """SELECT n_name, rnk, c_custkey, round(c_acctbal, 2) AS c_acctbal
      |FROM (
      |  SELECT n_name, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY n_name
      |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |) WHERE rnk <= 3
      |ORDER BY n_name, rnk""".stripMargin

  /** R2: analytic window — order-over-order price delta per customer
    * (lag). Deterministic ordering via (o_orderdate, o_orderkey).
    */
  def orderPriceDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders(spark, dir)
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .filter(col("prev_price").isNotNull)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") - col("prev_price"), 2).as("price_delta"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val orderPriceDeltaSql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice - prev_price, 2) AS price_delta
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
      |                               ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
      |  FROM orders
      |) WHERE prev_price IS NOT NULL
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** A5: rollup (nation x market segment) for warehouse-style cubes.
    * Grouped-out levels surface as 'ALL' (coalesce) so NULL ordering
    * differences between engines never matter.
    */
  def rollupNationSegment(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .select(
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_cust"), col("sum_bal"))
      .orderBy(col("nation"), col("segment"))

  val rollupNationSegmentSql: String =
    """SELECT coalesce(n_name, 'ALL') AS nation,
      |  coalesce(c_mktsegment, 'ALL') AS segment,
      |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, c_mktsegment)
      |ORDER BY nation, segment""".stripMargin

  /** J8 (anti): data-quality check — customers with no high-value order
    * (> 250k), counted per nation. Planned as a broadcast/shuffled hash
    * anti join; never materializes the non-matching side. The filter on
    * the probe side prunes before the join.
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir).filter(col("o_totalprice") > lit(250000.0)),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy(col("n_name"))

  val customersWithoutOrdersSql: String =
    """SELECT n_name, count(*) AS n_inactive
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** J8 (semi): customers with at least one high-value order.  */
  def customersWithBigOrders(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(
        orders(spark, dir).filter(col("o_totalprice") > lit(400000.0)),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val customersWithBigOrdersSql: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  /** U1+U2: set operations — segment union minus an except carve-out.
    * NOTE: Spark's Dataset.union is UNION ALL (bag semantics), unlike
    * ANSI SQL UNION; the downstream .except applies set semantics
    * (dedup), which is what makes the final result match the SQL
    * UNION/EXCEPT chain here.
    */
  def segmentSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    val negative = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
    building.union(machinery).except(negative)
      .orderBy(col("c_custkey"))
  }

  val segmentSetOpsSql: String =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal < 0
      |ORDER BY c_custkey""".stripMargin

  /** A4: exact distinct counts per group (approx_count_distinct is
    * exercised separately in the test suite — HLL sketches are not
    * oracle-comparable across engines).
    */
  def distinctCustomersPerSegment(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("o_custkey")).as("n_active_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  val distinctCustomersPerSegmentSql: String =
    """SELECT c_mktsegment,
      |  count(DISTINCT o_custkey) AS n_active_cust,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** J7 (range/interval join): orders matched to year buckets via a
    * BETWEEN condition against a derived (broadcastable) dimension.
    * The dim side is tiny so Spark plans broadcast nested-loop; at
    * 100 TB the fact side still streams through without a shuffle.
    */
  def ordersPerYearBucket(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val buckets = o
      .select(year(col("o_orderdate")).as("y")).distinct()
      .select(
        col("y").as("bucket_year"),
        to_timestamp(concat(col("y").cast("string"), lit("-01-01"))).as("bucket_start"),
        to_timestamp(concat((col("y") + 1).cast("string"), lit("-01-01"))).as("bucket_end"))
    o.join(broadcast(buckets),
        col("o_orderdate") >= col("bucket_start") && col("o_orderdate") < col("bucket_end"))
      .groupBy(col("bucket_year"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("bucket_year"))
  }

  val ordersPerYearBucketSql: String =
    """WITH buckets AS (
      |  SELECT y AS bucket_year,
      |    make_timestamp(y, 1, 1, 0, 0, 0) AS bucket_start,
      |    make_timestamp(y + 1, 1, 1, 0, 0, 0) AS bucket_end
      |  FROM (SELECT DISTINCT year(o_orderdate)::int AS y FROM orders)
      |)
      |SELECT bucket_year, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN buckets
      |  ON o_orderdate >= bucket_start AND o_orderdate < bucket_end
      |GROUP BY bucket_year
      |ORDER BY bucket_year""".stripMargin

  /** A5 (cube): region × order-priority cube — all four grouping-set
    * combinations in one pass (one shuffle; Expand feeds a single
    * partial+final aggregate). Grouped-out levels surface as 'ALL'.
    */
  def cubeRegionPriority(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy(col("region"), col("priority"))

  val cubeRegionPrioritySql: String =
    """SELECT coalesce(r_name, 'ALL') AS region,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE (r_name, o_orderpriority)
      |ORDER BY region, priority""".stripMargin

  /** Pivot with EXPLICIT values — no driver-side distinct-values
    * metadata query, so the plan stays a single pass even when the
    * pivot column has unbounded cardinality at scale.
    */
  def pivotSegmentByRegion(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("r_name", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
      .agg(count(lit(1)))
      .withColumnsRenamed(Map(
        "AFRICA" -> "africa", "AMERICA" -> "america", "ASIA" -> "asia",
        "EUROPE" -> "europe", "MIDDLE EAST" -> "middle_east"))
      // an unpopulated (segment, region) cell pivots to NULL in Spark
      // but counts to 0 in SQL conditional aggregation — normalize
      .select(col("c_mktsegment") +:
        Seq("africa", "america", "asia", "europe", "middle_east")
          .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy(col("c_mktsegment"))

  val pivotSegmentByRegionSql: String =
    """SELECT c_mktsegment,
      |  count(*) FILTER (r_name = 'AFRICA') AS africa,
      |  count(*) FILTER (r_name = 'AMERICA') AS america,
      |  count(*) FILTER (r_name = 'ASIA') AS asia,
      |  count(*) FILTER (r_name = 'EUROPE') AS europe,
      |  count(*) FILTER (r_name = 'MIDDLE EAST') AS middle_east
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** U2 (bag semantics): INTERSECT ALL / EXCEPT ALL on the multiset of
    * customer keys — each appearance of a key counts, distinguishing
    * these from the set-semantics ops in [[segmentSetOps]].
    */
  def orderBagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val building = o.join(
      broadcast(customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")),
      col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_custkey"))
    val pricey = o.filter(col("o_totalprice") > lit(150000.0))
      .select(col("o_custkey"))
    building.intersectAll(pricey).exceptAll(
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_custkey"))
  }

  val orderBagSetOpsSql: String =
    """SELECT o_custkey, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                      WHERE c_mktsegment = 'BUILDING')
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |)
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** Left-outer join with null-aware aggregation: every customer keeps
    * a row; the order side is filtered to high-value orders so a large
    * fraction of customers genuinely exercises the unmatched path
    * (n_orders = 0 via count of a null column) AT THE GATE'S SCALE
    * FACTORS — an unfiltered join would have no unmatched customers at
    * sf0.01 and the outer semantics would go unverified.
    */
  def customerOrderCounts(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir).filter(col("o_totalprice") > lit(400000.0)),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("revenue"))
      .orderBy(col("c_custkey"))

  val customerOrderCountsSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  count(o_orderkey) AS n_orders,
      |  round(coalesce(sum(o_totalprice), 0.0), 2) AS revenue
      |FROM customer LEFT OUTER JOIN
      |  (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
      |  ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey""".stripMargin

  /** FULL OUTER join (J8's missing quadrant): a filtered customer dim
    * against a filtered per-customer order rollup, so BOTH unmatched
    * sides genuinely occur — customers outside the segment appear only
    * on the order side, customers without 1995 orders only on the dim
    * side. Presence flags + coalesced keys make the null semantics
    * the tested surface. Same shuffle shape as any equi-join; at
    * scale a full outer can't broadcast either side, so this stays a
    * shuffle join on the key by construction.
    */
  def customerOrderFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders_95"),
        round(sum(col("o_totalprice")), 2).as("rev_95"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_custkey").isNotNull.as("in_segment"),
        col("o_custkey").isNotNull.as("ordered_95"),
        coalesce(col("n_orders_95"), lit(0L)).as("n_orders_95"),
        coalesce(col("rev_95"), lit(0.0)).as("rev_95"))
      .orderBy(col("custkey"))
  }

  val customerOrderFullOuterSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment FROM customer
      |  WHERE c_mktsegment = 'BUILDING'
      |), o AS (
      |  SELECT o_custkey, count(*) AS n_orders_95,
      |    round(sum(o_totalprice), 2) AS rev_95
      |  FROM orders WHERE year(o_orderdate) = 1995
      |  GROUP BY o_custkey
      |)
      |SELECT coalesce(c_custkey, o_custkey) AS custkey,
      |  c_custkey IS NOT NULL AS in_segment,
      |  o_custkey IS NOT NULL AS ordered_95,
      |  CAST(coalesce(n_orders_95, 0) AS BIGINT) AS n_orders_95,
      |  coalesce(rev_95, 0.0) AS rev_95
      |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  /** Exact interpolated percentiles per group — Spark `percentile`
    * and DuckDB `quantile_cont` share the definition, so the oracle is
    * exact. (approx_percentile sketches are engine-specific and tested
    * separately for error bounds.)
    */
  def orderPricePercentiles(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.95)), 4).as("p95"),
        round(percentile(col("o_totalprice"), lit(0.99)), 4).as("p99"))
      .orderBy(col("o_orderpriority"))

  val orderPricePercentilesSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
      |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Explicit GROUPING SETS through the SQL front-end (temp view +
    * spark.sql) — the third grouping-set form next to rollup/cube,
    * and coverage for the SQL API path itself.
    */
  def groupingSetsNationYear(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir)
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"), col("o_totalprice"))
      .createOrReplaceTempView("graft_orders_nation")
    spark.sql(
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |  coalesce(CAST(yr AS STRING), 'ALL') AS yr,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM graft_orders_nation
        |GROUP BY GROUPING SETS ((n_name), (yr))
        |ORDER BY nation, yr""".stripMargin)
  }

  val groupingSetsNationYearSql: String =
    """SELECT coalesce(n_name, 'ALL') AS nation,
      |  coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM (
      |  SELECT n_name, year(o_orderdate) AS yr, o_totalprice
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |)
      |GROUP BY GROUPING SETS ((n_name), (yr))
      |ORDER BY nation, yr""".stripMargin

  /** R1 (distribution windows): ntile quartiles of account balance per
    * nation plus percent_rank bounds — the ranking-family functions
    * beyond row_number. Quartile membership depends only on the total
    * order (c_acctbal desc, c_custkey), which is unique, so results
    * are engine-stable.
    */
  def balanceQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .groupBy(col("n_name"), col("quartile"))
      .agg(
        count(lit(1)).as("n_cust"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"),
        round(max(col("pr")), 6).as("max_percent_rank"))
      .orderBy(col("n_name"), col("quartile"))
  }

  val balanceQuartilesSql: String =
    """SELECT n_name, quartile, count(*) AS n_cust,
      |  round(min(c_acctbal), 2) AS min_bal,
      |  round(max(c_acctbal), 2) AS max_bal,
      |  round(max(pr), 6) AS max_percent_rank
      |FROM (
      |  SELECT n_name, c_acctbal,
      |    ntile(4) OVER w AS quartile,
      |    percent_rank() OVER w AS pr
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WINDOW w AS (PARTITION BY n_name
      |               ORDER BY c_acctbal DESC, c_custkey ASC)
      |)
      |GROUP BY n_name, quartile
      |ORDER BY n_name, quartile""".stripMargin

  /** All relational queries, keyed for SparkEntry. */
  /** Table diff / reconciliation: classify every key of two table
    * versions as added / removed / changed / same, with the absolute
    * value drift — the audit that runs after any upsert/backfill to
    * prove what a data delivery actually did. The "next-day version"
    * here is derived deterministically from the same base (a slice
    * dropped, a slice repriced ×1.1, a slice of new keys appended) so
    * both engines diff identical inputs.
    *
    * One full-outer join on the key — at 100 TB both sides shuffle
    * once on o_orderkey and the classification is a scan-side CASE;
    * the output aggregate is 4 rows. ×1.1 repricing and the abs-delta
    * sum stay on exact-double arithmetic until the final round.
    */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val left = orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val dropped = col("o_orderstatus") === "F" && col("o_orderkey") % 100 < 10
    val repriced = col("o_orderstatus") === "O" && col("o_orderkey") % 100 < 5
    val right = left.filter(!dropped)
      .withColumn("o_totalprice",
        when(repriced, col("o_totalprice") * 1.1).otherwise(col("o_totalprice")))
      .unionByName(left.filter(col("o_orderstatus") === "P")
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val l = left.select(col("o_orderkey"),
      col("o_totalprice").as("l_price"), col("o_orderstatus").as("l_status"))
    val r = right.select(col("o_orderkey"),
      col("o_totalprice").as("r_price"), col("o_orderstatus").as("r_status"))
    l.join(r, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("r_status").isNull, "removed")
          .when(col("l_status").isNull, "added")
          .when(col("l_price") =!= col("r_price") ||
            col("l_status") =!= col("r_status"), "changed")
          .otherwise("same"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(abs(coalesce(col("r_price"), lit(0.0)) -
          coalesce(col("l_price"), lit(0.0)))), 2).as("abs_drift"))
      .orderBy(col("change_type"))
  }

  val tableDiffSql: String =
    """WITH left_v AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      |), right_v AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 100 < 5
      |         THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM left_v
      |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 100 < 10)
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
      |  FROM left_v WHERE o_orderstatus = 'P'
      |), diff AS (
      |  SELECT
      |    CASE WHEN r.o_orderstatus IS NULL THEN 'removed'
      |         WHEN l.o_orderstatus IS NULL THEN 'added'
      |         WHEN l.o_totalprice <> r.o_totalprice
      |           OR l.o_orderstatus <> r.o_orderstatus THEN 'changed'
      |         ELSE 'same' END AS change_type,
      |    abs(coalesce(r.o_totalprice, 0) - coalesce(l.o_totalprice, 0)) AS d
      |  FROM left_v l FULL OUTER JOIN right_v r
      |    ON l.o_orderkey = r.o_orderkey
      |)
      |SELECT change_type, count(*) AS n_rows, round(sum(d), 2) AS abs_drift
      |FROM diff
      |GROUP BY change_type
      |ORDER BY change_type""".stripMargin

  /** Top-3 suppliers per nation by revenue, with each supplier's share
    * of its nation's total. Aggregates the fact FIRST (one shuffle on
    * l_suppkey collapses 100 TB to |suppliers| rows), THEN joins the
    * dims — joining before aggregating would drag supplier
    * attributes through the fact shuffle for nothing. Revenue is
    * summed in exact integer cents, so the share is a ratio of the
    * same longs on both engines and ranking ties are impossible to
    * mis-order (cents desc, name asc is a total order).
    */
  def supplierShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("line_cents"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("line_cents")).as("cents"))
      // supplier scales with SF (unlike the fixed 25-nation dim), so
      // only nation carries a forced broadcast hint; the supplier join
      // runs on the already-aggregated one-row-per-supplier side
      .join(supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
    val byNation = Window.partitionBy(col("n_name"))
    rev
      .withColumn("nation_cents", sum(col("cents")).over(byNation))
      .withColumn("rk", row_number().over(
        byNation.orderBy(col("cents").desc, col("s_name").asc)))
      .filter(col("rk") <= 3)
      .select(col("n_name"), col("s_name"),
        (col("cents") / 100.0).as("revenue"),
        round(col("cents") / col("nation_cents"), 6).as("share"),
        col("rk"))
      .orderBy(col("n_name"), col("rk"))
  }

  val supplierShareSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                  AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY l_suppkey
      |), j AS (
      |  SELECT n_name, s_name, cents,
      |    CAST(sum(cents) OVER (PARTITION BY n_name) AS BIGINT)
      |      AS nation_cents,
      |    row_number() OVER (PARTITION BY n_name
      |                       ORDER BY cents DESC, s_name ASC) AS rk
      |  FROM rev
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |)
      |SELECT n_name, s_name,
      |  cents / 100.0 AS revenue,
      |  round(cents / nation_cents, 6) AS share,
      |  rk
      |FROM j
      |WHERE rk <= 3
      |ORDER BY n_name, rk""".stripMargin

  /** RFM customer segmentation — the marketing-analytics staple:
    * recency (days since last order, vs the corpus max date so the
    * anchor is data-derived and identical on both engines), frequency
    * (order count) and monetary (lifetime cents) quintiled into 1–5
    * scores (5 best) with fully deterministic tie-breaks
    * (metric, custkey), then customers counted per (r, f, m) cell.
    * ntile semantics (equal buckets, remainder to the first) match
    * across engines because the ORDER BY is a total order.
    *
    * Scale shape: one orders pass → per-customer aggregate; the three
    * quintile ranks run through
    * [[graft.operators.Scale.distributedNtile]] (round 9 — previously
    * three unpartitioned ntile windows, i.e. three single-task sorts
    * of the customer frame; dimension-sized today, but the customer
    * table grows with the business and the distributed rank costs the
    * same shuffle count while removing the ceiling). Descending
    * recency rides the same operator by negating the basis.
    */
  def rfmSegmentation(spark: SparkSession, dir: String): DataFrame = {
    val perCust = orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("f"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
      .crossJoin(broadcast(orders(spark, dir)
        .agg(max(to_date(col("o_orderdate"))).as("anchor"))))
      .withColumn("r_days", datediff(col("anchor"), col("last_d")))
    val scored = Seq[(String, Column)](
      ("r_score", -col("r_days")), // ntile over r_days DESC
      ("f_score", col("f")),
      ("m_score", col("m")))
      .foldLeft(perCust) { case (df, (out, basis)) =>
        graft.operators.Scale.distributedNtile(
          df, 5, basis, col("o_custkey"), out)
      }
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val rfmSegmentationSql: String =
    """WITH pc AS (
      |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
      |    CAST(count(*) AS BIGINT) AS f,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
      |  FROM orders GROUP BY 1
      |), anc AS (
      |  SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders
      |), scored AS (
      |  SELECT o_custkey, f, m,
      |    datediff('day', last_d, anchor) AS r_days,
      |    ntile(5) OVER (ORDER BY datediff('day', last_d, anchor) DESC,
      |      o_custkey ASC) AS r_score,
      |    ntile(5) OVER (ORDER BY f ASC, o_custkey ASC) AS f_score,
      |    ntile(5) OVER (ORDER BY m ASC, o_custkey ASC) AS m_score
      |  FROM pc CROSS JOIN anc
      |)
      |SELECT r_score, f_score, m_score,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(m) AS BIGINT) AS cents
      |FROM scored
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** ABC / Pareto classification of the part catalog by revenue:
    * parts ranked by lifetime extended-price revenue, class A while
    * the cumulative share is ≤ 80%, B to 95%, C after — the inventory
    * 80/20 readout. Cumulative comparisons stay exact integers
    * (cum·100 vs total·80 — never a float share); per-class share is
    * one final ppm DIV.
    *
    * Scale shape: one lineitem pass → per-part revenue; the running
    * sum rides [[graft.operators.Scale.distributedPrefixSum]]
    * (round 9 — previously an unpartitioned window, i.e. the whole
    * catalog sorted in one task; catalogs grow with the business).
    * The final 3-row class frame carries an in-plan limit so its
    * share window audits as bounded.
    */
  def paretoAbc(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    graft.operators.Scale.distributedPrefixSum(
        rev, -col("cents"), col("l_partkey"), col("cents"), "cum")
      .crossJoin(broadcast(rev.agg(sum(col("cents")).as("tot"))))
      // decimal class boundaries (round 11): cum·100 itself leaves
      // long once corpus revenue passes ~9.2e16 cents — reachable on
      // a 100 TB fact table; the comparison is exact on DECIMAL(38,0)
      .withColumn("abc",
        when(expr("CAST(cum AS DECIMAL(20,0)) * 100" +
          " <= CAST(tot AS DECIMAL(20,0)) * 80"), "A")
          .when(expr("CAST(cum AS DECIMAL(20,0)) * 100" +
            " <= CAST(tot AS DECIMAL(20,0)) * 95"), "B")
          .otherwise("C"))
      .groupBy(col("abc"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
      .limit(4) // ≤ 3 classes by construction — the audit's bound proof
      // Round 9's split-multiplier ppm fixed the ×10⁶ overflow the 4×
      // weak-scaling run hit, but still ceilinged at cents ≈ 9.2e15
      // (its ×10³ factors). The decimal single step is provably the
      // SAME integer: for c·10³ = q·t + r,
      // q·10³ + (r·10³) DIV t = (c·10⁶) DIV t — and DECIMAL(38,0)
      // carries c·10⁶ to c ≈ 10³² cents. Both engines widened.
      .withColumn("t", expr("sum(cents) OVER ()"))
      .withColumn("share_ppm", expr(
        "(CAST(cents AS DECIMAL(20,0)) * 1000000L) DIV t"))
      .drop("t")
      .orderBy(col("abc"))
  }

  val paretoAbcSql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(cents) AS BIGINT) AS tot FROM rev
      |), cls AS (
      |  SELECT l_partkey, cents,
      |    CASE WHEN CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC)
      |              AS HUGEINT) * 100 <= CAST(tot AS HUGEINT) * 80 THEN 'A'
      |         WHEN CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC)
      |              AS HUGEINT) * 100 <= CAST(tot AS HUGEINT) * 95 THEN 'B'
      |         ELSE 'C' END AS abc
      |  FROM rev CROSS JOIN tot
      |), agg AS (
      |  SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
      |    CAST(sum(cents) AS BIGINT) AS cents
      |  FROM cls GROUP BY 1
      |)
      |, t AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM agg)
      |SELECT abc, n_parts, cents,
      |  CAST((CAST(cents AS HUGEINT) * 1000000) // t AS BIGINT)
      |    AS share_ppm
      |FROM agg CROSS JOIN t
      |ORDER BY abc""".stripMargin

  /** Referential-integrity / data-contract audit: the constraint
    * suite a warehouse landing zone runs on every load — primary-key
    * uniqueness, foreign-key closure, domain ranges, and temporal
    * sanity, each as a named check with its exact violation count.
    * A contract table full of zeros is a weak oracle; this corpus
    * genuinely violates two checks (duplicate (orderkey, linenumber)
    * line keys and ship-before-order lines) and the spec pins both
    * firing at exact recounts.
    *
    * Scale shape: each check is one aggregation or anti-join keyed on
    * the constraint's own columns — the FK probes broadcast the
    * smaller key side when stats allow and degrade to shuffle joins
    * at scale; nothing is ever collected.
    */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val li = lineitem(spark, dir)
    val c = customer(spark, dir)
    def chk(name: String, cnt: DataFrame): DataFrame =
      cnt.select(lit(name).as("check"), col("n").cast("long").as("n_violations"))
    val checks = Seq(
      chk("orders_pk_dup", o.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n"))),
      chk("lineitem_pk_dup", li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("n"))),
      chk("orders_custkey_fk", o.join(c,
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
      chk("lineitem_orderkey_fk", li.join(o,
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
      chk("price_nonpositive", o.filter(col("o_totalprice") <= 0)
        .agg(count(lit(1)).as("n"))),
      chk("discount_out_of_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 0.5)
          .agg(count(lit(1)).as("n"))),
      chk("ship_before_order", li.join(o,
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate"))
        .agg(count(lit(1)).as("n"))))
    checks.reduce(_.unionByName(_)).orderBy(col("check"))
  }

  val integrityAuditSql: String =
    """SELECT * FROM (
      |  SELECT 'orders_pk_dup' AS check, CAST(count(*) AS BIGINT)
      |      AS n_violations
      |  FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'lineitem_pk_dup', CAST(count(*) AS BIGINT)
      |  FROM (SELECT l_orderkey, l_linenumber FROM lineitem
      |        GROUP BY 1, 2 HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT)
      |  FROM orders WHERE NOT EXISTS
      |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT)
      |  FROM lineitem WHERE NOT EXISTS
      |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |  UNION ALL
      |  SELECT 'price_nonpositive', CAST(count(*) AS BIGINT)
      |  FROM orders WHERE o_totalprice <= 0
      |  UNION ALL
      |  SELECT 'discount_out_of_range', CAST(count(*) AS BIGINT)
      |  FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5
      |  UNION ALL
      |  SELECT 'ship_before_order', CAST(count(*) AS BIGINT)
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate < o_orderdate
      |)
      |ORDER BY "check"""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_integrity_audit" -> Query(integrityAudit, integrityAuditSql),
    "q_rfm_segmentation" -> Query(rfmSegmentation, rfmSegmentationSql),
    "q_pareto_abc" -> Query(paretoAbc, paretoAbcSql),
    "q_supplier_share" -> Query(supplierShare, supplierShareSql),
    "q_table_diff" -> Query(tableDiff, tableDiffSql),
    "q_pricing_summary" -> Query(pricingSummary, pricingSummarySql),
    "q_revenue_by_nation" -> Query(revenueByNation, revenueByNationSql),
    "q_order_priority_revenue" -> Query(orderPriorityRevenue, orderPriorityRevenueSql),
    "q_top_orders" -> Query(topOrders, topOrdersSql),
    "q_order_skyline" -> Query(orderSkyline, orderSkylineSql),
    "q_top_customers_per_nation" -> Query(topCustomersPerNation, topCustomersPerNationSql),
    "q_order_price_delta" -> Query(orderPriceDelta, orderPriceDeltaSql),
    "q_rollup_nation_segment" -> Query(rollupNationSegment, rollupNationSegmentSql),
    "q_customers_without_orders" -> Query(customersWithoutOrders, customersWithoutOrdersSql),
    "q_customers_with_big_orders" -> Query(customersWithBigOrders, customersWithBigOrdersSql),
    "q_segment_set_ops" -> Query(segmentSetOps, segmentSetOpsSql),
    "q_distinct_customers_per_segment" -> Query(distinctCustomersPerSegment, distinctCustomersPerSegmentSql),
    "q_orders_per_year_bucket" -> Query(ordersPerYearBucket, ordersPerYearBucketSql),
    "q_cube_region_priority" -> Query(cubeRegionPriority, cubeRegionPrioritySql),
    "q_pivot_segment_region" -> Query(pivotSegmentByRegion, pivotSegmentByRegionSql),
    "q_order_price_percentiles" -> Query(orderPricePercentiles, orderPricePercentilesSql),
    "q_grouping_sets_nation_year" -> Query(groupingSetsNationYear, groupingSetsNationYearSql),
    "q_order_bag_set_ops" -> Query(orderBagSetOps, orderBagSetOpsSql),
    "q_customer_order_counts" -> Query(customerOrderCounts, customerOrderCountsSql),
    "q_full_outer_join" -> Query(customerOrderFullOuter, customerOrderFullOuterSql),
    "q_balance_quartiles" -> Query(balanceQuartiles, balanceQuartilesSql)
  )
}
