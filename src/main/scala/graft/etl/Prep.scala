package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Quality

/** The reference's batch prep ETL (reference: kafka/sort_the_source.py)
  * re-expressed as ONE lazy DataFrame chain executed at the write
  * action — month-name lookup (P5), derived first-of-month date (P6),
  * global time sort (O1), 5-column projection (P1), `yyyy-MM-dd`
  * formatting (P8).
  *
  * Semantic pins carried over from pandas (SURVEY.md §5.1):
  *  - unknown month abbreviations map to null (pandas `.map` → NaN),
  *    not an error;
  *  - the sort is by FullDate only; tie order within a date is
  *    unspecified (pandas used quicksort — not stable either).
  *
  * Scale notes: `orderBy` plans as a range-partitioned global sort —
  * at 100 TB this is the one genuinely global shuffle in the chain and
  * is exactly what Spark's TeraSort path is built for; everything else
  * is narrow.
  */
object Prep {

  /** Month-name → number map (reference: kafka/sort_the_source.py:15-19). */
  val monthMap: Map[String, Int] = Map(
    "Jan" -> 1, "Feb" -> 2, "Mar" -> 3, "Apr" -> 4,
    "May" -> 5, "Jun" -> 6, "Jul" -> 7, "Aug" -> 8,
    "Sep" -> 9, "Oct" -> 10, "Nov" -> 11, "Dec" -> 12)

  /** P5: map-literal lookup; null on unknown keys (pandas NaN parity). */
  def monthNumber(sampleDate: Column): Column =
    element_at(typedlit(monthMap), sampleDate)

  /** The full prep chain over a raw frame with columns
    * (SampleDate, Years, WaterbodyName, pH, Dissolved Oxygen,
    * Conductivity @25°C).
    */
  def prepare(raw: DataFrame): DataFrame =
    raw
      .withColumn("MonthNumber", monthNumber(col("SampleDate")))
      .withColumn("FullDate",
        make_date(col("Years"), col("MonthNumber"), lit(1)))
      .orderBy(col("FullDate"))
      .select(
        date_format(col("FullDate"), "yyyy-MM-dd").as("FullDate"),
        col("WaterbodyName"), col("pH"),
        col("Dissolved Oxygen"), col("Conductivity @25°C"))

  /** Rebuild the (missing-from-checkout) raw input shape from the
    * reference's own output file: derive SampleDate month abbreviation
    * and Years back from FullDate. Used by the golden round-trip test
    * and the river queries.
    */
  def reconstructRaw(spark: SparkSession, path: String): DataFrame =
    graft.ingest.Sources.csv(spark, path)
      .withColumn("d", to_date(col("FullDate")))
      .withColumn("Years", year(col("d")))
      .withColumn("SampleDate", date_format(col("d"), "MMM"))
      .drop("FullDate", "d")

  /** The river corpus: the reference's own output CSV when the
    * reference checkout sits beside this repository, else the seeded
    * fixture with the same header and shape
    * (`src/main/resources/river/`, written by
    * `scripts/gen_river_fixture.py`). Absolute, because the oracle SQL
    * embeds it for DuckDB.
    */
  lazy val referenceCsv: String = {
    val checkout = java.nio.file.Paths.get("..", "reference", "kafka",
      "sorted_water_quality.csv").toAbsolutePath.normalize
    if (java.nio.file.Files.isRegularFile(checkout)) checkout.toString
    else fixtureCsv
  }

  private def fixtureCsv: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val url = getClass.getResource("/river/sorted_water_quality.csv")
    if (url.getProtocol == "file") Paths.get(url.toURI).toString
    else {
      // packaged in a jar: extract to a file named by its content, kept
      // after exit because the oracle SQL reads it once the engine is done
      val in = url.openStream()
      val bytes = try in.readAllBytes() finally in.close()
      val name = f"graft-river-${java.util.Arrays.hashCode(bytes)}%08x.csv"
      val out = Paths.get(sys.props("java.io.tmpdir"), name)
      if (!Files.exists(out) || Files.size(out) != bytes.length) {
        val part = Files.write(Files.createTempFile(out.getParent, name, ".part"), bytes)
        Files.move(part, out, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
      out.toString
    }
  }

  /** The complete reference ETL exercised end-to-end on the
    * reference's own corpus. Oracle reads the same CSV via DuckDB
    * read_csv — the input sits outside the harness star schema but is
    * equally visible to both engines, so the hash compare applies.
    */
  def riverPrep(spark: SparkSession, dir: String): DataFrame =
    prepare(reconstructRaw(spark, referenceCsv))

  /** Per-waterbody yearly WQI over the river corpus — the analytical
    * tail the reference documents but never built (reference:
    * README.md:5-6), using the X1 composite.
    */
  def riverWqi(spark: SparkSession, dir: String): DataFrame =
    prepare(reconstructRaw(spark, referenceCsv))
      // aggregate the RAW wqi; round only in the projection (averaging
      // pre-rounded values lands exactly on .xxxx5 cross-engine
      // rounding boundaries)
      .withColumn("wqi", Quality.wqiRaw(
        col("pH"), col("Dissolved Oxygen"), col("Conductivity @25°C")))
      .groupBy(col("WaterbodyName"),
        year(to_date(col("FullDate"))).as("yr"))
      .agg(count(lit(1)).as("n_samples"),
        round(avg(col("wqi")), 4).as("avg_wqi"),
        round(min(col("wqi")), 4).as("min_wqi"))
      .orderBy(col("WaterbodyName"), col("yr"))

  /** Per-waterbody WQI TREND over the river corpus — the reference's
    * documented intent ("đánh giá chất lượng nước" over time) as a
    * robust statistic: monthly mean WQI (exact milli-WQI integers) →
    * Theil-Sen slope (median of pairwise slopes) per waterbody, the
    * estimator that shrugs off the corpus's outlier readings where
    * OLS would chase them. Same fixed-point discipline as
    * [[graft.analytics.TimeSeries.theilSenTrend]]: integer operands,
    * one IEEE divide per pair, median by rank. Positive slope = the
    * waterbody is getting cleaner.
    *
    * Scale shape: the pairwise stage runs on the per-(waterbody,
    * month) aggregate — months², corpus-size-independent, the ACF
    * family's shape.
    */
  def riverWqiTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = prepare(reconstructRaw(spark, referenceCsv))
      .withColumn("wqi", Quality.wqiRaw(
        col("pH"), col("Dissolved Oxygen"), col("Conductivity @25°C")))
      .withColumn("d", to_date(col("FullDate")))
      .groupBy(col("WaterbodyName"),
        (year(col("d")) * 12 + month(col("d"))).cast("long").as("m_idx"))
      .agg(round(avg(col("wqi")) * 1000).cast("long").as("wqi_milli"))
      // OPTIMIZATION r14: both sides of the pairwise-slope self-join
      // consume this months×waterbodies frame — materialize it once
      // instead of re-running the CSV read (schema inference included)
      // + prep + monthly aggregate per side
      .localCheckpoint()
    val b = monthly.select(col("WaterbodyName").as("wb_b"),
      col("m_idx").as("m_b"), col("wqi_milli").as("w_b"))
    val byWb = Window.partitionBy(col("WaterbodyName"))
    monthly
      .join(b, col("WaterbodyName") === col("wb_b") &&
        col("m_b") > col("m_idx"))
      .select(col("WaterbodyName"),
        ((col("w_b") - col("wqi_milli")).cast("double") /
          (col("m_b") - col("m_idx")).cast("double")).as("slope"))
      .withColumn("rn", row_number().over(byWb.orderBy(col("slope").asc)))
      .withColumn("n_pairs", count(lit(1)).over(byWb))
      .filter(col("rn") === floor((col("n_pairs") + 1) / 2).cast("long"))
      .select(col("WaterbodyName"), col("n_pairs"),
        round(col("slope"), 6).as("wqi_milli_per_month"))
      .orderBy(col("WaterbodyName"))
  }

  val riverWqiTrendSql: String =
    s"""WITH raw AS (
      |  SELECT CAST(FullDate AS DATE) AS d, WaterbodyName,
      |    pH AS ph, "Dissolved Oxygen" AS do_sat, "Conductivity @25°C" AS tds
      |  FROM read_csv('$referenceCsv', header=true)
      |), scored AS (
      |  SELECT WaterbodyName,
      |    CAST(year(d) * 12 + month(d) AS BIGINT) AS m_idx,
      |    greatest(0.0, 100.0 * (1.0 - abs(ph - 7.5) / 1.0)) * 0.4 +
      |    greatest(0.0, 100.0 * (1.0 - abs(do_sat - 75.0) / 45.0)) * 0.35 +
      |    greatest(0.0, 100.0 * (1.0 - abs(tds - 775.0) / 725.0)) * 0.25 AS wqi
      |  FROM raw
      |), monthly AS (
      |  SELECT WaterbodyName, m_idx,
      |    CAST(round(avg(wqi) * 1000) AS BIGINT) AS wqi_milli
      |  FROM scored GROUP BY 1, 2
      |), slopes AS (
      |  SELECT a.WaterbodyName,
      |    CAST(b.wqi_milli - a.wqi_milli AS DOUBLE)
      |      / CAST(b.m_idx - a.m_idx AS DOUBLE) AS slope
      |  FROM monthly a JOIN monthly b
      |    ON a.WaterbodyName = b.WaterbodyName AND b.m_idx > a.m_idx
      |), ranked AS (
      |  SELECT WaterbodyName, slope,
      |    row_number() OVER (PARTITION BY WaterbodyName
      |                       ORDER BY slope ASC) AS rn,
      |    count(*) OVER (PARTITION BY WaterbodyName) AS n_pairs
      |  FROM slopes
      |)
      |SELECT WaterbodyName, n_pairs,
      |  round(slope, 6) AS wqi_milli_per_month
      |FROM ranked
      |WHERE rn = CAST(floor((n_pairs + 1) / 2.0) AS BIGINT)
      |ORDER BY WaterbodyName""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_river_prep" -> (riverPrep _),
    "q_river_wqi" -> (riverWqi _),
    "q_river_wqi_trend" -> (riverWqiTrend _)
  )

  /** Both engines read the reference CSV directly; prep rebuilds
    * first-of-month FullDate exactly as `prepare` does, and the WQI
    * formula is inlined with the same literal band constants as
    * graft.analytics.Quality.wqiRaw — deliberately UNROUNDED per row:
    * per-row round(,4) before the yearly average lands on .xxxx5
    * binary-vs-decimal boundaries where the engines disagree, so
    * rounding happens once, after aggregation.
    */
  val riverPrepSql: String =
    s"""WITH raw AS (
      |  SELECT CAST(FullDate AS DATE) AS d, WaterbodyName,
      |    pH, "Dissolved Oxygen", "Conductivity @25°C"
      |  FROM read_csv('$referenceCsv', header=true)
      |)
      |SELECT strftime(make_date(CAST(year(d) AS INT), CAST(month(d) AS INT), 1),
      |                '%Y-%m-%d') AS FullDate,
      |  WaterbodyName, pH, "Dissolved Oxygen", "Conductivity @25°C"
      |FROM raw""".stripMargin

  val riverWqiSql: String =
    s"""WITH raw AS (
      |  SELECT CAST(FullDate AS DATE) AS d, WaterbodyName,
      |    pH AS ph, "Dissolved Oxygen" AS do_sat, "Conductivity @25°C" AS tds
      |  FROM read_csv('$referenceCsv', header=true)
      |), scored AS (
      |  SELECT WaterbodyName, CAST(year(d) AS INT) AS yr,
      |    greatest(0.0, 100.0 * (1.0 - abs(ph - 7.5) / 1.0)) * 0.4 +
      |    greatest(0.0, 100.0 * (1.0 - abs(do_sat - 75.0) / 45.0)) * 0.35 +
      |    greatest(0.0, 100.0 * (1.0 - abs(tds - 775.0) / 725.0)) * 0.25 AS wqi
      |  FROM raw
      |)
      |SELECT WaterbodyName, yr, count(*) AS n_samples,
      |  round(avg(wqi), 4) AS avg_wqi, round(min(wqi), 4) AS min_wqi
      |FROM scored
      |GROUP BY WaterbodyName, yr
      |ORDER BY WaterbodyName, yr""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_river_prep" -> riverPrepSql,
    "q_river_wqi" -> riverWqiSql,
    "q_river_wqi_trend" -> riverWqiTrendSql
  )
}
