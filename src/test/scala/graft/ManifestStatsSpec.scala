package graft

import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable

/** Footer-derived commit stats (OPTIMIZATION r14) must be
  * BIT-IDENTICAL to the legacy one-Spark-job scan they replace —
  * same bounds, same ulp widening, same null counts, same row
  * counts, same entry order, same double formatting — and must bail
  * to the scan path (None) for anything they cannot decode
  * losslessly. The equivalence is asserted on the raw manifest line
  * strings, so ANY divergence (order, formatting, value) fails.
  */
class ManifestStatsSpec extends SparkSpec {

  private def stageAndCompare(df: org.apache.spark.sql.DataFrame): Unit = {
    val dir = tempDir("graft_fstat_")
    val names = ManifestTable.stage(df, dir)
    val footer = ManifestTable.footerStats(spark, dir, names)
    val scan = ManifestTable.withStatsScan(spark, dir, names)
    assert(footer.isDefined, "footer path must handle this schema")
    assert(footer.get == scan,
      s"footer stats diverge from the legacy scan:\n" +
        s"footer: ${footer.get.mkString("\n")}\nscan:   ${scan.mkString("\n")}")
  }

  test("footer stats == legacy scan stats on mixed primitive types " +
    "(long, int, double, float, string, date, all-null, negative, large)") {
    import spark.implicits._
    val df = Seq(
      (1L, 7, 1.5, 2.5f, "a", "1997-01-01", Some(3L)),
      (-9007199254740995L, -2, -0.25, 0.0f, "bb", "1998-06-15", None),
      (9007199254740995L, 0, 1e18, -3.5f, "ccc", "1995-12-31", Some(-4L))
    ).toDF("l", "i", "d", "f", "s", "dt_s", "opt")
      .withColumn("dt", to_date(col("dt_s"))).drop("dt_s")
      .withColumn("all_null", lit(null).cast("double"))
      // >1 output file so per-file grouping is exercised
      .repartition(2, col("i"))
    stageAndCompare(df)
  }

  test("footer stats == legacy scan on a timestamp column (micros)") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2020-01-02 03:04:05.123456")),
      (2L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5"))
    ).toDF("k", "ts")
    val dir = tempDir("graft_fstat_")
    val names = ManifestTable.stage(df, dir)
    ManifestTable.footerStats(spark, dir, names) match {
      case Some(lines) =>
        assert(lines == ManifestTable.withStatsScan(spark, dir, names))
      case None =>
        // INT96 writer default: the bail is the correct behavior —
        // the commit then takes the legacy path, output unchanged
        succeed
    }
  }

  test("footer path bails (None) on schemas it cannot decode losslessly") {
    import spark.implicits._
    // nested column
    val nested = Seq((1L, Seq(1, 2))).toDF("k", "arr")
    val d1 = tempDir("graft_fstat_")
    val n1 = ManifestTable.stage(nested, d1)
    assert(ManifestTable.footerStats(spark, d1, n1).isEmpty)
    // decimal column
    val dec = Seq((1L, BigDecimal("12.34"))).toDF("k", "dec")
    val d2 = tempDir("graft_fstat_")
    val n2 = ManifestTable.stage(dec, d2)
    assert(ManifestTable.footerStats(spark, d2, n2).isEmpty)
    // NaN in a double column drops parquet min/max -> must bail, not
    // silently record no bounds (legacy records NaN..NaN there)
    val nan = Seq((1L, Double.NaN), (2L, 1.0)).toDF("k", "d")
    val d3 = tempDir("graft_fstat_")
    val n3 = ManifestTable.stage(nan, d3)
    val f3 = ManifestTable.footerStats(spark, d3, n3)
    f3.foreach(lines =>
      assert(lines == ManifestTable.withStatsScan(spark, d3, n3)))
  }

  test("multi-row-group file, NaN-dropped stats in ONE group: bail, " +
    "never narrow the envelope to the stats-bearing groups (r14 ADVICE)") {
    import spark.implicits._
    // One file, many row groups (tiny parquet.block.size): the FIRST
    // group holds the NaN (writer drops its min/max while the group
    // has real non-null values), later groups carry stats. Computing
    // bounds from the stats-bearing groups alone would record an
    // envelope narrower than the true min/max and let pruneFiles skip
    // files with qualifying rows — footerStats must bail to the scan.
    val dir = tempDir("graft_fstat_")
    val tmp = tempDir("graft_fstat_w")
    val rows = Seq((0L, Double.NaN)) ++ (1 to 20000).map(i => (i.toLong, i.toDouble))
    rows.toDF("k", "d").coalesce(1)
      .sortWithinPartitions(col("k"))
      .write.mode("overwrite")
      .option("parquet.block.size", "1024").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(s"$dir/data").mkdirs()
    val name = part.getName
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/data/$name"))
    // precondition: the layout really has >1 row group, else this
    // test silently degrades to the single-group NaN case above
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/data/$name"),
        spark.sparkContext.hadoopConfiguration))
    val nGroups = try rdr.getFooter.getBlocks.size finally rdr.close()
    assert(nGroups > 1, s"expected multiple row groups, got $nGroups")
    val footer = ManifestTable.footerStats(spark, dir, Seq(name))
    footer match {
      case None => succeed // bailed to the scan path — correct
      case Some(lines) =>
        // only acceptable if bit-identical to the legacy scan (i.e.
        // the writer kept stats after all)
        assert(lines == ManifestTable.withStatsScan(spark, dir, Seq(name)),
          s"footer stats narrowed the NaN group away: $lines")
    }
  }

  test("empty-partition file commits a bare name on both paths") {
    import spark.implicits._
    // repartition by a constant key: one partition holds all rows,
    // the other parquet part file is row-less
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      .repartition(2, lit(0))
    val dir = tempDir("graft_fstat_")
    val names = ManifestTable.stage(df, dir)
    val footer = ManifestTable.footerStats(spark, dir, names)
    val scan = ManifestTable.withStatsScan(spark, dir, names)
    assert(footer.isDefined && footer.get == scan)
    assert(footer.get.exists(l => !l.contains("\t")),
      s"expected one bare (stat-less) name for the empty file: $footer")
  }
}
