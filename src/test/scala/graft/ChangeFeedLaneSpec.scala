package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.ManifestTable

/** The `graft-table` change feed decodes a window on one of two lanes,
  * picked by the size of the window's changed files: Spark's
  * vectorized parquet reader (columnar batches) when every changed
  * file is at least 4 MiB, else the row-at-a-time parquet-mr reader.
  * Both lanes must emit the same change set. Each case drives one
  * window holding an append, a copy-on-write delete and a
  * deletion-vector delete, checks the lane the executed scan really
  * took, and compares the feed with the change set read from the
  * table's two snapshots.
  */
class ChangeFeedLaneSpec extends SparkSpec {

  private val ColumnarMinBytes = 4L << 20

  /** One AvailableNow drain of the feed into `out`; returns the rows
    * and the executed plan of the query's last micro-batch.
    */
  private def drain(path: String, chk: String, out: String): (DataFrame, SparkPlan) = {
    val q = spark.readStream.format("graft-table").option("path", path)
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out): Unit
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    (spark.read.parquet(out), plan)
  }

  private def scanIsColumnar(plan: SparkPlan): Seq[Boolean] =
    plan.collect { case s: MicroBatchScanExec => s.supportsColumnar }

  /** `rowsPerFile` rows in each of two range-laid files, then one
    * window of mutations: an appended file, a copy-on-write delete in
    * file 1 and a vector delete in file 2, so every changed file in
    * the window holds about `rowsPerFile` rows. Checks the lane the
    * window's scan took and the feed's change set.
    */
  private def laneCase(tag: String, rowsPerFile: Long, columnar: Boolean): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_lane_$tag").toFile
    try laneCaseIn(tmp.toString, rowsPerFile, columnar)
    finally graft.sinks.Sinks.deleteRecursively(tmp)
  }

  private def laneCaseIn(dir: String, rowsPerFile: Long, columnar: Boolean): Unit = {
    val path = s"$dir/t"
    val n = rowsPerFile
    // 64 hex chars of sha2 per row: incompressible enough that the
    // file size tracks the row count
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi + 1).select(col("id"),
        sha2(col("id").cast("string"), 256).as("h"),
        (col("id") % 1000).cast("double").as("v"))
    val v0 = ManifestTable.replace(
      rows(1L, 2 * n).repartitionByRange(2, col("id"))
        .sortWithinPartitions("id"), path)
    drain(path, s"$dir/chk", s"$dir/load"): Unit
    ManifestTable.append(rows(2 * n + 1, 3 * n).coalesce(1), path)
    ManifestTable.deleteWhere(spark, path, col("id").between(1L, 10L),
      "id", 1.0, 10.0).get
    val dvPred = col("id").between(n + 1, 2 * n) && col("id") % 97 === 0
    val v3 = ManifestTable.deleteWhereMor(spark, path, dvPred,
      "id", (n + 1).toDouble, (2 * n).toDouble).get
    assert(ManifestTable.dvEntries(spark, path).nonEmpty,
      "the window carries no deletion vector")
    // every file of either snapshot changed in this window
    val sizes = (ManifestTable.snapshotFiles(spark, path, Some(v0)) ++
      ManifestTable.snapshotFiles(spark, path, Some(v3))).distinct
      .map(f => new java.io.File(s"$path/data/$f").length)
    assert(sizes.nonEmpty && sizes.forall(s => (s >= ColumnarMinBytes) == columnar),
      s"fixture file sizes do not select the ${if (columnar) "columnar" else "row"} lane: $sizes")
    val (feed, plan) = drain(path, s"$dir/chk", s"$dir/window")
    assert(scanIsColumnar(plan) == Seq(columnar),
      s"expected one feed scan with columnar = $columnar: $plan")
    assertChangeSet(feed, ManifestTable.read(spark, path, Some(v0)),
      ManifestTable.read(spark, path, Some(v3)))
    val dvId = (n / 97 + 1) * 97 // first vector-deleted id
    assert(feed.filter(col("_change_type") === "delete" && col("id") === dvId)
      .count() == 1, s"vector-deleted row $dvId is missing from the feed")
  }

  /** The feed, reduced by cancelling each delete against an equal
    * insert, must be exactly `to − from` as inserts and `from − to` as
    * deletes; and `from + inserts` must equal `to + deletes` as bags.
    */
  private def assertChangeSet(feed: DataFrame, from: DataFrame, to: DataFrame): Unit = {
    val cols = Seq("id", "h", "v").map(col)
    val ins = feed.filter(col("_change_type") === "insert").select(cols: _*)
    val del = feed.filter(col("_change_type") === "delete").select(cols: _*)
    def same(a: DataFrame, b: DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$what: ${a.exceptAll(b).count()} extra, ${b.exceptAll(a).count()} missing")
    same(ins.exceptAll(del), to.select(cols: _*).exceptAll(from.select(cols: _*)),
      "net inserts vs to − from")
    same(del.exceptAll(ins), from.select(cols: _*).exceptAll(to.select(cols: _*)),
      "net deletes vs from − to")
    same(from.select(cols: _*).unionAll(ins), to.select(cols: _*).unionAll(del),
      "from + inserts vs to + deletes")
  }

  test("change feed, columnar lane: >= 4 MiB changed files decode vectorized, same change set") {
    laneCase("col", 100000L, columnar = true)
  }

  test("change feed, row lane: small changed files decode row by row, same change set") {
    laneCase("row", 500L, columnar = false)
  }
}
