package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.ManifestTable

/** The `graft-table` change feed over windows of large (at least
  * 4 MiB) and small changed files. Each case drives one window holding
  * an append, a copy-on-write delete and a deletion-vector delete, and
  * compares the streamed feed with the change set read from the
  * table's two snapshots.
  */
class ChangeFeedLaneSpec extends SparkSpec {

  private val LargeFileBytes = 4L << 20

  /** Local property set on the jobs that write a drained batch. */
  private val WriteMark = "graft.spec.feedWrite"

  /** One AvailableNow drain of the feed into `out`; returns the rows. */
  private def drain(path: String, chk: String, out: String): DataFrame = {
    val q = spark.readStream.format("graft-table").option("path", path)
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sc = batch.sparkSession.sparkContext
        sc.setLocalProperty(WriteMark, "write")
        try batch.write.mode("append").parquet(out)
        finally sc.setLocalProperty(WriteMark, null)
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
  }

  // 64 hex chars of sha2 per row: incompressible enough that the
  // file size tracks the row count
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id"),
      sha2(col("id").cast("string"), 256).as("h"),
      (col("id") % 1000).cast("double").as("v"))

  /** Ids 1..n in file 1 and n+1..2n in file 2 of a new table at
    * `path`; returns its version.
    */
  private def twoFiles(path: String, n: Long): Long =
    ManifestTable.replace(
      rows(1L, 2 * n).repartitionByRange(2, col("id"))
        .sortWithinPartitions("id"), path)

  /** True when one sidecar of `version` holds lines for both files. */
  private def sharedSidecar(path: String, version: Long): Boolean =
    ManifestTable.dvEntries(spark, path, Some(version))
      .groupBy(_._1).values.exists(_.size == 2)

  /** `rowsPerFile` rows in each of two range-laid files under
    * `dir/t`, drained once through `dir/chk`, then one window of
    * mutations: an appended file, a copy-on-write delete in file 1 and
    * a vector delete in file 2, so every changed file in the window
    * holds about `rowsPerFile` rows. Returns the window's first and
    * last version.
    */
  private def mutationWindow(dir: String, rowsPerFile: Long): (Long, Long) = {
    val path = s"$dir/t"
    val n = rowsPerFile
    val v0 = twoFiles(path, n)
    drain(path, s"$dir/chk", s"$dir/load"): Unit
    ManifestTable.append(rows(2 * n + 1, 3 * n).coalesce(1), path)
    ManifestTable.deleteWhere(spark, path, col("id").between(1L, 10L),
      "id", 1.0, 10.0).get
    val dvPred = col("id").between(n + 1, 2 * n) && col("id") % 97 === 0
    val v3 = ManifestTable.deleteWhereMor(spark, path, dvPred,
      "id", (n + 1).toDouble, (2 * n).toDouble).get
    assert(ManifestTable.dvEntries(spark, path).nonEmpty,
      "the window carries no deletion vector")
    (v0, v3)
  }

  /** [[mutationWindow]] over files of the given size class, then checks
    * the feed's change set.
    */
  private def laneCase(tag: String, n: Long, large: Boolean): Unit = {
    val dir = tempDir(s"graft_lane_$tag")
    val path = s"$dir/t"
    val (v0, v3) = mutationWindow(dir, n)
    // every file of either snapshot changed in this window
    val sizes = (ManifestTable.snapshotFiles(spark, path, Some(v0)) ++
      ManifestTable.snapshotFiles(spark, path, Some(v3))).distinct
      .map(f => new java.io.File(s"$path/data/$f").length)
    assert(sizes.nonEmpty && sizes.forall(s => (s >= LargeFileBytes) == large),
      s"fixture files are not all ${if (large) "at least" else "under"} $LargeFileBytes bytes: $sizes")
    val feed = drain(path, s"$dir/chk", s"$dir/window")
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
    laneCase("col", 100000L, large = true)
  }

  test("change feed, row lane: small changed files decode row by row, same change set") {
    laneCase("row", 500L, large = false)
  }

  /** Drains the window `from`..`to` of the table under `dir` (whose
    * feed was drained up to `from`) and checks its change set.
    */
  private def windowChangeSet(dir: String, from: Long, to: Long): Unit = {
    val path = s"$dir/t"
    val feed = drain(path, s"$dir/chk", s"$dir/window")
    assertChangeSet(feed, ManifestTable.read(spark, path, Some(from)),
      ManifestTable.read(spark, path, Some(to)))
  }

  test("change feed: a shared vector from before the window is not emitted again when a file it names is rewritten") {
    val dir = tempDir("graft_lane_shared_old")
    val path = s"$dir/t"
    val n = 500L
    twoFiles(path, n): Unit
    val from = ManifestTable.deleteWhereMor(spark, path, col("id") % 97 === 0,
      "id", 1.0, (2 * n).toDouble).get
    assert(sharedSidecar(path, from), "the vector does not name both files")
    drain(path, s"$dir/chk", s"$dir/load"): Unit
    // file 2 is rewritten, so its line of the shared vector drops while
    // file 1's stays; then a new vector hits file 1, whose delta read
    // must not take the shared vector's old positions with it
    ManifestTable.deleteWhere(spark, path, col("id").between(n + 1, n + 10),
      "id", (n + 1).toDouble, (n + 10).toDouble).get
    val to = ManifestTable.deleteWhereMor(spark, path,
      col("id").between(1L, n) && col("id") % 89 === 0, "id", 1.0, n.toDouble).get
    windowChangeSet(dir, from, to)
  }

  test("change feed: a shared vector written in the window still emits its deletes when a file it names is rewritten") {
    val dir = tempDir("graft_lane_shared_new")
    val path = s"$dir/t"
    val n = 500L
    twoFiles(path, n): Unit
    // a vector on file 2 before the window, so the file carries a line
    // into the window's removed-file read
    val from = ManifestTable.deleteWhereMor(spark, path,
      col("id").between(n + 1, 2 * n) && col("id") % 97 === 0,
      "id", (n + 1).toDouble, (2 * n).toDouble).get
    drain(path, s"$dir/chk", s"$dir/load"): Unit
    // one vector hits both files, then file 2 is rewritten: file 2's
    // removed partition must skip only the positions of its lines at
    // `from`, not the new vector's, whose deletes the feed must emit
    val mid = ManifestTable.deleteWhereMor(spark, path, col("id") % 89 === 0,
      "id", 1.0, (2 * n).toDouble).get
    assert(sharedSidecar(path, mid), "the vector does not name both files")
    val to = ManifestTable.deleteWhere(spark, path, col("id").between(n + 1, n + 10),
      "id", (n + 1).toDouble, (n + 10).toDouble).get
    windowChangeSet(dir, from, to)
  }

  test("change feed: a window's micro-batch submits at most 3 jobs before its write") {
    val dir = tempDir("graft_lane_jobs")
    mutationWindow(dir, 500L): Unit
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty(WriteMark)))
          .getOrElse("-"))
    }
    // marked jobs around the drain: events before "begin" may predate
    // it, and once "end" has arrived every job of the drain has too
    def mark(tag: String): Unit = {
      sc.setLocalProperty(WriteMark, tag)
      try sc.parallelize(Seq(1), 1).count(): Unit
      finally sc.setLocalProperty(WriteMark, null)
    }
    sc.addSparkListener(listener)
    val seen = try {
      mark("begin")
      drain(s"$dir/t", s"$dir/chk", s"$dir/window"): Unit
      mark("end")
      Iterator.continually(jobs.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(j => j != null && j != "end").toSeq
    } finally sc.removeSparkListener(listener)
    // Spark plans the batch before the sink's body and again inside
    // its write, so planning jobs may carry the write's mark too: the
    // write job is the last marked one, and every job before it
    // planned the batch
    val batch = seen.dropWhile(_ != "begin").drop(1)
    val beforeWrite = batch.lastIndexOf("write")
    assert(beforeWrite >= 0, s"no write job seen: $seen")
    assert(beforeWrite <= 3, s"$beforeWrite jobs before the micro-batch's write: $batch")
  }
}
