package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Sources
import graft.{Query, QueryModule}

/** Batch sinks (SURVEY.md §2.1 S3, S7/S8 stand-ins).
  *
  * The reference writes CSV from its prep job (reference:
  * kafka/sort_the_source.py:38) and intends a Delta-on-MinIO lake plus
  * a warehouse layer (reference: streaming/spark_processor.py:42,
  * Docker/docker-compose.yml:73-87); offline, the faithful stand-in is
  * parquet, and the piece that actually matters at 100 TB is the
  * partition layout: gold tables are partitioned by a low-cardinality
  * date key so downstream readers get partition PRUNING (only matching
  * directories are listed, verified in SinksSpec).
  */
object Sinks extends QueryModule {

  /** Recursive local-filesystem delete with a null guard (listFiles
    * returns null on I/O error, not an empty array). Shared by the
    * verify main, [[withScratchDir]] and the streaming upsert sink.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }

  /** Runs `body` in a fresh scratch directory and returns its result
    * materialized with `localCheckpoint(eager = true)`, since the plan
    * is lazy and may still read the scratch files. The directory is
    * deleted in `finally`, so a failed body (disk full, a schema
    * regression) leaks nothing into the temp dir either.
    */
  def withScratchDir(prefix: String)(body: java.io.File => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(tmp).localCheckpoint(eager = true)
    finally deleteRecursively(tmp)
  }

  /** S3: header CSV, the reference prep job's output contract. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S7/S8 stand-in: date-partitioned parquet gold table. `dateCol`
    * must be a yyyy-MM-dd string or date — it becomes the directory
    * key. maxRecordsPerFile guards against single-partition giant
    * files at scale.
    */
  def writeGold(df: DataFrame, path: String, dateCol: String): Unit =
    df.withColumn("p_date", date_format(col(dateCol), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("p_date")
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes` each. Streaming sinks and per-batch
    * upserts accrete small files; at 100 TB a scan's task count (and
    * the NameNode/liststatus pressure) is proportional to file count,
    * so periodic compaction is part of operating the gold tables.
    *
    * Sizing reads the INPUT's on-disk footprint (compressed) and
    * coalesce()s — a narrow, shuffle-free repack; the rewrite cost is
    * one read + one write of the partition being compacted. Content is
    * unchanged (row-identical, any order).
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // self-heal a crash inside a PRIOR compact's swap window: if the
    // live path is gone but the backup survives, the backup IS the
    // table — restore it before doing anything else. (For a
    // swap-window-free protocol use ManifestTable, which commits by
    // manifest rename and never moves the live directory.)
    val healPath = new org.apache.hadoop.fs.Path(path + "_precompact")
    if (!fs.exists(hPath) && fs.exists(healPath))
      require(fs.rename(healPath, hPath),
        s"compact: found orphaned backup $healPath but could not restore it")
    val bytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(path + "_compacting")
    val old = new org.apache.hadoop.fs.Path(path + "_precompact")
    // a leftover backup from a crashed prior run would make the first
    // rename nest/fail silently — clear it up front (the live table at
    // `path` is still the source of truth at this point)
    if (fs.exists(old)) require(fs.delete(old, true),
      s"cannot clear stale backup $old")
    spark.read.parquet(path).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // same swap discipline as the upsert sink: the directory flips
    // from old to new layout in two renames, never a partial mix.
    // Hadoop rename reports failure by RETURNING false — each step is
    // checked, and the backup is deleted only after a verified swap
    // (a false anywhere leaves either the original or the backup
    // intact on disk).
    require(fs.rename(hPath, old), s"compact: backup rename failed for $path")
    if (!fs.rename(tmp, hPath)) {
      val restored = fs.rename(old, hPath)
      throw new IllegalStateException(
        s"compact: swap rename failed for $path" +
          (if (restored) " (original restored)"
           else s" AND restore failed — original preserved at $old"))
    }
    require(fs.delete(old, true), s"compact: backup cleanup failed at $old")
  }

  /** S8 warehouse egress — the named entry point for the reference
    * architecture's PostgreSQL tail (imgs/overall-architecture.png:
    * processor → warehouse → Grafana). A thin, contract-enforcing
    * wrapper over `df.write.jdbc`:
    *
    *  - fails FAST on the driver node when no JDBC driver on the
    *    classpath accepts the url (this offline container ships
    *    none), instead of launching a distributed write that dies in
    *    every task with a ClassNotFoundException;
    *  - bounds write parallelism (`maxConnections` → numPartitions):
    *    every task holds one warehouse connection, and a 1000-
    *    partition frame must not open 1000 of them;
    *  - batches rows (`batchSize` → JDBC batch inserts), the knob
    *    that dominates egress throughput.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                user: String = "", password: String = "",
                batchSize: Int = 10000,
                maxConnections: Int = 8): Unit = {
    require(url.startsWith("jdbc:"), s"not a JDBC url: $url")
    require(batchSize > 0 && maxConnections > 0,
      s"writeJdbc: batchSize/maxConnections must be positive")
    try java.sql.DriverManager.getDriver(url)
    catch {
      case e: java.sql.SQLException =>
        throw new IllegalStateException(
          s"writeJdbc: no JDBC driver on the classpath accepts '$url' — " +
            "ship the driver jar (e.g. org.postgresql:postgresql) via " +
            "--jars/extraClassPath before pointing the warehouse sink " +
            "at a real database", e)
    }
    val props = new java.util.Properties()
    if (user.nonEmpty) props.setProperty("user", user)
    if (password.nonEmpty) props.setProperty("password", password)
    props.setProperty("batchsize", batchSize.toString)
    props.setProperty("numPartitions", maxConnections.toString)
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** S-format breadth: prove the ORC and JSON-lines source/sink pairs
    * preserve content END-TO-END, hash-gated against the parquet
    * original. The query reads orders from parquet, writes ORC, reads
    * it back, writes JSON lines, reads THAT back with the original
    * schema (schema-on-read — inference would widen timestamps to
    * strings), and aggregates; DuckDB computes the same aggregate
    * straight from the parquet table, so any loss anywhere in either
    * round trip (type narrowing, timestamp timezone shear, double
    * formatting) breaks the hash. Money is summed in exact integer
    * cents so FP addition order cannot differ between engines.
    *
    * ORC ships in spark-sql (no extra jar); JSON doubles round-trip
    * exactly (Jackson shortest-representation printing). Avro is
    * documented NOT available offline — the spark-avro connector jar
    * is absent from /opt/spark/jars, only avro-core for shuffle
    * internals.
    *
    * At 100 TB this query's shape is the lake-migration job: one scan
    * of the source format, one write of the target, both streaming
    * through executors with no driver materialization; the aggregate
    * tail is the row-count/checksum reconciliation every migration
    * runs.
    */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_fmt_") { tmp =>
      val orcPath = new java.io.File(tmp, "orders_orc").toString
      val jsonPath = new java.io.File(tmp, "orders_json").toString
      val o = Sources.orders(spark, dir)
      o.write.mode(SaveMode.Overwrite).orc(orcPath)
      val fromOrc = spark.read.orc(orcPath)
      fromOrc.write.mode(SaveMode.Overwrite).json(jsonPath)
      val fromJson = spark.read.schema(o.schema).json(jsonPath)
      fromJson
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          min(year(col("o_orderdate"))).as("min_year"),
          max(year(col("o_orderdate"))).as("max_year"),
          countDistinct(col("o_orderstatus")).as("n_status"))
        .orderBy(col("o_orderpriority"))
    }

  val formatRoundtripSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |  CAST(min(year(o_orderdate)) AS INT) AS min_year,
      |  CAST(max(year(o_orderdate)) AS INT) AS max_year,
      |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Schema-evolution read — the lakehouse reality that a long-lived
    * table's early files lack columns added later: a v1 slice (even
    * order keys, 3 columns) and a v2 slice (odd keys, + order_year)
    * are written as separate parquet file sets, then read back as ONE
    * table with mergeSchema — v1 rows surface the evolved column as
    * NULL, v2 rows keep it, and the aggregation downstream treats
    * both generations uniformly (n_legacy counts pre-evolution rows).
    * The oracle replays the same two-generation semantics straight
    * off the base table, proving the merged read loses nothing.
    * Scale note: mergeSchema reconciles FOOTERS (one small job over
    * file metadata), not data; the scan itself stays columnar with
    * missing columns materialized as nulls per row group.
    */
  def schemaMerge(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_sme_") { tmp =>
      val v1Path = new java.io.File(tmp, "gen=1").toString
      val v2Path = new java.io.File(tmp, "gen=2").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          year(col("o_orderdate")).as("order_year"))
      o.filter(col("o_orderkey") % 2 === 0)
        .drop("order_year") // the pre-evolution schema
        .write.mode(SaveMode.Overwrite).parquet(v1Path)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .write.mode(SaveMode.Overwrite).parquet(v2Path)
      val merged = spark.read.option("mergeSchema", "true")
        .parquet(v1Path, v2Path)
      merged
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("cents"),
          count(when(col("order_year").isNull, 1)).as("n_legacy"),
          max(col("order_year")).as("max_year"))
        .orderBy(col("o_orderpriority"))
    }

  val schemaMergeSql: String =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_legacy,
      |  CAST(max(CASE WHEN o_orderkey % 2 <> 0
      |           THEN year(o_orderdate) END) AS INT) AS max_year
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Upsert (MERGE) without a table format: rows of `updates` replace
    * key-matching rows of `target`; everything else passes through.
    * Anti-join + union — the updates side is usually small, so Spark
    * broadcasts it and the target never shuffles. (With a
    * transactional table format this becomes MERGE INTO; the plan
    * shape is the same.) Both inputs must share a schema.
    */
  def upsert(target: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame =
    target.join(updates, keys, "left_anti").unionByName(updates)

  /** Oracle-checked query: double urgent orders' price via upsert (x2 stays exact in binary, so rounding cannot diverge between engines); DuckDB
    * recomputes with a CASE expression — equality proves the
    * anti-join/union merge semantics (every key exactly once, updated
    * rows win).
    */
  def upsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val updates = o.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", col("o_totalprice") * 2.0)
    upsert(o, updates, Seq("o_orderkey"))
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  val upsertOrdersSql: String =
    """SELECT o_orderkey,
      |  round(CASE WHEN o_orderpriority = '1-URGENT'
      |             THEN o_totalprice * 2.0 ELSE o_totalprice END, 2) AS price
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Time travel over [[ManifestTable]] snapshots: commit the orders
    * fact as version 1, commit an urgent-doubled revision as version
    * 2, then read BOTH versions back by version number and diff them —
    * the audit/rollback query a lakehouse table format exists to
    * answer ("what changed between yesterday's snapshot and today's").
    * Old files stay readable because a commit only publishes a new
    * manifest (atomic rename); nothing is rewritten in place.
    *
    * Exactness: cents are exact integers and the doubling is a
    * power-of-two, so the oracle recomputes the identical diff from
    * the raw table with a CASE — proving version isolation, not just
    * row counts. Scale shape: version reads list the manifest (a
    * driver-side file-name read, corpus-independent) and scan only
    * the referenced parquet; the diff is one equi-join keyed on the
    * primary key.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_tt_") { tmp =>
      val path = new java.io.File(tmp, "orders_tt").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val v1 = ManifestTable.replace(o, path)
      val v2 = ManifestTable.replace(
        o.withColumn("cents",
          when(col("o_orderpriority") === "1-URGENT", col("cents") * 2)
            .otherwise(col("cents"))), path)
      val a = ManifestTable.read(spark, path, Some(v1))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("cents").as("cents_v1"))
      val b = ManifestTable.read(spark, path, Some(v2))
        .select(col("o_orderkey"), col("cents").as("cents_v2"))
      a.join(b, Seq("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents_v1")).as("cents_v1"),
          sum(col("cents_v2")).as("cents_v2"),
          sum(when(col("cents_v1") =!= col("cents_v2"), 1L).otherwise(0L))
            .as("n_changed"))
        .withColumn("delta_cents", col("cents_v2") - col("cents_v1"))
        .withColumn("n_versions",
          lit(ManifestTable.versions(spark, path).size.toLong))
        .orderBy(col("o_orderpriority"))
    }

  val timeTravelSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents_v1,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |           THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
      |           ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
      |    AS BIGINT) AS cents_v2,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |                 AND round(o_totalprice * 100) <> 0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |           THEN CAST(round(o_totalprice * 100) AS BIGINT)
      |           ELSE 0 END) AS BIGINT) AS delta_cents,
      |  2 AS n_versions
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Incremental view maintenance for SUM/COUNT gold aggregates: apply
    * a NET change feed ([[ManifestTable.netChanges]]) to a previously
    * materialized aggregate instead of recomputing it from the full
    * snapshot. Sums and counts form an abelian group — an `insert` row
    * contributes +value/+1, a `delete` row −value/−1 — so the delta
    * aggregates over CHANGED rows only, outer-merges with the base on
    * `groupCols`, and groups whose maintained count reaches zero drop
    * out. At 100 TB this is the difference between a maintenance job
    * that reads a day's delta (the changed files) and one that rescans
    * the table: the delta side is tiny, so Catalyst broadcasts it into
    * the merge join.
    *
    * `base` must carry `groupCols`, LONG `sumCols`, and a LONG count
    * in `countCol` (exact integer carriers — the same discipline every
    * oracle-gated money column here uses; FP sums would drift from the
    * recompute by addition order). `net` is the change feed: the base
    * columns plus `_change_type`.
    */
  def maintainAgg(base: DataFrame, net: DataFrame, groupCols: Seq[String],
                  sumCols: Seq[String], countCol: String): DataFrame = {
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val aggs = sumCols.map(c => sum(col(c) * sign).as(c)) :+
      sum(sign).as(countCol)
    val delta = net.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val d = delta.select(groupCols.map(col) ++
      (sumCols :+ countCol).map(c => col(c).as(s"${c}__delta")): _*)
    base.join(d, groupCols, "full_outer")
      .select(groupCols.map(col) ++ (sumCols :+ countCol).map(c =>
        (coalesce(col(c), lit(0L)) +
          coalesce(col(s"${c}__delta"), lit(0L))).as(c)): _*)
      .filter(col(countCol) > 0)
  }

  /** File-name marker carrying the source version a maintained gold
    * table has applied: the gold snapshot's files are staged with a
    * `tick-src<V>-` prefix, so the watermark rides the SAME atomic
    * manifest rename as the data — exactly-once by construction, the
    * appendOnce txn trick applied to replace.
    */
  private val AppliedMarker = "^tick-src(\\d+)-".r

  /** Source version the gold table at `goldPath` has applied, read
    * from its latest snapshot's file-name markers. None if the gold
    * table does not exist yet; fails loud on a gold table without
    * markers (not maintained by [[maintainAggTable]] — ticking it
    * would silently double-apply history).
    */
  def appliedVersion(spark: SparkSession, goldPath: String): Option[Long] =
    ManifestTable.latestVersion(spark, goldPath).map { v =>
      val marks = ManifestTable.snapshotFiles(spark, goldPath, Some(v))
        .flatMap(n => AppliedMarker.findFirstMatchIn(n).map(_.group(1).toLong))
      require(marks.nonEmpty,
        s"appliedVersion: gold table at $goldPath carries no tick-src " +
          "markers — it was not created by maintainAggTable")
      marks.max
    }

  /** One maintenance TICK of a continuously-maintained gold aggregate:
    * bring `goldPath` (grouped sums/counts over the manifest table at
    * `srcPath`, [[maintainAgg]] semantics) from its applied source
    * version to the source's latest — reading ONLY the source files
    * that changed in between ([[ManifestTable.netChanges]]). The gold
    * table itself is rewritten whole each tick; that is the right
    * trade because gold is #groups rows while the source is the 100 TB
    * side — incrementality is about the source READ, not the gold
    * write.
    *
    * First tick creates gold from a full aggregate of the source
    * (there is no cheaper way to seed). A tick with nothing new
    * returns None without committing. Exactly-once: the applied
    * version rides the gold files' names through one atomic commit
    * ([[appliedVersion]]), so a crashed tick either never published
    * (the retry recomputes the same delta) or fully published (the
    * retry reads the new watermark and no-ops) — a replayed tick can
    * never double-apply a delta. Retention interplay: the source's
    * [[ManifestTable.vacuum]] horizon must keep the applied version's
    * manifest readable, i.e. tick at least as often as the source
    * vacuums — a gap fails loud on the missing manifest, never
    * silently.
    */
  def maintainAggTable(spark: SparkSession, srcPath: String,
                       goldPath: String, groupCols: Seq[String],
                       sumCols: Seq[String], countCol: String): Option[Long] = {
    val srcLatest = ManifestTable.latestVersion(spark, srcPath).getOrElse(
      throw new IllegalStateException(
        s"maintainAggTable: no committed snapshot at $srcPath"))
    def aggsOf(df: DataFrame): DataFrame = {
      val exprs = sumCols.map(c => sum(col(c)).as(c)) :+
        count(lit(1)).as(countCol)
      df.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
    }
    appliedVersion(spark, goldPath) match {
      case None =>
        val gold0 = aggsOf(ManifestTable.read(spark, srcPath, Some(srcLatest)))
        Some(ManifestTable.replaceTagged(gold0, goldPath,
          s"tick-src$srcLatest-"))
      case Some(applied) if applied >= srcLatest => None
      case Some(applied) =>
        val net = ManifestTable.netChanges(spark, srcPath, applied, srcLatest)
        val gold1 = maintainAgg(ManifestTable.read(spark, goldPath),
          net, groupCols, sumCols, countCol)
        Some(ManifestTable.replaceTagged(gold1, goldPath,
          s"tick-src$srcLatest-"))
    }
  }

  /** Oracle-checked CDC query: commit orders as v1, reprice the urgent
    * and high priorities through a copy-on-write [[ManifestTable.upsertPruned]]
    * (v2), then read the ROW-LEVEL net change feed between the two
    * versions. The upsert's key range spans most of the range-laid
    * table, so the rewritten files are full of carried rows — the
    * file-level feed is dominated by rewrite noise, and the `require`
    * pins that [[ManifestTable.netChanges]] actually cancelled it
    * (file-level feed strictly larger than the net feed). The oracle
    * recomputes the true delta from the base table: exactly one insert
    * (new cents) and one delete (old cents) per repriced order,
    * nothing else — proving the bag-diff cancellation is exact, not
    * just smaller.
    */
  def cdcNetChanges(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_cdc_") { tmp =>
      val path = new java.io.File(tmp, "orders_cdc").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val laid = o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      val v1 = ManifestTable.replace(laid, path)
      val updates = o
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .withColumn("cents",
          when(col("o_orderpriority") === "1-URGENT", col("cents") * 2)
            .otherwise(col("cents") + 1))
      val v2 = ManifestTable.upsertPruned(updates, path,
        Seq("o_orderkey"), "o_orderkey").getOrElse(
        throw new IllegalStateException("upsert committed nothing"))
      val net = ManifestTable.netChanges(spark, path, v1, v2)
        .localCheckpoint(eager = true)
      val noisy = ManifestTable.changes(spark, path, v1, v2).count()
      require(noisy > net.count(),
        s"expected copy-on-write rewrite noise in the file-level feed " +
          s"(got $noisy file-level rows vs ${net.count()} net rows)")
      net
        .groupBy(col("_change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .orderBy(col("_change_type"), col("o_orderpriority"))
    }

  val cdcNetChangesSql: String =
    """WITH hot AS (
      |  SELECT o_orderpriority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |), ch AS (
      |  SELECT 'insert' AS _change_type, o_orderpriority,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 2 * cents
      |              ELSE cents + 1 END AS cents
      |  FROM hot
      |  UNION ALL
      |  SELECT 'delete' AS _change_type, o_orderpriority, cents FROM hot
      |)
      |SELECT _change_type, o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM ch GROUP BY _change_type, o_orderpriority
      |ORDER BY _change_type, o_orderpriority""".stripMargin

  /** Oracle-checked copy-on-write delete: range-lay orders by order
    * year, [[ManifestTable.deleteWhere]] the 1997 urgent rows, and
    * aggregate the surviving snapshot. The `require` pins the prune:
    * files whose year envelope misses 1997 must be CARRIED verbatim
    * (names unchanged in the new manifest), which is the whole point —
    * a retention/GDPR delete on a range-laid 100 TB table rewrites the
    * slice that can match, not the table. The oracle recomputes the
    * survivors with `NOT(pred)` from the base table, proving row
    * exactness, null-semantics included.
    */
  def deleteWhereOrders(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_del_") { tmp =>
      val path = new java.io.File(tmp, "orders_del").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          year(col("o_orderdate")).as("order_year"))
      val laid = o.repartitionByRange(8, col("order_year"), col("o_orderkey"))
        .sortWithinPartitions("order_year", "o_orderkey")
      val v1 = ManifestTable.replace(laid, path)
      val pred = col("order_year") === 1997 &&
        col("o_orderpriority") === "1-URGENT"
      val v2 = ManifestTable.deleteWhere(spark, path, pred,
        "order_year", 1997.0, 1997.0).getOrElse(
        throw new IllegalStateException("deleteWhere matched no rows"))
      val before = ManifestTable.snapshotFiles(spark, path, Some(v1)).toSet
      val after = ManifestTable.snapshotFiles(spark, path, Some(v2)).toSet
      require((before intersect after).nonEmpty,
        "deleteWhere rewrote every file — the year-envelope prune failed")
      require(before != after, "deleteWhere rewrote nothing")
      ManifestTable.read(spark, path, Some(v2))
        .groupBy(col("order_year"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"),
          count(when(col("o_orderpriority") === "1-URGENT", 1))
            .as("n_urgent"))
        .orderBy(col("order_year"))
    }

  val deleteWhereSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
      |    AS n_urgent
      |FROM orders
      |WHERE NOT (year(o_orderdate) = 1997
      |           AND o_orderpriority = '1-URGENT')
      |GROUP BY order_year
      |ORDER BY order_year""".stripMargin

  /** Oracle-checked MERGE-ON-READ delete (deletion vectors): the same
    * retention shape as [[deleteWhereOrders]] — range-laid by order
    * year — but served through [[ManifestTable.deleteWhereMor]], which
    * commits the matching rows' (file, position) pairs as a tiny
    * sidecar instead of rewriting the touched files. Two successive
    * vector deletes land; the `require`s pin the defining property the
    * copy-on-write twin cannot have: the DATA FILE SET IS IDENTICAL
    * across all three versions — deleting from a 100 TB table wrote
    * kilobytes. The result rides three proofs at once: the surviving
    * groups (read-side anti-join exactness, vs the oracle's NOT(pred)
    * recompute), the pre-delete total via time travel (`n_v1`), and
    * the post-delete total from pure manifest METADATA (`n_meta`,
    * [[ManifestTable.countRows]] — file row sums minus vector line
    * sums, zero data IO even with vectors live).
    */
  def deleteVectorsOrders(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_dv_") { tmp =>
      val path = new java.io.File(tmp, "orders_dv").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          year(col("o_orderdate")).as("order_year"))
      val laid = o.repartitionByRange(8, col("order_year"), col("o_orderkey"))
        .sortWithinPartitions("order_year", "o_orderkey")
      val v1 = ManifestTable.replace(laid, path)
      val v2 = ManifestTable.deleteWhereMor(spark, path,
        col("order_year") === 1997 && col("o_orderpriority") === "1-URGENT",
        "order_year", 1997.0, 1997.0).getOrElse(
        throw new IllegalStateException("first vector delete matched nothing"))
      val v3 = ManifestTable.deleteWhereMor(spark, path,
        col("order_year") === 1995 && col("cents") % 10L === 3L,
        "order_year", 1995.0, 1995.0).getOrElse(
        throw new IllegalStateException("second vector delete matched nothing"))
      val f1 = ManifestTable.snapshotFiles(spark, path, Some(v1))
      require(ManifestTable.snapshotFiles(spark, path, Some(v2)) == f1 &&
        ManifestTable.snapshotFiles(spark, path, Some(v3)) == f1,
        "vector delete changed the data file set — MOR must rewrite nothing")
      require(ManifestTable.dvEntries(spark, path, Some(v3)).size >= 2,
        "expected live deletion vectors after two MOR deletes")
      val nV1 = ManifestTable.read(spark, path, Some(v1)).count()
      val nMeta = ManifestTable.countRows(spark, path, Some(v3))
      ManifestTable.read(spark, path, Some(v3))
        .groupBy(col("order_year"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"),
          count(when(col("o_orderpriority") === "1-URGENT", 1))
            .as("n_urgent"))
        .withColumn("n_v1", lit(nV1))
        .withColumn("n_meta", lit(nMeta))
        .orderBy(col("order_year"))
    }

  val deleteVectorsSql: String =
    """WITH c AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS order_year,
      |         o_orderpriority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |s AS (
      |  SELECT * FROM c
      |  WHERE NOT (order_year = 1997 AND o_orderpriority = '1-URGENT')
      |    AND NOT (order_year = 1995 AND cents % 10 = 3))
      |SELECT order_year, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS cents,
      |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
      |    AS n_urgent,
      |  (SELECT count(*) FROM c) AS n_v1,
      |  (SELECT count(*) FROM s) AS n_meta
      |FROM s GROUP BY order_year
      |ORDER BY order_year""".stripMargin

  /** Oracle-checked BLOOM POINT LOOKUP: orders laid by DATE, so every
    * file's o_orderkey stats envelope spans ~the whole key domain and
    * the min/max prune is USELESS for key equality — the require
    * proves it (envelope keeps every file even for the probe's narrow
    * key range is not required; what is required is that the bloom
    * keeps at most half while the files number ≥ 8). [[ManifestTable
    * .bloomIndex]] builds one filter per file in ONE distributed job;
    * the lookup keys are the table's min, median-rank and max order
    * keys (deterministic integer ranks the oracle reproduces with
    * ORDER BY/OFFSET), and [[ManifestTable.readPoint]] serves them by
    * opening only the files whose filter admits a key — at 10⁵ files
    * the difference between a metadata job plus ~3 file opens and a
    * full-table scan. The oracle recomputes the same three keys' rows
    * raw: identical answers, different bytes.
    */
  def bloomPointLookup(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_blp_") { tmp =>
      val path = new java.io.File(tmp, "orders_bl").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate"))
      ManifestTable.replace(
        o.repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate"), path)
      ManifestTable.bloomIndex(spark, path, "o_orderkey").getOrElse(
        throw new IllegalStateException("bloom index built nothing"))
      val n = o.count()
      val sortedKeys = o.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      import spark.implicits._
      val kMin = sortedKeys.limit(1).as[Long].head()
      val kMed = sortedKeys.offset((n / 2).toInt).limit(1).as[Long].head()
      val kMax = o.agg(max(col("o_orderkey"))).head().getLong(0)
      val keys = Seq(kMin, kMed, kMax)
      val (kept, total) = ManifestTable.pruneFilesBloom(
        spark, path, "o_orderkey", keys.map(_.toString))
      require(total >= 16, s"layout produced only $total files")
      require(kept.size * 2 <= total,
        s"bloom did not skip: ${kept.size}/$total files kept for 3 keys")
      ManifestTable.readPoint(spark, path, "o_orderkey", keys)
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"))
        .orderBy(col("o_orderkey"))
    }

  val bloomPointLookupSql: String =
    """WITH c AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |k AS (
      |  (SELECT min(o_orderkey) AS k FROM c)
      |  UNION
      |  (SELECT o_orderkey FROM c ORDER BY o_orderkey
      |     LIMIT 1 OFFSET (SELECT count(*) // 2 FROM c))
      |  UNION
      |  (SELECT max(o_orderkey) FROM c))
      |SELECT o_orderkey, o_orderpriority, cents
      |FROM c WHERE o_orderkey IN (SELECT k FROM k)
      |ORDER BY o_orderkey""".stripMargin

  /** Oracle-checked STREAMING-SOURCE feed: subscribe to a manifest
    * table through the `graft-table` source
    * ([[graft.ingest.ManifestTableProvider]]) after a three-mutation
    * window — an append of shifted urgent orders, a copy-on-write
    * decile reprice, a scattered merge-on-read delete — and REDUCE
    * the streamed change feed (inserts `exceptAll` deletes, the
    * materialization every downstream subscriber performs). The
    * reduction must equal the table's final state, which the oracle
    * recomputes from the raw table with the three mutations expressed
    * in SQL — so the entire source path (version offsets, the
    * initial load, the change feed's vector position filters, rewrite
    * noise) is gated by DuckDB, not only by specs.
    * The require pins that rewrite noise and vector deletes REALLY
    * rode the feed (delete slice nonempty on both counts) — the
    * reduction is proven over a feed that genuinely contained them.
    */
  def streamTableFeed(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_stf_") { tmp =>
      val path = new java.io.File(tmp, "orders_stf").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      ManifestTable.replace(
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), path)
      val outDir = new java.io.File(tmp, "feed").toString
      def drain(): Unit = {
        val q = spark.readStream.format("graft-table").option("path", path)
          .load()
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(outDir): Unit
          }
          .option("checkpointLocation", new java.io.File(tmp, "chk").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // run 1: the subscriber starts BEFORE the mutations — the
      // initial snapshot load
      drain()
      val b = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (mn, mx) = (b.getAs[Number](0).longValue, b.getAs[Number](1).longValue)
      val cutLo = mn + (mx - mn) / 10
      ManifestTable.append(
        o.filter(col("o_orderpriority") === "1-URGENT")
          .withColumn("o_orderkey", col("o_orderkey") + lit(mx)), path)
      ManifestTable.upsertPruned(
        o.filter(col("o_orderkey") <= cutLo)
          .withColumn("cents", col("cents") + 5L),
        path, Seq("o_orderkey"), "o_orderkey").getOrElse(
        throw new IllegalStateException("reprice committed nothing"))
      val nBefore = ManifestTable.countRows(spark, path)
      ManifestTable.deleteWhereMor(spark, path,
        col("cents") % 7L === 3L, "o_orderkey",
        mn.toDouble, (mx * 2).toDouble).getOrElse(
        throw new IllegalStateException("vector delete matched nothing"))
      val nVectorDeleted = nBefore - ManifestTable.countRows(spark, path)
      // run 2, same checkpoint: exactly the mutation-window feed,
      // accumulated into the same output alongside the initial load
      drain()
      val feed = spark.read.parquet(outDir)
      val nDel = feed.filter(col("_change_type") === "delete").count()
      require(nDel > nVectorDeleted,
        s"feed carried no rewrite noise ($nDel deletes vs " +
          s"$nVectorDeleted vector-deleted) — the CoW window is not exercised")
      require(nVectorDeleted > 0, "no vector deletes rode the feed")
      // OPTIMIZATION r14 (guide §2.3/§2.4): the reduction used to be
      // ins.exceptAll(del) → groupBy — two filtered scans of the feed
      // plus exceptAll's own union+aggregate+replicate shuffle before
      // the priority aggregate. The change feed guarantees deletes are
      // a sub-bag of inserts (every delete row was previously emitted
      // as an insert: file-removal deletes skip already-vector-deleted
      // positions, so each physical row contributes exactly one insert
      // and at most one later delete), so per row value
      // nDel ≤ nIns and exceptAll's max(nIns−nDel, 0) IS nIns−nDel:
      // the aggregate over the survivors equals ONE signed aggregation
      // over the raw feed — one scan, one shuffle. A group appears in
      // the exceptAll output iff it keeps ≥1 row, i.e. net > 0, hence
      // the n_rows > 0 filter (same sub-bag argument). coalesce keeps
      // n_rows non-nullable like the count(1) it replaces.
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      feed
        .groupBy(col("o_orderpriority"))
        .agg(coalesce(sum(sign), lit(0L)).as("n_rows"),
          sum(sign * col("cents")).as("cents"))
        .filter(col("n_rows") > 0L)
        .orderBy(col("o_orderpriority"))
    }

  val streamTableFeedSql: String =
    """WITH c AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS p,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |b AS (SELECT min(k) AS mn, max(k) AS mx FROM c),
      |repriced AS (
      |  SELECT k, p,
      |         CASE WHEN k <= mn + (mx - mn) // 10 THEN cents + 5
      |              ELSE cents END AS cents
      |  FROM c, b),
      |shifted AS (
      |  SELECT k + mx AS k, p, cents FROM c, b WHERE p = '1-URGENT'),
      |allr AS (
      |  SELECT * FROM repriced UNION ALL SELECT * FROM shifted),
      |fin AS (SELECT * FROM allr WHERE cents % 7 <> 3)
      |SELECT p AS o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM fin GROUP BY p
      |ORDER BY o_orderpriority""".stripMargin

  /** Oracle-checked NULL-COUNT skipping: a sparse optional column —
    * populated only where cents divides by 3, the "field added for a
    * slice of the corpus" shape — staged so presence aligns with file
    * generations (v1 = present rows, appended v2 = null rows). The
    * min/max envelope is useless here (null rows record no bounds);
    * the per-file null counts decide WHOLE FILES: the IS NOT NULL
    * read opens only v1's files, the IS NULL read only v2's, and the
    * requires pin both prunes strictly (each side's kept set smaller
    * than the table, union covering it). The oracle recomputes both
    * sides' aggregates from the raw table with the same CASE
    * derivation — grouping by nullness, since the two skipping reads
    * partition the rows exactly.
    */
  def nullSkipping(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_nsk_") { tmp =>
      val path = new java.io.File(tmp, "orders_ns").toString
      val o = Sources.orders(spark, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority"))
        .withColumn("opt", when(col("cents") % 3L === 0L,
          col("o_orderpriority")))
        .drop("o_orderpriority")
      val present = o.filter(col("opt").isNotNull)
        .repartitionByRange(2, col("cents")).sortWithinPartitions("cents")
      val absent = o.filter(col("opt").isNull)
        .repartitionByRange(2, col("cents")).sortWithinPartitions("cents")
      ManifestTable.replace(present, path)
      ManifestTable.append(absent, path)
      import graft.sinks.ManifestTable
      val (keptNN, total) = ManifestTable.pruneFilesByNull(
        spark, path, "opt", wantNull = false)
      val (keptN, _) = ManifestTable.pruneFilesByNull(
        spark, path, "opt", wantNull = true)
      require(total >= 4 && keptNN.size < total && keptN.size < total,
        s"null-count skip did not prune: $total files, " +
          s"notnull kept ${keptNN.size}, null kept ${keptN.size}")
      require(keptNN.size + keptN.size == total,
        "the two sides must partition a generation-pure layout")
      val nn = ManifestTable.readByNull(spark, path, "opt", wantNull = false)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .withColumn("side", lit("notnull"))
      val nl = ManifestTable.readByNull(spark, path, "opt", wantNull = true)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .withColumn("side", lit("null"))
      nn.unionByName(nl)
        .select(col("side"), col("n_rows"), col("cents"))
        .orderBy(col("side"))
    }

  val nullSkippingSql: String =
    """WITH c AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderpriority AS p
      |  FROM orders),
      |t AS (
      |  SELECT cents,
      |         CASE WHEN cents % 3 = 0 THEN p END AS opt
      |  FROM c)
      |SELECT CASE WHEN opt IS NOT NULL THEN 'notnull' ELSE 'null' END
      |    AS side,
      |  count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS cents
      |FROM t GROUP BY 1
      |ORDER BY side""".stripMargin

  /** Oracle-checked METADATA TOP-K: "latest 20" on a key-range-laid
    * table served by [[ManifestTable.readTopK]] — the stats envelopes
    * pick the boundary file(s), so the require pins the whole point:
    * at most 2 of the ≥8 files opened where a naive ORDER BY LIMIT
    * scans the table (a TakeOrdered over 100 TB vs a metadata lookup
    * plus one file). A vector delete thins the top beforehand: the
    * selection's guaranteed-row accounting must treat deleted rows as
    * potentially-top (widening the kept set if needed) and the
    * DV-filtered read keeps the answer exact — proven against
    * DuckDB's NOT(pred) + ORDER BY + LIMIT recompute on unique keys.
    */
  def metaTopK(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_mtk_") { tmp =>
      val path = new java.io.File(tmp, "orders_tk").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      ManifestTable.replace(
        o.repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), path)
      val b = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (mn, mx) = (b.getAs[Number](0).longValue, b.getAs[Number](1).longValue)
      val cut = mn + (mx - mn) * 9 / 10
      ManifestTable.deleteWhereMor(spark, path,
        col("o_orderkey") > cut && col("cents") % 5L === 1L,
        "o_orderkey", cut.toDouble, mx.toDouble).getOrElse(
        throw new IllegalStateException("top-decile vector delete matched nothing"))
      val (kept, total) = ManifestTable.topKFiles(spark, path,
        "o_orderkey", 20)
      require(total >= 8 && kept.size <= 2,
        s"metadata top-k did not skip: ${kept.size}/$total files")
      ManifestTable.readTopK(spark, path, "o_orderkey", 20)
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"))
    }

  val metaTopKSql: String =
    """WITH c AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS p,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |b AS (SELECT min(k) AS mn, max(k) AS mx FROM c),
      |d AS (
      |  SELECT c.* FROM c, b
      |  WHERE NOT (k > mn + (mx - mn) * 9 // 10 AND cents % 5 = 1))
      |SELECT k AS o_orderkey, p AS o_orderpriority, cents
      |FROM d ORDER BY k DESC LIMIT 20""".stripMargin

  /** Oracle-checked incremental view maintenance: materialize a
    * revenue-by-priority gold aggregate at v1, mutate the table twice —
    * a copy-on-write reprice of the FIRST key decile
    * ([[ManifestTable.upsertPruned]], v2) and a retention delete of the
    * medium-priority LAST decile ([[ManifestTable.deleteWhere]], v3) —
    * then bring the aggregate to the v3 state by applying the v1→v3
    * net change feed ([[maintainAgg]]), never rescanning the table.
    * The `require` pins the incrementality: the feed's file set is a
    * strict subset of the snapshot (both mutations pruned on the
    * key-range-laid layout, so most files were carried verbatim and
    * contribute nothing to the maintenance read). The oracle is the
    * FULL RECOMPUTE of the v3 state from the base table — maintained
    * and recomputed must agree cell-for-cell, the defining property of
    * view maintenance.
    */
  def incrViewMaint(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_ivm_") { tmp =>
      val path = new java.io.File(tmp, "orders_ivm").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val laid = o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      val v1 = ManifestTable.replace(laid, path)
      val baseAgg = ManifestTable.read(spark, path, Some(v1))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .localCheckpoint(eager = true) // materialized gold, day 1
      // the decile cuts are integer arithmetic on the key bounds, so
      // the oracle reproduces them exactly in SQL
      val bounds = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .head()
      val (mn, mx) = (bounds.getAs[Number](0).longValue,
        bounds.getAs[Number](1).longValue)
      val cutLo = mn + (mx - mn) / 10 // first decile: repriced
      val cutHi = mx - (mx - mn) / 10 // last decile: retention delete
      val updates = o.filter(col("o_orderkey") <= cutLo)
        .withColumn("cents", col("cents") + 5L)
      ManifestTable.upsertPruned(updates, path,
        Seq("o_orderkey"), "o_orderkey").getOrElse(
        throw new IllegalStateException("upsert committed nothing"))
      val v3 = ManifestTable.deleteWhere(spark, path,
        col("o_orderkey") >= cutHi &&
          col("o_orderpriority") === "3-MEDIUM",
        "o_orderkey", cutHi.toDouble, mx.toDouble).getOrElse(
        throw new IllegalStateException("deleteWhere matched no rows"))
      // incrementality: the feed reads a strict subset of the files
      val f1 = ManifestTable.snapshotFiles(spark, path, Some(v1)).toSet
      val f3 = ManifestTable.snapshotFiles(spark, path, Some(v3)).toSet
      val changed = (f1 union f3) -- (f1 intersect f3)
      require(changed.size < (f1 union f3).size,
        "both mutations rewrote every file — nothing incremental to prove")
      val net = ManifestTable.netChanges(spark, path, v1, v3)
      maintainAgg(baseAgg, net,
        Seq("o_orderpriority"), Seq("cents"), "n_rows")
        .select(col("o_orderpriority"), col("n_rows"), col("cents"))
        .orderBy(col("o_orderpriority"))
    }

  val incrViewMaintSql: String =
    """WITH b AS (
      |  SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders
      |), o2 AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey <= mn + (mx - mn) // 10
      |         THEN CAST(round(o_totalprice * 100) AS BIGINT) + 5
      |         ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
      |    mx - (mx - mn) // 10 AS cut_hi
      |  FROM orders, b
      |)
      |SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM o2
      |WHERE NOT (o_orderkey >= cut_hi AND o_orderpriority = '3-MEDIUM')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Oracle-checked maintained-gold lifecycle: three "days" of source
    * mutations with a [[maintainAggTable]] tick after each — day 1
    * seeds the gold from a full aggregate, day 2 appends a tranche of
    * new facts, day 3 reprices the first key decile (copy-on-write
    * upsert) AND retention-deletes the medium-priority last decile,
    * both applied by ONE tick spanning the two commits. The final gold
    * must equal the oracle's full recompute of the day-3 state — and
    * the `require`s pin the lifecycle mechanics the SQL can't see: the
    * applied-version watermark rides the gold manifest, a replayed
    * tick is a no-op (exactly-once under crash-retry), and exactly one
    * gold version exists per tick.
    */
  def maintainedGold(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_mgold_") { tmp =>
      val src = new java.io.File(tmp, "orders_src").toString
      val gold = new java.io.File(tmp, "orders_gold").toString
      val grp = Seq("o_orderpriority")
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val laid = o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      // day 1: seed + first tick (full aggregate, watermark committed)
      ManifestTable.replace(laid, src)
      require(maintainAggTable(spark, src, gold, grp,
        Seq("cents"), "n_rows").isDefined, "seed tick must commit")
      // day 2: append the day's new facts (disjoint key range), tick
      val tranche = o.filter(col("o_orderpriority") === "2-HIGH")
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderpriority"), col("cents"))
      ManifestTable.append(tranche, src)
      require(maintainAggTable(spark, src, gold, grp,
        Seq("cents"), "n_rows").isDefined, "day-2 tick must commit")
      // day 3: reprice the first decile, retention-delete the medium
      // last decile — two source commits, ONE tick spans both
      val bounds = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .head()
      val (mn, mx) = (bounds.getAs[Number](0).longValue,
        bounds.getAs[Number](1).longValue)
      val cutLo = mn + (mx - mn) / 10
      val cutHi = mx - (mx - mn) / 10
      ManifestTable.upsertPruned(
        o.filter(col("o_orderkey") <= cutLo)
          .withColumn("cents", col("cents") + 5L),
        src, Seq("o_orderkey"), "o_orderkey").getOrElse(
        throw new IllegalStateException("day-3 upsert committed nothing"))
      ManifestTable.deleteWhere(spark, src,
        col("o_orderkey") >= cutHi &&
          col("o_orderpriority") === "3-MEDIUM",
        "o_orderkey", cutHi.toDouble, (mx + 200000000L).toDouble).getOrElse(
        throw new IllegalStateException("day-3 delete matched nothing"))
      require(maintainAggTable(spark, src, gold, grp,
        Seq("cents"), "n_rows").isDefined, "day-3 tick must commit")
      // lifecycle invariants the oracle can't observe
      require(appliedVersion(spark, gold) ==
        ManifestTable.latestVersion(spark, src),
        "watermark must equal the source's latest version after a tick")
      require(maintainAggTable(spark, src, gold, grp,
        Seq("cents"), "n_rows").isEmpty,
        "a replayed tick with nothing new must be a no-op")
      require(ManifestTable.versions(spark, gold).size == 3,
        "exactly one gold version per tick")
      ManifestTable.read(spark, gold)
        .select(col("o_orderpriority"), col("n_rows"), col("cents"))
        .orderBy(col("o_orderpriority"))
    }

  val maintainedGoldSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), b AS (
      |  SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM base
      |), day2 AS (
      |  SELECT * FROM base
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, cents FROM base
      |  WHERE o_orderpriority = '2-HIGH'
      |), day3 AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey <= mn + (mx - mn) // 10
      |         THEN cents + 5 ELSE cents END AS cents,
      |    mx - (mx - mn) // 10 AS cut_hi
      |  FROM day2, b
      |)
      |SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM day3
      |WHERE NOT (o_orderkey >= cut_hi AND o_orderpriority = '3-MEDIUM')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Oracle-checked metadata COUNT(*): three snapshots (replace,
    * append, copy-on-write delete) counted via
    * [[ManifestTable.countRows]] — the manifest row-count stats, zero
    * data IO — against DuckDB's true counts of the same logical
    * states. Every mutation path must keep the metadata count exact:
    * replace and append write fresh stats, the delete's rewritten
    * survivor files get THEIR fresh stats while carried files keep
    * their lines verbatim. The count comes from the manifest alone
    * (O(files) driver work), which is what makes `SELECT count(*)`
    * on a 100 TB table a sub-second metadata answer instead of a
    * full scan.
    */
  def fastCount(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_fcnt_") { tmp =>
      val path = new java.io.File(tmp, "orders_cnt").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val laid = o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      val v1 = ManifestTable.replace(laid, path)
      val tranche = o.filter(col("o_orderpriority") === "2-HIGH")
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderpriority"), col("cents"))
      val v2 = ManifestTable.append(tranche, path)
      val bounds = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
        .head()
      val (mn, mx) = (bounds.getAs[Number](0).longValue,
        bounds.getAs[Number](1).longValue)
      val cutLo = mn + (mx - mn) / 10
      val v3 = ManifestTable.deleteWhere(spark, path,
        col("o_orderkey") <= cutLo &&
          col("o_orderpriority") === "1-URGENT",
        "o_orderkey", mn.toDouble, cutLo.toDouble).getOrElse(
        throw new IllegalStateException("delete matched no rows"))
      import spark.implicits._
      Seq(("v1", ManifestTable.countRows(spark, path, Some(v1))),
          ("v2", ManifestTable.countRows(spark, path, Some(v2))),
          ("v3", ManifestTable.countRows(spark, path, Some(v3))))
        .toDF("snap", "n").orderBy(col("snap"))
    }

  val fastCountSql: String =
    """WITH b AS (
      |  SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM orders
      |), n1 AS (SELECT count(*) AS n FROM orders),
      |n_high AS (
      |  SELECT count(*) AS n FROM orders WHERE o_orderpriority = '2-HIGH'
      |), n_del AS (
      |  SELECT count(*) AS n FROM orders, b
      |  WHERE o_orderkey <= mn + (mx - mn) // 10
      |    AND o_orderpriority = '1-URGENT'
      |)
      |SELECT 'v1' AS snap, CAST(n1.n AS BIGINT) AS n FROM n1
      |UNION ALL
      |SELECT 'v2', CAST(n1.n + n_high.n AS BIGINT) FROM n1, n_high
      |UNION ALL
      |SELECT 'v3', CAST(n1.n + n_high.n - n_del.n AS BIGINT)
      |FROM n1, n_high, n_del
      |ORDER BY snap""".stripMargin

  /** Schema evolution through the manifest header (round 14): v1
    * commits the non-urgent orders WITHOUT a priority column; v2
    * APPENDS the urgent orders WITH it. Adding the column cost one
    * manifest header line — zero v1 bytes rewritten, zero footer
    * reads at query time (the schema is resolved from the log, where
    * `mergeSchema` would stat every file's footer per query: at 10⁵+
    * files that is the difference between O(1) and O(files) IO). The
    * evolved read null-fills the new column on pre-evolution rows,
    * and time travel to v1 still serves the original two-column
    * schema — both widths ride the output as proof. The oracle
    * recomputes every group from the raw table, with the NULL-group
    * mapping made explicit — proving the null-fill SEMANTICS, not
    * just row counts.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    withScratchDir("graft_sevo_") { tmp =>
      val path = new java.io.File(tmp, "orders_evo").toString
      val o = Sources.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = o.filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("cents"))
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      val v1 = ManifestTable.replace(base, path)
      val v2 = ManifestTable.append(
        o.filter(col("o_orderpriority") === "1-URGENT"), path)
      val nColsV1 = ManifestTable.read(spark, path, Some(v1)).columns.length
      val evolved = ManifestTable.read(spark, path, Some(v2))
      evolved
        .groupBy(coalesce(col("o_orderpriority"), lit("pre-evolution"))
          .as("grp"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
        .withColumn("n_cols_v1", lit(nColsV1.toLong))
        .withColumn("n_cols_v2", lit(evolved.columns.length.toLong))
        .orderBy(col("grp"))
    }

  val schemaEvolutionSql: String =
    """WITH c AS (
      |  SELECT o_orderkey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderpriority
      |  FROM orders)
      |SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority
      |            ELSE 'pre-evolution' END AS grp,
      |  count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS cents_sum,
      |  CAST(2 AS BIGINT) AS n_cols_v1,
      |  CAST(3 AS BIGINT) AS n_cols_v2
      |FROM c
      |GROUP BY 1
      |ORDER BY grp""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_upsert_orders" -> Query(upsertOrders, upsertOrdersSql),
    "q_time_travel" -> Query(timeTravel, timeTravelSql),
    "q_format_roundtrip" -> Query(formatRoundtrip, formatRoundtripSql),
    "q_schema_merge" -> Query(schemaMerge, schemaMergeSql),
    "q_cdc_net_changes" -> Query(cdcNetChanges, cdcNetChangesSql),
    "q_delete_where" -> Query(deleteWhereOrders, deleteWhereSql),
    "q_incr_view_maint" -> Query(incrViewMaint, incrViewMaintSql),
    "q_maintained_gold" -> Query(maintainedGold, maintainedGoldSql),
    "q_fast_count" -> Query(fastCount, fastCountSql),
    "q_schema_evolution" -> Query(schemaEvolution, schemaEvolutionSql),
    "q_delete_vectors" -> Query(deleteVectorsOrders, deleteVectorsSql),
    "q_bloom_point_lookup" -> Query(bloomPointLookup, bloomPointLookupSql),
    "q_stream_table_feed" -> Query(streamTableFeed, streamTableFeedSql),
    "q_null_skipping" -> Query(nullSkipping, nullSkippingSql),
    "q_meta_topk" -> Query(metaTopK, metaTopKSql)
  )
}
