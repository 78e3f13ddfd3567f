package graft

import org.apache.spark.sql.functions._
import graft.sinks.Sinks

class SinksSpec extends SparkSpec {

  test("csv sink round-trips the prep output contract (header, values)") {
    val dir = tempDir("graft_csv")
    val df = graft.ingest.Sources.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"))
    Sinks.writeCsv(df, s"$dir/out")
    val back = graft.ingest.Sources.csv(spark, s"$dir/out")
    assert(back.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(back.count() == df.count())
    assert(back.except(df).count() == 0)
  }

  test("gold sink partitions by date and readers get partition pruning") {
    val dir = tempDir("graft_gold")
    Sinks.writeGold(
      graft.ingest.Sources.orders(spark, sf)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
      s"$dir/gold", "o_orderdate")
    // physical layout: one directory per date
    val dirs = new java.io.File(s"$dir/gold").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("p_date=")))
    // a date-filtered read prunes partitions at plan time
    val someDate = dirs.head.stripPrefix("p_date=")
    val pruned = spark.read.parquet(s"$dir/gold")
      .filter(col("p_date") === someDate)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters: [isnotnull(p_date"),
      s"expected partition filter in scan:\n$p")
    val full = spark.read.parquet(s"$dir/gold")
    assert(pruned.count() > 0 && pruned.count() < full.count())
  }

  test("withScratchDir deletes its dir after success and failure; the result still collects") {
    import spark.implicits._
    var seen: java.io.File = null
    val out = Sinks.withScratchDir("graft_scratch_spec_") { tmp =>
      seen = tmp
      val path = new java.io.File(tmp, "t").toString
      Seq(1L, 2L, 3L).toDF("x").write.parquet(path)
      spark.read.parquet(path).agg(sum(col("x")).as("s"))
    }
    assert(seen != null && !seen.exists(), s"scratch dir left behind: $seen")
    // the frame was materialized before the files went away
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(6L))
    seen = null
    val err = intercept[IllegalStateException] {
      Sinks.withScratchDir("graft_scratch_spec_") { tmp =>
        seen = tmp
        Seq(1L).toDF("x").write.parquet(new java.io.File(tmp, "t").toString)
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed", "the body's own exception must surface")
    assert(seen != null && !seen.exists(), s"scratch dir left behind on failure: $seen")
  }

  test("upsert keeps every key exactly once and updated rows win") {
    val out = graft.sinks.Sinks.upsertOrders(spark, sf)
    val orders = graft.ingest.Sources.orders(spark, sf)
    assert(out.count() == orders.count())
    assert(out.select(col("o_orderkey")).distinct().count() == orders.count())
  }

  test("schema evolution: mergeSchema unifies batches with different columns") {
    val dir = tempDir("graft_evo")
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/t/batch=1")
    Seq((2L, 9.5)).toDF("id", "c").write.parquet(s"$dir/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("id", "a", "c", "batch"))
    assert(merged.count() == 2)
    // columns absent in a batch surface as null, not an error
    assert(merged.filter(col("a").isNull).count() == 1)
  }

  test("ORC round-trip preserves schema and pushes filters to the scan") {
    val dir = tempDir("graft_orc")
    val df = graft.ingest.Sources.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    df.write.orc(s"$dir/o")
    val back = graft.ingest.Sources.orc(spark, s"$dir/o")
    assert(back.schema == df.schema)
    assert(back.count() == df.count())
    val p = plan(back.filter(col("o_totalprice") > 100000.0))
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"expected ORC pushdown:\n$p")
  }

  test("JSON-lines round-trip with explicit schema (wire-format twin)") {
    val dir = tempDir("graft_json")
    val df = graft.ingest.Sources.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"))
    df.write.json(s"$dir/j")
    val back = graft.ingest.Sources.jsonLines(spark, s"$dir/j", df.schema)
    assert(back.schema == df.schema)
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
  }

  test("compaction collapses a fragmented table without changing content") {
    val dir = tempDir("graft_compact")
    val path = s"$dir/t"
    val df = graft.ingest.Sources.orders(spark, sf)
    df.repartition(40).write.parquet(path) // fragment: 40 small files
    def parquetFiles() = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 40, s"fixture not fragmented: $before files")
    Sinks.compact(spark, path, targetFileBytes = 10L * 1024 * 1024)
    val after = parquetFiles()
    assert(after < before / 4, s"compaction barely helped: $before -> $after")
    val back = spark.read.parquet(path)
    assert(back.count() == df.count())
    assert(back.except(df).count() == 0 && df.except(back).count() == 0)
    // no leftover staging/backup dirs from the swap
    assert(!new java.io.File(path + "_compacting").exists())
    assert(!new java.io.File(path + "_precompact").exists())
    // a stale backup from a "crashed" earlier run must not break or
    // corrupt the next compaction (it is cleared up front)
    new java.io.File(path + "_precompact").mkdirs()
    Sinks.compact(spark, path, targetFileBytes = 10L * 1024 * 1024)
    assert(spark.read.parquet(path).count() == df.count())
    assert(!new java.io.File(path + "_precompact").exists())
  }

  test("compact self-heals a crash inside the swap window (backup-only state)") {
    val dir = tempDir("graft_heal")
    val path = s"$dir/t"
    val df = graft.ingest.Sources.nation(spark, sf)
    df.write.parquet(path)
    // simulate a crash between the two swap renames: live dir moved to
    // the backup name, promote never happened
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + "_precompact")))
    Sinks.compact(spark, path)
    assert(spark.read.parquet(path).count() == df.count(),
      "compact must restore the backup as the live table before sizing")
    assert(!new java.io.File(path + "_precompact").exists())
  }
}

/** In-JVM mock JDBC stack (dynamic proxies): records the SQL the
  * writer prepares and the batching behavior, so the warehouse sink's
  * contract is testable with zero driver jars. local[n] executors
  * share the JVM, so DriverManager registration and the static
  * recorders are visible to the write tasks.
  */
object MockJdbc {
  val statements = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val batched = new java.util.concurrent.atomic.AtomicInteger(0)
  val connections = new java.util.concurrent.atomic.AtomicInteger(0)
  // (name, jdbc type) of the mock database's single table, set by the
  // recorded CREATE TABLE — lets post-write schema probes succeed
  @volatile private var created: Seq[(String, Int)] = Seq.empty

  def reset(): Unit = {
    statements.clear(); batched.set(0); connections.set(0); created = Seq.empty
  }

  private def recordSql(s: String): Unit = {
    statements.add(s)
    val create = "(?is)CREATE\\s+TABLE\\s+\\S+\\s*\\((.*)\\)".r
    s.trim match {
      case create(colList) =>
        created = colList.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          .map { c =>
            val name = c.split("\\s+").head.replaceAll("[\"`]", "")
            val tpe = if (c.toUpperCase.contains("INT")) java.sql.Types.INTEGER
              else java.sql.Types.VARCHAR
            name -> tpe
          }
      case _ =>
    }
  }

  private def proxy(iface: Class[_], sql: String = ""): AnyRef =
    java.lang.reflect.Proxy.newProxyInstance(iface.getClassLoader,
      Array(iface), (_, m, args) => invoke(m, args, sql))

  private def invoke(m: java.lang.reflect.Method, args: Array[AnyRef],
                     sql: String): AnyRef = m.getName match {
    case "prepareStatement" | "createStatement" =>
      val s = if (args != null && args.nonEmpty) args(0) match {
        case str: String => recordSql(str); str
        case _ => ""
      } else ""
      proxy(m.getReturnType, s)
    case "executeUpdate" | "execute" if args != null && args.nonEmpty =>
      args(0) match { case str: String => recordSql(str); case _ => }
      default(m.getReturnType)
    case "executeQuery" if sql.contains("WHERE 1=0") && created.isEmpty =>
      // pre-create probes report "no such table" (SQLState 42*, which
      // the default dialect classifies as object-not-found): the write
      // takes the CREATE TABLE + INSERT path, all mock-recordable
      throw new java.sql.SQLException(s"mock: no such table ($sql)", "42P01")
    case "getColumnCount" => Integer.valueOf(created.size)
    case "getColumnName" | "getColumnLabel" =>
      created(args(0).asInstanceOf[Integer] - 1)._1
    case "getColumnType" =>
      Integer.valueOf(created(args(0).asInstanceOf[Integer] - 1)._2)
    case "getColumnTypeName" =>
      if (created(args(0).asInstanceOf[Integer] - 1)._2 ==
        java.sql.Types.INTEGER) "INTEGER" else "VARCHAR"
    case "getPrecision" =>
      Integer.valueOf(
        if (created(args(0).asInstanceOf[Integer] - 1)._2 ==
          java.sql.Types.INTEGER) 10 else 255)
    case "isSigned" => java.lang.Boolean.TRUE
    case "isNullable" =>
      Integer.valueOf(java.sql.ResultSetMetaData.columnNullable)
    case "addBatch" => batched.incrementAndGet(); null
    case "executeBatch" => Array.empty[Int]
    case "supportsBatchUpdates" | "supportsTransactions" => java.lang.Boolean.TRUE
    case "isClosed" => java.lang.Boolean.FALSE
    case _ => default(m.getReturnType)
  }

  private def default(rt: Class[_]): AnyRef =
    if (rt == java.lang.Void.TYPE) null
    else if (rt == java.lang.Boolean.TYPE) java.lang.Boolean.FALSE
    else if (rt == java.lang.Integer.TYPE) Integer.valueOf(0)
    else if (rt == java.lang.Long.TYPE) java.lang.Long.valueOf(0L)
    else if (rt.isPrimitive) Integer.valueOf(0)
    else if (rt == classOf[String]) "mock"
    else if (rt.isArray)
      java.lang.reflect.Array.newInstance(rt.getComponentType, 0)
    else if (rt.isInterface) proxy(rt)
    else null

  private[graft] def newConnection(): java.sql.Connection = {
    connections.incrementAndGet()
    proxy(classOf[java.sql.Connection]).asInstanceOf[java.sql.Connection]
  }

  lazy val registered: Unit =
    java.sql.DriverManager.registerDriver(new MockJdbcDriver)
}

/** Top-level on purpose: Spark re-resolves the driver by its CANONICAL
  * class name (DriverRegistry.register), which differs from the binary
  * name for nested classes and would throw ClassNotFoundException.
  */
class MockJdbcDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:graftmock:")
  override def connect(url: String,
                       info: java.util.Properties): java.sql.Connection =
    if (!acceptsURL(url)) null else MockJdbc.newConnection()
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getGlobal
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def jdbcCompliant(): Boolean = true
}

class JdbcSinkSpec extends SparkSpec {

  test("writeJdbc fails fast and diagnosably when no driver accepts the url") {
    val df = graft.ingest.Sources.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"))
    val e = intercept[IllegalStateException] {
      graft.sinks.Sinks.writeJdbc(df, "jdbc:postgresql://wh:5432/gold", "t")
    }
    assert(e.getMessage.contains("no JDBC driver") &&
      e.getMessage.contains("jdbc:postgresql"),
      s"unhelpful offline failure: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      graft.sinks.Sinks.writeJdbc(df, "postgresql://wh/gold", "t")
    }
  }

  test("writeJdbc contract via mock driver: batched INSERTs, bounded connections") {
    MockJdbc.registered
    MockJdbc.reset()
    val df = graft.ingest.Sources.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name")).repartition(13)
    val n = df.count()
    graft.sinks.Sinks.writeJdbc(df, "jdbc:graftmock:wh", "gold.nations",
      maxConnections = 3)
    // every row reached a JDBC batch exactly once
    assert(MockJdbc.batched.get() == n,
      s"expected $n addBatch calls, got ${MockJdbc.batched.get()}")
    // the fresh table is created with both columns, then the prepared
    // INSERT names the table and binds both columns
    val stmts = MockJdbc.statements.toArray.map(_.toString)
    val create = stmts.find(_.toUpperCase.startsWith("CREATE TABLE"))
    assert(create.exists(c => c.contains("gold.nations") &&
      c.contains("n_nationkey") && c.contains("n_name")),
      s"bad/missing CREATE TABLE: $stmts")
    val insert = stmts.find(_.toUpperCase.startsWith("INSERT"))
    assert(insert.isDefined, s"no INSERT prepared: ${stmts.toSeq}")
    assert(insert.get.contains("gold.nations") &&
      insert.get.count(_ == '?') == 2, s"bad INSERT shape: ${insert.get}")
    // parallelism bound: 13 input partitions must coalesce to <= 3
    // write connections (+2 driver-side: the exists/create probe and
    // the post-write schema resolve); 13 unbounded tasks would show
    // 15 here
    assert(MockJdbc.connections.get() <= 5,
      s"connection bound violated: ${MockJdbc.connections.get()}")
  }

  test("writeJdbc live round-trip against embedded Derby: append semantics, exact values") {
    // The only live JDBC engine in this container is Derby (Spark ships
    // it for the Hive metastore), so the warehouse sink's distributed
    // write path — DriverManager probe, CREATE TABLE, task-side batched
    // INSERTs, append mode — runs here against a REAL database and is
    // read back through spark.read.jdbc, not a mock. Postgres-specific
    // behavior (types, COPY) still needs the driver jar; the contract
    // under test (no row lost, no value sheared, append appends) is
    // engine-generic.
    val url = "jdbc:derby:memory:graftwh;create=true"
    val df = graft.ingest.Sources.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val n = df.count()
    graft.sinks.Sinks.writeJdbc(df, url, "GOLD_NATIONS", maxConnections = 3)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "GOLD_NATIONS").load()
    assert(back.count() == n, s"row loss: ${back.count()} of $n")
    // exact value round-trip both directions (Derby maps StringType to
    // CLOB; cast back for the set compare)
    val norm = back.select(col("n_nationkey").cast("int"),
      col("n_name").cast("string"), col("n_regionkey").cast("int"))
    val orig = df.select(col("n_nationkey").cast("int"),
      col("n_name").cast("string"), col("n_regionkey").cast("int"))
    assert(norm.except(orig).count() == 0 && orig.except(norm).count() == 0,
      "values sheared through the JDBC round-trip")
    // append mode: a second write adds, never truncates or errors
    graft.sinks.Sinks.writeJdbc(df, url, "GOLD_NATIONS", maxConnections = 3)
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "GOLD_NATIONS").load().count() == 2 * n,
      "append-mode write did not append")
    try java.sql.DriverManager.getConnection("jdbc:derby:memory:graftwh;drop=true")
    catch { case _: java.sql.SQLException => () } // drop "fails" with 08006 by design
  }
}

class ManifestSpec extends SparkSpec {
  import graft.sinks.ManifestTable

  test("replace commits atomically; crash before manifest rename leaves old snapshot readable") {
    import spark.implicits._
    val dir = tempDir("graft_manifest")
    val path = s"$dir/t"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    assert(ManifestTable.replace(v1, path) == 0L)
    assert(ManifestTable.read(spark, path).count() == 2)
    // CRASH INJECTION: a writer stages its files (the expensive part)
    // and dies before the manifest rename — the one atomic step.
    // Readers must still see snapshot 0, and the orphans must not
    // leak into any read.
    val orphans = ManifestTable.stage(Seq((9L, "z")).toDF("id", "s"), path)
    assert(orphans.nonEmpty)
    assert(ManifestTable.latestVersion(spark, path).contains(0L))
    assert(ManifestTable.read(spark, path).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), "staged-but-uncommitted files leaked into a read")
    // a later successful commit is unaffected by the dead writer
    val v2 = Seq((1L, "a2"), (3L, "c")).toDF("id", "s")
    ManifestTable.replace(v2, path)
    assert(ManifestTable.read(spark, path).collect().map(_.getLong(0)).toSet
      == Set(1L, 3L))
    // the PREVIOUS snapshot remains readable (no swap window ever)
    assert(ManifestTable.read(spark, path, Some(0L))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("manifest data skipping: range reads open only intersecting files; legacy lines never skip") {
    import spark.implicits._
    val dir = tempDir("graft_skip")
    val path = s"$dir/t"
    // range-partitioned write -> files with (mostly) disjoint id ranges
    val df = (0L until 1000L).map(i => (i, s"row$i", i * 2.5)).toDF("id", "s", "v")
      .repartitionByRange(4, col("id"))
    ManifestTable.replace(df, path)
    val stats = ManifestTable.snapshotStats(spark, path)
    assert(stats.size == 4)
    // every file carries bounds for both numeric columns, none for strings
    stats.foreach { case (_, st) =>
      assert(st.contains("id") && st.contains("v") && !st.contains("s"), st)
    }
    // a narrow range prunes: kept strictly fewer than total
    val (kept, total) = ManifestTable.pruneFiles(spark, path, "id", 100, 150)
    assert(total == 4 && kept.nonEmpty && kept.size < total,
      s"no pruning: $kept of $total")
    // skipped read ≡ full-scan filter, on both indexed columns
    val viaSkip = ManifestTable.readBetween(spark, path, "id", 100, 150)
      .collect().map(_.getLong(0)).toSet
    val viaFull = ManifestTable.read(spark, path)
      .filter(col("id") >= 100 && col("id") <= 150)
      .collect().map(_.getLong(0)).toSet
    assert(viaSkip == viaFull && viaSkip.size == 51)
    val vSkip = ManifestTable.readBetween(spark, path, "v", 10.0, 20.0)
      .collect().map(_.getLong(0)).toSet
    assert(vSkip == (4L to 8L).toSet, s"v-range read wrong: $vSkip")
    // disjoint range -> zero files opened, schema preserved
    val none = ManifestTable.readBetween(spark, path, "id", 5000, 6000)
    assert(none.count() == 0 && none.schema.fieldNames.toSeq == Seq("id", "s", "v"))
    // LEGACY manifest (bare names, pre-stats): skipping must be
    // conservative — every file kept, reads still correct
    val names = ManifestTable.snapshotFiles(spark, path)
    ManifestTable.commit(spark, path, names) // bare-name lines
    val (keptL, totalL) = ManifestTable.pruneFiles(spark, path, "id", 100, 150)
    assert(keptL.size == totalL, "legacy lines must never be skipped")
    assert(ManifestTable.readBetween(spark, path, "id", 100, 150)
      .count() == 51)
  }

  test("manifest stats stay conservative for BIGINTs above 2^53 (ulp-widened bounds)") {
    import spark.implicits._
    val dir = tempDir("graft_skipbig")
    val path = s"$dir/t"
    // ulp at 2^62 is 1024: +100 rounds DOWN to the nearest double, so
    // an unwidened recorded max would fall BELOW the true max (and the
    // mirrored min above the true min) — the silent-row-loss shape.
    val trueMin = -(1L << 62) - 100L
    val trueMax = (1L << 62) + 100L
    ManifestTable.replace(
      Seq(trueMin, 0L, trueMax).toDF("id").coalesce(1), path)
    val stats = ManifestTable.snapshotStats(spark, path)
    assert(stats.size == 1)
    val (mn, mx) = stats.head._2("id")
    // exact-value comparison (BigDecimal, no double re-rounding):
    // recorded envelope must COVER the true integer bounds
    assert(BigDecimal(mn) <= BigDecimal(trueMin),
      s"recorded min $mn above true min $trueMin")
    assert(BigDecimal(mx) >= BigDecimal(trueMax),
      s"recorded max $mx below true max $trueMax")
    // and the file is kept for a range touching only the extremes
    val (kept, total) =
      ManifestTable.pruneFiles(spark, path, "id", trueMax.toDouble, Double.MaxValue)
    assert(total == 1 && kept.size == 1,
      "file holding the true max was skipped")
  }

  test("schema-evolution read: merged generations reconcile against the base table") {
    val out = graft.sinks.Sinks.schemaMerge(spark, sf).collect()
    assert(out.nonEmpty)
    val o = graft.ingest.Sources.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    out.foreach { r =>
      val pr = r.getAs[String]("o_orderpriority")
      val mine = o.filter(_._2 == pr)
      assert(r.getAs[Long]("n_rows") == mine.length, s"$pr rows")
      assert(r.getAs[Long]("n_legacy") == mine.count(_._1 % 2 == 0),
        s"$pr legacy (null evolved column) count")
    }
  }

  test("manifest schema evolution: append adds a column without rewriting committed bytes") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mevo")
    val path = s"$dir/t"
    val v1 = ManifestTable.replace(
      (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    val v1Files = ManifestTable.snapshotFiles(spark, path, Some(v1))
    val v1Sizes = v1Files.map(f =>
      f -> new java.io.File(s"$path/data/$f").length()).toMap
    val v2 = ManifestTable.append(
      (101L to 120L).map(i => (i, i * 10L, s"tag$i"))
        .toDF("id", "v", "tag").coalesce(1), path)
    // evolved read: base columns first, new column null-filled on old rows
    val evolved = ManifestTable.read(spark, path, Some(v2))
    assert(evolved.columns.toSeq == Seq("id", "v", "tag"))
    assert(evolved.filter(col("tag").isNull).count() == 100)
    assert(evolved.filter(col("tag").isNotNull).count() == 20)
    // zero bytes of v1 rewritten: files carried verbatim, sizes intact
    val v2Files = ManifestTable.snapshotFiles(spark, path, Some(v2))
    assert(v1Files.forall(v2Files.contains), "v1 files dropped by evolution")
    v1Sizes.foreach { case (f, sz) =>
      assert(new java.io.File(s"$path/data/$f").length() == sz,
        s"evolution rewrote committed file $f")
    }
    // time travel serves each version's OWN width
    assert(ManifestTable.read(spark, path, Some(v1)).columns.toSeq ==
      Seq("id", "v"))
    assert(ManifestTable.snapshotSchema(spark, path, Some(v2)).get
      .fieldNames.toSeq == Seq("id", "v", "tag"))
    // metadata count stays exact across the evolution
    assert(ManifestTable.countRows(spark, path, Some(v2)) == 120L)
    // a type change is refused loudly at append time
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(
        Seq(("200", 0L)).toDF("id", "v"), path)
    }
    assert(e.getMessage.contains("only ADDING nullable columns"))
  }

  test("manifest schema evolution: skipping stays conservative on the added column and DML composes") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mevodml")
    val path = s"$dir/t"
    ManifestTable.replace(
      (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    ManifestTable.append(
      (101L to 120L).map(i => (i, i * 10L, i.toDouble))
        .toDF("id", "v", "score").coalesce(1), path)
    // range read on the ADDED column: pre-evolution files carry no
    // bounds for it (kept conservatively); their null rows fail the
    // residual predicate, so the answer is exact
    val hits = ManifestTable.readBetween(spark, path, "score", 105.0, 110.0)
      .select("id").as[Long].collect().sorted
    assert(hits.toSeq == (105L to 110L),
      s"readBetween on evolved column: ${hits.mkString(",")}")
    // copy-on-write delete through the added column: null rows are
    // "not true" under the predicate and survive
    val del = ManifestTable.deleteWhere(spark, path,
      col("score") >= 111.0 && col("score") <= 115.0, "score", 111.0, 115.0)
    assert(del.nonEmpty, "delete matched nothing")
    val after = ManifestTable.read(spark, path)
    assert(after.count() == 115)
    assert(after.filter(col("score").isNull).count() == 100,
      "delete through the evolved column dropped null-score rows")
    // upsert on the evolved table: a key living in a PRE-evolution
    // file is found and replaced, and the merge carries the full width
    val up = ManifestTable.upsertPruned(
      Seq((50L, 999L, 50.5)).toDF("id", "v", "score"), path,
      Seq("id"), "id")
    assert(up.nonEmpty)
    val row50 = ManifestTable.read(spark, path)
      .filter(col("id") === 50L).collect()
    assert(row50.length == 1 && row50(0).getAs[Long]("v") == 999L &&
      row50(0).getAs[Double]("score") == 50.5)
    assert(ManifestTable.read(spark, path).count() == 115)
  }

  test("manifest schema evolution: the change feed spans the evolution window null-filled") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mevocdc")
    val path = s"$dir/t"
    val v1 = ManifestTable.replace(
      (1L to 50L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    val v2 = ManifestTable.append(
      (51L to 60L).map(i => (i, i * 10L, s"tag$i"))
        .toDF("id", "v", "tag").coalesce(1), path)
    val v3 = ManifestTable.deleteWhere(spark, path,
      col("id") <= 5L, "id", 1.0, 5.0).get
    // v1→v3: removed files are pre-evolution (narrow) and read under
    // v1's schema; the union null-fills them to the evolved width
    val feed = ManifestTable.changes(spark, path, v1, v3)
    assert(feed.columns.contains("tag"))
    assert(feed.filter(col("_change_type") === "delete" &&
      col("tag").isNotNull).count() == 0,
      "narrow delete slice acquired non-null evolved values")
    // net feed over the delete window: rewrite noise cancels, leaving
    // exactly the five deleted rows
    val net = ManifestTable.netChanges(spark, path, v2, v3)
    assert(net.filter(col("_change_type") === "insert").count() == 0)
    val gone = net.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted
    assert(gone.toSeq == (1L to 5L), s"net delete rows: ${gone.mkString(",")}")
  }

  test("manifest schema evolution: a legacy headerless table recovers its schema from one footer") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mevoleg")
    val path = s"$dir/t"
    // craft a pre-round-14 manifest: bare file names, no header
    val names = ManifestTable.stage(
      (1L to 30L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    ManifestTable.commit(spark, path, names)
    assert(ManifestTable.snapshotSchema(spark, path).isEmpty)
    assert(ManifestTable.read(spark, path).columns.toSeq == Seq("id", "v"))
    // the first evolving append recovers the base schema from a footer
    // and the header carries it from then on
    val v = ManifestTable.append(
      Seq((31L, 310L, "x")).toDF("id", "v", "tag"), path)
    val s = ManifestTable.snapshotSchema(spark, path, Some(v))
    assert(s.nonEmpty && s.get.fieldNames.toSeq == Seq("id", "v", "tag"))
    val back = ManifestTable.read(spark, path, Some(v))
    assert(back.count() == 31)
    assert(back.filter(col("tag").isNull).count() == 30)
  }

  test("deletion vectors: MOR delete rewrites nothing, reads subtract, counts stay exact") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mdv")
    val path = s"$dir/t"
    val v1 = ManifestTable.replace(
      (1L to 200L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), path)
    val v1Files = ManifestTable.snapshotFiles(spark, path, Some(v1))
    val v1Sizes = v1Files.map(f =>
      f -> new java.io.File(s"$path/data/$f").length()).toMap
    // MOR delete a band: only the sidecar is written
    val v2 = ManifestTable.deleteWhereMor(spark, path,
      col("id") >= 50L && col("id") <= 80L, "id", 50.0, 80.0).get
    val v2Files = ManifestTable.snapshotFiles(spark, path, Some(v2))
    assert(v2Files == v1Files, "MOR delete changed the data file set")
    v1Sizes.foreach { case (f, sz) =>
      assert(new java.io.File(s"$path/data/$f").length() == sz,
        s"MOR delete rewrote data file $f")
    }
    val after = ManifestTable.read(spark, path, Some(v2))
    assert(after.count() == 169)
    assert(after.filter(col("id").between(50L, 80L)).count() == 0)
    // metadata count subtracts the vector without any data IO
    assert(ManifestTable.countRows(spark, path, Some(v2)) == 169L)
    // time travel: v1 still serves the full table
    assert(ManifestTable.read(spark, path, Some(v1)).count() == 200)
    // skipping read subtracts vectors too
    assert(ManifestTable.readBetween(spark, path, "id", 40.0, 60.0)
      .count() == 10) // 40..49
    // a second MOR delete: already-deleted rows cannot re-match, so
    // counts stay disjoint-exact even with an overlapping predicate
    val v3 = ManifestTable.deleteWhereMor(spark, path,
      col("id") >= 70L && col("id") <= 100L, "id", 70.0, 100.0).get
    assert(ManifestTable.countRows(spark, path, Some(v3)) == 149L)
    assert(ManifestTable.read(spark, path).count() == 149)
    // no-match: envelope misses entirely -> None, no version burned
    assert(ManifestTable.deleteWhereMor(spark, path,
      col("id") > 5000L, "id", 5001.0, 6000.0).isEmpty)
    // envelope hit but no row matches -> None too
    assert(ManifestTable.deleteWhereMor(spark, path,
      col("id") === 60L, "id", 55.0, 65.0).isEmpty,
      "matched an already-vector-deleted row")
    assert(ManifestTable.latestVersion(spark, path).get == v3)
    // null-predicate rows survive (three-valued logic, as deleteWhere)
    val p2 = s"$dir/t2"
    ManifestTable.replace(Seq((1L, Some(5L)), (2L, None), (3L, Some(9L)))
      .toDF("id", "x"), p2)
    ManifestTable.deleteWhereMor(spark, p2,
      col("x") > 4L, "id", 1.0, 3.0)
    val left = ManifestTable.read(spark, p2).select("id").as[Long]
      .collect().sorted
    assert(left.toSeq == Seq(2L), s"null-pred rows mishandled: ${left.mkString(",")}")
  }

  test("deletion vectors: materialize folds by threshold; vacuum reaps orphaned sidecars") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mdvmat")
    val path = s"$dir/t"
    // two files: ids 1..100 and 101..200
    ManifestTable.replace(
      (1L to 200L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"), path)
    val files0 = ManifestTable.snapshotFiles(spark, path, None)
    assert(files0.size == 2)
    // heavy vector on the first file (40%), light on the second (2%)
    ManifestTable.deleteWhereMor(spark, path,
      col("id") <= 40L, "id", 1.0, 40.0)
    ManifestTable.deleteWhereMor(spark, path,
      col("id") === 150L || col("id") === 151L, "id", 150.0, 151.0)
    assert(ManifestTable.countRows(spark, path) == 158L)
    // threshold 0.1: only the 40%-deleted file materializes
    val vm = ManifestTable.materializeDeletes(spark, path, 0.1).get
    val filesM = ManifestTable.snapshotFiles(spark, path, Some(vm))
    assert(filesM.size == 2)
    val carried = filesM.toSet intersect files0.toSet
    assert(carried.size == 1, "threshold materialized both targets")
    // light vector survives; heavy one is gone; answers unchanged
    assert(ManifestTable.dvEntries(spark, path, Some(vm)).map(_._2).toSet ==
      carried, "surviving vector should target the carried file")
    assert(ManifestTable.countRows(spark, path, Some(vm)) == 158L)
    assert(ManifestTable.read(spark, path, Some(vm)).count() == 158)
    // materialize the rest (threshold 0): table is vector-free
    val vAll = ManifestTable.materializeDeletes(spark, path).get
    assert(ManifestTable.dvEntries(spark, path, Some(vAll)).isEmpty)
    assert(ManifestTable.read(spark, path, Some(vAll)).count() == 158)
    assert(ManifestTable.materializeDeletes(spark, path).isEmpty,
      "vector-free table should be a no-op")
    // vacuum keeps sidecars referenced by kept manifests, then reaps
    // them once history rolls past
    ManifestTable.vacuum(spark, path, keepVersions = 10,
      minOrphanAge = java.time.Duration.ZERO)
    assert(ManifestTable.read(spark, path, Some(vm)).count() == 158,
      "kept-history vector snapshot must stay readable after vacuum")
    ManifestTable.vacuum(spark, path, keepVersions = 1,
      minOrphanAge = java.time.Duration.ZERO)
    val dataDir = new java.io.File(s"$path/data")
    assert(!dataDir.listFiles().exists(_.getName.startsWith("dv-")),
      "orphaned deletion-vector sidecars survived vacuum")
    assert(ManifestTable.read(spark, path).count() == 158)
  }

  test("deletion vectors: copy-on-write ops materialize touched targets, carry the rest") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mdvcow")
    val path = s"$dir/t"
    // two range-laid files: 1..100, 101..200
    ManifestTable.replace(
      (1L to 200L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"), path)
    ManifestTable.deleteWhereMor(spark, path,
      col("id") <= 10L, "id", 1.0, 10.0)
    ManifestTable.deleteWhereMor(spark, path,
      col("id") >= 191L, "id", 191.0, 200.0)
    // upsert touching only the low file: its vector materializes into
    // the rewrite (deleted rows stay deleted, upserted key updated),
    // the high file's vector carries
    val vu = ManifestTable.upsertPruned(
      Seq((50L, 999L)).toDF("id", "v"), path, Seq("id"), "id").get
    val t = ManifestTable.read(spark, path, Some(vu))
    assert(t.count() == 180)
    assert(t.filter(col("id") <= 10L).count() == 0,
      "vector deletes lost in the CoW merge")
    assert(t.filter(col("id") === 50L).select("v").as[Long].head() == 999L)
    val dvAfter = ManifestTable.dvEntries(spark, path, Some(vu))
    assert(dvAfter.size == 1, s"expected one carried vector, got $dvAfter")
    assert(ManifestTable.countRows(spark, path, Some(vu)) == 180L)
    // append carries vectors verbatim
    val va = ManifestTable.append(
      Seq((201L, 2010L)).toDF("id", "v"), path)
    assert(ManifestTable.dvEntries(spark, path, Some(va)).size == 1)
    assert(ManifestTable.countRows(spark, path, Some(va)) == 181L)
    // CoW deleteWhere through the remaining vector's file: both the
    // predicate rows AND the old vector's rows are gone after rewrite
    val vd = ManifestTable.deleteWhere(spark, path,
      col("id") === 150L, "id", 150.0, 150.0).get
    assert(ManifestTable.dvEntries(spark, path, Some(vd)).isEmpty,
      "rewrite must materialize the touched file's vector")
    val end = ManifestTable.read(spark, path, Some(vd))
    assert(end.count() == 180)
    assert(end.filter(col("id") >= 191L && col("id") <= 200L).count() == 0)
    assert(ManifestTable.countRows(spark, path, Some(vd)) == 180L)
  }

  test("deletion vectors: the change feed reports vector deletes once, net-exactly") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mdvcdc")
    val path = s"$dir/t"
    val v1 = ManifestTable.replace(
      (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    val v2 = ManifestTable.deleteWhereMor(spark, path,
      col("id") <= 5L, "id", 1.0, 5.0).get
    // vector-only window: no data file changed, yet the feed carries
    // exactly the five deleted rows
    val feed = ManifestTable.changes(spark, path, v1, v2)
    assert(feed.filter(col("_change_type") === "insert").count() == 0)
    val gone = feed.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted
    assert(gone.toSeq == (1L to 5L), s"vector feed rows: ${gone.mkString(",")}")
    // a second vector on the same file: the v2->v3 window reports ONLY
    // the new positions (line-level delta, not the cumulative vector)
    val v3 = ManifestTable.deleteWhereMor(spark, path,
      col("id") >= 6L && col("id") <= 8L, "id", 6.0, 8.0).get
    val gone23 = ManifestTable.changes(spark, path, v2, v3)
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted
    assert(gone23.toSeq == (6L to 8L),
      s"delta window re-reported old vector rows: ${gone23.mkString(",")}")
    // spanning window nets both vectors; materialization afterwards is
    // pure rewrite noise (netChanges cancels it to nothing)
    val net13 = ManifestTable.netChanges(spark, path, v1, v3)
    assert(net13.filter(col("_change_type") === "insert").count() == 0)
    assert(net13.filter(col("_change_type") === "delete").count() == 8)
    val v4 = ManifestTable.materializeDeletes(spark, path).get
    val net34 = ManifestTable.netChanges(spark, path, v3, v4)
    assert(net34.count() == 0,
      "materialization must be invisible to the net feed")
    // and the spanning v1->v4 window still reports exactly 8 deletes
    val net14 = ManifestTable.netChanges(spark, path, v1, v4)
    assert(net14.filter(col("_change_type") === "delete").count() == 8)
    assert(net14.filter(col("_change_type") === "insert").count() == 0)
  }

  test("deletion vectors compose with schema evolution: vector on a pre-evolution file") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mdvevo")
    val path = s"$dir/t"
    ManifestTable.replace(
      (1L to 50L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    ManifestTable.append(
      (51L to 60L).map(i => (i, i * 10L, s"tag$i"))
        .toDF("id", "v", "tag").coalesce(1), path)
    // vector-delete rows living in the PRE-evolution (narrow) file,
    // through a predicate on a base column
    val vd = ManifestTable.deleteWhereMor(spark, path,
      col("id").between(10L, 12L), "id", 10.0, 12.0).get
    val t = ManifestTable.read(spark, path, Some(vd))
    assert(t.columns.toSeq == Seq("id", "v", "tag"))
    assert(t.count() == 57)
    assert(t.filter(col("id").between(10L, 12L)).count() == 0)
    assert(t.filter(col("tag").isNull).count() == 47)
    assert(ManifestTable.countRows(spark, path, Some(vd)) == 57L)
    // and a predicate on the EVOLVED column: pre-evolution rows are
    // null there (not true -> survive), evolved rows match
    val vd2 = ManifestTable.deleteWhereMor(spark, path,
      col("tag") === "tag55", "id", 55.0, 55.0).get
    val t2 = ManifestTable.read(spark, path, Some(vd2))
    assert(t2.count() == 56)
    assert(t2.filter(col("id") === 55L).count() == 0)
    assert(ManifestTable.materializeDeletes(spark, path).nonEmpty)
    assert(ManifestTable.read(spark, path).count() == 56)
  }

  test("bloom index: point lookups skip files the stats envelope cannot") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mbl")
    val path = s"$dir/t"
    // laid by ts, NOT by id: every file's id envelope spans ~the whole
    // domain, so the stats prune is useless for id equality
    val rng = new scala.util.Random(7)
    val rows = (1L to 4000L).map(i => (i, rng.nextInt(100000).toLong))
      .map { case (id, ts) => (id, ts, id * 3L) }
    ManifestTable.replace(rows.toDF("id", "ts", "v")
      .repartitionByRange(8, col("ts")).sortWithinPartitions("ts"), path)
    val vB = ManifestTable.bloomIndex(spark, path, "id").get
    assert(ManifestTable.bloomEntries(spark, path, Some(vB)).size == 8)
    // envelope keeps everything; bloom keeps a handful
    val (envKept, total) = ManifestTable.pruneFiles(
      spark, path, "id", 2000.0, 2002.0)
    assert(envKept.size == total && total == 8,
      s"expected useless envelopes on the ts layout: ${envKept.size}/$total")
    val (blKept, _) = ManifestTable.pruneFilesBloom(
      spark, path, "id", Seq("2000", "2001", "2002"))
    assert(blKept.size * 2 <= total,
      s"bloom did not skip: ${blKept.size}/$total files kept")
    // exact answers through the skipping read
    val hit = ManifestTable.readPoint(spark, path, "id",
      Seq(2000L, 2001L, 2002L))
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1)
    assert(hit.toSeq == Seq((2000L, 6000L), (2001L, 6003L), (2002L, 6006L)))
    // absent key: no rows (and typically zero files opened)
    assert(ManifestTable.readPoint(spark, path, "id", Seq(999999L)).count() == 0)
    // idempotent: full coverage -> no-op, no version burned
    assert(ManifestTable.bloomIndex(spark, path, "id").isEmpty)
    assert(ManifestTable.latestVersion(spark, path).get == vB)
    // unsupported column type is refused loudly
    val e = intercept[IllegalArgumentException] {
      val p2 = s"$dir/t2"
      ManifestTable.replace(Seq((1.5, 2L)).toDF("x", "y"), p2)
      ManifestTable.bloomIndex(spark, p2, "x")
    }
    assert(e.getMessage.contains("unambiguous string form"))
  }

  test("bloom index: appends top up, rewrites invalidate, vectors compose") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mbl2")
    val path = s"$dir/t"
    ManifestTable.replace(
      (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"), path)
    ManifestTable.bloomIndex(spark, path, "id")
    // append a new file: existing blooms carry; top-up covers ONLY it
    ManifestTable.append(
      (101L to 120L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1), path)
    val before = ManifestTable.bloomEntries(spark, path).map(_._1).toSet
    val vT = ManifestTable.bloomIndex(spark, path, "id").get
    val entries = ManifestTable.bloomEntries(spark, path, Some(vT))
    assert(entries.size == 3)
    assert(before.subsetOf(entries.map(_._1).toSet),
      "top-up rebuilt existing blooms instead of carrying them")
    assert(ManifestTable.readPoint(spark, path, "id", Seq(110L))
      .select("v").as[Long].collect().toSeq == Seq(1100L))
    // a copy-on-write rewrite drops the touched file's bloom line
    // (stale bytes would answer with false NEGATIVES) and the lookup
    // stays exact through conservative keeping
    ManifestTable.upsertPruned(Seq((50L, 999L)).toDF("id", "v"),
      path, Seq("id"), "id")
    val afterRw = ManifestTable.bloomEntries(spark, path)
    assert(afterRw.size == 2,
      s"rewritten target kept its stale bloom: $afterRw")
    assert(ManifestTable.readPoint(spark, path, "id", Seq(50L))
      .select("v").as[Long].collect().toSeq == Seq(999L))
    // re-index covers the rewritten file(s) again — full coverage
    ManifestTable.bloomIndex(spark, path, "id")
    val nFiles = ManifestTable.snapshotFiles(spark, path).size
    assert(ManifestTable.bloomEntries(spark, path).size == nFiles)
    // deletion vectors do NOT invalidate blooms (over-approximation):
    // the vector-deleted key is absorbed by the DV subtract
    ManifestTable.deleteWhereMor(spark, path,
      col("id") === 110L, "id", 110.0, 110.0)
    assert(ManifestTable.bloomEntries(spark, path).size == nFiles,
      "vector delete must not drop bloom coverage")
    assert(ManifestTable.readPoint(spark, path, "id", Seq(110L)).count() == 0)
    assert(ManifestTable.readPoint(spark, path, "id", Seq(111L))
      .select("v").as[Long].collect().toSeq == Seq(1110L))
    // vacuum keeps referenced sidecars, then reaps them with history
    ManifestTable.vacuum(spark, path, keepVersions = 1,
      minOrphanAge = java.time.Duration.ZERO)
    assert(ManifestTable.readPoint(spark, path, "id", Seq(25L)).count() == 1)
    ManifestTable.compact(spark, path)
    ManifestTable.vacuum(spark, path, keepVersions = 1,
      minOrphanAge = java.time.Duration.ZERO)
    val dataDir = new java.io.File(s"$path/data")
    assert(!dataDir.listFiles().exists(_.getName.endsWith(".bloom")),
      "orphaned bloom sidecars survived vacuum after compaction")
  }

  test("latest-version hint: O(1) discovery, advisory under every corruption") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mhint")
    val path = s"$dir/t"
    val v1 = ManifestTable.replace(Seq((1L, 2L)).toDF("a", "b"), path)
    val hint = new java.io.File(s"$path/_manifests/_latest")
    assert(hint.exists(), "commit did not write the latest hint")
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath)).trim
      == v1.toString)
    val v2 = ManifestTable.append(Seq((3L, 4L)).toDF("a", "b"), path)
    assert(ManifestTable.latestVersion(spark, path).contains(v2))
    // STALE-LOW hint (a racer's hint write lost): forward probe finds
    // the true latest
    java.nio.file.Files.writeString(hint.toPath, v1.toString)
    assert(ManifestTable.latestVersion(spark, path).contains(v2))
    // STALE-HIGH hint (table deleted and recreated would restart
    // versions): falls back to the listing
    java.nio.file.Files.writeString(hint.toPath, "999")
    assert(ManifestTable.latestVersion(spark, path).contains(v2))
    // garbage hint: ignored
    java.nio.file.Files.writeString(hint.toPath, "not-a-number")
    assert(ManifestTable.latestVersion(spark, path).contains(v2))
    // missing hint: plain listing
    hint.delete()
    assert(ManifestTable.latestVersion(spark, path).contains(v2))
    // next commit restores it
    val v3 = ManifestTable.append(Seq((5L, 6L)).toDF("a", "b"), path)
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath)).trim
      == v3.toString)
    // vacuum keeps the hint pointing at a live manifest
    ManifestTable.vacuum(spark, path, keepVersions = 1,
      minOrphanAge = java.time.Duration.ZERO)
    assert(ManifestTable.latestVersion(spark, path).contains(v3))
    assert(ManifestTable.read(spark, path).count() == 3)
  }

  test("null-count skipping: IS NULL / IS NOT NULL open only decidable files") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mnull")
    val path = s"$dir/t"
    // three generations: all-null, all-present, mixed
    ManifestTable.replace(
      (1L to 100L).map(i => (i, null.asInstanceOf[String]))
        .toDF("id", "x").coalesce(1), path)
    ManifestTable.append(
      (101L to 150L).map(i => (i, s"v$i")).toDF("id", "x").coalesce(1), path)
    ManifestTable.append(
      (151L to 160L).map(i => (i, if (i % 2 == 0) s"v$i" else null))
        .toDF("id", "x").coalesce(1), path)
    val (keptNN, total) = ManifestTable.pruneFilesByNull(
      spark, path, "x", wantNull = false)
    assert(total == 3 && keptNN.size == 2,
      s"IS NOT NULL kept ${keptNN.size}/$total (all-null file must skip)")
    val (keptN, _) = ManifestTable.pruneFilesByNull(
      spark, path, "x", wantNull = true)
    assert(keptN.size == 2,
      s"IS NULL kept ${keptN.size}/$total (zero-null file must skip)")
    // exact answers either way
    assert(ManifestTable.readByNull(spark, path, "x", wantNull = false)
      .count() == 55)
    val nulls = ManifestTable.readByNull(spark, path, "x", wantNull = true)
      .select("id").as[Long].collect().sorted
    assert(nulls.length == 105 && nulls.head == 1L && nulls.last == 159L)
    // deletion vectors compose: skipping stays exact after a vector
    // delete of present-x rows (deletes create no nulls)
    ManifestTable.deleteWhereMor(spark, path,
      col("id").between(101L, 110L), "id", 101.0, 110.0)
    assert(ManifestTable.readByNull(spark, path, "x", wantNull = false)
      .count() == 45)
    assert(ManifestTable.readByNull(spark, path, "x", wantNull = true)
      .count() == 105)
    // a legacy line (bare name, no stats) is kept conservatively
    val p2 = s"$dir/t2"
    val names = ManifestTable.stage(
      Seq((1L, "a")).toDF("id", "x").coalesce(1), p2)
    ManifestTable.commit(spark, p2, names)
    assert(ManifestTable.pruneFilesByNull(spark, p2, "x",
      wantNull = true)._1.size == 1)
    assert(ManifestTable.readByNull(spark, p2, "x", wantNull = true)
      .count() == 0)
  }

  test("metadata top-k: ORDER BY LIMIT answered from the boundary files") {
    import spark.implicits._
    import graft.sinks.ManifestTable
    val dir = tempDir("graft_mtopk")
    val path = s"$dir/t"
    ManifestTable.replace(
      (1L to 1000L).map(i => (i, i * 3L)).toDF("id", "v")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"), path)
    // top-10 DESC: one boundary file
    val (kept10, total) = ManifestTable.topKFiles(spark, path, "id", 10)
    assert(total == 8 && kept10.size == 1,
      s"top-10 kept ${kept10.size}/$total files")
    assert(ManifestTable.readTopK(spark, path, "id", 10)
      .select("id").as[Long].collect().toSeq == (991L to 1000L).reverse)
    // bottom-10 ASC mirrors
    assert(ManifestTable.topKFiles(spark, path, "id", 10,
      descending = false)._1.size == 1)
    assert(ManifestTable.readTopK(spark, path, "id", 10,
      descending = false).select("id").as[Long].collect().toSeq ==
      (1L to 10L))
    // k spanning file boundaries widens the kept set, answer exact
    val (kept200, _) = ManifestTable.topKFiles(spark, path, "id", 200)
    assert(kept200.size == 2, s"top-200 kept ${kept200.size} files")
    assert(ManifestTable.readTopK(spark, path, "id", 200)
      .agg(min(col("id"))).head().getLong(0) == 801L)
    // vector-deleted rows reduce a file's guaranteed count AND leave
    // the answer exact (the bound assumes deleted rows were top rows)
    ManifestTable.deleteWhereMor(spark, path,
      col("id") >= 996L, "id", 996.0, 1000.0)
    assert(ManifestTable.readTopK(spark, path, "id", 10)
      .select("id").as[Long].collect().toSeq == (986L to 995L).reverse)
    // an appended all-null-column generation: no bounds -> kept
    // conservatively, filtered by the residual, answer unchanged
    ManifestTable.append(
      (1L to 50L).map(i => (null.asInstanceOf[java.lang.Long], i))
        .toDF("id", "v").coalesce(1), path)
    assert(ManifestTable.readTopK(spark, path, "id", 5)
      .select("id").as[Long].collect().toSeq == (991L to 995L).reverse)
  }

  test("compact rewrites files without a visibility gap; vacuum reaps history and orphans") {
    import spark.implicits._
    val dir = tempDir("graft_mcompact")
    val path = s"$dir/t"
    val df = (1L to 1000L).toDF("id").repartition(20)
    ManifestTable.replace(df, path)
    val fragmented = ManifestTable.snapshotFiles(spark, path, None)
    assert(fragmented.size >= 20)
    ManifestTable.compact(spark, path, targetFileBytes = 64L * 1024 * 1024)
    val compacted = ManifestTable.snapshotFiles(spark, path, None)
    assert(compacted.size < fragmented.size / 4,
      s"compaction barely helped: ${fragmented.size} -> ${compacted.size}")
    assert(ManifestTable.read(spark, path).count() == 1000)
    // pre-compact snapshot files still on disk for in-flight readers
    assert(ManifestTable.read(spark, path, Some(0L)).count() == 1000)
    // a FRESH unreferenced file is a possible commit-in-flight: the
    // default orphan-age grace must protect it from a racing vacuum
    ManifestTable.stage(Seq(0L).toDF("id"), path)
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    val protectedFiles = new java.io.File(s"$path/data").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(protectedFiles.size > compacted.size,
      "vacuum deleted a fresh staged file inside the grace window")
    // past the grace window the orphan is garbage and is reaped
    ManifestTable.vacuum(spark, path, keepVersions = 1,
      minOrphanAge = java.time.Duration.ZERO)
    assert(ManifestTable.versions(spark, path) == Seq(1L))
    val left = new java.io.File(s"$path/data").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet // ignore crc sidecars
    assert(left == compacted.toSet,
      s"vacuum left unexpected files: ${left -- compacted.toSet}")
    assert(ManifestTable.read(spark, path).count() == 1000)
  }

  test("commit refuses to publish a manifest over vanished staged files") {
    import spark.implicits._
    val dir = tempDir("graft_mreval")
    val path = s"$dir/t"
    ManifestTable.replace(Seq(1L).toDF("id"), path)
    val staged = ManifestTable.stage(Seq(2L).toDF("id"), path)
    // simulate a vacuum (or skewed-clock reaper) racing the
    // stage->commit gap: the staged file is gone by publish time
    staged.foreach(f =>
      assert(new java.io.File(s"$path/data/$f").delete()))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, path, staged)
    }
    assert(e.getMessage.contains("vanished"),
      s"expected a vanished-files refusal, got: ${e.getMessage}")
    // the table is untouched: latest is still the good snapshot
    assert(ManifestTable.read(spark, path).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("racing committers cannot overwrite each other's version") {
    import spark.implicits._
    val dir = tempDir("graft_mrace")
    val path = s"$dir/t"
    ManifestTable.replace(Seq(1L).toDF("id"), path)
    // stage two writers, then commit both: versions must differ and
    // both manifests must survive intact
    val f1 = ManifestTable.stage(Seq(2L).toDF("id"), path)
    val f2 = ManifestTable.stage(Seq(3L).toDF("id"), path)
    val c1 = ManifestTable.commit(spark, path, f1)
    val c2 = ManifestTable.commit(spark, path, f2)
    assert(c1 != c2)
    assert(ManifestTable.versions(spark, path).size == 3)
    assert(ManifestTable.read(spark, path, Some(c1))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(ManifestTable.read(spark, path, Some(c2))
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("time travel: version reads are isolated; v1 unchanged after the v2 commit") {
    import org.apache.spark.sql.functions._
    val tmp = new java.io.File(tempDir("graft_tt_spec_"))
    val path = new java.io.File(tmp, "t").toString
    val df1 = spark.range(10).select(col("id"), (col("id") * 2).as("x"))
    val v1 = graft.sinks.ManifestTable.replace(df1, path)
    val df2 = spark.range(10).select(col("id"), (col("id") * 3).as("x"))
    val v2 = graft.sinks.ManifestTable.replace(df2, path)
    assert(v2 > v1)
    // v1 read AFTER the v2 commit still sees the old rows exactly
    val back1 = graft.sinks.ManifestTable.read(spark, path, Some(v1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back1 == (0L until 10L).map(i => (i, i * 2)).toSet)
    val back2 = graft.sinks.ManifestTable.read(spark, path, Some(v2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back2 == (0L until 10L).map(i => (i, i * 3)).toSet)
    // default read = latest
    val latest = graft.sinks.ManifestTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(latest == back2)
  }

  test("upsertPruned: non-overlap keeps old files untouched; overlap merges by key; empty commits nothing") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    import graft.sinks.ManifestTable
    val tmp = new java.io.File(tempDir("graft_upsp_"))
    val path = new java.io.File(tmp, "t").toString
    def frame(rows: (Long, Long, String)*) =
      rows.toDF("k", "t", "v").repartition(1)
    // first commit: creates the table (replace path)
    val v1 = ManifestTable.upsertPruned(frame((1L, 10L, "a"), (2L, 20L, "b")),
      path, Seq("k"), "t")
    assert(v1.isDefined)
    val files1 = ManifestTable.snapshotFiles(spark, path).toSet
    // NON-overlapping batch (t=100 vs committed [10,20]): the fast
    // path — every old file carries into the new manifest verbatim,
    // nothing on disk is rewritten
    val v2 = ManifestTable.upsertPruned(frame((3L, 100L, "c")),
      path, Seq("k"), "t")
    assert(v2.exists(_ > v1.get))
    val files2 = ManifestTable.snapshotFiles(spark, path).toSet
    assert(files1.subsetOf(files2),
      s"old files must survive a non-overlapping commit: $files1 vs $files2")
    assert(ManifestTable.read(spark, path).count() == 3)
    // OVERLAPPING batch replaces by key: k=1 (t=10) gets a new value;
    // the t=100 file is outside the batch's range and must survive
    val file100 = (files2 -- files1)
    val v3 = ManifestTable.upsertPruned(frame((1L, 10L, "z")),
      path, Seq("k"), "t")
    assert(v3.exists(_ > v2.get))
    val files3 = ManifestTable.snapshotFiles(spark, path).toSet
    assert(file100.subsetOf(files3),
      "file outside the batch's key range was rewritten")
    assert(files1.intersect(files3).isEmpty,
      "overlapping files must be replaced by the merge")
    val rows = ManifestTable.read(spark, path)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows == Map(1L -> "z", 2L -> "b", 3L -> "c"),
      s"merge semantics broke: $rows")
    // EMPTY batch: no commit at all (not a rewritten-identical table)
    val before = ManifestTable.latestVersion(spark, path)
    val vEmpty = ManifestTable.upsertPruned(
      frame((1L, 10L, "a")).filter(lit(false)), path, Seq("k"), "t")
    assert(vEmpty.isEmpty)
    assert(ManifestTable.latestVersion(spark, path) == before)
    assert(ManifestTable.read(spark, path).count() == 3)
    // PARTIAL-null pruneCol (round-11 advice): a null-t row riding
    // under a file's recorded bounds would be invisible to every
    // future prune and never replaced — the contract fails loudly
    // and the table is untouched (staged file cleaned up)
    val nullBatch = Seq((4L, Some(50L), "d"), (5L, Option.empty[Long], "e"))
      .toDF("k", "t", "v").repartition(1)
    val eNull = intercept[IllegalArgumentException] {
      ManifestTable.upsertPruned(nullBatch, path, Seq("k"), "t")
    }
    assert(eNull.getMessage.contains("NULL"))
    assert(ManifestTable.latestVersion(spark, path) == before)
    assert(ManifestTable.read(spark, path).count() == 3)
    // PARTIAL-null on the FIRST commit (round-12 advice): the old
    // first-commit shortcut through replace() skipped the probe, so
    // a mixed batch could seed the table with forever-unreachable
    // rows — now the same loud failure fires before any table exists
    val path2 = new java.io.File(tmp, "t2").toString
    val eFirst = intercept[IllegalArgumentException] {
      ManifestTable.upsertPruned(nullBatch, path2, Seq("k"), "t")
    }
    assert(eFirst.getMessage.contains("NULL"))
    assert(ManifestTable.latestVersion(spark, path2).isEmpty,
      "a failed first commit must not create the table")
    // an ALL-null first batch still commits (conservative, matching
    // the non-first all-null full-merge semantics: no bounds are
    // recorded, so nothing is ever wrongly pruned past it)
    val allNull = Seq((6L, Option.empty[Long], "f"))
      .toDF("k", "t", "v").repartition(1)
    val vAllNull = ManifestTable.upsertPruned(allNull, path2, Seq("k"), "t")
    assert(vAllNull.isDefined)
    assert(ManifestTable.read(spark, path2).count() == 1)
    // and an EMPTY first batch creates the (empty) table, matching
    // the replace-based history the old branch delegated to
    val path3 = new java.io.File(tmp, "t3").toString
    val vEmptyFirst = ManifestTable.upsertPruned(
      frame((1L, 10L, "a")).filter(lit(false)), path3, Seq("k"), "t")
    assert(vEmptyFirst.isDefined)
    assert(ManifestTable.read(spark, path3).count() == 0)
  }

  test("concurrent appends serialize: every tranche survives the race (r13 advice/directive)") {
    // append is a read-modify-write; before round 14 a lost version
    // race retried with the STALE base lines, silently dropping the
    // racing committer's files. The fix re-reads the base after each
    // lost race — so N racing appends must ALL land, whatever the
    // interleaving.
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_apprace_"))
    val path = new java.io.File(tmp, "t").toString
    ManifestTable.replace(Seq(0L).toDF("id").repartition(1), path)
    val n = 4
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to n).map { i =>
      new Thread(() => {
        try {
          val df = Seq(i.toLong).toDF("id").repartition(1)
          // all four stage+commit sequences start together
          barrier.await()
          ManifestTable.append(df, path): Unit
        } catch { case t: Throwable => errs.add(t): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"append racer failed: ${errs.peek()}")
    val got = ManifestTable.read(spark, path)
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L to n.toLong).toSet,
      s"a racing append's tranche was dropped: $got")
    // one version per append, plus the seed replace
    assert(ManifestTable.versions(spark, path).size == n + 1)
  }

  test("appendOnce: a replayed txn is a detected no-op; distinct txns commit") {
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_apponce_"))
    val path = new java.io.File(tmp, "t").toString
    // creates the table
    val v0 = ManifestTable.appendOnce(Seq(1L).toDF("id").repartition(1),
      path, "b0")
    assert(v0.contains(0L))
    // replay of the SAME txn (foreachBatch crash-replay): no-op
    val replay = ManifestTable.appendOnce(
      Seq(99L).toDF("id").repartition(1), path, "b0")
    assert(replay.isEmpty, "replayed txn must not re-append")
    assert(ManifestTable.read(spark, path)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // next batch's txn commits alongside
    val v1 = ManifestTable.appendOnce(Seq(2L).toDF("id").repartition(1),
      path, "b1")
    assert(v1.contains(1L))
    assert(ManifestTable.read(spark, path)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // marker rides the manifest itself: file names carry the txn
    val names = ManifestTable.snapshotFiles(spark, path)
    assert(names.exists(_.startsWith("txn-b0-")) &&
      names.exists(_.startsWith("txn-b1-")))
    // txn ids that could collide as prefixes must not ("b1" vs "b10")
    assert(ManifestTable.appendOnce(Seq(3L).toDF("id").repartition(1),
      path, "b10").isDefined)
    // and an unsafe txn id is refused, not mangled
    intercept[IllegalArgumentException] {
      ManifestTable.appendOnce(Seq(4L).toDF("id"), path, "a/b")
    }
  }

  test("upsertPruned fails LOUD when a commit lands inside its read-merge window") {
    // deterministic interleaving: the upsert's batch frame blocks in
    // stage() on a latch (after the base version was captured), a
    // competing replace commits, the latch releases — the upsert must
    // now refuse to publish its stale merge instead of erasing the
    // competing commit (r13 advice: commit()'s silent next-version
    // retry was exactly that erasure).
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_upsrace_"))
    val path = new java.io.File(tmp, "t").toString
    ManifestTable.replace(
      Seq((1L, 10L, "a")).toDF("k", "t", "v").repartition(1), path)
    SinksSpec.gate = new java.util.concurrent.CountDownLatch(1)
    val gated = org.apache.spark.sql.functions.udf { (k: Long) =>
      SinksSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS); k
    }
    val batch = Seq((2L, 20L, "b")).toDF("k", "t", "v")
      .withColumn("k", gated(col("k"))).repartition(1)
    val result = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Option[Long]]]()
    val t = new Thread(() =>
      result.set(
        try Right(ManifestTable.upsertPruned(batch, path, Seq("k"), "t"))
        catch { case e: Throwable => Left(e) }))
    t.start()
    Thread.sleep(500) // let the upsert capture its base version
    ManifestTable.replace(
      Seq((9L, 90L, "z")).toDF("k", "t", "v").repartition(1), path)
    SinksSpec.gate.countDown()
    t.join(60000)
    result.get() match {
      case Left(e) =>
        assert(e.getMessage != null &&
          e.getMessage.contains("concurrent commit"),
          s"expected the concurrent-commit refusal, got: $e")
        // the competing commit survives untouched
        assert(ManifestTable.read(spark, path)
          .collect().map(_.getLong(0)).toSeq == Seq(9L))
      case Right(_) =>
        fail("upsertPruned published a merge built from a stale snapshot")
    }
  }

  test("change data feed: file-level diff carries rewrite noise; netChanges cancels it exactly") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_cdf_"))
    val path = new java.io.File(tmp, "t").toString
    def frame(rows: (Long, Long, String)*) =
      rows.toDF("k", "t", "v").repartition(1)
    val v0 = ManifestTable.replace(frame((1L, 10L, "a"), (2L, 20L, "b")), path)
    // pure append: the feed is inserts only, no deletes, no noise
    val v1 = ManifestTable.append(frame((3L, 30L, "c")), path)
    val feed1 = ManifestTable.netChanges(spark, path, v0, v1).collect()
    assert(feed1.map(r => (r.getAs[Long]("k"),
      r.getAs[String]("_change_type"))).toSet == Set((3L, "insert")))
    // copy-on-write update of k=1: its file (holding k=1 AND k=2) is
    // rewritten, so the FILE-level feed carries k=2 as both insert
    // and delete (rewrite noise)...
    val v2 = ManifestTable.upsertPruned(frame((1L, 10L, "z")),
      path, Seq("k"), "t").get
    val fileLevel = ManifestTable.changes(spark, path, v1, v2)
      .select(col("k"), col("v"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(fileLevel.contains((2L, "b", "insert")) &&
      fileLevel.contains((2L, "b", "delete")),
      s"expected carried-row noise in the file-level feed: $fileLevel")
    // ...and the NET feed cancels it: exactly one insert + one
    // delete, both for the updated key
    val net = ManifestTable.netChanges(spark, path, v1, v2)
      .select(col("k"), col("v"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(net == Set((1L, "z", "insert"), (1L, "a", "delete")),
      s"net feed must be exactly the updated key's pair: $net")
    // untouched files contribute nothing to the scan: the feed's
    // file set is the manifest diff, not the table
    val f1 = ManifestTable.snapshotFiles(spark, path, Some(v1)).toSet
    val f2 = ManifestTable.snapshotFiles(spark, path, Some(v2)).toSet
    assert((f1 intersect f2).nonEmpty,
      "the appended file should have been carried verbatim")
    // same-version window: empty feed, schema preserved
    val same = ManifestTable.changes(spark, path, v2, v2)
    assert(same.count() == 0 &&
      same.columns.contains("_change_type"))
    // a multi-commit window nets at file level too: v0→v2 never
    // surfaces a file added and removed inside the window
    val wide = ManifestTable.netChanges(spark, path, v0, v2)
      .select(col("k"), col("v"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(wide == Set((3L, "c", "insert"),
      (1L, "z", "insert"), (1L, "a", "delete")), s"window net: $wide")
    intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, path, v2, v0)
    }
  }

  test("deleteWhere: prunes to intersecting files, keeps null-predicate rows, no-ops commit nothing") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_delw_"))
    val path = new java.io.File(tmp, "t").toString
    // two range-disjoint files: t in [10,20] and t in [100,110]
    val lowFile = Seq((1L, Some(10L), "a"), (2L, Some(20L), "b"),
      (3L, Some(15L), null.asInstanceOf[String]))
      .toDF("k", "t", "v").repartition(1)
    ManifestTable.replace(lowFile, path)
    val hiVer = ManifestTable.append(
      Seq((4L, Some(100L), "d"), (5L, Some(110L), "e"))
        .toDF("k", "t", "v").repartition(1), path)
    val hiFiles = ManifestTable.snapshotFiles(spark, path, Some(hiVer)).toSet --
      ManifestTable.snapshotFiles(spark, path, Some(0L)).toSet
    // delete v='a' rows in the low range: only the low file rewrites
    val v = ManifestTable.deleteWhere(spark, path,
      col("v") === "a", "t", 0.0, 50.0)
    assert(v.isDefined)
    val after = ManifestTable.snapshotFiles(spark, path, Some(v.get)).toSet
    assert(hiFiles.subsetOf(after),
      "files outside the prune range must be carried verbatim")
    val rows = ManifestTable.read(spark, path)
      .collect().map(r => r.getAs[Long]("k")).toSet
    // k=1 deleted; k=3 has v=NULL → pred is NULL, not TRUE → SURVIVES
    // (a plain !pred filter would have silently deleted it)
    assert(rows == Set(2L, 3L, 4L, 5L),
      s"null-predicate row must survive a delete: $rows")
    // envelope false positive: range intersects, no row matches →
    // no rewrite, no version burned
    val before = ManifestTable.latestVersion(spark, path)
    assert(ManifestTable.deleteWhere(spark, path,
      col("v") === "nope", "t", 0.0, 50.0).isEmpty)
    // disjoint range: nothing can match → None
    assert(ManifestTable.deleteWhere(spark, path,
      col("v") === "b", "t", 500.0, 600.0).isEmpty)
    assert(ManifestTable.latestVersion(spark, path) == before)
    // delete EVERYTHING a file holds: the file drops out entirely
    val vAll = ManifestTable.deleteWhere(spark, path,
      col("t") >= 100L, "t", 100.0, 110.0)
    assert(vAll.isDefined)
    assert(ManifestTable.read(spark, path)
      .collect().map(_.getAs[Long]("k")).toSet == Set(2L, 3L))
  }

  test("deleteWhere fails LOUD when a commit lands inside its read-rewrite window") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_delrace_"))
    val path = new java.io.File(tmp, "t").toString
    ManifestTable.replace(
      Seq((1L, 10L, "a")).toDF("k", "t", "v").repartition(1), path)
    SinksSpec.gate = new java.util.concurrent.CountDownLatch(1)
    val gated = udf { (v: String) =>
      SinksSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS); v
    }
    val result = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Option[Long]]]()
    val t = new Thread(() =>
      result.set(
        try Right(ManifestTable.deleteWhere(spark, path,
          gated(col("v")) === "a", "t", 0.0, 50.0))
        catch { case e: Throwable => Left(e) }))
    t.start()
    Thread.sleep(500) // let the delete capture its base version
    ManifestTable.replace(
      Seq((9L, 90L, "z")).toDF("k", "t", "v").repartition(1), path)
    SinksSpec.gate.countDown()
    t.join(60000)
    result.get() match {
      case Left(e) =>
        assert(e.getMessage != null &&
          e.getMessage.contains("concurrent commit"),
          s"expected the concurrent-commit refusal, got: $e")
        assert(ManifestTable.read(spark, path)
          .collect().map(_.getLong(0)).toSeq == Seq(9L),
          "the competing commit must survive untouched")
      case Right(_) =>
        fail("deleteWhere published a rewrite built from a stale snapshot")
    }
  }

  test("maintainAgg: net-feed deltas reproduce the full recompute; zero-count groups drop") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val base = Seq(("x", 2L, 30L), ("y", 1L, 5L), ("z", 1L, 7L))
      .toDF("g", "n", "s")
      .select(col("g"), col("s"), col("n")) // (groupCols, sumCols, countCol)
    // feed: update one x row 10→25, insert a new group w, delete ALL
    // of z; y untouched
    val net = Seq(
      ("x", 25L, "insert"), ("x", 10L, "delete"),
      ("w", 4L, "insert"),
      ("z", 7L, "delete")).toDF("g", "s", "_change_type")
    val out = Sinks.maintainAgg(base, net, Seq("g"), Seq("s"), "n")
      .collect().map(r => (r.getAs[String]("g"),
        r.getAs[Long]("s"), r.getAs[Long]("n"))).toSet
    assert(out == Set(("x", 45L, 2L), ("y", 5L, 1L), ("w", 4L, 1L)),
      s"maintained aggregate diverged from the recompute: $out")
    // an empty feed maintains the base unchanged
    val empty = net.filter(lit(false))
    val same = Sinks.maintainAgg(base, empty, Seq("g"), Seq("s"), "n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(same == Set(("x", 30L, 2L), ("y", 5L, 1L), ("z", 7L, 1L)))
  }

  test("countRows: metadata counts exact through every mutation; legacy lines fall back to a scan; reserved name refused") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_cnt_"))
    val path = new java.io.File(tmp, "t").toString
    def check(expected: Long, clue: String): Unit = {
      assert(ManifestTable.countRows(spark, path) == expected, clue)
      assert(ManifestTable.read(spark, path).count() == expected,
        s"$clue (ground truth)")
    }
    val base = (0L until 100L).map(i => (i, i * 10L, s"r$i"))
      .toDF("k", "t", "v").repartitionByRange(4, col("k"))
    val v1 = ManifestTable.replace(base, path)
    check(100L, "after replace")
    ManifestTable.append((100L until 120L).map(i => (i, i * 10L, s"r$i"))
      .toDF("k", "t", "v").repartition(1), path)
    check(120L, "after append")
    // time travel: the old snapshot's metadata count is preserved
    assert(ManifestTable.countRows(spark, path, Some(v1)) == 100L)
    // key-replace upsert: no cardinality change
    ManifestTable.upsertPruned(Seq((5L, 50L, "z")).toDF("k", "t", "v")
      .repartition(1), path, Seq("k"), "t")
    check(120L, "after upsert (replace, not insert)")
    // copy-on-write delete: rewritten survivors get fresh counts
    ManifestTable.deleteWhere(spark, path,
      col("t") < 100L, "t", 0.0, 99.0)
    check(110L, "after delete")
    // LEGACY lines (bare names, pre-row-count format): the count
    // falls back to scanning exactly those files — still exact
    val names = ManifestTable.snapshotFiles(spark, path)
    ManifestTable.commit(spark, path, names)
    check(110L, "legacy manifest")
    // a data column colliding with the reserved stats name is refused
    intercept[IllegalArgumentException] {
      ManifestTable.replace(Seq((1L, 2L)).toDF("k", "_rows"),
        new java.io.File(tmp, "t2").toString)
    }
  }

  test("maintainAggTable: watermark rides the gold manifest; replayed ticks no-op; every mutation kind converges to the recompute") {
    import org.apache.spark.sql.functions._
    import graft.sinks.ManifestTable
    val spark2 = spark
    import spark2.implicits._
    val tmp = new java.io.File(tempDir("graft_mgt_"))
    val src = new java.io.File(tmp, "src").toString
    val gold = new java.io.File(tmp, "gold").toString
    def tick() = Sinks.maintainAggTable(spark, src, gold,
      Seq("g"), Seq("s"), "n")
    def goldNow() = ManifestTable.read(spark, gold)
      .collect().map(r => (r.getAs[String]("g"),
        r.getAs[Long]("s"), r.getAs[Long]("n"))).toSet
    def recompute() = ManifestTable.read(spark, src)
      .groupBy(col("g")).agg(sum(col("s")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def frame(rows: (Long, String, Long)*) =
      rows.toDF("k", "g", "s").repartition(1)
    // seed: full aggregate, watermark = src latest
    ManifestTable.replace(frame((1L, "x", 10L), (2L, "x", 20L),
      (3L, "y", 5L)), src)
    assert(tick().isDefined)
    assert(goldNow() == recompute())
    assert(Sinks.appliedVersion(spark, gold) ==
      ManifestTable.latestVersion(spark, src))
    // nothing new: replayed tick must not commit (crash-retry path)
    val vGold = ManifestTable.latestVersion(spark, gold)
    assert(tick().isEmpty)
    assert(ManifestTable.latestVersion(spark, gold) == vGold)
    // append → tick converges
    ManifestTable.append(frame((4L, "z", 7L)), src)
    assert(tick().isDefined)
    assert(goldNow() == recompute())
    // upsert + delete in one window → ONE tick converges
    ManifestTable.upsertPruned(frame((1L, "x", 99L)), src, Seq("k"), "k")
    ManifestTable.deleteWhere(spark, src, col("g") === "y", "k", 3.0, 3.0)
    assert(tick().isDefined)
    assert(goldNow() == recompute())
    assert(goldNow().map(_._1) == Set("x", "z"), "group y must have dropped")
    // a gold table not created by maintainAggTable fails loud
    val alien = new java.io.File(tmp, "alien").toString
    ManifestTable.replace(frame((1L, "x", 1L)), alien)
    intercept[IllegalArgumentException] {
      Sinks.appliedVersion(spark, alien)
    }
  }

  test("streamTableFeed's signed reduce: equals exceptAll on a sub-bag " +
    "feed; DOCUMENTED DIVERGENCE on a violating feed (r14 VERDICT #7)") {
    // The r14 rewrite of streamTableFeed's reduction (one signed
    // aggregation over the raw feed instead of ins.exceptAll(del) →
    // groupBy) is correct ONLY while deletes remain a SUB-BAG of
    // inserts — true by feed construction (each physical row emits
    // exactly one insert and at most one later delete; file-removal
    // slices skip vector-deleted positions). This spec pins BOTH
    // sides of that dependency so a future feed producer emitting a
    // delete without a prior insert fails a test instead of silently
    // corrupting the reduction.
    import spark.implicits._
    def signedReduce(feed: org.apache.spark.sql.DataFrame) = {
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      feed.groupBy(col("p"))
        .agg(coalesce(sum(sign), lit(0L)).as("n_rows"),
          sum(sign * col("cents")).as("cents"))
        .filter(col("n_rows") > 0L)
        .orderBy(col("p"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    def exceptAllReduce(feed: org.apache.spark.sql.DataFrame) = {
      val ins = feed.filter(col("_change_type") === "insert")
        .select(col("p"), col("cents"))
      val del = feed.filter(col("_change_type") === "delete")
        .select(col("p"), col("cents"))
      ins.exceptAll(del).groupBy(col("p"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .orderBy(col("p"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    // sub-bag feed (every delete was previously inserted): identical
    val ok = Seq(
      ("a", 10L, "insert"), ("a", 20L, "insert"), ("a", 10L, "delete"),
      ("b", 5L, "insert"), ("b", 5L, "insert"), ("b", 5L, "delete"),
      ("c", 7L, "insert"), ("c", 7L, "delete") // group fully deleted
    ).toDF("p", "cents", "_change_type")
    assert(signedReduce(ok) == exceptAllReduce(ok))
    // violating feed: a delete with NO prior insert. exceptAll clamps
    // the phantom delete to zero; the signed reduce subtracts it —
    // the exact failure mode the sub-bag invariant protects against.
    val bad = Seq(
      ("a", 10L, "insert"), ("a", 99L, "delete"), // 99 never inserted
      ("b", 5L, "insert")
    ).toDF("p", "cents", "_change_type")
    val signed = signedReduce(bad)
    val except = exceptAllReduce(bad)
    assert(except == Seq(("a", 1L, 10L), ("b", 1L, 5L)))
    assert(signed != except,
      "a violating feed now reduces identically — if the signed " +
        "reduce became invariant-free, delete this divergence pin")
    assert(signed == Seq(("b", 1L, 5L)),
      s"documented failure shape changed: $signed")
  }
}

object SinksSpec {
  /** Latch gating the upsert-race spec's batch evaluation (static so
    * local-mode executor threads see it without closure capture).
    */
  @volatile var gate: java.util.concurrent.CountDownLatch = _
}
