package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Closed-loop batch workloads: one client runs one query at a time, each
  * split into the three phases the engine's layers map to:
  *
  *  - build: the `SparkEntry.queries(name)(spark, dir)` call, with every
  *    eager checkpoint and driver collect the operator runs inside it;
  *  - plan: forcing the executed plan of the timed action;
  *  - exec: `collect()` of the planned frame, which computes every output
  *    column (a `count()` would let the optimizer prune them).
  *
  * The collected rows are written out untimed so the outputs can be
  * checked against the DuckDB oracle after the run. */
object Batch {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The engine module that registers each query. */
  lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.analytics.Relational.queries,
    "Affinity" -> graft.analytics.Affinity.queries,
    "Stats" -> graft.analytics.Stats.queries,
    "TimeSeries" -> graft.analytics.TimeSeries.queries,
    "Events" -> graft.analytics.Events.queries,
    "TextOps" -> graft.analytics.TextOps.queries,
    "Similarity" -> graft.analytics.Similarity.queries,
    "Quality" -> graft.analytics.Quality.queries,
    "Privacy" -> graft.analytics.Privacy.queries,
    "Packing" -> graft.analytics.Packing.queries,
    "Multimodal" -> graft.analytics.Multimodal.queries,
    "Aggregators" -> graft.functions.Aggregators.queries,
    "Scale" -> graft.operators.Scale.queries,
    "Sinks" -> graft.sinks.Sinks.queries,
    "Prep" -> graft.etl.Prep.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** One timed execution of one query. */
  final case class QueryRun(name: String, pass: Int, buildS: Double, planS: Double,
                            execS: Double, rows: Long, error: Option[String],
                            output: Option[String], spans: Seq[Span],
                            materializations: Int, materializedBytes: Long) {
    def totalS: Double = buildS + planS + execS
  }

  /** Session set-up as a user pays it: the engine's session plus a first
    * touch (listing and footer) of every input table. */
  def setup(dataDir: String): SparkSession = {
    val spark = Common.session()
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
    spark
  }

  /** Order-independent digest of a result, to tell whether a later pass
    * returned exactly what the first one did. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Runs one query. With an `outDir`, its collected rows are written there
    * (untimed) when `seen` holds no digest for the query yet or a different
    * one, so the checker sees every distinct result the query returned. */
  def runQuery(spark: SparkSession, tracer: Tracer, parent: Long, name: String,
               pass: Int, dataDir: String, outDir: Option[String],
               seen: mutable.Map[String, String]): QueryRun = {
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries(name)
    Common.dropCaches(spark)
    val q = tracer.open(sc, parent, s"$name#$pass", name)
    var times = Vector.empty[Double]
    val phases = mutable.ArrayBuffer.empty[Span]
    def phase[T](label: String)(body: => T): T = {
      val s = tracer.open(sc, q.id, q.group, label)
      phases += s
      val t0 = Common.nowS()
      try body finally {
        times :+= Common.nowS() - t0
        tracer.close(sc, s)
      }
    }
    var mats = 0
    var matBytes = 0L
    val result = try {
      val df: DataFrame = phase("build")(fn(spark, dataDir))
      if (tracer.enabled) {
        val infos = sc.getRDDStorageInfo
        mats = sc.getPersistentRDDs.size
        matBytes = infos.map(i => i.memSize + i.diskSize).sum
      }
      phase("plan")(df.queryExecution.executedPlan)
      val rows: Array[Row] = phase("exec")(df.collect())
      val out = outDir.flatMap { dir =>
        val d = digest(rows)
        if (seen.get(name).contains(d)) None else {
          seen.getOrElseUpdate(name, d)
          val path = s"$dir/$name"
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(path)
          Some(path)
        }
      }
      Right((rows.length.toLong, out))
    } catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    tracer.close(sc, q)
    val padded = times.padTo(3, 0.0)
    QueryRun(name, pass, padded(0), padded(1), padded(2),
      result.map(_._1).getOrElse(0L), result.left.toOption, result.toOption.flatMap(_._2),
      q +: phases.toSeq, mats, matBytes)
  }

  def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val names = opts("queries").split(",").toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val dataDir = opts("data")
    val outDir = opts("out")
    val seconds = opts("seconds").toDouble
    val tracer = new Tracer(opts.getOrElse("trace", "0") == "1")

    val (spark, setupS) = Common.timedSetups(setup(dataDir))
    tracer.install(spark)
    val sc = spark.sparkContext

    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val t0 = Common.nowS()
    // whole passes only: another starts while it is expected to end
    // inside the measured window
    val firstDigest = mutable.Map.empty[String, String]
    var pass = 0
    while (pass == 0 || Common.nowS() - t0 + passWall.min <= seconds) {
      val ps = tracer.open(sc, 0L, s"pass#$pass", s"pass $pass")
      val pw = Common.nowS()
      names.foreach { n =>
        runs += runQuery(spark, tracer, ps.id, n, pass, dataDir, Some(s"$outDir/pass$pass"),
          firstDigest)
      }
      passWall += Common.nowS() - pw
      tracer.close(sc, ps)
      pass += 1
    }
    Common.dropCaches(spark)
    tracer.drain(sc)
    // after the passes, so the probe's jobs do not warm the timed code
    val probeS = if (tracer.enabled) Common.hostProbeS(spark) else -1.0

    val result = mutable.LinkedHashMap[String, Any](
      "mode" -> "batch", "workload" -> workload, "cores" -> Common.cores.toInt,
      "setup_s" -> setupS, "passes" -> pass, "pass_wall_s" -> passWall.toSeq,
      "queries" -> runs.map(r => Map(
        "name" -> r.name, "pass" -> r.pass, "module" -> moduleOf.getOrElse(r.name, "?"),
        "build_s" -> r.buildS, "plan_s" -> r.planS, "exec_s" -> r.execS, "rows" -> r.rows,
        "error" -> r.error, "output" -> r.output)),
      "oracle_sql" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    if (tracer.enabled) {
      result("layers") = layers(runs.toSeq, tracer, pass)
      result("host_probe_s") = probeS
      tracer.dump(opts("spans"))
    }
    result("peak_rss_mb") = Common.peakRssMb()
    Common.writeFile(opts("result"), Json.render(result))
    Common.stopSession(spark)
  }

  /** Per-layer figures, summed per pass, median over passes. */
  def layers(runs: Seq[QueryRun], tracer: Tracer, passes: Int): Map[String, Double] = {
    def phaseCounters(r: QueryRun, label: String): Counters = {
      val c = new Counters
      r.spans.filter(_.name == label).foreach(s => c += tracer.countersOf(s.id))
      c
    }
    val cores = Common.cores.toDouble
    val perPass = (0 until passes).map { p =>
      val rs = runs.filter(_.pass == p)
      val b = new Counters; val e = new Counters
      rs.foreach { r => b += phaseCounters(r, "build"); e += phaseCounters(r, "exec") }
      val execWall = rs.map(_.execS).sum
      val m = mutable.LinkedHashMap[String, Double](
        "build.wall_s" -> rs.map(_.buildS).sum,
        "build.jobs" -> b.jobs.toDouble,
        "build.stages" -> b.stages.toDouble,
        "build.materializations" -> rs.map(_.materializations).sum.toDouble,
        "build.materialized_mb" -> rs.map(_.materializedBytes).sum / 1e6,
        "plan.wall_s" -> rs.map(_.planS).sum,
        "exec.wall_s" -> execWall,
        "exec.jobs" -> e.jobs.toDouble,
        "exec.stages" -> e.stages.toDouble,
        "exec.tasks" -> e.tasks.toDouble,
        "exec.task_cpu_s" -> e.taskCpuNs / 1e9,
        "exec.core_busy_ratio" -> (if (execWall > 0) e.taskRunMs / 1000.0 / (execWall * cores) else 0.0),
        "exec.shuffle_mb" -> (e.shuffleReadBytes + e.shuffleWriteBytes) / 1e6,
        "exec.spill_mb" -> e.spillBytes / 1e6,
        "exec.gc_s" -> e.gcMs / 1000.0,
        "exec.input_mb" -> e.inputBytes / 1e6)
      rs.groupBy(r => moduleOf.getOrElse(r.name, "?")).foreach { case (mod, mrs) =>
        m(s"$mod.build_s") = mrs.map(_.buildS).sum
        m(s"$mod.exec_s") = mrs.map(_.execS).sum
        m(s"$mod.stages") = mrs.map(r =>
          phaseCounters(r, "build").stages + phaseCounters(r, "exec").stages).sum.toDouble
      }
      m.toMap
    }
    perPass.flatMap(_.keys).distinct.map(k => k -> Common.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
  }
}
