package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.Schemas.SensorReading
import graft.streaming.Pipeline

/** Seeded river-reading generator in the producer's wire format (FIXTURES.md
  * §2): one JSON object per reading, every value a string, for 160
  * waterbodies. Each waterbody reports once per simulated day and the days
  * advance in order, so no reading ever arrives behind the alert lane's
  * watermark. Values stay inside the ranges of FIXTURES.md §1; out-of-band
  * streaks of 1 to 5 readings are injected at random, and the generator
  * replays the alert rule over what it emitted, so it knows exactly which
  * alerts the gold lane must land. */
final class RiverGenerator(seed: Long) {
  import RiverGenerator._

  private val rnd = new java.util.SplittableRandom(seed)
  private val streakLeft = Array.fill(Waterbodies.size)(0)
  private val consecutive = Array.fill(Waterbodies.size)(0)
  private val dates = mutable.ArrayBuffer.empty[String]

  var emitted = 0L
  var phSum = 0.0
  /** (waterbody, ISO date, pH, dissolved O2) of each alert the rule fires. */
  val alerts = mutable.ArrayBuffer.empty[(String, String, Float, Float)]

  private def date(day: Int): String = {
    while (dates.size <= day) dates += Epoch.plusDays(dates.size.toLong).toString
    dates(day)
  }

  private def uniform(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)

  /** Fixed-point decimal text: `fixed(812, 2)` is "8.12". */
  private def fixed(v: Int, decimals: Int): String = {
    val scale = if (decimals == 2) 100 else 10
    val frac = (v % scale).toString
    s"${v / scale}.${"0" * (decimals - frac.length)}$frac"
  }

  def next(): String = {
    val w = (emitted % Waterbodies.size).toInt
    val day = (emitted / Waterbodies.size).toInt
    if (streakLeft(w) == 0 && rnd.nextDouble() < StreakStart) streakLeft(w) = uniform(1, 5)
    val outOfBand = streakLeft(w) > 0
    var ph = uniform(660, 840)   // hundredths, in band
    var dox = uniform(350, 1980) // tenths, in band
    if (outOfBand) {
      streakLeft(w) -= 1
      rnd.nextInt(3) match {
        case 0 => ph = uniform(470, 640)
        case 1 => ph = uniform(860, 980)
        case _ => dox = uniform(0, 250)
      }
    }
    val tds = uniform(330, 42000)
    val (phS, doS) = (fixed(ph, 2), fixed(dox, 1))
    emitted += 1
    phSum += phS.toFloat
    consecutive(w) = if (outOfBand) consecutive(w) + 1 else 0
    if (consecutive(w) == Pipeline.AlertThreshold)
      alerts += ((Waterbodies(w), date(day), phS.toFloat, doS.toFloat))
    s"""{"FullDate": "${date(day)}", "WaterbodyName": "${Waterbodies(w)}", "pH": "$phS", """ +
      s""""Dissolved Oxygen": "$doS", "Conductivity @25°C": "${fixed(tds, 1)}"}"""
  }
}

object RiverGenerator {
  val StreakStart = 0.02
  val Epoch: java.time.LocalDate = java.time.LocalDate.of(2007, 1, 1)
  private val Stems = Seq("CARRIGAHORIG STREAM", "DARGLE", "OWENMORE", "BARROW", "SUIR",
    "NORE", "BOYNE", "SLANEY", "MOY", "ERNE", "LIFFEY", "BLACKWATER", "CORRIB", "LEE",
    "BANDON", "FEALE", "INNY", "BROSNA", "DEEL", "MAIGUE")
  val Waterbodies: IndexedSeq[String] =
    (0 until 160).map(i => f"${Stems(i % Stems.size)}_${(i / Stems.size + 1) * 10}%03d")
}

/** The reference's own workload, run open loop. One load-generator thread
  * (the caller's) sends readings on a fixed 50 ms tick schedule that does
  * not slow when the engine does, to two lanes, each with its own
  * `MemoryStream`:
  *
  *  - bronze: `Pipeline.parseWire` -> `Pipeline.toParquetSink`;
  *  - gold: `Pipeline.parseWire` -> `Pipeline.alertsToWarehouse`, which
  *    commits each micro-batch to a manifest table.
  *
  * Both lanes use `Trigger.ProcessingTime(0)`. Three rungs follow each
  * other: an untimed warm-up and the latency rung at the base rate, then an
  * overload rung far above what the lanes can take. A reading's latency runs
  * from its scheduled creation to the end of the micro-batch that committed
  * it; a lane's landing time is how long it takes to commit every reading
  * of the overload rung, counted from the rung's start. A timed rung on
  * which the generator fell more than one tick behind its schedule is
  * invalid and is offered again; the result reports whether the last
  * attempt of each was valid. */
object River {
  val TickMs = 50L
  val BaseRate = 16000
  val OverloadRate = 128000
  val Attempts = 3

  final case class Tick(dueMs: Double, lateMs: Double, rows: Int, offsets: Map[String, Long])

  final case class Lane(name: String, input: MemoryStream[String], query: StreamingQuery)

  /** The micro-batches a lane committed: (end offset, commit epoch ms, progress). */
  def commits(q: StreamingQuery): IndexedSeq[(Long, Double, StreamingQueryProgress)] =
    q.recentProgress.toIndexedSeq.filter(_.numInputRows > 0).map { p =>
      val end = p.sources.head.endOffset.trim.toLong
      val commitMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
      (end, commitMs, p)
    }.sortBy(_._1)

  /** Commit time (epoch ms) of the batch holding each tick's readings. */
  def commitTimes(ticks: Seq[Tick], lane: String,
                  cs: IndexedSeq[(Long, Double, StreamingQueryProgress)]): Seq[Option[Double]] = {
    val ends = cs.map(_._1).toArray
    ticks.map { t =>
      val i = java.util.Arrays.binarySearch(ends, t.offsets(lane)) match {
        case k if k >= 0 => k
        case k => -k - 1
      }
      if (i < cs.size) Some(cs(i)._2) else None
    }
  }

  def run(opts: Map[String, String]): Unit = {
    val seed = opts("seed").toLong
    val work = opts("out")
    val seconds = opts("seconds").toDouble
    val tracer = new Tracer(opts.getOrElse("trace", "0") == "1")

    val (spark, setupS) = Common.timedSetups(Common.session())
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    tracer.install(spark)
    val sc = spark.sparkContext
    import spark.implicits._

    val goldPath = s"$work/gold"
    val bronzePath = s"$work/bronze"
    // MemoryStream plans one input partition per addData call; one
    // partition per micro-batch is what the reference's single-partition
    // Kafka topic delivers, so the source side is coalesced to match
    def wire(in: MemoryStream[String]) =
      Pipeline.parseWire(in.toDF().coalesce(1).select(col("value").cast("binary").as("value")))
    val (bronzeIn, goldIn) = (MemoryStream[String](spark), MemoryStream[String](spark))
    val lanes = Seq(
      Lane("bronze", bronzeIn, Pipeline.toParquetSink(wire(bronzeIn), bronzePath,
        s"$work/bronze_ckpt", Trigger.ProcessingTime(0))),
      Lane("gold", goldIn, Pipeline.alertsToWarehouse(wire(goldIn).as[SensorReading], goldPath,
        s"$work/gold_ckpt", Trigger.ProcessingTime(0))))

    val gen = new RiverGenerator(seed)

    /** Offers `rate` rows/s for `secs` on the tick schedule. The rung's
      * readings are generated before its first tick, so the schedule pays
      * only for handing them to the sources. */
    def offer(rung: String, rate: Int, secs: Double): Seq[Tick] = {
      val perTick = (rate * TickMs / 1000).toInt
      val n = math.max(1, math.round(secs * 1000 / TickMs).toInt)
      val readings = Array.fill(n)(Seq.fill(perTick)(gen.next()))
      val span = tracer.open(sc, 0L, s"rung#$rung", s"rung $rung @ $rate rows/s")
      val startNs = System.nanoTime()
      val startMs = System.currentTimeMillis().toDouble
      val ticks = (0 until n).map { i =>
        val dueNs = startNs + i * TickMs * 1000000L
        val waitNs = dueNs - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        val late = (System.nanoTime() - dueNs) / 1e6
        val offs = lanes.map(l =>
          l.name -> l.input.addData(readings(i)).asInstanceOf[LongOffset].offset)
        Tick(startMs + i * TickMs, late, perTick, offs.toMap)
      }
      tracer.close(sc, span)
      ticks
    }

    def drain(): Unit = lanes.foreach(_.query.processAllAvailable())
    def lateMs(ticks: Seq[Tick]): Double = ticks.map(_.lateMs).foldLeft(0.0)(math.max)

    /** Offers a rung and waits until both lanes have committed it. A rung on
      * which the generator ran more than one tick late is invalid: it is
      * offered again, up to [[Attempts]] times in all, and the ticks of the
      * last attempt are returned. */
    def rung(name: String, rate: Int, secs: Double): Seq[Tick] = {
      var ticks = offer(name, rate, secs)
      drain()
      var attempt = 1
      while (lateMs(ticks) > TickMs && attempt < Attempts) {
        attempt += 1
        ticks = offer(s"$name~$attempt", rate, secs)
        drain()
      }
      ticks
    }

    val failures = mutable.ArrayBuffer.empty[String]
    var steadyRssMb = Double.NaN
    var latencyTicks = Seq.empty[Tick]
    var over = Seq.empty[Tick]
    try {
      offer("warmup", BaseRate, seconds * 0.3)
      drain()
      latencyTicks = rung("latency", BaseRate, seconds * 0.45)
      // the overload rung below buffers its backlog in the sources on
      // purpose, so the footprint is read while the lanes keep up
      steadyRssMb = Common.peakRssMb()
      over = rung("overload", OverloadRate, seconds * 0.15)
    } catch { case e: Throwable => failures += s"stream: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    val progress = lanes.map(l => l.name -> commits(l.query)).toMap
    lanes.foreach(_.query.stop())
    tracer.drain(sc)
    // after the rungs, so the probe's jobs do not warm the timed code
    val probeS = if (tracer.enabled) Common.hostProbeS(spark) else -1.0

    // latency: one sample per reading of the latency rung
    val latency = lanes.map { l =>
      val samples = latencyTicks.zip(commitTimes(latencyTicks, l.name, progress(l.name))).flatMap {
        case (tick, Some(c)) => Seq.fill(tick.rows)(c - tick.dueMs)
        case _ => Nil
      }.toIndexedSeq.sorted
      l.name -> (if (samples.isEmpty) Map[String, Any]("n" -> 0)
        else Map[String, Any]("n" -> samples.size, "p50_ms" -> Common.percentile(samples, 0.50),
          "p99_ms" -> Common.percentile(samples, 0.99)))
    }.toMap
    // landing: overload rung start to the commit of its last reading
    val landingS = lanes.map { l =>
      l.name -> (if (over.isEmpty) Double.NaN else
        commitTimes(over.takeRight(1), l.name, progress(l.name)).head
          .map(c => (c - over.head.dueMs) / 1000.0).getOrElse(Double.NaN))
    }.toMap
    val late = Map("latency" -> lateMs(latencyTicks), "overload" -> lateMs(over))

    val checks = verify(spark, gen, bronzePath, goldPath)
    val overRows = over.map(_.rows).sum
    val result = mutable.LinkedHashMap[String, Any](
      "mode" -> "river", "cores" -> Common.cores.toInt, "setup_s" -> setupS,
      "offered_rows" -> gen.emitted, "expected_alerts" -> gen.alerts.size,
      "latency" -> latency, "landing_s" -> landingS, "overload_rows" -> overRows,
      "generator_late_ms" -> late,
      "rung_valid" -> late.map { case (r, ms) => r -> (ms <= TickMs) },
      "checks" -> checks, "failures" -> (failures.toSeq ++ checks.collect {
        case (k, v: String) if k.endsWith("_error") => v }))
    if (tracer.enabled) {
      val m = layers(spark, progress, goldPath)
      m("bench.generator_late_ms") = late("latency")
      m("bench.overload_generator_late_ms") = late("overload")
      // readings offered but not yet committed when the latency rung ends
      lanes.foreach { l =>
        val endMs = latencyTicks.lastOption.map(_.dueMs + TickMs).getOrElse(0.0)
        val done = progress(l.name).filter(_._2 <= endMs).map(_._1).foldLeft(-1L)(math.max)
        m(s"ingest.${l.name}.backlog_rows") =
          latencyTicks.filter(_.offsets(l.name) > done).map(_.rows).sum
      }
      Seq("bronze", "gold").foreach { l =>
        latency(l).get("p50_ms").foreach(v => m(s"streaming.$l.lat_p50_ms") = v.asInstanceOf[Double])
        latency(l).get("p99_ms").foreach(v => m(s"streaming.$l.lat_p99_ms") = v.asInstanceOf[Double])
      }
      m("streaming.sustained_rows_per_s") = overRows / landingS.values.max
      result("layers") = m
      result("host_probe_s") = probeS
      tracer.dump(opts("spans"), lanes.map(l => l.query.id.toString -> l.name).toMap)
    }
    result("peak_rss_mb") = steadyRssMb
    Common.writeFile(opts("result"), Json.render(result))
    Common.stopSession(spark)
  }

  /** Exactly-once into bronze, and the gold alert set equal to the alerts
    * the generator predicts from the streaks it injected. */
  def verify(spark: SparkSession, gen: RiverGenerator, bronzePath: String,
             goldPath: String): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      val b = spark.read.parquet(bronzePath).selectExpr("count(*)",
        "count(DISTINCT sensor_id, timestamp)",
        "sum(CASE WHEN ph_value IS NULL OR do_value IS NULL OR timestamp IS NULL THEN 1 ELSE 0 END)",
        "sum(CAST(ph_value AS DOUBLE))").head()
      val (rows, distinct, nulls) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val phSum = if (b.isNullAt(3)) 0.0 else b.getDouble(3)
      out("bronze_rows") = rows
      out("bronze_missing") = gen.emitted - distinct
      out("bronze_duplicates") = rows - distinct
      if (rows != gen.emitted || distinct != gen.emitted || nulls != 0 ||
          math.abs(phSum - gen.phSum) > 1e-6 * math.max(1.0, math.abs(gen.phSum)))
        out("bronze_error") = s"bronze holds $rows rows ($distinct distinct, $nulls with nulls) " +
          s"for ${gen.emitted} offered; pH sum $phSum, expected ${gen.phSum}"
    } catch { case e: Throwable => out("bronze_error") = s"bronze unreadable: ${e.getMessage}" }
    try {
      val got = graft.sinks.ManifestTable.read(spark, goldPath)
        .selectExpr("sensor_id", "date_format(alert_time, 'yyyy-MM-dd')", "n_consecutive",
          "ph_value", "do_value").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getInt(2), r.getFloat(3), r.getFloat(4)))
      val want = gen.alerts.map { case (w, d, ph, dox) =>
        (w, d) -> (Pipeline.AlertThreshold, ph, dox) }.toMap
      val gotMap = got.toMap
      val missing = want.count { case (k, v) => !gotMap.get(k).contains(v) }
      val unexpected = got.length - (want.size - missing)
      out("gold_alerts") = got.length
      out("gold_missing") = missing
      out("gold_unexpected") = unexpected
      if (missing != 0 || unexpected != 0)
        out("gold_error") = s"gold alerts: ${got.length} landed, ${want.size} expected, " +
          s"$missing missing or wrong, $unexpected unexpected"
    } catch { case e: Throwable => out("gold_error") = s"gold unreadable: ${e.getMessage}" }
    out.toMap
  }

  def layers(spark: SparkSession,
             progress: Map[String, IndexedSeq[(Long, Double, StreamingQueryProgress)]],
             goldPath: String): mutable.Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    progress.foreach { case (lane, cs) =>
      val ps = cs.map(_._3)
      def med(f: StreamingQueryProgress => Double) = if (ps.isEmpty) 0.0 else Common.median(ps.map(f))
      def dur(k: String) = med(_.durationMs.getOrDefault(k, 0L).toDouble)
      m(s"streaming.$lane.batches") = ps.size
      m(s"streaming.$lane.rows_per_batch") = med(_.numInputRows.toDouble)
      m(s"streaming.$lane.trigger_ms") = dur("triggerExecution")
      m(s"streaming.$lane.addBatch_ms") = dur("addBatch")
      m(s"streaming.$lane.walCommit_ms") = dur("walCommit")
      m(s"streaming.$lane.queryPlanning_ms") = dur("queryPlanning")
    }
    val gold = progress.getOrElse("gold", IndexedSeq.empty).map(_._3)
    val state = gold.lastOption.flatMap(_.stateOperators.headOption)
    m("streaming.gold.state_rows") = state.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m("streaming.gold.state_mb") = state.map(_.memoryUsedBytes / 1e6).getOrElse(0.0)
    m("streaming.gold.state_commit_ms") = if (gold.isEmpty) 0.0
      else Common.median(gold.map(_.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)))
    m("sinks.gold.versions") = graft.sinks.ManifestTable.versions(spark, goldPath).size
    m("sinks.gold.files") = graft.sinks.ManifestTable.snapshotFiles(spark, goldPath).size
    m
  }
}
