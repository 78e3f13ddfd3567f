package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Small helpers shared by the batch, river and census modes. */
object Common {

  /** `--key value` pairs after the mode word. */
  def parseArgs(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, q in [0, 1]. */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double =
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(q * sorted.size).toInt - 1)))

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def nowS(): Double = System.nanoTime() / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)

  /** Forget every block earlier work left in the block manager, so each
    * query starts from the same storage state. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def cores: String = Runtime.getRuntime.availableProcessors().toString

  /** Builds the engine's standard local session and runs a first trivial
    * job, so executor threads and codegen are up before anything is timed. */
  def session(): SparkSession = {
    val s = graft.spark.Sessions.local(cores, cores)
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  /** Stops the session so the next [[session]] call builds a fresh one. */
  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Sets up once, untimed, to pay the JVM's cold start (class loading,
    * JIT), then rebuilds the session three more times in the warm JVM and
    * times each rebuild. Returns the last session and the rebuild times. */
  def timedSetups(setup: => SparkSession): (SparkSession, Seq[Double]) = {
    var spark = setup
    val times = (1 to 3).map { _ =>
      stopSession(spark)
      val t0 = nowS()
      spark = setup
      nowS() - t0
    }
    (spark, times)
  }

  /** Fixed synthetic shuffle + aggregate over generated rows; its wall
    * time moves only with the state of the host. Minimum of three. */
  def hostProbeS(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = nowS()
      spark.range(0, 4L * 1000 * 1000, 1, 8)
        .selectExpr("id % 1024 AS k", "xxhash64(id) % 65536 AS v")
        .groupBy("k").sum("v").selectExpr("sum(`sum(v)`)").collect()
      nowS() - t0
    }.min

  def writeFile(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the harness' result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
