package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.spark.Sessions.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A fresh scratch dir under the JVM temp dir, deleted with
    * everything in it once the spec has run.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => graft.sinks.Sinks.deleteRecursively(d))
    finally super.afterAll()

  /** Formatted physical plan for plan-shape assertions. */
  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString()
}

/** Contract guards over the whole driver surface: each module registers
  * a query together with its oracle, so what can still go wrong is a
  * blank oracle, or a name registered by two modules, where the later
  * one would silently shadow the other in [[graft.SparkEntry]]'s
  * merged maps.
  */
class SparkEntryContractSpec extends SparkSpec {

  test("every query has an oracle unless explicitly allowed rows-only") {
    val registered = graft.SparkEntry.modules.flatMap(_.registry)
    val blank = registered.collect { case (n, q) if q.oracleSql.trim.isEmpty => n }
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
    val names = registered.map(_._1)
    val shadowed = names.diff(names.distinct)
    assert(shadowed.isEmpty, s"queries registered twice: $shadowed")
    assert(graft.SparkEntry.queries.size == names.size)
  }
}
