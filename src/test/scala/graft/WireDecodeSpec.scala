package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.functions.JsonOps
import graft.model.Schemas
import graft.streaming.Pipeline

/** Differential pin for the wire decoder: `Pipeline.parseWire` parses
  * through `JsonToStructsString`, and must equal Spark's own
  * `from_json` row for row, nulls included, on well-formed and hostile
  * wire input alike.
  */
class WireDecodeSpec extends SparkSpec {

  /** The decode as it stood on `from_json`: the reference the native
    * expression is held to. Same coercion tail as `parseWire`.
    */
  private def referenceParse(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS value")
      .select(from_json(col("value"), Schemas.wireSchema).alias("data"))
      .select("data.*")
      .select(
        col("WaterbodyName").as("sensor_id"),
        to_timestamp(col("FullDate")).as("timestamp"),
        col("pH").cast("float").as("ph_value"),
        col("`Dissolved Oxygen`").cast("float").as("do_value"),
        col("`Conductivity @25°C`").cast("float").as("tds_value"))

  private def wire(values: Seq[Array[Byte]]): DataFrame = {
    val rows = values.map(v => Row(v))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("value", BinaryType))))
  }

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Wire rows as the producer frames them, with the variation a real
    * feed carries: number spellings, missing keys, key order, unicode
    * names, whitespace.
    */
  private def seededCorpus(n: Int, seed: Long): Seq[Array[Byte]] = {
    val rnd = new Random(seed)
    val names = Seq("AVON RIVER_010", "Lough Derg", "Ríó ☃ brook",
      "SUIR \"east\"", "tab\tname")
    def num(lo: Double, hi: Double): String = {
      val x = lo + rnd.nextDouble() * (hi - lo)
      rnd.nextInt(6) match {
        case 0 => f"$x%.2f"
        case 1 => f"$x%.0f"
        case 2 => f"$x%.3e"
        case 3 => s"${x.toInt}."
        case 4 => f"-$x%.1f"
        case _ => f"$x%.1f"
      }
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\t", "\\t")
    (0 until n).map { _ =>
      val fields = Seq(
        "FullDate" -> f"${2007 + rnd.nextInt(17)}-${1 + rnd.nextInt(12)}%02d-01",
        "WaterbodyName" -> names(rnd.nextInt(names.length)),
        "pH" -> num(4.7, 9.8),
        "Dissolved Oxygen" -> num(0, 198),
        "Conductivity @25°C" -> num(33, 4200))
      val kept = rnd.shuffle(fields).filter(_ => rnd.nextInt(20) != 0)
      val sep = if (rnd.nextBoolean()) ", " else ","
      bytes(kept.map { case (k, v) => s""""$k":${" " * rnd.nextInt(2)}"${esc(v)}"""" }
        .mkString("{", sep, "}"))
    }
  }

  /** Every shape a hostile or broken producer can put on the topic. */
  private val hostile: Seq[Array[Byte]] = {
    val ok = """{"FullDate":"2020-01-01","WaterbodyName":"X","pH":"7.1","Dissolved Oxygen":"90","Conductivity @25°C":"400"}"""
    Seq(
      bytes("""{"pH": "7.1", "WaterbodyName": "open"""),   // malformed
      bytes(""),
      null,                                                 // NULL value
      bytes(s"[$ok, $ok]"),                                 // top-level array
      bytes("""{"pH": 7.25, "Dissolved Oxygen": true, "Conductivity @25°C": {"a": 1}, "WaterbodyName": 12, "FullDate": null}"""),
      bytes("""{"WaterbodyName": ["a"], "pH": false}"""),
      bytes("""{"pH": "7.0", "pH": "8.5", "WaterbodyName": "dup"}"""), // duplicate keys
      bytes("""{"WaterbodyName": "Ríver ☃ 🌊", "pH": "7.5"}"""),
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ bytes(ok), // UTF-8 BOM
      bytes("""{"WaterbodyName": "ab""") ++
        Array[Byte](0xFF.toByte, 0xFE.toByte, 0xC3.toByte) ++ bytes("""", "pH": "7"}"""),
      bytes("""{"pH": "7"}"""),                             // missing keys
      bytes(ok.dropRight(1) + ""","extra":"x","nested":{"pH":"1"}}"""), // extra keys
      bytes("{}"), bytes("null"), bytes("   "), bytes("42"), bytes("\"str\""),
      bytes(ok + " trailing"), bytes(ok))
  }

  private def collectBoth(values: Seq[Array[Byte]]): (Array[Row], Array[Row]) = {
    val df = wire(values)
    (Pipeline.parseWire(df).collect(), referenceParse(df).collect())
  }

  test("parseWire equals the from_json reference on a seeded wire corpus") {
    val values = seededCorpus(32768, seed = 7L)
    val (ours, ref) = collectBoth(values)
    assert(ours.length == values.length)
    val diffs = ours.indices.filter(i => ours(i) != ref(i))
    assert(diffs.isEmpty, s"${diffs.size} rows differ, first at ${diffs.headOption
      .map(i => s"${new String(values(i), UTF_8)}: ${ours(i)} vs ${ref(i)}")}")
    // the corpus exercised both present and missing fields
    assert(ours.exists(_.anyNull) && ours.exists(r => !r.anyNull))
  }

  test("the parsed struct equals from_json's on hostile input, null vs all-null rows included") {
    val df = wire(hostile).select(col("value").cast("string").as("value"))
    val ours = df.select(JsonOps.fromJson(col("value"), Schemas.wireSchema)).collect()
    val ref = df.select(from_json(col("value"), Schemas.wireSchema)).collect()
    hostile.indices.foreach { i =>
      val shown = Option(hostile(i)).map(new String(_, UTF_8)).orNull
      assert(ours(i) == ref(i), s"row $i <$shown>: ${ours(i)} vs ${ref(i)}")
    }
    // the corpus reaches every decode outcome: null, all-null, partial, full
    val structs = ref.map(_.getStruct(0))
    assert(structs.contains(null))
    assert(structs.exists(s => s != null && (0 until s.length).forall(s.isNullAt)))
    assert(structs.exists(s => s != null && s.anyNull && !(0 until s.length).forall(s.isNullAt)))
    assert(structs.exists(s => s != null && !s.anyNull))
  }

  test("parseWire matches the reference per hostile row, failures included") {
    // the typed tail can fail under ANSI casts; the reference must then
    // fail the same way, and succeed with the same row otherwise
    def outcome(f: DataFrame => DataFrame, v: Array[Byte]): Either[String, Seq[Row]] =
      Try(f(wire(Seq(v))).collect().toSeq) match {
        case Success(rows) => Right(rows)
        case Failure(e) => Left(e.getClass.getName)
      }
    // the expected task failures would log a stack trace each
    spark.sparkContext.setLogLevel("OFF")
    val outcomes = try hostile.map { v =>
      val shown = Option(v).map(new String(_, UTF_8)).orNull
      val ours = outcome(Pipeline.parseWire, v)
      assert(ours == outcome(referenceParse, v), s"<$shown>")
      ours
    } finally spark.sparkContext.setLogLevel("WARN")
    assert(outcomes.exists(_.isLeft) && outcomes.exists(_.isRight))
  }

  test("parseWire keeps whole-stage codegen and decodes once per row") {
    val p = plan(Pipeline.parseWire(wire(Seq(hostile.last))))
    assert(p.contains("*("), s"parse left whole-stage codegen:\n$p")
    assert("from_json_string".r.findAllIn(p).length == 1, p)
  }
}
