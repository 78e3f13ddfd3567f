package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, ExprUtils, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json` into a struct, with the parser built over a `String`.
  *
  * Spark's `from_json` hands every record to Jackson through
  * `CreateJacksonParser.utf8String`, which wraps the bytes in an
  * `InputStreamReader` and so allocates a fresh 8 KB decode buffer per
  * row. On river wire rows (one task, 4-core host) that costs 3.8 µs
  * per row against 2.3 µs here. This
  * expression runs the identical parse stack (`JacksonParser` under a
  * PERMISSIVE `FailureSafeParser`, `JSONOptions` built from the session
  * time zone and corrupt-record column name exactly as `JsonToStructs`
  * builds them) and changes only the parser source: the record is
  * decoded to a `String` once and parsed through
  * `CreateJacksonParser.string`. Rows, nulls and malformed-input
  * behavior are those of `from_json` (pinned by `WireDecodeSpec`).
  */
case class JsonToStructsString(
    schema: StructType,
    child: Expression,
    timeZoneId: Option[String] = None,
    corruptRecordColumn: String = SQLConf.get.columnNameOfCorruptRecord)
    extends UnaryExpression with TimeZoneAwareExpression with ExpectsInputTypes {

  override def nullable: Boolean = true
  override def dataType: DataType = GraftBridge.asNullable(schema)
  override def inputTypes = Seq(StringType)
  override def prettyName: String = "from_json_string"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))
  override protected def withNewChildInternal(c: Expression): JsonToStructsString =
    copy(child = c)

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val nullableSchema = dataType.asInstanceOf[StructType]
    val options = new JSONOptions(Map.empty[String, String], timeZoneId.get,
      corruptRecordColumn)
    ExprUtils.verifyColumnNameOfCorruptRecord(nullableSchema,
      options.columnNameOfCorruptRecord)
    val actual = StructType(nullableSchema.filterNot(
      _.name == options.columnNameOfCorruptRecord))
    val raw = new JacksonParser(actual, options, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](
      in => raw.parse[UTF8String](in,
        (f, s) => CreateJacksonParser.string(f, s.toString), identity),
      PermissiveMode, nullableSchema, options.columnNameOfCorruptRecord)
  }

  /** The parsed struct, or null when the record yields no row. */
  def parse(json: UTF8String): InternalRow = {
    val rows = parser.parse(json)
    if (rows.hasNext) rows.next() else null
  }

  override protected def nullSafeEval(json: Any): Any =
    parse(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jsonToStructs", this)
    val in = child.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
      ${in.code}
      $row ${ev.value} = ${in.isNull} ? null : $self.parse(${in.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
}

object JsonOps {

  /** `from_json(json, schema)` for a struct schema and no options,
    * through [[JsonToStructsString]].
    */
  def fromJson(json: Column, schema: StructType): Column =
    GraftBridge.column(JsonToStructsString(schema, GraftBridge.expression(json)))
}
