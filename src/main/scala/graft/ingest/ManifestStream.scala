package graft.ingest

import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types._

import graft.sinks.ManifestTable

/** The manifest table as a STRUCTURED STREAMING SOURCE — the missing
  * half of the lakehouse lifecycle: [[graft.sinks.ManifestTable]]
  * tables are written by batch commits and streaming sinks
  * (foreachBatch upsert/append lanes); this source lets DOWNSTREAM
  * jobs subscribe to one, exactly the role Delta's streaming source /
  * change data feed plays (reference: streaming/spark_processor.py:42
  * names Delta as the lake intent).
  *
  * Offsets ARE manifest versions — the commit protocol already
  * totally orders the table's history, so the streaming offset needs
  * no second bookkeeping domain (the same identity Delta uses). A
  * micro-batch (from, to] IS the batch change feed
  * [[graft.sinks.ManifestTable.changes]] between the two snapshots —
  * one DataFrame plan serves batch and streaming — and the first
  * batch (from = -1, the empty table) is the initial load: the whole
  * snapshot as inserts. Exactly-once falls out of immutability: a
  * replayed batch re-reads the same (from, to] against the same
  * immutable manifests and files. The retention contract is Delta's:
  * [[graft.sinks.ManifestTable.vacuum]] must keep enough versions to
  * cover the slowest subscriber's lag, or a restart fails loudly on
  * the missing manifest (never silently skips).
  *
  * The feed carries the table schema the stream started with; files
  * predating a column null-fill it, as the batch readers do.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-table")
  *     .option("path", tablePath).load()
  * }}}
  */
class ManifestTableProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.get("path").filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
      "graft-table source: .option(\"path\", <manifest table path>) is required"))

  private def schemaOf(sqlContext: SQLContext, schema: Option[StructType],
                       parameters: Map[String, String]): StructType = {
    require(schema.isEmpty, "graft-table source: the schema is the table's, not user-specified")
    ManifestStream.feedSchema(
      ManifestTable.read(sqlContext.sparkSession, pathOf(parameters)).schema)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), schemaOf(sqlContext, schema, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new ManifestSource(sqlContext.sparkSession, pathOf(parameters),
      schemaOf(sqlContext, schema, parameters))
}

private[ingest] object ManifestStream {
  val ChangeCol = "_change_type"

  def feedSchema(table: StructType): StructType = {
    require(!table.fieldNames.contains(ChangeCol),
      s"graft-table source: the table already has a '$ChangeCol' column")
    table.add(ChangeCol, StringType, nullable = false)
  }
}

private[ingest] class ManifestSource(spark: SparkSession, path: String,
                                     override val schema: StructType)
    extends Source with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow: pin the end offset at trigger time so the
    * run drains exactly the versions that existed when it started,
    * then stops — concurrent commits land in the next run.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = ManifestTable.latestVersion(spark, path)

  /** No rate limiting: a window's versions are processed whole, so the
    * feed's net-file-diff semantics hold per batch.
    */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset =
    availableNowCap.orElse(ManifestTable.latestVersion(spark, path))
      .map(LongOffset(_)).orNull

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException("graft-table source: call latestOffset")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame =
    GraftBridge.streamingFrame(ManifestTable.alignTo(
      ManifestTable.changes(spark, path,
        start.fold(-1L)(_.json.toLong), end.json.toLong), schema))

  override def stop(): Unit = ()
}
