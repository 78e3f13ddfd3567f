package graft.ingest

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.ManifestTable

/** The manifest table as a STRUCTURED STREAMING SOURCE — the missing
  * half of the lakehouse lifecycle: [[graft.sinks.ManifestTable]]
  * tables are written by batch commits and streaming sinks
  * (foreachBatch upsert/append lanes); this DataSource-V2
  * `MicroBatchStream` lets DOWNSTREAM jobs subscribe to one, exactly
  * the role Delta's streaming source / change data feed plays
  * (reference: streaming/spark_processor.py:42 names Delta as the
  * lake intent).
  *
  * Offsets ARE manifest versions — the commit protocol already
  * totally orders the table's history, so the streaming offset needs
  * no second bookkeeping domain (the same identity Delta uses). A
  * micro-batch (from, to] emits the table's CHANGE FEED between the
  * two snapshots, mirroring [[graft.sinks.ManifestTable.changes]]
  * row for row:
  *
  *  - files added in the window → their rows, `_change_type=insert`,
  *    minus `to`'s deletion vectors on them;
  *  - files removed → their rows, `_change_type=delete`, minus
  *    `from`'s vectors (they were already logically gone);
  *  - vectors NEW in the window on files carried across it → exactly
  *    those positions, `_change_type=delete` (the line-level delta:
  *    old positions are never re-reported).
  *
  * The first batch (from = -1) is the initial load: the whole
  * snapshot as inserts. Planning is O(changed files) driver metadata
  * — carried files contribute NOTHING — and each changed FILE is one
  * input partition, so the read scales out with the delta, never the
  * table. Exactly-once falls out of immutability: a replayed batch
  * re-plans the same (from, to] against the same immutable manifests
  * and files. The retention contract is Delta's: [[graft.sinks
  * .ManifestTable.vacuum]] must keep enough versions to cover the
  * slowest subscriber's lag, or a restart fails loudly on the
  * missing manifest (never silently skips).
  *
  * Readers decode parquet via parquet-mr's Group API (the library
  * Spark itself ships) — a row-at-a-time path, fine for CHANGE
  * feeds, which are delta-sized by construction; the table's bulk
  * scans stay on Spark's vectorized reader. Supported column types:
  * the primitive set every graft table uses (long/int/double/float/
  * boolean/string/date/timestamp — both INT64-micros and legacy
  * INT96). Schema evolution composes: the feed carries the CURRENT
  * table schema and old files null-fill columns they predate, same
  * as the batch readers.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-table")
  *     .option("path", tablePath).load()
  * }}}
  */
class ManifestTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-table source: .option(\"path\", <manifest table path>) is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestStream.feedSchema(
      ManifestTable.read(SparkSession.active, pathOf(options)).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ManifestStreamTable(schema,
      pathOf(new CaseInsensitiveStringMap(properties)))
}

private[ingest] object ManifestStream {
  val ChangeCol = "_change_type"

  def feedSchema(table: StructType): StructType = {
    require(!table.fieldNames.contains(ChangeCol),
      s"graft-table source: the table already has a '$ChangeCol' column")
    table.add(ChangeCol, StringType, nullable = false)
  }
}

private[ingest] class ManifestStreamTable(schema: StructType, path: String)
    extends Table with SupportsRead {

  override def name(): String = s"graft-table($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ManifestMicroBatchStream(path, schema)
      }
    }
}

/** Streaming offset = manifest version (-1 = before the table). */
private[ingest] case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** One changed file of the window. `skipPositions` (sorted) are
  * vector-deleted rows to OMIT; when `onlyPositions` is nonempty the
  * partition emits EXACTLY those positions instead (the vector-delta
  * delete slice). Both are driver-collected from vector sidecars,
  * bounded by the materialization policy that keeps vectors small.
  */
private[ingest] case class ManifestChangePartition(
    filePath: String, changeType: String,
    skipPositions: Array[Long], onlyPositions: Array[Long])
  extends InputPartition

private[ingest] class ManifestMicroBatchStream(path: String,
                                               schema: StructType)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  /** Trigger.AvailableNow: pin the end offset at trigger time so the
    * run drains exactly the versions that existed when it started,
    * then stops — concurrent commits land in the next run.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      ManifestTable.latestVersion(spark, path).getOrElse(-1L))

  override def initialOffset(): Offset = VersionOffset(-1L)

  override def latestOffset(): Offset =
    VersionOffset(availableNowCap.getOrElse(
      ManifestTable.latestVersion(spark, path).getOrElse(-1L)))

  /** Admission control (the interface Trigger.AvailableNow rides):
    * no rate limiting — a window's versions are processed whole, so
    * the feed's net-file-diff semantics hold per batch.
    */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Positions deleted by the given `#dv` entries, grouped by target.
    * Driver-collected: live vectors are delta-sized by the materialize
    * policy.
    */
  private def positionsByTarget(entries: Seq[(String, String, Long)])
      : Map[String, Array[Long]] =
    ManifestTable.dvPositions(spark, path, entries).fold(Map.empty[String, Array[Long]])(
      _.collect().groupBy(_.getString(0))
        .view.mapValues(_.map(_.getLong(1)).distinct.sorted).toMap)

  /** The last window planned and its partitions: Spark plans a
    * micro-batch more than once, and a window's versions are
    * immutable, so its files and vector positions are read once.
    */
  @volatile private var planned: Option[((Long, Long), Array[InputPartition])] = None

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val window = (start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)
    planned.collect { case (`window`, parts) => parts }.getOrElse {
      val parts = planWindow(window._1, window._2)
      planned = Some(window -> parts)
      parts
    }
  }

  private def planWindow(from: Long, to: Long): Array[InputPartition] = {
    if (to < 0 || from >= to) return Array.empty
    val fromFiles =
      if (from < 0) Set.empty[String]
      else ManifestTable.snapshotFiles(spark, path, Some(from)).toSet
    val toFiles = ManifestTable.snapshotFiles(spark, path, Some(to)).toSet
    val added = (toFiles -- fromFiles).toSeq.sorted
    val removed = (fromFiles -- toFiles).toSeq.sorted
    val toDv = ManifestTable.dvEntries(spark, path, Some(to))
    val fromDv =
      if (from < 0) Seq.empty[(String, String, Long)]
      else ManifestTable.dvEntries(spark, path, Some(from))
    // vector-delta deletes: lines new in the window on carried files
    val fromDvSet = fromDv.toSet
    val carried = fromFiles intersect toFiles
    val delta = toDv.filterNot(fromDvSet)
      .filter(e => carried.contains(e._2))
    // one read for the vectors of added files (live in `to`), removed
    // files (live in `from`) and the delta: the three target sets are
    // disjoint, and dvPositions keeps a position only under its own
    // (sidecar, target) line, so each target reads its own lines alone
    val skip = positionsByTarget(toDv.filterNot(e => fromFiles(e._2)) ++
      fromDv.filterNot(e => toFiles(e._2)) ++ delta)
    val empty = Array.empty[Long]
    val parts =
      added.map(n => ManifestChangePartition(s"$path/data/$n", "insert",
        skip.getOrElse(n, empty), empty)) ++
      removed.map(n => ManifestChangePartition(s"$path/data/$n", "delete",
        skip.getOrElse(n, empty), empty)) ++
      delta.map(_._2).distinct.sorted.flatMap(n => skip.get(n).map { pos =>
        ManifestChangePartition(s"$path/data/$n", "delete", empty, pos)
      })
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestChangeReaderFactory(schema)
}

private[ingest] class ManifestChangeReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ManifestChangeReader(
      partition.asInstanceOf[ManifestChangePartition], schema)

  // OPTIMIZATION r15 (guide §1.2 step 2; r14 VERDICT #3): serve the
  // feed as COLUMNAR batches through Spark's own vectorized parquet
  // reader instead of row-at-a-time parquet-mr Groups. The answer
  // must be uniform across a scan's partitions (mixing row and
  // columnar partitions is rejected by DataSourceV2ScanExecBase), so
  // it is `true` unconditionally and the per-file edge cases are
  // handled INSIDE the columnar reader (per-batch row copies for
  // deletion-vector slices; a Group-decode fallback for file shapes
  // the vectorized path rejects).
  // Scale-adaptive lane choice: Spark plans the scan columnar iff
  // EVERY partition answers true (DataSourceV2ScanExecBase uses
  // forall — per-partition answers are legal, mixed plans are not),
  // so small-file batches keep the row lane, where the columnar
  // path's per-file fixed costs (second footer read, vector init,
  // ColumnarToRow) measurably exceed its decode win — the A/B at
  // ~600 KB files read ×1.05 AGAINST columnar while ≥MB-scale files
  // read ×1.47 for it (OPTIMIZATION_r15.md §5, "Columnar feed lane
  // gate"). The gate is driver-side file length at planning time, one
  // metadata call per CHANGED file; ChangeFeedLaneSpec pins both lanes
  // to the same change set.
  private val ColumnarMinBytes = 4L << 20
  // hoisted: a fresh Configuration per call is an XML parse, and
  // Spark consults supportColumnarReads repeatedly during planning.
  // @transient: the gate runs driver-side only, and the factory is
  // shipped to executors (Configuration is not serializable)
  @transient private lazy val statusConf =
    new org.apache.hadoop.conf.Configuration()
  override def supportColumnarReads(partition: InputPartition): Boolean =
    try {
      val hp = new org.apache.hadoop.fs.Path(
        partition.asInstanceOf[ManifestChangePartition].filePath)
      hp.getFileSystem(statusConf).getFileStatus(hp)
        .getLen >= ColumnarMinBytes
    } catch { case scala.util.control.NonFatal(_) =>
      false // unreadable status: keep the row lane (read fails loud later)
    }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    new ManifestChangeColumnarReader(
      partition.asInstanceOf[ManifestChangePartition], schema)
}

/** Row-at-a-time parquet decode via parquet-mr Groups, tracking the
  * in-file position so deletion vectors apply by ordinal — the same
  * position `_metadata.row_index` exposes on the vectorized path.
  */
private[ingest] class ManifestChangeReader(p: ManifestChangePartition,
                                           schema: StructType)
    extends PartitionReader[InternalRow] {

  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val reader: ParquetReader[Group] = ParquetReader
    .builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(p.filePath))
    .withConf(new org.apache.hadoop.conf.Configuration())
    .build()

  private val dataFields = schema.fields.dropRight(1) // last = _change_type
  private val changeTag = UTF8String.fromString(p.changeType)
  private var pos = -1L
  private var current: Group = _

  private def accept(i: Long): Boolean =
    if (p.onlyPositions.nonEmpty)
      util.Arrays.binarySearch(p.onlyPositions, i) >= 0
    else util.Arrays.binarySearch(p.skipPositions, i) < 0

  override def next(): Boolean = {
    var g = reader.read()
    pos += 1
    while (g != null && !accept(pos)) { g = reader.read(); pos += 1 }
    current = g
    g != null
  }

  /** INT96 legacy timestamp: 8-byte little-endian nanos-of-day +
    * 4-byte little-endian julian day → epoch micros.
    */
  private def int96Micros(bytes: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  // OPTIMIZATION r14 (guide §1.2 step 2, per-task work): one partition
  // is one parquet file, so the file's MessageType — and with it every
  // field's index, its presence (schema evolution), the DataType
  // dispatch, and the INT96-vs-INT64 probe — is CONSTANT across the
  // partition's rows. The old get() re-resolved all of that per CELL
  // (two string-keyed schema lookups + a DataType match per value);
  // on the initial-snapshot load, where this reader decodes the whole
  // table, that was the dominant per-row cost. The decode plan hoists
  // it to once per file: an array of per-column closures, leaving per
  // cell only the null check and the primitive accessor.
  private var decoders: Array[Group => Any] = _

  private def buildDecoders(
      fileType: org.apache.parquet.schema.GroupType): Array[Group => Any] =
    dataFields.map { f =>
      // schema evolution: a file written before the column existed
      // simply lacks the field — null-fill, as the batch read does
      if (!fileType.containsField(f.name)) (_: Group) => null
      else {
        val fi = fileType.getFieldIndex(f.name)
        val read: Group => Any = f.dataType match {
          case LongType => (g: Group) => g.getLong(fi, 0)
          case IntegerType => (g: Group) => g.getInteger(fi, 0)
          case DoubleType => (g: Group) => g.getDouble(fi, 0)
          case FloatType => (g: Group) => g.getFloat(fi, 0)
          case BooleanType => (g: Group) => g.getBoolean(fi, 0)
          case StringType =>
            (g: Group) => UTF8String.fromBytes(g.getBinary(fi, 0).getBytes)
          case DateType => (g: Group) => g.getInteger(fi, 0)
          case TimestampType =>
            if (fileType.getType(fi).asPrimitiveType().getPrimitiveTypeName ==
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
              (g: Group) => int96Micros(g.getInt96(fi, 0).getBytes)
            else (g: Group) => g.getLong(fi, 0) // INT64 micros annotation
          case dt => throw new UnsupportedOperationException(
            s"graft-table source: column '${f.name}' of type " +
              s"${dt.simpleString} is outside the supported primitive set")
        }
        (g: Group) => if (g.getFieldRepetitionCount(fi) == 0) null else read(g)
      }
    }

  override def get(): InternalRow = {
    val g = current
    if (decoders == null) decoders = buildDecoders(g.getType)
    val out = new Array[Any](schema.length)
    var i = 0
    while (i < decoders.length) {
      out(i) = decoders(i)(g)
      i += 1
    }
    out(schema.length - 1) = changeTag
    new GenericInternalRow(out)
  }

  override def close(): Unit = reader.close()
}

/** Columnar feed decode (OPTIMIZATION r15, guide §1.2 step 2; r14
  * VERDICT #3): one partition is one parquet file, read through
  * Spark's OWN vectorized parquet reader and served to the scan as
  * [[ColumnarBatch]]es — the row-at-a-time parquet-mr Group path (one
  * boxed Any per cell, one GenericInternalRow per row) measured ~3×
  * slower than the vectorized scan on the initial-snapshot drain,
  * where this reader decodes the whole table.
  *
  * Three lanes, decided per FILE and per BATCH:
  *  - clean full-file slices (no deletion-vector positions touching
  *    the batch): ZERO-COPY — the output batch wraps the reader's own
  *    column vectors, reordered onto the table schema, plus a
  *    [[ConstantColumnVector]] `_change_type` tag and constant-null
  *    vectors for columns the file predates (schema evolution);
  *  - batches a skip/only position list intersects: surviving rows
  *    are copied into fresh [[OnHeapColumnVector]]s (delete slices
  *    and vector-skipped files are delta-sized by the materialization
  *    policy, so this lane is small by construction);
  *  - file shapes the vectorized reader rejects (e.g. INT96 under
  *    this init path, nanos columns): the Group row decode of
  *    [[ManifestChangeReader]] — DV semantics included — packed into
  *    vectors, so correctness never depends on the vectorized path.
  *
  * Decode semantics are pinned by the existing feed oracle
  * (q_stream_table_feed) and `StreamingSpec`, which exercise all
  * supported primitive types through both lanes.
  */
private[ingest] class ManifestChangeColumnarReader(p: ManifestChangePartition,
                                                   schema: StructType)
    extends PartitionReader[ColumnarBatch] {

  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector

  private val dataFields = schema.fields.dropRight(1) // last = _change_type
  private val Capacity = 4096

  /** File-schema field name → position (footer metadata read only) —
    * maps the vectorized batch's file-ordered vectors onto the TABLE
    * schema, and detects columns the file predates.
    */
  private val fileFieldIdx: Map[String, Int] = {
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.filePath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val fields = rdr.getFooter.getFileMetaData.getSchema.getFields
      (0 until fields.size).map(i => fields.get(i).getName -> i).toMap
    } finally rdr.close()
  }

  /** The vectorized reader, or None when this file needs the Group
    * fallback. Rebase modes CORRECTED: graft files are written by
    * THIS session's Spark 4 (proleptic calendar, TIMESTAMP_MICROS
    * since r14) — no legacy-calendar rebase applies.
    */
  private val vreader: Option[VectorizedParquetRecordReader] = {
    var r: VectorizedParquetRecordReader = null
    try {
      r = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, Capacity)
      r.initialize(p.filePath, null)
      r.initBatch(new StructType(), InternalRow.empty)
      r.enableReturningBatches()
      val batch = r.resultBatch()
      // every table column present in the file must surface with
      // exactly the table's Spark type, or the file takes the
      // row-decode lane (which has its own type dispatch)
      val ok = dataFields.forall { f =>
        fileFieldIdx.get(f.name)
          .forall(i => batch.column(i).dataType() == f.dataType)
      }
      if (ok) Some(r)
      else { r.close(); None }
    } catch { case scala.util.control.NonFatal(_) =>
      if (r != null) r.close()
      None
    }
  }

  private val changeTag: ConstantColumnVector = {
    val v = new ConstantColumnVector(Capacity, StringType)
    v.setUtf8String(UTF8String.fromString(p.changeType))
    v
  }

  // constant-null vectors for table columns the file predates
  private val nullFills: Map[String, ConstantColumnVector] =
    dataFields.filterNot(f => fileFieldIdx.contains(f.name)).map { f =>
      val v = new ConstantColumnVector(Capacity, f.dataType)
      v.setNull()
      f.name -> v
    }.toMap

  /** Zero-copy output lane: the reader's vectors reordered onto the
    * table schema + tag. Vector instances are stable across
    * nextBatch() calls, so this wrapper is built once.
    */
  private lazy val wrapVectors: Array[ColumnVector] = vreader match {
    case Some(r) =>
      val src = r.resultBatch()
      (dataFields.map(f => fileFieldIdx.get(f.name)
        .map(i => src.column(i): ColumnVector)
        .getOrElse(nullFills(f.name))) :+ (changeTag: ColumnVector)).toArray
    case None => null
  }
  private lazy val wrapBatch = new ColumnarBatch(wrapVectors, 0)

  private var rowsSeen = 0L
  private var current: ColumnarBatch = _

  private def accept(i: Long): Boolean =
    if (p.onlyPositions.nonEmpty)
      util.Arrays.binarySearch(p.onlyPositions, i) >= 0
    else util.Arrays.binarySearch(p.skipPositions, i) < 0

  /** Does any skip/only position land in [start, start+n)? (When not,
    * a skip-mode batch passes through whole and an only-mode batch
    * emits nothing.)
    */
  private def filterTouches(start: Long, n: Int): Boolean = {
    val arr = if (p.onlyPositions.nonEmpty) p.onlyPositions else p.skipPositions
    if (arr.isEmpty) false
    else {
      var lo = util.Arrays.binarySearch(arr, start)
      if (lo < 0) lo = -lo - 1
      lo < arr.length && arr(lo) < start + n
    }
  }

  private def appendCell(dst: WritableColumnVector, src: ColumnVector,
                         i: Int, dt: DataType): Unit =
    if (src.isNullAt(i)) { dst.appendNull(): Unit }
    else dt match {
      case LongType | TimestampType => dst.appendLong(src.getLong(i)): Unit
      case IntegerType | DateType => dst.appendInt(src.getInt(i)): Unit
      case DoubleType => dst.appendDouble(src.getDouble(i)): Unit
      case FloatType => dst.appendFloat(src.getFloat(i)): Unit
      case BooleanType => dst.appendBoolean(src.getBoolean(i)): Unit
      case StringType =>
        val s = src.getUTF8String(i)
        dst.appendByteArray(s.getBytes, 0, s.numBytes): Unit
      case other => throw new UnsupportedOperationException(
        s"graft-table source: unsupported columnar copy type $other")
    }

  /** Copy the batch's DV-surviving rows into fresh vectors; null when
    * nothing survives. The `_change_type` tag stays constant.
    */
  private def copySurvivors(src: org.apache.spark.sql.vectorized.ColumnarBatch,
                            start: Long, n: Int): ColumnarBatch = {
    val srcCols = dataFields.map(f =>
      fileFieldIdx.get(f.name).map(i => src.column(i)).orNull)
    val dst = OnHeapColumnVector.allocateColumns(
      math.min(n, Capacity), StructType(dataFields))
    var kept = 0
    var i = 0
    while (i < n) {
      if (accept(start + i)) {
        var c = 0
        while (c < dataFields.length) {
          if (srcCols(c) == null) dst(c).appendNull()
          else appendCell(dst(c), srcCols(c), i, dataFields(c).dataType)
          c += 1
        }
        kept += 1
      }
      i += 1
    }
    if (kept == 0) { dst.foreach(_.close()); null }
    else new ColumnarBatch(
      (dst.map(v => v: ColumnVector) :+ (changeTag: ColumnVector)).toArray, kept)
  }

  override def next(): Boolean = vreader match {
    case Some(r) =>
      while (r.nextBatch()) {
        val batch = r.resultBatch()
        val n = batch.numRows()
        val start = rowsSeen
        rowsSeen += n
        if (n > 0) {
          if (!filterTouches(start, n)) {
            if (p.onlyPositions.isEmpty) { // clean batch: zero-copy
              wrapBatch.setNumRows(n)
              current = wrapBatch
              return true
            } // only-mode with no listed position here: emit nothing
          } else {
            val out = copySurvivors(batch, start, n)
            if (out != null) { current = out; return true }
          }
        }
      }
      false
    case None => fallbackNext()
  }

  /** Group row decode packed into vectors — DV semantics ride the row
    * reader unchanged. Opened on first use (the flag keeps close()
    * from constructing a reader over a possibly unreadable file just
    * to close it).
    */
  private var rowFallbackOpened = false
  private lazy val rowFallback = {
    rowFallbackOpened = true
    new ManifestChangeReader(p, schema)
  }

  private def fallbackNext(): Boolean = {
    val cols = OnHeapColumnVector.allocateColumns(Capacity, schema)
    var n = 0
    while (n < Capacity && rowFallback.next()) {
      val row = rowFallback.get()
      var c = 0
      while (c < schema.length) {
        val dt = schema.fields(c).dataType
        if (row.isNullAt(c)) cols(c).appendNull()
        else dt match {
          case LongType | TimestampType => cols(c).appendLong(row.getLong(c)): Unit
          case IntegerType | DateType => cols(c).appendInt(row.getInt(c)): Unit
          case DoubleType => cols(c).appendDouble(row.getDouble(c)): Unit
          case FloatType => cols(c).appendFloat(row.getFloat(c)): Unit
          case BooleanType => cols(c).appendBoolean(row.getBoolean(c)): Unit
          case StringType =>
            val s = row.getUTF8String(c)
            cols(c).appendByteArray(s.getBytes, 0, s.numBytes): Unit
          case other => throw new UnsupportedOperationException(
            s"graft-table source: unsupported columnar pack type $other")
        }
        c += 1
      }
      n += 1
    }
    if (n == 0) { cols.foreach(_.close()); false }
    else {
      current = new ColumnarBatch(cols.map(v => v: ColumnVector).toArray, n)
      true
    }
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    vreader.foreach(_.close())
    if (rowFallbackOpened) rowFallback.close()
    changeTag.close()
    nullFills.values.foreach(_.close())
  }
}
