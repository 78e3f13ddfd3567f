package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Manifest-committed parquet table — the minimal transactional layer
  * the offline container can host (the seam where Delta/Iceberg slots
  * in; reference intent: streaming/spark_processor.py:42's Delta sink).
  *
  * Layout:
  * {{{
  *   path/data/<token>-<n>.parquet     immutable data files
  *   path/_manifests/manifest-<v>      one line per live data file
  * }}}
  *
  * Protocol: writers STAGE new immutable files under `data/` (invisible
  * to readers), then COMMIT by renaming a fully-written temp manifest
  * to the next version — one atomic rename is the entire visibility
  * switch. Readers resolve the highest committed manifest and read
  * exactly the files it lists. A crash at ANY point before the rename
  * leaves the previous snapshot fully readable (the crash-injection
  * spec pins this); orphaned staged files are garbage, not corruption,
  * and [[vacuum]] reaps them. Old snapshots stay readable until
  * vacuumed, so a reader holding a resolved manifest never races a
  * compaction swap — the half-swapped-directory window of a
  * rename-the-directory scheme does not exist here.
  *
  * Concurrency: the commit rename uses FileContext semantics (fail on
  * existing destination), so two racing committers cannot both claim a
  * version — the loser retries against the next version. Single-writer
  * per table remains the intended deployment (as with Delta, multiple
  * writers additionally need conflict checking between snapshots).
  * Round 14 adds the two conflict checks the engine's own
  * read-modify-write commits need: [[append]] re-reads the base
  * snapshot after losing a version race (so concurrent appends
  * serialize instead of silently dropping each other's files), and
  * [[upsertPruned]] fails LOUD on a concurrent commit instead of
  * publishing a merge built from a stale file list — inside
  * foreachBatch the streaming engine's batch retry is the safe
  * re-read-and-redo loop.
  *
  * Round 14 also adds SCHEMA EVOLUTION: each snapshot records its
  * logical schema as a `#schema` manifest header, appends may ADD
  * nullable columns without touching committed bytes, and readers
  * resolve the schema from the log (old files null-fill columns they
  * predate) — see the header notes at [[snapshotSchema]].
  */
object ManifestTable {

  private val DataDir = "data"
  private val ManifestDir = "_manifests"
  private val ManifestPrefix = "manifest-"
  private val MaxCommitRetries = 20

  private def fsOf(spark: SparkSession,
                   p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(
      s"$path/$ManifestDir/$ManifestPrefix%09d".format(v))

  /** Manifest line format. Round 7 adds FILE-LEVEL COLUMN STATS — the
    * data-skipping index every lakehouse format carries: a line is
    * either a bare file name (legacy, never skipped) or
    * `name\tcol=min..max;col2=min..max` for the file's numeric
    * columns (bounds as doubles, WIDENED by one ulp on each side at
    * write time — a 64-bit integer above 2^53 rounds to the nearest
    * double, which can fall inside the true range; nextDown/nextUp
    * re-covers the exact value so skipping stays conservative for
    * every long. All-null columns carry no entry and are never
    * skipped).
    * [[snapshotFiles]] strips the stats, so every pre-existing
    * consumer (read/vacuum/compact/crash specs) is format-agnostic;
    * [[pruneFiles]]/[[readBetween]] use them to touch only files
    * whose range intersects the predicate — the manifest twin of
    * parquet row-group skipping, at file granularity.
    */
  private def nameOf(line: String): String = line.split('\t')(0)

  /** SCHEMA EVOLUTION (round 14). A manifest may carry one header line
    * `#schema\t<StructType json>` recording the snapshot's logical
    * schema — the union of every column ever committed. Readers
    * resolve the schema FROM THE LOG and pass it to the parquet scan
    * (`spark.read.schema(...)`), which null-fills columns a given file
    * lacks: adding a column to a 100 TB table is one manifest line,
    * zero data rewritten, zero footer reads at query time (the
    * `mergeSchema` alternative stats every file's footer per query —
    * O(files) IO that this header makes O(1)). Lines starting with
    * `#` are headers, never file names; every line consumer filters
    * them, and pre-evolution manifests (no header) read exactly as
    * before. Only ADDING columns is supported: a same-named column
    * must keep its type — type changes require a [[replace]] rewrite,
    * and the mismatch fails loudly at append time, not silently at
    * read time.
    */
  private val SchemaMarker = "#schema"

  private def isHeader(line: String): Boolean = line.startsWith("#")

  private def schemaLine(s: org.apache.spark.sql.types.StructType): String = {
    val j = s.json
    require(!j.exists(c => c == '\n' || c == '\r' || c == '\t'),
      "schema header: column names must not contain tab/newline " +
        "(they ride a line-oriented manifest)")
    s"$SchemaMarker\t$j"
  }

  /** The snapshot's recorded logical schema, if its manifest carries a
    * header (tables written before round 14, or by [[commit]] callers
    * that never evolved, carry none — their files all share one
    * schema and the parquet footer is authoritative).
    */
  def snapshotSchema(spark: SparkSession, path: String,
                     version: Option[Long] = None)
      : Option[org.apache.spark.sql.types.StructType] =
    rawLines(spark, path, version)
      .find(_.startsWith(s"$SchemaMarker\t"))
      .map(l => org.apache.spark.sql.types.DataType.fromJson(
        l.split('\t')(1)).asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Base schema ∪ incoming: base columns keep their position and
    * type (a type change is refused loudly); columns new to the table
    * append as nullable; base columns absent from the incoming frame
    * turn nullable (the new files lack them — reads null-fill).
    */
  private def evolvedSchema(base: org.apache.spark.sql.types.StructType,
                            incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    val baseNames = base.fieldNames.toSet
    val kept = base.fields.map { f =>
      inByName.get(f.name) match {
        case Some(g) =>
          require(g.dataType == f.dataType,
            s"schema evolution: column '${f.name}' would change type " +
              s"${f.dataType.simpleString} -> ${g.dataType.simpleString}; " +
              "only ADDING nullable columns is supported — type changes " +
              "need a replace() rewrite")
          f.copy(nullable = f.nullable || g.nullable)
        case None => f.copy(nullable = true)
      }
    }
    val added = incoming.fields.filterNot(f => baseNames.contains(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(kept ++ added)
  }

  /** Project `df` onto `schema`'s column order, null-filling columns
    * it lacks — the in-memory twin of the null-fill a schema-carrying
    * parquet scan does for old files.
    */
  private[graft] def alignTo(df: DataFrame,
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map(f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }

  /** MERGE-ON-READ DELETION VECTORS (round 14). A `#dv` manifest line
    * `#dv\t<dvParquet>\t<targetDataFile>\t<nDeleted>` records that
    * `nDeleted` rows of `targetDataFile` are logically deleted, their
    * positions listed in `dvParquet` (a tiny parquet under `data/` of
    * `(_dv_file string, _dv_pos long)` — `_dv_pos` is the row's
    * ordinal within its file, the position `_metadata.row_index`
    * exposes at scan time). [[deleteWhereMor]] commits one such
    * sidecar instead of rewriting touched files: deleting 1k rows
    * from a 100 TB table is O(matches) bytes written, not O(touched
    * files) — the write-amplification complement of the copy-on-write
    * [[deleteWhere]]. Readers ([[read]], [[readBetween]],
    * [[changes]]) subtract the vectors with a broadcast anti-join on
    * (file, position); [[materializeDeletes]] folds vectors back into
    * rewritten files once their deleted fraction makes the read-side
    * join a worse deal than the rewrite.
    *
    * Invariant maintained by every committer: a live `#dv` line's
    * TARGET file is present in the same manifest, and its positions
    * are disjoint from every other live line's for that target (a
    * later delete scans the table DV-filtered, so an already-deleted
    * row can never re-match). [[countRows]] therefore stays exact
    * metadata arithmetic: file row sums minus `#dv` line sums.
    * Copy-on-write ops that rewrite a target ([[upsertPruned]],
    * [[deleteWhere]], [[materializeDeletes]]) read it DV-filtered and
    * DROP its `#dv` lines — the deletion is materialized into the
    * rewrite. The dvParquet may outlive some of its lines (one
    * sidecar can cover several targets); it is reaped by [[vacuum]]
    * once no kept manifest references it.
    */
  private val DvMarker = "#dv"

  private def isDvLine(line: String): Boolean = line.startsWith(s"$DvMarker\t")

  private def dvLine(dvFile: String, target: String, n: Long): String =
    s"$DvMarker\t$dvFile\t$target\t$n"

  /** (dvParquet, targetDataFile, nDeleted) of every live `#dv` line. */
  private[graft] def dvEntries(spark: SparkSession, path: String,
                               version: Option[Long] = None)
      : Seq[(String, String, Long)] =
    rawLines(spark, path, version).filter(isDvLine).map { l =>
      val p = l.split('\t')
      (p(1), p(2), p(3).toLong)
    }

  /** PER-FILE BLOOM POINT-LOOKUP INDEX (round 14). A `#bloom` line
    * `#bloom\t<sidecarFile>\t<targetDataFile>\t<column>` records that
    * `sidecarFile` (raw [[org.apache.spark.util.sketch.BloomFilter]]
    * bytes under `data/`) summarizes `targetDataFile`'s `column`
    * values. The min/max stats envelope skips RANGE predicates on the
    * layout key but is useless for EQUALITY on a high-cardinality
    * column the layout wasn't built on (every file's [min, max] spans
    * the whole key domain — zero files skipped); a per-file bloom
    * answers "can this file hold key k?" with a bounded false-positive
    * rate, so a point lookup opens ~fpp·files instead of all of them —
    * the Delta bloom-filter-index capability. Values are tested in
    * their CAST-TO-STRING form on both build and probe (exact for
    * integer/string columns — the documented support set). Blooms are
    * only ever an over-approximation of a LIVE file's content, so
    * deletion vectors never invalidate them (deleted rows surface as
    * false positives and fall to the residual filter); a REWRITE of
    * the target does invalidate (false negatives) — every
    * copy-on-write path drops rewritten targets' `#bloom` lines, and
    * [[bloomIndex]] re-covers them on its next run.
    */
  private val BloomMarker = "#bloom"

  private def isBloomLine(line: String): Boolean =
    line.startsWith(s"$BloomMarker\t")

  /** (sidecarFile, targetDataFile, column) of every live `#bloom`
    * line.
    */
  private[graft] def bloomEntries(spark: SparkSession, path: String,
                                  version: Option[Long] = None)
      : Seq[(String, String, String)] =
    rawLines(spark, path, version).filter(isBloomLine).map { l =>
      val p = l.split('\t')
      (p(1), p(2), p(3))
    }

  /** Header lines that reference sidecar files and ride alongside the
    * data-file lines: deletion vectors and bloom indexes. Both carry
    * verbatim through appends and vector commits; both DROP for a
    * target a copy-on-write path rewrites (a vector is materialized
    * by the DV-filtered rewrite; a bloom would go stale — false
    * NEGATIVES — against rewritten bytes).
    */
  private def sideLinesOf(spark: SparkSession, path: String,
                          version: Option[Long]): Seq[String] =
    rawLines(spark, path, version).filter(l => isDvLine(l) || isBloomLine(l))

  /** The data-file a side line annotates (field 2 of both kinds). */
  private def sideTargetOf(line: String): String = line.split('\t')(2)

  /** The sidecar file a side line references (field 1 of both kinds). */
  private def sideFileOf(line: String): String = line.split('\t')(1)

  /** Helper column names riding the DV anti-join; dropped before the
    * frame leaves the manifest layer.
    */
  private val DvFileCol = "_graft_dv_file"
  private val DvPosCol = "_graft_dv_pos"

  /** Subtract a snapshot's deletion vectors from `scan` — which MUST
    * sit directly on a parquet file source (the hidden `_metadata`
    * struct resolves only there). Applies only to rows from files in
    * `targets`; a no-DV snapshot returns `scan` untouched, paying
    * nothing. The DV side is tiny by the [[materializeDeletes]]
    * policy, so the anti-join broadcasts — no shuffle of the data
    * side.
    */
  /** Tag each scanned row with its (file name, in-file position) —
    * the key a deletion vector addresses. Must be applied directly
    * over the parquet scan (the hidden `_metadata` struct resolves
    * only on a file source).
    */
  private def withPosKeys(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    df.withColumn(DvFileCol,
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn(DvPosCol, col("_metadata.row_index"))
  }

  /** Schema of every deletion-vector sidecar (see [[DvMarker]]). */
  private val DvSchema = org.apache.spark.sql.types.StructType
    .fromDDL("_dv_file STRING, _dv_pos BIGINT")

  /** Deleted (file, position) pairs of the vector `entries`
    * `(dvParquet, target, nDeleted)`, keyed [[DvFileCol]]/[[DvPosCol]]
    * — None when there are none. Each position row is kept only when
    * its (sidecar, target) pair is one of the entries: one sidecar may
    * hold positions for several files, and a line naming another
    * sidecar's target, or a target whose line a rewrite has dropped,
    * must not lend it those positions. The sidecars are read under
    * their fixed [[DvSchema]], so no job runs to merge their footers
    * into an inferred schema. The one reader of vector positions:
    * snapshot reads and the change feed both go through it.
    */
  private def dvPositions(spark: SparkSession, path: String,
                                 entries: Seq[(String, String, Long)]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    // tab-joined like the `#dv` line itself: no file name holds a tab
    val pairs = entries.map(e => s"${e._1}\t${e._2}").distinct
    if (entries.isEmpty) None
    else Some(spark.read.schema(DvSchema)
      .parquet(entries.map(_._1).distinct.map(n => s"$path/$DataDir/$n"): _*)
      .filter(concat_ws("\t", col("_metadata.file_name"), col("_dv_file"))
        .isInCollection(pairs))
      .select(col("_dv_file").as(DvFileCol), col("_dv_pos").as(DvPosCol)))
  }

  /** The snapshot's deleted (file, position) pairs restricted to
    * `targets` ([[dvPositions]] of its live vectors), deduplicated for
    * the broadcast — None when no live vector targets them.
    */
  private def dvFrame(spark: SparkSession, path: String,
                      version: Option[Long],
                      targets: Set[String]): Option[DataFrame] =
    dvPositions(spark, path,
      dvEntries(spark, path, version).filter(e => targets.contains(e._2)))
      .map(_.distinct())

  private def dvSubtract(spark: SparkSession, path: String,
                         version: Option[Long], scan: DataFrame,
                         targets: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    dvFrame(spark, path, version, targets) match {
      case None => scan
      case Some(dv) =>
        withPosKeys(scan)
          .join(broadcast(dv), Seq(DvFileCol, DvPosCol), "left_anti")
          .drop(DvFileCol, DvPosCol)
    }
  }

  private def statsOf(line: String): Map[String, (Double, Double)] =
    line.split('\t') match {
      case Array(_, st) => st.split(';').iterator.filter(_.nonEmpty).map { e =>
        val Array(c, rng) = e.split("=", 2)
        val Array(mn, mx) = rng.split("\\.\\.", 2)
        c -> (mn.toDouble, mx.toDouble)
      }.toMap
      case _ => Map.empty
    }

  /** Committed manifest versions, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val mdir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val fs = fsOf(spark, mdir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .map(_.stripPrefix(ManifestPrefix).toLong)
      .sorted
  }

  /** Name of the latest-version HINT file: one ASCII number, written
    * best-effort (temp + rename) after every successful commit. At
    * 10⁶ commits a directory listing per [[latestVersion]] call is
    * O(commits) namenode work on EVERY read; the hint makes discovery
    * O(1) + a forward existence probe. The hint is ADVISORY, never
    * authoritative: it can lag (a racer's hint write lost, a crash
    * between rename and hint) but can never point past a live
    * manifest it didn't see committed, so correctness comes from
    * probing FORWARD from it until the next version is absent —
    * usually zero probes. A hint stale by more than [[MaxHintProbes]]
    * (pathological: every hint write failing for 64 commits) falls
    * back to the full listing.
    */
  private val LatestHint = "_latest"
  private val MaxHintProbes = 64

  private def writeLatestHint(spark: SparkSession, path: String,
                              v: Long): Unit =
    try {
      val mdir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
      val fs = fsOf(spark, mdir)
      val tmp = new org.apache.hadoop.fs.Path(
        mdir, s".hint-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      // plain rename (overwrite-tolerant where the FS allows it); on
      // a refuse-to-overwrite FS delete-then-rename leaves at worst a
      // MISSING hint, which readers treat as "list the directory"
      val dst = new org.apache.hadoop.fs.Path(mdir, LatestHint)
      if (!fs.rename(tmp, dst)) {
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst)) fs.delete(tmp, false): Unit
      }
    } catch { case _: java.io.IOException => () } // advisory: never fail a commit

  private def readLatestHint(spark: SparkSession,
                             path: String): Option[Long] =
    try {
      val hp = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir/$LatestHint")
      val fs = fsOf(spark, hp)
      if (!fs.exists(hp)) None
      else {
        val in = fs.open(hp)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        s.toLongOption
      }
    } catch { case _: java.io.IOException => None }

  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    readLatestHint(spark, path) match {
      case Some(h) =>
        val fs = fsOf(spark, manifestPath(path, h))
        // the hinted version may itself be vacuumed ONLY if newer ones
        // exist, so a missing manifest-(h) still probes forward before
        // giving up to the listing
        var v = h
        var probes = 0
        while (probes < MaxHintProbes &&
            fs.exists(manifestPath(path, v + 1))) {
          v += 1; probes += 1
        }
        if (probes >= MaxHintProbes) versions(spark, path).lastOption
        else if (fs.exists(manifestPath(path, v))) Some(v)
        else versions(spark, path).lastOption
      case None => versions(spark, path).lastOption
    }
  }

  /** Every nonempty manifest line of snapshot `version`, headers
    * included — the one place that touches manifest bytes.
    */
  private def rawLines(spark: SparkSession, path: String,
                       version: Option[Long]): Seq[String] = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val mp = manifestPath(path, v)
    val fs = fsOf(spark, mp)
    val in = fs.open(mp)
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
    } finally in.close()
  }

  /** Relative file names of snapshot `version` (default: latest). */
  def snapshotFiles(spark: SparkSession, path: String,
                    version: Option[Long] = None): Seq[String] =
    rawLines(spark, path, version).filterNot(isHeader).map(nameOf)

  /** FILE manifest lines of snapshot `version` (names + stats; header
    * lines stripped — callers carrying lines verbatim into a new
    * commit re-derive their own header).
    */
  private def snapshotLines(spark: SparkSession, path: String,
                            version: Option[Long]): Seq[String] =
    rawLines(spark, path, version).filterNot(isHeader)

  /** Per-file numeric column bounds of the snapshot (empty map for
    * legacy lines written before stats existed).
    */
  def snapshotStats(spark: SparkSession, path: String,
                    version: Option[Long] = None)
      : Seq[(String, Map[String, (Double, Double)])] =
    snapshotLines(spark, path, version).map(l => nameOf(l) -> statsOf(l))

  /** The snapshot as a DataFrame — exactly the committed files. A
    * schema header, when present, is passed to the scan so files
    * written before a column existed null-fill it (and the resolved
    * version is pinned ONCE, so the file list and the schema cannot
    * straddle a concurrent commit).
    */
  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val names = snapshotFiles(spark, path, Some(v))
    val files = names.map(f => s"$path/$DataDir/$f")
    val scan = snapshotSchema(spark, path, Some(v)) match {
      case Some(s) if files.isEmpty =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
    if (files.isEmpty) scan
    else dvSubtract(spark, path, Some(v), scan, names.toSet)
  }

  /** Stage `df` as new immutable files under `data/` WITHOUT making
    * them visible: write to a hidden staging dir (dot-prefixed, so a
    * directory-level parquet scan would skip it anyway), then move
    * each part file to a collision-free name. Crashing here leaves
    * only unreferenced garbage.
    */
  private[graft] def stage(df: DataFrame, path: String,
      token: String = java.util.UUID.randomUUID().toString): Seq[String] = {
    val spark = df.sparkSession
    val stagingDir = new org.apache.hadoop.fs.Path(s"$path/.staging-$token")
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/$DataDir")
    val fs = fsOf(spark, stagingDir)
    df.write.mode(SaveMode.Overwrite).parquet(stagingDir.toString)
    fs.mkdirs(dataDir)
    val parts = fs.listStatus(stagingDir).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val names = parts.zipWithIndex.map { case (src, i) =>
      val name = s"$token-$i.parquet"
      require(fs.rename(src, new org.apache.hadoop.fs.Path(dataDir, name)),
        s"stage: failed to place $src as $name")
      name
    }
    fs.delete(stagingDir, true)
    names
  }

  /** Atomically publish a snapshot consisting of exactly `files`
    * (names relative to `data/`). The temp manifest is fully written
    * and fsync-closed BEFORE the rename, and the rename refuses an
    * existing destination — so a version is either invisible or
    * complete, never partial, and racing committers cannot overwrite
    * each other.
    */
  private[graft] def commit(spark: SparkSession, path: String,
                            files: Seq[String]): Long = {
    var attempt = 0
    var v = latestVersion(spark, path).getOrElse(-1L) + 1
    while (attempt < MaxCommitRetries) {
      if (commitAt(spark, path, files, v)) return v
      v = math.max(v + 1, latestVersion(spark, path).getOrElse(-1L) + 1)
      attempt += 1
    }
    throw new IllegalStateException(
      s"commit: lost $MaxCommitRetries version races at $path")
  }

  /** Attempt to publish snapshot `files` at EXACTLY version `v`.
    * Returns false if that version was claimed by a racing committer
    * (tmp manifest cleaned up, nothing published) — the
    * optimistic-concurrency primitive for READ-MODIFY-WRITE commits,
    * whose line list was derived from the base snapshot and is stale
    * the moment another version lands: the caller must re-read and
    * rebuild before retrying ([[append]] does; [[upsertPruned]]
    * surfaces the conflict instead). [[commit]]'s blind retry at the
    * next version is only safe for self-contained line lists
    * ([[replace]]). Throws on real IO failure.
    */
  private def commitAt(spark: SparkSession, path: String,
                       files: Seq[String], v: Long): Boolean = {
    val mdir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val fs = fsOf(spark, mdir)
    // re-validate the staged files immediately before publishing: a
    // vacuum racing a SLOW stage→commit gap (beyond the orphan-age
    // grace, or under clock skew) may have reaped them, and a
    // committed manifest pointing at vanished files is the one state
    // the protocol must never produce — fail the commit instead
    // data files from plain lines; sidecar files from #dv/#bloom lines
    // (headers otherwise carry no file references)
    val referenced = files.filterNot(isHeader).map(nameOf) ++
      files.filter(l => isDvLine(l) || isBloomLine(l)).map(sideFileOf)
    val missing = referenced.distinct.filterNot(f =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$DataDir/$f")))
    require(missing.isEmpty,
      s"commit: staged files vanished before publish (vacuumed?): " +
        s"${missing.mkString(", ")} — re-stage and retry")
    fs.mkdirs(mdir)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      mdir.toUri, spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      mdir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    try {
      // Atomic no-overwrite publish. On a POSIX local FS the
      // FileContext Rename.NONE path is check-then-act: an exists
      // probe, then rename(2) — which silently OVERWRITES — so two
      // racers straddling the probe could BOTH "win" the same version,
      // the second's bytes replacing the first's (observed as a
      // manifest whose data and checksum sidecar came from different
      // committers). link(2) is the real claim primitive there:
      // hard-linking the fully-written tmp to the final name fails
      // with EEXIST atomically, so a version is claimed exactly once
      // and appears with complete content or not at all. Non-local
      // filesystems keep the FileContext rename, whose no-overwrite
      // rename is atomic on HDFS.
      val dst = manifestPath(path, v)
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false) // drops the tmp name + its crc sidecar
        } catch {
          // a local FS without hardlinks (some overlay/fuse mounts)
          // signals UnsupportedOperationException, which is not an
          // IOException — without this arm it would escape both catch
          // clauses below, leaking the tmp manifest and failing the
          // commit with no fallback. Fall back to the FileContext
          // no-overwrite rename (the pre-r14 primitive: last resort,
          // check-then-act on POSIX, atomic on HDFS).
          case _: UnsupportedOperationException => fc.rename(tmp, dst)
        }
      } else fc.rename(tmp, dst)
      writeLatestHint(spark, path, v)
      true
    } catch {
      // ONLY a claimed version is a race worth reporting as such —
      // hadoop's and nio's already-exists both; any other IOException
      // (permissions, quota, dead namenode) is a real failure and
      // must surface with its cause, not be ground through 20
      // retries into a misleading "lost races" error
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        false
      case e: java.io.IOException =>
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"commit: cannot publish manifest v$v at $path", e)
    }
  }

  /** Replace the table content with `df` in one atomic commit. The
    * previous snapshot stays fully readable throughout (and after,
    * until vacuumed).
    */
  def replace(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val names = stage(df, path)
    commit(spark, path,
      schemaLine(df.schema) +: withStats(spark, path, names))
  }

  /** APPEND `df` as new files alongside the current snapshot's: the
    * new manifest carries every existing line verbatim (stats
    * included, files untouched on disk) plus the staged files' lines.
    * Creates the table if no snapshot exists. No key semantics — rows
    * are added, never replaced (that is [[upsertPruned]]); the append
    * path is for accumulating immutable facts (e.g. the dedup serving
    * index absorbing tomorrow's cleared batch). NOTE for readers that
    * prune on a stats envelope: appended files' envelopes may OVERLAP
    * existing ones (the table is no longer globally range-laid until
    * the next [[replace]]/[[compact]] re-lays it) — consumers must
    * use overlap-tolerant containment, as the dedup prune's interval
    * search does.
    */
  def append(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val names = stage(df, path)
    appendStaged(spark, path, withStats(spark, path, names), df.schema)
  }

  /** The append RMW loop: read the base snapshot, attempt a commit at
    * exactly base+1, and on a lost version race RE-READ and rebuild —
    * never retry with the stale line list (r13 advice: commit()'s
    * blind next-version retry would silently drop the racing
    * committer's files from the table). Concurrent appends therefore
    * serialize: each loser folds the winner's lines into its next
    * attempt, and every tranche survives.
    */
  private def appendStaged(spark: SparkSession, path: String,
                           newLines: Seq[String],
                           incoming: org.apache.spark.sql.types.StructType): Long = {
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val base = latestVersion(spark, path)
      val existing = base match {
        case Some(v) => snapshotLines(spark, path, Some(v))
        case None => Seq.empty[String]
      }
      // Snapshot schema = base ∪ incoming. A pre-header base snapshot
      // (round ≤13, or a raw commit()) records no schema; its files all
      // share one footer schema by the old invariant, so ONE footer
      // read recovers it — paid only on the first evolving append, the
      // header carries it forever after.
      val baseSchema = base.flatMap(v =>
        snapshotSchema(spark, path, Some(v)).orElse(
          existing.headOption.map(l => spark.read.parquet(
            s"$path/$DataDir/${nameOf(l)}").schema)))
      val merged = baseSchema.map(evolvedSchema(_, incoming)).getOrElse(incoming)
      // deletion vectors and bloom indexes ride along verbatim:
      // appending files can neither satisfy nor invalidate a
      // position-level delete or a per-file bloom on an EXISTING file
      val dvCarry = base.toSeq.flatMap(v => sideLinesOf(spark, path, Some(v)))
      val target = base.getOrElse(-1L) + 1
      if (commitAt(spark, path,
          schemaLine(merged) +: (dvCarry ++ existing ++ newLines), target)) return target
      attempt += 1
    }
    throw new IllegalStateException(
      s"append: lost $MaxCommitRetries version races at $path")
  }

  /** Idempotent [[append]] for exactly-once streaming accretion: the
    * staged files carry a `txn-<txnId>-` name prefix that rides the
    * committed manifest, so "did this transaction already commit?" is
    * answered by the snapshot itself — one atomic rename covers both
    * the data visibility and the txn marker (the trick Delta encodes
    * as `txn` actions in its log). If the LATEST snapshot already
    * carries the marker the call is a no-op returning None — which is
    * exactly what a foreachBatch REPLAY after a crash between the
    * append and the checkpoint commit must do. txnId must be unique
    * per logical batch and stable across restarts (e.g. the
    * foreachBatch batchId), and the check only consults the latest
    * snapshot — a [[replace]]/compaction between the crash and the
    * replay re-lays the marker away (callers for whom that rare
    * window matters must make re-appends semantically harmless, as
    * the dedup probe's pair-level dedupe does).
    */
  def appendOnce(df: DataFrame, path: String, txnId: String): Option[Long] = {
    require(txnId.nonEmpty && txnId.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_'),
      s"appendOnce: txnId must be [A-Za-z0-9._]+ (rides file names " +
        s"and manifest lines), got '$txnId'")
    val spark = df.sparkSession
    val prefix = s"txn-$txnId-"
    val already = latestVersion(spark, path).exists(v =>
      snapshotFiles(spark, path, Some(v)).exists(_.startsWith(prefix)))
    if (already) None
    else {
      val names = stage(df, path,
        token = prefix + java.util.UUID.randomUUID().toString)
      Some(appendStaged(spark, path, withStats(spark, path, names), df.schema))
    }
  }

  /** [[replace]] with a caller-chosen staging-token PREFIX riding the
    * committed file names — the same trick [[appendOnce]] uses: one
    * atomic manifest rename publishes the data AND whatever marker the
    * caller encoded in the prefix (e.g. [[Sinks.maintainAggTable]]'s
    * applied-source-version watermark). `tag` must be manifest-safe
    * ([A-Za-z0-9._-]+); a UUID is appended so racing ticks cannot
    * collide on file names.
    */
  private[graft] def replaceTagged(df: DataFrame, path: String,
                                   tag: String): Long = {
    require(tag.nonEmpty && tag.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"replaceTagged: tag must be [A-Za-z0-9._-]+ (rides file names " +
        s"and manifest lines), got '$tag'")
    val spark = df.sparkSession
    val names = stage(df, path,
      token = tag + java.util.UUID.randomUUID().toString)
    commit(spark, path,
      schemaLine(df.schema) +: withStats(spark, path, names))
  }

  /** Cheap identity of a committed manifest FILE: (length, mtime) from
    * one FS stat. Lets a cache distinguish "same version number,
    * different table" — a table deleted and recreated at the same path
    * restarts version numbering at 0, and version alone would serve
    * stale cached state (r13 advice). UUID-based staged names make an
    * accidental (version, length, mtime) triple collision across
    * recreations practically impossible, at stat cost instead of a
    * manifest re-read.
    */
  private[graft] def manifestIdentity(spark: SparkSession, path: String,
                                      v: Long): (Long, Long) = {
    val mp = manifestPath(path, v)
    val st = fsOf(spark, mp).getFileStatus(mp)
    (st.getLen, st.getModificationTime)
  }

  /** Manifest lines for staged `names` with per-file numeric min/max
    * appended — ONE Spark job over the staged files (grouped by
    * `input_file_name`), the same pass a lakehouse writer folds into
    * its commit. Columns other than numerics carry no stats; a frame
    * with no numeric columns commits bare names.
    */
  /** Reserved stats pseudo-column carrying the file's exact ROW COUNT
    * as a degenerate `n..n` envelope (round 14 — rides the existing
    * line format, so legacy parsers see it as just another column's
    * bounds and stay correct). A data column with this name would
    * collide with the encoding; commits refuse it.
    */
  private[graft] val RowsCol = "_rows"

  private def withStats(spark: SparkSession, path: String,
                        names: Seq[String]): Seq[String] = {
    if (names.isEmpty) return names
    // OPTIMIZATION r14 (guide §6: stats belong to metadata, not a
    // re-scan): the staged parquet files' FOOTERS already carry exact
    // min/max, null counts and row counts per column chunk — decoding
    // them is O(files) metadata reads, where the legacy path re-read
    // every staged byte through a full Spark job (a second write-sized
    // pass per commit: at 100 TB that doubles every lifecycle op's IO;
    // at bench scale it is one extra job + collect per commit). The
    // footer path must reproduce the legacy stats lines BIT-FOR-BIT
    // (same double formatting, same entry order, same ulp widening),
    // so any file whose footer it cannot decode losslessly — nested
    // columns, decimals, INT96 timestamps, dropped stats (e.g. NaN
    // columns), missing null counts — falls back to the legacy scan
    // for the WHOLE commit, keeping output identical by construction.
    // ONE deliberate behavior change vs the legacy path (r14 VERDICT
    // note): column names containing a stats-format delimiter
    // (@ ; = tab) or the reserved `_rows` now FAIL the commit loudly
    // — the legacy scan silently wrote ambiguous stats lines for such
    // names (they could not round-trip through the line parser), so
    // the require trades a latent mis-parse for an explicit error.
    footerStats(spark, path, names).getOrElse(
      withStatsScan(spark, path, names))
  }

  /** Decode one staged file's stats line from its parquet footer.
    * Returns None when ANY column cannot be decoded with exactly the
    * legacy semantics — the caller then falls back to the scan path
    * for the whole commit. Bounds ride for the columns Spark types as
    * numeric or TIMESTAMP (UTC-adjusted micros/millis annotations);
    * DATE / string / boolean / NTZ columns carry null counts only,
    * matching the legacy NumericType+TimestampType filter.
    */
  private[graft] def footerStats(spark: SparkSession, path: String,
                                 names: Seq[String]): Option[Seq[String]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val lines = names.map { n =>
        val fp = new org.apache.hadoop.fs.Path(s"$path/$DataDir/$n")
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, conf))
        val (schema, blocks) = try {
          val f = rdr.getFooter
          (f.getFileMetaData.getSchema,
            scala.jdk.CollectionConverters.ListHasAsScala(f.getBlocks).asScala.toSeq)
        } finally rdr.close()
        val fields = scala.jdk.CollectionConverters
          .ListHasAsScala(schema.getFields).asScala.toSeq
        // nested columns: leaf stats do not aggregate to the top-level
        // column the legacy job measured — bail to the scan path
        if (!fields.forall(_.isPrimitive)) throw FooterBail
        val cols = fields.map(_.asPrimitiveType())
        cols.foreach { c =>
          val nm = c.getName
          require(nm != RowsCol,
            s"commit: '$RowsCol' is a reserved stats name (file row " +
              "counts) — rename the data column")
          require(!nm.contains('@') && !nm.contains(';') &&
            !nm.contains('=') && !nm.contains('\t'),
            s"commit: column name '$nm' contains a stats-format " +
              "delimiter (@ ; = tab) — rename the column")
        }
        val rows = blocks.map(_.getRowCount).sum
        if (rows == 0L) n // empty file: legacy emits the bare name
        else {
          // per-column chunk metadata in schema order, per block
          val byCol = cols.map { c =>
            val chunks = blocks.map { b =>
              scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns)
                .asScala.find(_.getPath.toDotString == c.getName)
                .getOrElse(throw FooterBail)
            }
            c -> chunks
          }
          // a column is bounds-bearing iff Spark would type it numeric
          // or TimestampType; the conversion to the recorded double is
          // EXACTLY the legacy `min(col).cast("double")`
          def boundsConv(c: org.apache.parquet.schema.PrimitiveType)
              : Option[Any => Double] = {
            val ann = c.getLogicalTypeAnnotation
            (c.getPrimitiveTypeName, ann) match {
              case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
                throw FooterBail // exact decimal → double needs the scan path
              case (INT32, null) =>
                Some(v => v.asInstanceOf[Int].toDouble)
              case (INT32, a: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
                  if a.isSigned => Some(v => v.asInstanceOf[Int].toDouble)
              case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
                None // DateType: legacy records no bounds
              case (INT32, _) => throw FooterBail
              case (INT64, null) =>
                Some(v => v.asInstanceOf[Long].toDouble)
              case (INT64, a: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
                  if a.isSigned => Some(v => v.asInstanceOf[Long].toDouble)
              case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
                  if t.isAdjustedToUTC &&
                    t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
                // TimestampType: cast(ts as double) = micros / 1e6
                Some(v => v.asInstanceOf[Long] / 1000000.0)
              case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
                  if t.isAdjustedToUTC &&
                    t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some(v => v.asInstanceOf[Long] / 1000.0)
              case (INT64, _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                None // NTZ / nanos: not TimestampType under this session
              case (INT64, _) => throw FooterBail
              case (FLOAT, _) => Some(v => v.asInstanceOf[Float].toDouble)
              case (DOUBLE, _) => Some(v => v.asInstanceOf[Double])
              case (INT96, _) => throw FooterBail // no decodable stats
              case (BOOLEAN | BINARY | FIXED_LEN_BYTE_ARRAY, _) => None
              case _ => throw FooterBail
            }
          }
          val numericEntries = byCol.flatMap { case (c, chunks) =>
            boundsConv(c).flatMap { conv =>
              val sts = chunks.map(_.getStatistics)
              if (sts.exists(s => s == null || !s.isNumNullsSet)) throw FooterBail
              val nonNull = sts.filter(_.hasNonNullValue)
              val nulls = sts.map(_.getNumNulls).sum
              if (nonNull.isEmpty) {
                // all-null column ⇔ every value null; otherwise the
                // writer dropped min/max (NaN, oversize) — scan path
                if (nulls != rows) throw FooterBail
                None // legacy: all-null numeric column carries no bounds
              } else {
                // mixed blocks: a stat-less sibling block is only
                // skippable when its null count PROVES it all-null —
                // a block whose writer dropped min/max over real
                // values (NaN in a double column) would otherwise
                // narrow the envelope below the true bounds and let
                // pruneFiles skip files with qualifying rows
                if (chunks.exists { ch =>
                  val s = ch.getStatistics
                  !s.hasNonNullValue && ch.getValueCount != s.getNumNulls
                }) throw FooterBail
                // bounds from the (proven) non-null blocks equal the
                // legacy whole-file min/max (null rows contribute
                // nothing to min/max)
                val mn = nonNull.map(s => conv(s.genericGetMin)).min
                val mx = nonNull.map(s => conv(s.genericGetMax)).max
                Some(s"${c.getName}=${Math.nextDown(mn)}..${Math.nextUp(mx)}")
              }
            }
          }
          val nullEntries = byCol.map { case (c, chunks) =>
            val sts = chunks.map(_.getStatistics)
            if (sts.exists(s => s == null || !s.isNumNullsSet)) throw FooterBail
            val nn = sts.map(_.getNumNulls).sum.toDouble
            s"${c.getName}@n=$nn..$nn"
          }
          val stats = (numericEntries ++ nullEntries :+
            s"$RowsCol=${rows.toDouble}..${rows.toDouble}").mkString(";")
          s"$n\t$stats"
        }
      }
      Some(lines)
    } catch {
      case FooterBail => None
      case _: java.io.IOException => None // unreadable footer: scan decides
    }
  }

  /** Control-flow marker for [[footerStats]]' whole-commit fallback. */
  private object FooterBail
      extends scala.util.control.ControlThrowable("footer-stats fallback")

  /** Legacy stats pass: ONE Spark job over the staged files (grouped
    * by `input_file_name`) — the authoritative semantics the footer
    * path must reproduce, and the fallback for anything it cannot.
    */
  private[graft] def withStatsScan(spark: SparkSession, path: String,
                                   names: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    val paths = names.map(n => s"$path/$DataDir/$n")
    if (paths.isEmpty) return names
    val df = spark.read.parquet(paths: _*)
    require(!df.columns.contains(RowsCol),
      s"commit: '$RowsCol' is a reserved stats name (file row counts) " +
        "— rename the data column")
    // timestamps (round 10) ride the same double envelope as numerics
    // — cast(timestamp as double) is epoch seconds — so time-keyed
    // sinks can prune on event time ([[upsertPruned]]'s whole point).
    // Row counts (round 14) ride as the RowsCol pseudo-column: count
    // is exact in a double up to 2^53 rows per FILE (a ~petabyte
    // single file — far past any sane file size), so no ulp widening.
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        || f.dataType == org.apache.spark.sql.types.TimestampType =>
        f.name
    }.toSeq
    // NULL COUNTS (round 14, every column regardless of type): ride as
    // `<col>@n=c..c` pseudo-entries — '@' cannot appear in a committed
    // column name (refused below), so the key space is disjoint from
    // real columns and legacy parsers see just another stats entry.
    // They answer IS NULL / IS NOT NULL at the FILE level: a file with
    // zero nulls cannot serve IS NULL; one with nulls == rows cannot
    // serve IS NOT NULL — and both skips stay exact under deletion
    // vectors (removing rows creates no nulls and un-nulls nothing).
    val allCols = df.columns.toSeq
    allCols.foreach(c => require(!c.contains('@') && !c.contains(';') &&
      !c.contains('=') && !c.contains('\t'),
      s"commit: column name '$c' contains a stats-format delimiter " +
        "(@ ; = tab) — rename the column"))
    val aggs = numeric.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"mn_$c"),
      max(col(c)).cast("double").as(s"mx_$c"))) ++
      allCols.map(c =>
        count(when(col(c).isNull, 1)).cast("double").as(s"nn_$c")) :+
      count(lit(1)).cast("double").as("n_rows_stat")
    val byFile = df.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val n = r.getAs[Double]("n_rows_stat")
        val stats = (numeric.flatMap { c =>
          val mn = r.getAs[Any](s"mn_$c")
          val mx = r.getAs[Any](s"mx_$c")
          if (mn == null || mx == null) None
          // Widen one ulp each side: a BIGINT above 2^53 rounds to the
          // NEAREST double (error < 1 ulp), so the recorded max could
          // otherwise fall below the true max (min above the true min)
          // and pruneFiles would skip a file holding qualifying rows.
          else Some(s"$c=${Math.nextDown(mn.asInstanceOf[Double])}" +
            s"..${Math.nextUp(mx.asInstanceOf[Double])}")
        } ++ allCols.map { c =>
          val nn = r.getAs[Double](s"nn_$c")
          s"$c@n=$nn..$nn"
        } :+ s"$RowsCol=$n..$n").mkString(";")
        r.getAs[String]("f") -> stats
      }.toMap
    names.map { n =>
      byFile.collectFirst { case (uri, st) if uri.endsWith(s"/$n") && st.nonEmpty =>
        s"$n\t$st"
      }.getOrElse(n) // empty files produce no group -> bare name
    }
  }

  /** Exact row count of a snapshot from manifest METADATA: the sum of
    * per-file [[RowsCol]] stats — the `SELECT count(*)` shortcut every
    * lakehouse format provides, O(manifest) driver work with zero data
    * IO, and it composes with time travel (`version`). Files committed
    * before round 14 carry no row-count stat; those (and only those)
    * are scanned — a parquet footer-only count, still no row
    * materialization — so the answer is always exact, never a guess.
    */
  def countRows(spark: SparkSession, path: String,
                version: Option[Long] = None): Long = {
    val entries = snapshotLines(spark, path, version)
      .map(l => nameOf(l) -> statsOf(l).get(RowsCol))
    val (counted, legacy) = entries.partition(_._2.isDefined)
    val fromStats = counted.map(_._2.get._1.toLong).sum
    // deletion vectors subtract by THEIR line counts — exact because
    // live vectors target present files with pairwise-disjoint
    // positions (the [[deleteWhereMor]] invariant), so no position is
    // ever counted deleted twice
    val fromLegacy =
      if (legacy.isEmpty) 0L
      else dvSubtract(spark, path, version,
        readFiles(spark, path, legacy.map(_._1)),
        legacy.map(_._1).toSet).count()
    // legacy files predate row-count stats; their vectors (if any)
    // were subtracted in the scan above, so only COUNTED files'
    // vectors subtract from the stats sum
    val legacySet = legacy.map(_._1).toSet
    val dvOnCounted = dvEntries(spark, path, version)
      .filterNot(e => legacySet.contains(e._2)).map(_._3).sum
    fromStats - dvOnCounted + fromLegacy
  }

  /** Copy-on-write UPSERT that rewrites only the files the batch can
    * touch (round 10 — the amortization that took the streaming alert
    * sink off O(table) per micro-batch): files whose recorded
    * [min, max] for `pruneCol` intersects the batch's own range are
    * read and merged with the batch ([[Sinks.upsert]] semantics:
    * matching `keys` replaced, new keys appended); every OTHER
    * committed file carries into the new manifest line-for-line —
    * stats included, file untouched on disk. Files with no recorded
    * bounds for `pruneCol` (legacy lines, all-null) always merge:
    * skipping must be conservative, exactly as in [[pruneFiles]].
    *
    * For a time-keyed table (`pruneCol` = event time) batches touch
    * only the recent tail, so per-batch work is O(batch + tail), not
    * O(table) — the merge-into-partition shape every lakehouse upsert
    * runs. Exactly-once under foreachBatch replay is preserved: a
    * replayed batch prunes to the same (or wider) file set — a file
    * holding key (k, t) always intersects a batch containing t — and
    * the key merge is idempotent. An EMPTY batch commits nothing
    * (returns None) instead of rewriting the table unchanged.
    *
    * `pruneCol` must be numeric or timestamp (the stats envelope);
    * bounds compare in its double cast (epoch seconds for timestamps).
    * Single-writer per table, like every committer here.
    *
    * CONTRACT (round-11 advice): `pruneCol` must be FUNCTIONALLY
    * DEPENDENT on `keys` — one of the keys, or derived from them —
    * and NON-NULL on every batch row. Pruning finds a key's old row
    * only through the key's pruneCol value: if a key could re-arrive
    * with a DIFFERENT pruneCol, files holding the stale row can fall
    * outside the new batch's range and the "matching keys replaced"
    * promise silently becomes "duplicate keys accumulate". Likewise a
    * null-pruneCol row leaves no envelope to find it by. Dependence
    * is unverifiable per-batch at acceptable cost (it is a property
    * of the KEY across time, not of one batch), so it stays a
    * documented contract — the alert sink satisfies it with
    * `alert_time` itself a key — but the null leg is cheap to check
    * against the staged files (parquet null-count pushdown, no full
    * read) and is enforced on EVERY commit, the table-creating first
    * one included (round-12 advice: the old first-commit shortcut
    * through [[replace]] skipped the probe, so a partial-null first
    * batch could seed the table with rows invisible to every future
    * prune).
    */
  def upsertPruned(batch: DataFrame, path: String, keys: Seq[String],
                   pruneCol: String): Option[Long] = {
    val spark = batch.sparkSession
    // Stage FIRST: inside foreachBatch every action on `batch`
    // re-executes the micro-batch plan — state store reads included —
    // so a separate min/max pass would double the stateful cost
    // (measured: the agg-then-stage first cut was SLOWER than the full
    // rewrite it replaced). The staged files' own manifest stats
    // already carry the batch's pruneCol range for free. The first
    // commit stages through the SAME path (not [[replace]]) so the
    // partial-null probe below sees the staged footers before the
    // table exists.
    val baseVersion = latestVersion(spark, path)
    val firstCommit = baseVersion.isEmpty
    val dataDir = s"$path/$DataDir"
    def paths(ns: Seq[String]) = ns.map(n => s"$dataDir/$n")
    val names = stage(batch, path)
    def dropStaged(ns: Seq[String]): Unit = {
      val fs = fsOf(spark, new org.apache.hadoop.fs.Path(dataDir))
      ns.foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(s"$dataDir/$n"), false): Unit)
    }
    // every publish below was derived from `baseVersion`'s snapshot
    // (the kept lines AND the merged content), so it must land at
    // exactly baseVersion+1: a lost version race means a concurrent
    // commit our merge didn't see, and publishing anyway would
    // silently erase it. Fail LOUD instead (r13 advice) — inside
    // foreachBatch the engine's batch retry re-reads and re-merges;
    // batch callers see an honest single-writer-contract violation.
    // snapshot schema for the new version: base ∪ batch. A pre-header
    // base (round ≤13) records no schema; its files all share one
    // footer schema by the old invariant, so ONE footer read recovers
    // it — paid once, the committed header carries it forever after.
    // Old files carried line-for-line null-fill any column they
    // predate.
    val baseSchema = baseVersion.flatMap { v =>
      snapshotSchema(spark, path, Some(v)).orElse(
        snapshotFiles(spark, path, Some(v)).headOption.map(n =>
          spark.read.parquet(s"$dataDir/$n").schema))
    }
    val headerSchema = baseSchema
      .map(evolvedSchema(_, batch.schema)).getOrElse(batch.schema)
    def publish(linesOut: Seq[String], cleanup: Seq[String]): Long = {
      val target = baseVersion.getOrElse(-1L) + 1
      if (commitAt(spark, path, schemaLine(headerSchema) +: linesOut, target)) target
      else {
        dropStaged(cleanup)
        throw new IllegalStateException(
          s"upsertPruned: concurrent commit detected at $path (merge " +
            s"was built from v${baseVersion.getOrElse(-1L)} but v$target " +
            "was claimed) — re-read and retry; this table requires a " +
            "single upserting writer")
      }
    }
    val newLines = withStats(spark, path, names)
    val ranges = newLines.flatMap(l => statsOf(l).get(pruneCol))
    // a staged file with bounds means any null-pruneCol row riding
    // along would commit UNDER those bounds and become unreachable by
    // every future prune (the contract's null leg). OPTIMIZATION r15
    // (VERDICT #4, fewer driver-coordinated jobs per lifecycle op):
    // the freshly staged lines ALREADY carry per-column null counts
    // (`<col>@n`, both stats paths since r14), so the probe is pure
    // manifest arithmetic — the previous footer-pushdown IS NULL scan
    // was still one whole Spark job per upsert (and one per streaming
    // upsert BATCH). Bare lines are empty files (no rows, no nulls).
    // (An ALL-null batch records no bounds at all and takes the
    // conservative branches below — safe.) Checked BEFORE the
    // first-commit branch so the contract holds from the very first
    // batch (round-12 advice fix).
    val pruneNulls = newLines.iterator.map(l =>
      statsOf(l).get(s"$pruneCol@n").map(_._1).getOrElse(0.0)).sum
    if (ranges.nonEmpty && pruneNulls > 0) {
      dropStaged(names)
      throw new IllegalArgumentException(
        s"upsertPruned: batch has NULL $pruneCol rows alongside " +
          "non-null ones — such rows would be invisible to pruning " +
          "and never replaced; the contract requires a non-null " +
          "prune column")
    }
    if (firstCommit) {
      // first commit: nothing to merge; an empty (or all-null) first
      // batch still commits — it creates the table, matching the
      // replace-based history this branch used to delegate to
      return Some(publish(newLines, names))
    }
    val lines = snapshotLines(spark, path, baseVersion)
    if (ranges.isEmpty) {
      // no recorded range: an EMPTY batch (commit nothing) or an
      // all-null pruneCol (cannot prune — conservative full merge).
      // Emptiness, too, is manifest arithmetic (r15): the staged
      // lines' _rows stats sum to the batch's exact row count
      if (newLines.iterator.map(l =>
          statsOf(l).get(RowsCol).map(_._1).getOrElse(0.0)).sum == 0.0) {
        dropStaged(names); return None
      }
      val merged = Sinks.upsert(
        alignTo(read(spark, path, baseVersion), headerSchema),
        alignTo(spark.read.parquet(paths(names): _*), headerSchema), keys)
      val names2 = stage(merged, path)
      val v = publish(withStats(spark, path, names2), names ++ names2)
      dropStaged(names)
      return Some(v)
    }
    val lo = ranges.map(_._1).min
    val hi = ranges.map(_._2).max
    val (touch, keep) = lines.partition { l =>
      statsOf(l).get(pruneCol).forall { case (fmn, fmx) =>
        fmx >= lo && fmn <= hi }
    }
    if (touch.isEmpty) {
      // fast path — the steady state of a time-keyed table: the batch
      // cannot collide with any committed key, so its staged files
      // join the manifest as-is (no old file read, no rewrite);
      // deletion vectors and blooms on existing files carry verbatim
      Some(publish(sideLinesOf(spark, path, baseVersion) ++ keep ++ newLines,
        names))
    } else {
      // align BOTH sides on the union schema: touched files may
      // PREDATE a column the table has since gained (null-fill, as
      // read() does), and a batch adding a column must not crash the
      // name-wise union inside Sinks.upsert. The touched read is
      // DV-filtered (rewriting materializes the vectors), so touched
      // files' #dv lines drop; untouched files' carry.
      val touchNames = touch.map(nameOf)
      val merged = Sinks.upsert(
        dvSubtract(spark, path, baseVersion,
          spark.read.schema(headerSchema).parquet(paths(touchNames): _*),
          touchNames.toSet),
        spark.read.schema(headerSchema).parquet(paths(names): _*), keys)
      val names2 = stage(merged, path)
      val dvCarry = sideLinesOf(spark, path, baseVersion)
        .filterNot(l => touchNames.contains(sideTargetOf(l)))
      val v = publish(dvCarry ++ keep ++ withStats(spark, path, names2),
        names ++ names2)
      dropStaged(names)
      Some(v)
    }
  }

  /** The snapshot files whose recorded [min, max] for `column`
    * intersects [lo, hi] — plus every file with no recorded bounds
    * (legacy lines, all-null columns: skipping must be conservative).
    * Returns (kept, total).
    */
  def pruneFiles(spark: SparkSession, path: String, column: String,
                 lo: Double, hi: Double,
                 version: Option[Long] = None): (Seq[String], Int) = {
    val entries = snapshotStats(spark, path, version)
    val kept = entries.collect {
      case (n, st) if st.get(column).forall { case (mn, mx) =>
        mx >= lo && mn <= hi } => n
    }
    (kept, entries.size)
  }

  /** Read exactly `names` (relative to `data/`) from the table — the
    * skipping-read primitive for callers that compute their own kept
    * set from [[snapshotStats]] envelopes (multi-range / key-set
    * probes that [[readBetween]]'s single interval can't express,
    * e.g. the dedup serving index's band-bucket probe). The caller
    * owns conservatism: files with no recorded stats for its prune
    * column must be included in `names`.
    */
  def readFiles(spark: SparkSession, path: String,
                names: Seq[String]): DataFrame = {
    require(names.nonEmpty,
      "readFiles: empty file set — use read() with a filter instead")
    spark.read.parquet(names.map(n => s"$path/$DataDir/$n"): _*)
  }

  /** Range read through the skipping index: only files whose bounds
    * intersect [lo, hi] are opened; the residual per-row predicate
    * still applies (file bounds are an envelope, not the rows).
    */
  def readBetween(spark: SparkSession, path: String, column: String,
                  lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    // pin the version once so the kept set and the schema agree
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val (kept, _) = pruneFiles(spark, path, column, lo, hi, Some(v))
    if (kept.isEmpty) {
      // preserve the schema with zero rows
      read(spark, path, Some(v)).filter(lit(false))
    } else {
      val ps = kept.map(n => s"$path/$DataDir/$n")
      val df = snapshotSchema(spark, path, Some(v)) match {
        case Some(s) => spark.read.schema(s).parquet(ps: _*)
        case None => spark.read.parquet(ps: _*)
      }
      // subtract deletion vectors BEFORE the residual filter (the
      // hidden _metadata struct resolves on the file scan, not above
      // arbitrary operators); kept-file targets only — vectors for
      // skipped files have nothing to subtract from
      dvSubtract(spark, path, Some(v), df, kept.toSet)
        .filter(c(column) >= lo && c(column) <= hi)
    }
  }

  /** Null-count file skipping (round 14): the files of the snapshot
    * that can serve rows where `column` IS (`wantNull=true`) or IS NOT
    * (`false`) null, per the per-file `<col>@n` null-count stats — a
    * file with zero nulls cannot serve IS NULL; one whose null count
    * equals its row count cannot serve IS NOT NULL. Files without the
    * stat (legacy commits, or files that PREDATE the column under
    * schema evolution — whose rows are ALL null in it, but whose lines
    * cannot say so) are kept conservatively, EXCEPT the one case the
    * manifest can decide without the stat: a schema-evolution header
    * proves a column's existence per snapshot, not per file, so
    * absence of both the value envelope and the null stat stays
    * conservative. Both skips are exact under deletion vectors
    * (removing rows creates no nulls and un-nulls nothing). Returns
    * (kept, total).
    */
  def pruneFilesByNull(spark: SparkSession, path: String, column: String,
                       wantNull: Boolean,
                       version: Option[Long] = None): (Seq[String], Int) = {
    val entries = snapshotLines(spark, path, version)
      .map(l => (nameOf(l), statsOf(l)))
    val kept = entries.filter { case (_, st) =>
      st.get(s"$column@n") match {
        case None => true // no stat: conservative
        case Some((nulls, _)) =>
          val rows = st.get(RowsCol).map(_._1).getOrElse(-1.0)
          if (wantNull) nulls > 0 else !(rows >= 0 && nulls >= rows)
      }
    }.map(_._1)
    (kept, entries.size)
  }

  /** IS NOT NULL / IS NULL read through the null-count skip: only
    * files that can hold qualifying rows are opened; the residual
    * per-row predicate still applies. The win case is a sparse
    * column — an optional field populated for a slice of the corpus,
    * appended generations carrying it vs old ones without — where
    * the envelope prune is useless (null rows record no bounds) but
    * whole files are decidable by their null counts.
    */
  def readByNull(spark: SparkSession, path: String, column: String,
                 wantNull: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val (kept, _) = pruneFilesByNull(spark, path, column, wantNull, Some(v))
    if (kept.isEmpty)
      return read(spark, path, Some(v)).filter(lit(false))
    val ps = kept.map(n => s"$path/$DataDir/$n")
    val scan = snapshotSchema(spark, path, Some(v)) match {
      case Some(s) => spark.read.schema(s).parquet(ps: _*)
      case None => spark.read.parquet(ps: _*)
    }
    dvSubtract(spark, path, Some(v), scan, kept.toSet)
      .filter(if (wantNull) c(column).isNull else c(column).isNotNull)
  }

  /** METADATA-DRIVEN TOP-K (round 14): serve `ORDER BY column DESC
    * LIMIT k` (or ASC) from the files the stats envelopes prove can
    * contribute. Sound bound: files sorted by their GUARANTEED side
    * (min for DESC — every live row of a file is ≥ its min), rows
    * accumulated until k are guaranteed, give a threshold t = the
    * last-taken file's min; any file whose max < t cannot hold a
    * top-k row and is skipped. The accumulation counts only rows that
    * surely carry a comparable value ≥ the file's min: recorded rows
    * minus the column's null count (nulls sort out of top-k) minus
    * the file's vector-deleted count (a deleted row's value is
    * unknown — assume it was one of the guaranteed ones). Files
    * without bounds (legacy lines, all-null columns) cannot raise t
    * and are kept conservatively.
    *
    * On a range-laid table this reads ONE OR TWO files for "latest
    * k" — the difference between a metadata lookup and a full-table
    * TakeOrdered at 10⁵ files. The residual sort/limit still runs on
    * the kept rows, so the answer is exact on any layout; the layout
    * only decides how much is read.
    */
  /** The file selection behind [[readTopK]]: (kept names, total). */
  def topKFiles(spark: SparkSession, path: String, column: String,
                k: Int, descending: Boolean = true,
                version: Option[Long] = None): (Seq[String], Int) = {
    require(k > 0, s"topKFiles: k must be positive, got $k")
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val lines = snapshotLines(spark, path, Some(v))
    val dvByTarget = dvEntries(spark, path, Some(v))
      .groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val entries = lines.map { l =>
      val n = nameOf(l); val st = statsOf(l)
      val guaranteed = for {
        (mn, mx) <- st.get(column)
        (rows, _) <- st.get(RowsCol)
      } yield {
        val nulls = st.get(s"$column@n").map(_._1).getOrElse(0.0)
        val dv = dvByTarget.getOrElse(n, 0L).toDouble
        (mn, mx, math.max(0.0, rows - nulls - dv))
      }
      n -> guaranteed
    }
    val bounded = entries.collect { case (n, Some(e)) => (n, e) }
    val blind = entries.collect { case (n, None) => n }
    if (bounded.isEmpty) return (entries.map(_._1), entries.size)
    // guaranteed side: min for DESC (every live row ≥ min), max for ASC
    val ordered =
      if (descending) bounded.sortBy { case (_, (mn, _, _)) => -mn }
      else bounded.sortBy { case (_, (_, mx, _)) => mx }
    var acc = 0.0; var t = Double.NaN
    val it = ordered.iterator
    while (acc < k && it.hasNext) {
      val (_, (mn, mx, g)) = it.next()
      acc += g
      t = if (descending) mn else mx
    }
    if (acc < k) (entries.map(_._1), entries.size) // < k guaranteed: all
    else (bounded.collect {
      case (n, (mn, mx, _))
        if (descending && mx >= t) || (!descending && mn <= t) => n
    } ++ blind, entries.size)
  }

  def readTopK(spark: SparkSession, path: String, column: String,
               k: Int, descending: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val (kept, _) = topKFiles(spark, path, column, k, descending, Some(v))
    if (kept.isEmpty)
      return read(spark, path, Some(v)).filter(lit(false))
    val ps = kept.map(n => s"$path/$DataDir/$n")
    val scan = snapshotSchema(spark, path, Some(v)) match {
      case Some(s) => spark.read.schema(s).parquet(ps: _*)
      case None => spark.read.parquet(ps: _*)
    }
    val live = dvSubtract(spark, path, Some(v), scan, kept.toSet)
      .filter(c(column).isNotNull)
    (if (descending) live.orderBy(c(column).desc) else live.orderBy(c(column)))
      .limit(k)
  }

  /** CHANGE DATA FEED at file granularity: every row of every data
    * file present in exactly one of the two snapshots, tagged
    * `_change_type` = `insert` (files added between `fromVersion` and
    * `toVersion`) or `delete` (files removed). Because data files are
    * immutable and commits only swap manifest LINES, the diff of two
    * manifests is the complete, exact description of what changed —
    * and files carried verbatim across the window (the vast majority
    * of a large table under [[append]]/[[upsertPruned]]) contribute
    * NOTHING to the scan: the feed costs O(changed files), never
    * O(table). That is what makes a downstream incremental consumer
    * (see [[Sinks.maintainAgg]]) cheaper than recomputing from the
    * full snapshot. The reference's lake intent (reference:
    * streaming/spark_processor.py:42) is Delta, whose Change Data
    * Feed this mirrors at file granularity.
    *
    * Copy-on-write caveat: a rewrite ([[upsertPruned]], [[compact]],
    * [[deleteWhere]]) re-stages UNCHANGED rows alongside changed ones,
    * so a carried row in a rewritten file appears as both a delete
    * (old file) and an insert (new file) — "rewrite noise".
    * [[netChanges]] cancels it. Versions spanning multiple commits
    * yield the NET file diff (a file added then removed inside the
    * window never appears). `fromVersion` -1 is the empty table before
    * the first commit, so `changes(-1, v)` is snapshot `v` as inserts —
    * the initial load of the `graft-table` streaming source, whose
    * micro-batches are this feed.
    */
  def changes(spark: SparkSession, path: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    def filesAt(v: Long): Set[String] =
      if (v < 0) Set.empty else snapshotFiles(spark, path, Some(v)).toSet
    def dvAt(v: Long): Seq[(String, String, Long)] =
      if (v < 0) Seq.empty else dvEntries(spark, path, Some(v))
    val from = filesAt(fromVersion)
    val to = filesAt(toVersion)
    val added = (to -- from).toSeq.sorted
    val removed = (from -- to).toSeq.sorted
    // VECTOR-ONLY deletes change no data file, so the file diff is
    // blind to them: `#dv` lines new in this window whose target file
    // is carried across it contribute their positions as row-level
    // deletes (a vector on a file ADDED in the window is already
    // excluded from the insert slice — emitting it here too would
    // delete a row the feed never inserted). Vector lines only ever
    // DROP alongside their target file (rewrites), so the reverse
    // delta cannot occur on a carried file.
    val fromDv = dvAt(fromVersion)
    val toDv = dvAt(toVersion)
    val fromDvSet = fromDv.toSet
    val carried = from intersect to
    val deltaDv = toDv.filterNot(fromDvSet).filter(e => carried.contains(e._2))
    // one read of the window's vector positions, joined by every slice
    // (so the plan broadcasts it once): `to`'s lines on added files (a
    // row deleted by vector never logically existed in an added file),
    // `from`'s lines on removed files (already gone from a removed
    // one) and the delta on carried files. The three target sets are
    // disjoint, and dvPositions keeps a position only under its own
    // (sidecar, target) line, so each slice meets only its own lines
    val windowDv = toDv.filterNot(e => from.contains(e._2)) ++
      fromDv.filterNot(e => to.contains(e._2)) ++ deltaDv
    val dvTargets = windowDv.map(_._2).toSet
    val dv = dvPositions(spark, path, windowDv).map(broadcast)
    // each slice reads under ITS snapshot's schema (files removed from
    // `from` may predate a column `to` gained); the union tolerates the
    // width difference, null-filling the missing side — so the feed
    // spans schema-evolution and vector windows without a rewrite
    def scan(ns: Seq[String], v: Long): DataFrame = {
      val ps = ns.map(n => s"$path/$DataDir/$n")
      snapshotSchema(spark, path, Some(v)) match {
        case Some(s) => spark.read.schema(s).parquet(ps: _*)
        case None => spark.read.parquet(ps: _*)
      }
    }
    def joinDv(df: DataFrame, d: DataFrame, how: String): DataFrame =
      withPosKeys(df).join(d, Seq(DvFileCol, DvPosCol), how)
        .drop(DvFileCol, DvPosCol)
    def slice(ns: Seq[String], kind: String, v: Long): Option[DataFrame] =
      Option.when(ns.nonEmpty) {
        val df = scan(ns, v)
        // a slice no vector line targets is read untouched, unkeyed
        dv.filter(_ => ns.exists(dvTargets)).fold(df)(joinDv(df, _, "left_anti"))
          .withColumn("_change_type", lit(kind))
      }
    val dvSlice = dv.filter(_ => deltaDv.nonEmpty).map(d =>
      joinDv(scan(deltaDv.map(_._2).distinct, toVersion), d, "left_semi")
        .withColumn("_change_type", lit("delete")))
    val slices = Seq(slice(added, "insert", toVersion),
      slice(removed, "delete", fromVersion), dvSlice).flatten
    if (slices.isEmpty)
      // nothing changed: empty feed with the table's schema
      read(spark, path, Some(toVersion))
        .withColumn("_change_type", lit("insert"))
        .filter(lit(false))
    else slices.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** ROW-LEVEL net change feed: [[changes]] with copy-on-write rewrite
    * noise cancelled — a row carried byte-identical from a removed
    * file into an added file is no change, and `exceptAll`'s bag
    * difference removes exactly those matched insert/delete pairs
    * (multiplicity-aware, so duplicate rows cancel one-for-one). What
    * survives is the true row delta: rows only in the new files
    * (`insert`) and rows only in the old (`delete`); an updated key
    * appears as one of each. Cost: one shuffle over CHANGED-file rows
    * only — the cancellation never touches carried files, so the
    * O(changed files) bound of the file-level feed is preserved.
    */
  def netChanges(spark: SparkSession, path: String,
                 fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val feed = changes(spark, path, fromVersion, toVersion)
    // OPTIMIZATION r14 (guide §2.3/§2.4): the old two-sided
    // `ins.exceptAll(del) ∪ del.exceptAll(ins)` scanned the changed
    // files TWICE and shuffled twice (each exceptAll is its own
    // union+aggregate+replicate plan). One signed-count aggregation
    // produces the identical BAG in one scan + one shuffle: per
    // distinct row value, exceptAll keeps max(nIns−nDel, 0) inserts
    // and max(nDel−nIns, 0) deletes — exactly the sign and magnitude
    // of (nIns − nDel), restored to row multiplicity by the sequence
    // explode. NULL grouping equality matches exceptAll's semantics.
    val cols = feed.columns.filterNot(_ == "_change_type").map(col)
    feed.groupBy(cols: _*)
      .agg(
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L))
          .as("_graft_ni"),
        sum(when(col("_change_type") === "delete", 1L).otherwise(0L))
          .as("_graft_nd"))
      .withColumn("_graft_diff", col("_graft_ni") - col("_graft_nd"))
      .filter(col("_graft_diff") =!= 0L)
      .withColumn("_change_type",
        when(col("_graft_diff") > 0, "insert").otherwise("delete"))
      .withColumn("_graft_dup",
        explode(sequence(lit(1L), abs(col("_graft_diff")))))
      .drop("_graft_ni", "_graft_nd", "_graft_diff", "_graft_dup")
  }

  /** Copy-on-write row-level DELETE through the stats envelope: files
    * whose recorded [min, max] for `pruneCol` intersects [lo, hi] are
    * rewritten WITHOUT the rows matching `pred`; every other committed
    * file carries into the new manifest line-for-line, untouched on
    * disk (same amortization as [[upsertPruned]] — for a range-laid
    * table the rewrite is O(files that can hold a match), not
    * O(table)). Files with no recorded bounds for `pruneCol` always
    * rewrite: skipping must be conservative.
    *
    * CONTRACT: every row satisfying `pred` must have `pruneCol` in
    * [lo, hi] — the envelope is how matching rows are FOUND, and a
    * match outside it silently survives (the caller owns this because
    * `pred` is an arbitrary Column the manifest cannot bound itself;
    * the common GDPR/retention deletes — a key list, a time horizon —
    * bound naturally). Returns None without committing when no
    * snapshot file can hold a match or no row actually matches (an
    * envelope false positive must not rewrite files and burn a
    * version for a no-op). Single-writer: the commit lands at exactly
    * base+1 and fails LOUD on a concurrent commit, like
    * [[upsertPruned]].
    */
  def deleteWhere(spark: SparkSession, path: String, pred: Column,
                  pruneCol: String, lo: Double, hi: Double): Option[Long] = {
    val baseVersion = latestVersion(spark, path)
    require(baseVersion.nonEmpty, s"deleteWhere: no committed snapshot at $path")
    val lines = snapshotLines(spark, path, baseVersion)
    val (touch, keep) = lines.partition { l =>
      statsOf(l).get(pruneCol).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    if (touch.isEmpty) return None
    // read under the snapshot schema (when recorded): `pred` may
    // reference a column some touched files predate, and the
    // rewritten survivors must keep the full column set
    val snapSchema = snapshotSchema(spark, path, baseVersion)
    val touchNames = touch.map(nameOf)
    val touchPaths = touchNames.map(n => s"$path/$DataDir/$n")
    val touchedRaw = snapSchema match {
      case Some(s) => spark.read.schema(s).parquet(touchPaths: _*)
      case None => spark.read.parquet(touchPaths: _*)
    }
    // rewriting a file MATERIALIZES its deletion vectors: the read is
    // DV-filtered, and the rewritten file's #dv lines drop below
    val touched = dvSubtract(spark, path, baseVersion,
      touchedRaw, touchNames.toSet)
    // envelope false positive: bounds intersect but no row matches —
    // footer/row-group pushdown answers this without a full scan for
    // simple predicates, and skipping the rewrite keeps no-ops free
    if (touched.filter(pred).isEmpty) return None
    // survivors are the rows where pred is NOT TRUE — a row where pred
    // evaluates NULL (three-valued logic: a null operand in the
    // predicate) is not a match and must SURVIVE; a plain !pred would
    // evaluate NULL there too and silently delete it. The null-safe
    // <=> makes "not true" explicit.
    val survivors = touched.filter(!(pred <=> org.apache.spark.sql.functions.lit(true)))
    val names2 = stage(survivors, path)
    val header = snapSchema.map(schemaLine).toSeq
    val dvCarry = sideLinesOf(spark, path, baseVersion)
      .filterNot(l => touchNames.contains(sideTargetOf(l)))
    val linesOut = header ++ dvCarry ++ keep ++ withStats(spark, path, names2)
    val target = baseVersion.get + 1
    if (commitAt(spark, path, linesOut, target)) Some(target)
    else {
      val fs = fsOf(spark, new org.apache.hadoop.fs.Path(s"$path/$DataDir"))
      names2.foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/$DataDir/$n"), false): Unit)
      throw new IllegalStateException(
        s"deleteWhere: concurrent commit detected at $path (delete was " +
          s"built from v${baseVersion.get} but v$target was claimed) — " +
          "re-read and retry; this table requires a single writer")
    }
  }

  /** MERGE-ON-READ row-level DELETE: commit the matching rows'
    * (file, position) pairs as a deletion-vector sidecar instead of
    * rewriting the files that hold them. Write cost is O(matching
    * rows) — a few KB for a typical GDPR key-list or retention delete
    * — where [[deleteWhere]] rewrites every touched file (gigabytes
    * on a 100 TB table whose files each hold one matching row).
    * Readers subtract the vectors with a broadcast anti-join on
    * (file, position); the read-side overhead is bounded by
    * [[materializeDeletes]], which folds accumulated vectors back
    * into rewritten files once their deleted fraction crosses a
    * threshold — the same deferral trade every lakehouse format makes
    * (Delta deletion vectors, Iceberg positional deletes).
    *
    * Matching rows are found through the same stats-envelope prune as
    * [[deleteWhere]] (and share its CONTRACT: every row satisfying
    * `pred` must have `pruneCol` in [lo, hi]); the scan is
    * DV-FILTERED first, so a row already deleted by an earlier vector
    * can never re-match — which keeps every live vector's positions
    * pairwise disjoint and [[countRows]] exact metadata arithmetic.
    * Rows where `pred` evaluates NULL are not matches and survive,
    * exactly as in [[deleteWhere]]. Returns None without burning a
    * version when nothing matches. Single-writer: commits at exactly
    * base+1 and fails LOUD on a concurrent commit.
    */
  def deleteWhereMor(spark: SparkSession, path: String, pred: Column,
                     pruneCol: String, lo: Double, hi: Double): Option[Long] = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val baseVersion = latestVersion(spark, path)
    require(baseVersion.nonEmpty,
      s"deleteWhereMor: no committed snapshot at $path")
    val lines = snapshotLines(spark, path, baseVersion)
    val touch = lines.filter { l =>
      statsOf(l).get(pruneCol).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    if (touch.isEmpty) return None
    val touchNames = touch.map(nameOf)
    val snapSchema = snapshotSchema(spark, path, baseVersion)
    val touchPaths = touchNames.map(n => s"$path/$DataDir/$n")
    val scan0 = snapSchema match {
      case Some(s) => spark.read.schema(s).parquet(touchPaths: _*)
      case None => spark.read.parquet(touchPaths: _*)
    }
    val keyed = withPosKeys(scan0)
    val live = dvFrame(spark, path, baseVersion, touchNames.toSet) match {
      case Some(dv) =>
        keyed.join(broadcast(dv), Seq(DvFileCol, DvPosCol), "left_anti")
      case None => keyed
    }
    val matches = live.filter(pred <=> lit(true))
      .select(col(DvFileCol).as("_dv_file"), col(DvPosCol).as("_dv_pos"))
      .persist()
    try {
      // per-target counts: driver-bounded by the touched-file count,
      // and exactly what the manifest lines need for countRows
      val counts = matches.groupBy("_dv_file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      if (counts.isEmpty) return None
      val dvNames = stage(
        matches.orderBy("_dv_file", "_dv_pos").coalesce(1), path,
        token = "dv-" + java.util.UUID.randomUUID().toString)
      val sidecar = dvNames.head
      val newDvLines = counts.map { case (t, n) => dvLine(sidecar, t, n) }
      val header = snapSchema.map(schemaLine).toSeq
      // no file rewritten: vectors AND blooms all stay valid (a bloom
      // over-approximates; vector-deleted rows are false positives the
      // residual filter absorbs)
      val dvCarry = sideLinesOf(spark, path, baseVersion)
      val linesOut = header ++ dvCarry ++ newDvLines ++ lines
      val target = baseVersion.get + 1
      if (commitAt(spark, path, linesOut, target)) Some(target)
      else {
        val fs = fsOf(spark, new org.apache.hadoop.fs.Path(s"$path/$DataDir"))
        dvNames.foreach(n => fs.delete(
          new org.apache.hadoop.fs.Path(s"$path/$DataDir/$n"), false): Unit)
        throw new IllegalStateException(
          s"deleteWhereMor: concurrent commit detected at $path (vector " +
            s"was built from v${baseVersion.get} but v$target was claimed) " +
            "— re-read and retry; this table requires a single writer")
      }
    } finally matches.unpersist(blocking = false): Unit
  }

  /** Fold deletion vectors back into the data: every target file
    * whose deleted fraction is at least `minDeletedFraction` is
    * rewritten WITHOUT its deleted rows, and its `#dv` lines drop
    * from the manifest (the vectors are materialized). The default 0
    * materializes everything — the compaction step that bounds the
    * read-side anti-join; a threshold (e.g. 0.1) materializes only
    * the targets where the vector has grown past a tenth of the file,
    * the Delta-style policy knob. Targets below the threshold keep
    * their vectors; orphaned sidecars are reaped by [[vacuum]].
    * Returns None when no vector qualifies. Single-writer, loud on a
    * concurrent commit.
    */
  def materializeDeletes(spark: SparkSession, path: String,
                         minDeletedFraction: Double = 0.0): Option[Long] = {
    val baseVersion = latestVersion(spark, path)
    require(baseVersion.nonEmpty,
      s"materializeDeletes: no committed snapshot at $path")
    val dvs = dvEntries(spark, path, baseVersion)
    if (dvs.isEmpty) return None
    val lines = snapshotLines(spark, path, baseVersion)
    val rowsOf = lines.map(l => nameOf(l) -> statsOf(l).get(RowsCol)).toMap
    val deletedBy = dvs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val pick = deletedBy.filter { case (t, d) =>
      rowsOf.get(t).flatten match {
        // no recorded row count (legacy line): fraction unknowable —
        // materialize conservatively
        case Some((n, _)) if n > 0 => d.toDouble / n >= minDeletedFraction
        case _ => true
      }
    }.keySet
    if (pick.isEmpty) return None
    val (touch, keep) = lines.partition(l => pick.contains(nameOf(l)))
    val snapSchema = snapshotSchema(spark, path, baseVersion)
    val touchPaths = touch.map(l => s"$path/$DataDir/${nameOf(l)}")
    val scan0 = snapSchema match {
      case Some(s) => spark.read.schema(s).parquet(touchPaths: _*)
      case None => spark.read.parquet(touchPaths: _*)
    }
    val survivors = dvSubtract(spark, path, baseVersion, scan0, pick)
    val names2 = stage(survivors, path)
    val dvCarry = sideLinesOf(spark, path, baseVersion)
      .filterNot(l => pick.contains(sideTargetOf(l)))
    val header = snapSchema.map(schemaLine).toSeq
    val linesOut = header ++ dvCarry ++ keep ++ withStats(spark, path, names2)
    val target = baseVersion.get + 1
    if (commitAt(spark, path, linesOut, target)) Some(target)
    else {
      val fs = fsOf(spark, new org.apache.hadoop.fs.Path(s"$path/$DataDir"))
      names2.foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/$DataDir/$n"), false): Unit)
      throw new IllegalStateException(
        s"materializeDeletes: concurrent commit detected at $path — " +
          "re-read and retry; this table requires a single writer")
    }
  }

  /** Build (or top up) the per-file BLOOM POINT-LOOKUP index on
    * `column`: every data file of the latest snapshot not yet covered
    * gets a [[org.apache.spark.util.sketch.BloomFilter]] over its
    * cast-to-string `column` values, written as a raw-bytes sidecar
    * under `data/` and referenced by a `#bloom` manifest line. ONE
    * distributed job builds all missing blooms (per-partition
    * file-keyed filters merged by key — the map-side combine shape);
    * the driver only moves the finished filter bytes (~180 KB per
    * million rows at 1% fpp). Sized per file from the manifest's own
    * row-count stats. Returns None when every file is already
    * covered — the call is idempotent and cheap to re-run after
    * appends or rewrites (which drop their targets' bloom lines).
    * Integer and string columns are supported (their cast-to-string
    * is unambiguous); refuse anything else loudly.
    */
  def bloomIndex(spark: SparkSession, path: String, column: String,
                 fpp: Double = 0.01): Option[Long] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.spark.util.sketch.BloomFilter
    val baseVersion = latestVersion(spark, path)
    require(baseVersion.nonEmpty, s"bloomIndex: no committed snapshot at $path")
    val lines = snapshotLines(spark, path, baseVersion)
    val covered = bloomEntries(spark, path, baseVersion)
      .filter(_._3 == column).map(_._2).toSet
    val todo = lines.map(nameOf).filterNot(covered)
    if (todo.isEmpty) return None
    val schema = snapshotSchema(spark, path, baseVersion)
    val dt = schema.map(_.apply(column).dataType).getOrElse(
      spark.read.parquet(s"$path/$DataDir/${todo.head}").schema
        .apply(column).dataType)
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(dt),
      s"bloomIndex: column '$column' is ${dt.simpleString} — only " +
        "integer and string columns have an unambiguous string form")
    // expected items per filter: the largest file's row count (stats
    // metadata; a legacy line without one falls back to a footer count)
    val rowsOf = lines.map(l => nameOf(l) -> statsOf(l).get(RowsCol)).toMap
    val expected = math.max(1L, todo.map(n => rowsOf.get(n).flatten
      .map(_._1.toLong)
      .getOrElse(spark.read.parquet(s"$path/$DataDir/$n").count())).max)
    val scan = spark.read.parquet(todo.map(n => s"$path/$DataDir/$n"): _*)
      .select(input_file_name().as("f"), col(column).cast("string").as("v"))
    import spark.implicits._
    val perFile: Array[(String, Array[Byte])] = scan.as[(String, String)]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[String, BloomFilter]
        it.foreach { case (f, v) =>
          if (v != null) {
            val name = f.substring(f.lastIndexOf('/') + 1)
            acc.getOrElseUpdate(name,
              BloomFilter.create(expected, fpp)).putString(v)
          }
        }
        acc.iterator.map { case (n, b) =>
          val bos = new java.io.ByteArrayOutputStream()
          b.writeTo(bos); (n, bos.toByteArray)
        }
      }
      .groupByKey(_._1)
      .reduceGroups { (a, b) =>
        val m = BloomFilter.readFrom(a._2)
        m.mergeInPlace(BloomFilter.readFrom(b._2))
        val bos = new java.io.ByteArrayOutputStream()
        m.writeTo(bos); (a._1, bos.toByteArray)
      }
      .map(_._2).collect()
    // an all-null file produced no filter: commit an EMPTY bloom for
    // it (nothing matches — the strongest possible skip), so coverage
    // is complete and re-runs are true no-ops
    val built = perFile.map(_._1).toSet
    val empties = todo.filterNot(built).map { n =>
      val b = BloomFilter.create(1L, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos); (n, bos.toByteArray)
    }
    val token = "bloom-" + java.util.UUID.randomUUID().toString
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/$DataDir")
    val fs = fsOf(spark, dataDir)
    fs.mkdirs(dataDir)
    val newLines = (perFile ++ empties).sortBy(_._1).zipWithIndex.map {
      case ((target, bytes), i) =>
        val sidecar = s"$token-$i.bloom"
        val out = fs.create(new org.apache.hadoop.fs.Path(dataDir, sidecar), true)
        try out.write(bytes) finally out.close()
        s"$BloomMarker\t$sidecar\t$target\t$column"
    }
    val header = schema.map(schemaLine).toSeq
    val carry = sideLinesOf(spark, path, baseVersion)
    val target = baseVersion.get + 1
    if (commitAt(spark, path,
        header ++ carry ++ newLines ++ lines, target)) Some(target)
    else {
      newLines.foreach(l => fs.delete(
        new org.apache.hadoop.fs.Path(dataDir, sideFileOf(l)), false): Unit)
      throw new IllegalStateException(
        s"bloomIndex: concurrent commit detected at $path — re-read and " +
          "retry; this table requires a single writer")
    }
  }

  /** Files of the snapshot that MIGHT hold one of `values` for
    * `column`, per the bloom index: covered files answer from their
    * filter (distributed — each task loads its sidecars and tests, so
    * the driver never holds O(files) filter bytes); uncovered files
    * are kept conservatively. Returns (kept, total).
    */
  def pruneFilesBloom(spark: SparkSession, path: String, column: String,
                      values: Seq[String],
                      version: Option[Long] = None): (Seq[String], Int) = {
    import org.apache.spark.util.sketch.BloomFilter
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val all = snapshotFiles(spark, path, Some(v))
    val blooms = bloomEntries(spark, path, Some(v))
      .filter(_._3 == column).map(e => e._2 -> e._1).toMap
    val (covered, bare) = all.partition(blooms.contains)
    if (covered.isEmpty) return (all, all.size)
    import spark.implicits._
    val vals = spark.sparkContext.broadcast(values.toArray)
    val dataDir = s"$path/$DataDir"
    val hits = spark.createDataset(
        covered.map(n => (n, s"$dataDir/${blooms(n)}")))
      .repartition(math.min(covered.size,
        spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        // default Configuration: sidecar paths are plain FS URIs (the
        // same resolution the parquet scans use on the executors)
        val conf = new org.apache.hadoop.conf.Configuration()
        it.filter { case (_, sc) =>
          val p = new org.apache.hadoop.fs.Path(sc)
          val in = p.getFileSystem(conf).open(p)
          val b = try BloomFilter.readFrom(in) finally in.close()
          vals.value.exists(b.mightContainString)
        }.map(_._1)
      }.collect().toSeq
    ((hits ++ bare).sorted, all.size)
  }

  /** POINT LOOKUP through the bloom index: open only the files whose
    * filter admits one of `values` (plus uncovered files), subtract
    * deletion vectors, and apply the exact residual predicate. On a
    * layout not keyed by `column` the stats envelope keeps ~every
    * file; the bloom keeps ~fpp of them — the difference between a
    * full-table scan and a handful of file opens for a key lookup on
    * 100 TB. `values` compare in the column's native type via
    * `isin` (parquet row-group pushdown applies); the bloom was built
    * on the cast-to-string form, consistent for the supported
    * integer/string columns.
    */
  def readPoint(spark: SparkSession, path: String, column: String,
                values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val (kept, _) = pruneFilesBloom(spark, path, column,
      values.map(String.valueOf), Some(v))
    if (kept.isEmpty)
      return read(spark, path, Some(v)).filter(lit(false))
    val ps = kept.map(n => s"$path/$DataDir/$n")
    val scan = snapshotSchema(spark, path, Some(v)) match {
      case Some(s) => spark.read.schema(s).parquet(ps: _*)
      case None => spark.read.parquet(ps: _*)
    }
    dvSubtract(spark, path, Some(v), scan, kept.toSet)
      .filter(col(column).isin(values: _*))
  }

  /** Pre-manifest data at `path`: a gold table written by a plain
    * directory-layout sink (parquet part files at the path root).
    * Lets a manifest-committing writer MIGRATE instead of silently
    * shadowing years of accumulated rows on its first commit. The
    * legacy files are left in place (they are invisible to manifest
    * readers and to vacuum, which only touches `data/`).
    */
  def readLegacyParquet(spark: SparkSession,
                        path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, p)
    val hasParts = fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (hasParts) Some(spark.read.parquet(path)) else None
  }

  /** Small-file compaction as a normal snapshot commit: rewrite the
    * latest snapshot into ~`targetFileBytes` files and publish. No
    * directory swap — a reader mid-scan on the old manifest keeps its
    * files until [[vacuum]] reaps them.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val dataDir = s"$path/$DataDir"
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(dataDir))
    val files = snapshotFiles(spark, path, None)
    val bytes = files.map(f => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dataDir/$f")).getLen).sum
    val n = math.max(1, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    replace(read(spark, path).coalesce(n), path)
  }

  /** Retention: keep the newest `keepVersions` manifests, delete older
    * ones, and delete every data file not referenced by a kept
    * manifest — EXCEPT unreferenced files younger than `minOrphanAge`:
    * a concurrent writer stages its files into `data/` BEFORE its
    * manifest rename, and a vacuum racing that window must not delete
    * a commit-in-flight out from under it (the committed manifest
    * would point at vanished files). Crashed-writer orphans age past
    * the window and are reaped by the next vacuum. `keepVersions >= 2`
    * protects readers that resolved the previous snapshot before a
    * concurrent commit.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 2,
             minOrphanAge: java.time.Duration =
               java.time.Duration.ofMinutes(15)): Unit = {
    require(keepVersions >= 1, "vacuum must keep at least the live snapshot")
    val vs = versions(spark, path)
    if (vs.isEmpty) return
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val live = keep.flatMap(v => snapshotFiles(spark, path, Some(v)) ++
      sideLinesOf(spark, path, Some(v)).map(sideFileOf)).toSet
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/$DataDir")
    val fs = fsOf(spark, dataDir)
    val cutoff = System.currentTimeMillis() - minOrphanAge.toMillis
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { st =>
      if (!live.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, false): Unit
    }
    drop.foreach(v => fs.delete(manifestPath(path, v), false): Unit)
  }
}
