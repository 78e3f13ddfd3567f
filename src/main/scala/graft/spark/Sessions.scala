package graft.spark

import org.apache.spark.sql.SparkSession

/** Single place every graft entry point builds its SparkSession from,
  * so session-scoped behavior is uniform instead of order-dependent on
  * which query ran first.
  *
  * In particular `spark.sql.legacy.parquet.nanosAsLong` is set HERE,
  * at construction: the harness `events` table stores TIMESTAMP(NANOS)
  * which Spark 4 otherwise rejects, and flipping the conf lazily (as a
  * side effect of the first `events()` call) would make every later
  * nanos-parquet read silently change type depending on call order.
  * With the conf pinned up front, ALL nanos columns uniformly arrive
  * as LongType and `graft.ingest.Sources.events` converts explicitly.
  *
  * The `file://` scheme is bound HERE to [[NioLocalFileSystem]] (the
  * `FileSystem` API) and [[NioLocalFs]] (the `FileContext` API). Without
  * libhadoop, stock Hadoop forks a `chmod` on every local file create
  * and a `readlink` on both ends of every `FileContext.rename`; the
  * streaming checkpoint logs and state-store deltas do both on every
  * micro-batch, so a river stream run spawned thousands of processes
  * and spent most of each batch's commit time waiting on them. The
  * replacements answer those two calls through `java.nio.file` and
  * leave everything else, no-overwrite rename and checksum files
  * included, to the stock classes.
  */
object Sessions {

  /** Pre-configured builder; callers add master/app-specific confs.
    * The engine's SparkSessionExtensions are installed here, so every
    * graft session plans the custom operators (as-of strategy, its
    * pushdown rule, SQL function registration) with the rules inside
    * the optimizer's main fixed-point batch — an injected pushdown
    * interleaves with stock PushDownPredicates, which the runtime
    * `experimental.extraOptimizations` fallback (a late, separate
    * batch) cannot do.
    */
  def builder(): SparkSession.Builder = {
    QuietLogs.apply()
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // OPTIMIZATION r14: write timestamps as TIMESTAMP_MICROS, not
      // the legacy INT96 default — micros IS Spark's internal
      // precision (lossless round-trip), INT96 is deprecated and
      // carries NO parquet column statistics, which would force every
      // timestamp-keyed ManifestTable commit onto the legacy
      // full-rescan stats path (see ManifestTable.footerStats) and
      // blinds row-group skipping on event-time predicates at scale.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  /** `WindowExec` WARNs "No Partition Defined" once per plan for every
    * window without PARTITION BY. The engine's single-partition windows
    * run over aggregated, corpus-size-independent inputs, and
    * `graft.tools.WindowBounds` gates exactly that (it fails the gate
    * when such a window's input grows with the corpus), so the WARN
    * carries no signal and only floods the test and entry logs. Spark
    * initializes log4j on first use and would drop a level set before
    * that, hence the explicit initialization first.
    */
  private object QuietLogs extends org.apache.spark.internal.Logging {
    def apply(): Unit = {
      initializeLogIfNecessary(isInterpreter = false)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
    }
  }

  /** The standard local session used by Verify/Bench/tools. */
  def local(cores: String, shufflePartitions: String): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
