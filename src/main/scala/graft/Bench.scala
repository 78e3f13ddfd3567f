package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Drop every block the previous query may have left in the block
    * manager. Operators localCheckpoint shared subtrees (LSH signatures,
    * oriented edges, IVF index, per-round ranks) and hand the cached frame
    * to the caller — correct for a real user session, but in a 106-query
    * benchmark loop the blocks accumulate and later queries pay eviction
    * and GC for earlier queries' state. Measured round 4: q_part_pagerank
    * 4.4–5.2 s standalone but 14.3 s when benched after 7 other queries in
    * the same JVM. Clearing between queries makes each measurement start
    * from a clean storage state, so the artifact measures plans, not suite
    * position.
    */
  private def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Quiet-machine floor of [[calibrationSecs]] on the round-13 build
    * host: the cross-JVM median of warm steady points (three idle
    * fresh-JVM runs measured steady bands 0.31–0.41, 0.33–0.47 and
    * 0.44–0.48 — the band itself wobbles ~±20% JVM-to-JVM with code
    * layout). The probe's per-pass time DIVIDED by this floor is the
    * pass's `ambient_factor`: 0.8–1.2 is the QUIET band (probe + JVM
    * jitter, not load); a sustained factor ≳1.3 is real ambient
    * inflation — the regime round 12 hit, where identical code
    * measured 226.6 s and 313.9 s within an hour and the judge's
    * re-run carried a uniform 1.35× on queries untouched for nine
    * rounds. Consumers normalize totals/mins by the median factor
    * before diffing rounds. On a DIFFERENT host the factor's absolute
    * level shifts with single-thread speed, but within-host
    * round-over-round comparisons — the only ones the driver makes —
    * stay valid because every round's artifact carries its own probes
    * against the same recorded floor.
    */
  private[graft] val CalibrationFloorSecs = 0.40

  /** Fixed ambient-load calibration workload (VERDICT r12 #1): a
    * synthetic shuffle + hash-aggregate + final reduce over generated
    * rows — the same physical machinery (codegen, exchange, partial +
    * final agg) the suite queries spend their time in, with ZERO
    * dependence on `sfDir` or any parquet file, so its wall time moves
    * only with machine state. Runs from a cleared cache like every
    * timed query; deterministic by construction (range → modular keys).
    */
  private def calibrationOnce(spark: SparkSession): Double = {
    dropCaches(spark)
    val t0 = System.nanoTime()
    spark.range(0, 32L * 1000 * 1000, 1, 32)
      .selectExpr("id % 4096 AS k", "xxhash64(id) % 1048576 AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"),
        org.apache.spark.sql.functions.count("*").as("c"))
      .selectExpr("sum(s + c)")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One probe POINT = min of 3 workload runs (~1.6 s total): a
    * single run carries ±15% scheduler jitter on a quiet machine,
    * which would blur the 1.3–1.5× ambient signal the probe exists to
    * catch. Min (not median) because SUSTAINED load inflates all three
    * runs — the min still reads it — while one-off hiccups and
    * residual JIT tail inflate only some runs and are discarded.
    */
  private[graft] def calibrationSecs(spark: SparkSession): Double =
    Vector.fill(3)(calibrationOnce(spark)).min

  /** The probe plan's JIT warmup is ~25 executions deep (measured:
    * run 1 ≈ 2 s, drifting 0.9 → 0.52 → 0.31 through run ~25, steady
    * ≈ 0.31 after) — so the warmup runs 24 untimed executions (~10 s,
    * once per bench JVM) before the first timed point; anything less
    * makes pass 1's factor read residual JIT as ambient load.
    */
  private def calibrationWarmup(spark: SparkSession): Unit =
    (1 to 24).foreach(_ => calibrationOnce(spark): Unit)

  /** Timed passes per query: the min of 3 interleaved passes is the
    * reported time.
    */
  private val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.spark.Sessions.local(cpus, cpus)
    // Warm up the session (executor threads, codegen compiler, parquet
    // reader classes) so the first timed query doesn't absorb JVM init.
    spark.range(1000).selectExpr("sum(id)").collect()
    // warm-up must never kill the run — a bad sfDir should surface as
    // per-query errors in the JSON, not as a silent crash with no output
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up read failed: ${e.getMessage}")
    }
    // Three timed runs per query in INTERLEAVED pass order
    // (A,B,C,…,A,B,C,…): run 1 absorbs one-shot plan codegen that
    // amortizes to nothing on a long-lived cluster, and interleaving
    // means an ambient-load spike (the round-6 artifact showed 2–4×
    // inflation on 4 queries despite min-of-2 back-to-back runs) hits
    // DIFFERENT queries each pass instead of both runs of the same
    // one — the min is then a trustworthy recurring-cost signal. The
    // max and the relative spread ((max−min)/min) are reported so the
    // driver can discount rows that were noisy anyway.
    // A failed run must NOT be timed as a (fast) success: a query with
    // ANY failed run lands in "errors"; its value is the min of the
    // successful runs, or -1 if none succeeded.
    // optional args: query names to bench (default all) — lets local
    // iteration time one hot query without paying for the whole suite
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(",")} — benching nothing " +
        "would read as 'no regression'")
    val picked = if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    // Sorted-name order: Map iteration order is arbitrary and changes as
    // queries are added, which made run-to-run artifacts incomparable.
    val names = picked.toSeq.sortBy(_._1)
    val acc = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      names.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    // one ambient probe BEFORE each pass and one after the last, so
    // every pass is bracketed: probes(i) and probes(i+1) surround pass
    // i+1's queries
    val probes = Vector.newBuilder[Double]
    // untimed executions of the probe plan: its codegen/JIT warmup
    // (measured ~2 s first run vs ~0.5 s warm) must not read as
    // ambient load on pass 1
    calibrationWarmup(spark)
    (1 to Runs).foreach { _ =>
      probes += calibrationSecs(spark)
      names.foreach { case (name, fn) =>
        dropCaches(spark)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          acc(name) = acc(name) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
    }
    probes += calibrationSecs(spark)
    val results = acc.toSeq
    dropCaches(spark)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.minOption.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val qmax = results.map { case (k, v) => s"\"" + k + "\":" + v.maxOption.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val qspread = results.map { case (k, v) =>
      val sp = (for (mn <- v.minOption; mx <- v.maxOption)
        yield (mx - mn) / math.max(mn, 1e-9)).getOrElse(-1.0)
      s"\"" + k + "\":" + math.round(sp * 100.0) / 100.0
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v.size < Runs => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2.minOption).sum
    val streaming = StreamBench.run(spark, sfDir)
    // one more probe AFTER the streaming lanes so their one-shot rates
    // carry ambient context too (r12 showed them drifting by the same
    // machine-state factor as the batch queries)
    probes += calibrationSecs(spark)
    val probeSecs = probes.result()
    val factors = probeSecs.map(_ / CalibrationFloorSecs)
    def fmtVec(v: Vector[Double]) =
      v.map(x => f"$x%.3f").mkString("[", ",", "]")
    val factorMedian = {
      val s = factors.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Per-query detail first, compact total summary as the FINAL line:
    // the driver keeps only the output tail, and a 99-entry map on the
    // same line as the total previously truncated the total away.
    val lines = Seq(
      s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}""",
      s"""{"metric":"queries_max","queries":$qmax,"sf":"$sfDir"}""",
      s"""{"metric":"queries_rel_spread","queries":$qspread,"sf":"$sfDir"}""",
      s"""{"metric":"calibration","floor_secs":$CalibrationFloorSecs,"probe_secs":${fmtVec(probeSecs)},"ambient_factor":${fmtVec(factors)},"note":"probes bracket each pass (n_runs+1) + one after streaming; divide totals/mins by ambient_factor_median before cross-round diffs"}""",
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","runs":$Runs,"agg":"min","order":"interleaved","errors":$errors,"ambient_factor_median":${f"$factorMedian%.3f"},"streaming_rows_per_sec":$streaming,"full_artifact":"$benchOut"}""")
    // The driver's tail capture truncated ~2/3 of the round-8 per-query
    // map, blinding round-over-round diffs — so the FULL artifact also
    // lands in a file (path echoed in the total line above).
    try java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    lines.foreach(println)
    spark.stop()
  }
}
