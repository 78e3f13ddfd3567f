package perfbench

import scala.collection.mutable

/** Census mode: one traced full-result pass over every registered query,
  * plus the `count()` timing of the same query, for choosing future
  * performance targets. Not a workload: nothing here is bounded. */
object Census {
  def run(opts: Map[String, String]): Unit = {
    val dataDir = opts("data")
    val only = opts.get("only").map(_.split(",").toSet).getOrElse(Set.empty[String])
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n))
    val tracer = new Tracer(true)
    val spark = Batch.setup(dataDir)
    tracer.install(spark)
    val sc = spark.sparkContext
    val rows = names.map { name =>
      val r = Batch.runQuery(spark, tracer, 0L, name, 0, dataDir, None, mutable.Map.empty)
      // the count() path: a fresh build, then count(), as graft.Bench times it
      Common.dropCaches(spark)
      val t0 = Common.nowS()
      val countS = try {
        graft.SparkEntry.queries(name)(spark, dataDir).count()
        Some(Common.nowS() - t0)
      } catch { case _: Throwable => None }
      tracer.drain(sc)
      def c(label: String): Counters = {
        val acc = new Counters
        r.spans.filter(_.name == label).foreach(s => acc += tracer.countersOf(s.id))
        acc
      }
      val (b, e) = (c("build"), c("exec"))
      System.err.println(f"[census] $name%-36s build ${r.buildS}%7.3f plan ${r.planS}%6.3f " +
        f"exec ${r.execS}%7.3f count ${countS.getOrElse(-1.0)}%7.3f ${r.error.getOrElse("")}")
      mutable.LinkedHashMap[String, Any](
        "name" -> name, "module" -> Batch.moduleOf.getOrElse(name, "?"),
        "has_oracle" -> graft.SparkEntry.oracleSql.contains(name),
        "build_s" -> r.buildS, "plan_s" -> r.planS, "exec_s" -> r.execS, "full_s" -> r.totalS,
        "count_s" -> countS, "count_gap_s" -> countS.map(r.totalS - _),
        "build_jobs" -> b.jobs, "build_stages" -> b.stages, "exec_jobs" -> e.jobs,
        "exec_stages" -> e.stages, "exec_tasks" -> e.tasks,
        "materializations" -> r.materializations, "materialized_mb" -> r.materializedBytes / 1e6,
        "rows" -> r.rows, "error" -> r.error)
    }
    Common.writeFile(opts("result"), Json.render(Map("mode" -> "census", "data" -> dataDir,
      "cores" -> Common.cores.toInt, "queries" -> rows)))
    Common.stopSession(spark)
  }
}
