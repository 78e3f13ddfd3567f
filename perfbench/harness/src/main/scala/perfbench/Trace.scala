package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work counted under one span: the jobs, stages and tasks Spark ran while
  * the span was the thread's current span, with their summed task metrics. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, inputBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1000000L, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes)
}

/** One traced interval. `parent` is the span that caused it (0 for a root);
  * spans of one query or one rung share `group`. Times are epoch ms. */
final case class Span(id: Long, parent: Long, group: String, name: String,
                      startMs: Long, var endMs: Long = -1L,
                      attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "group" -> group,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** In-memory span recorder. The harness opens spans around each call into
  * a layer; a [[SparkListener]] and a [[StreamingQueryListener]] add the
  * jobs and micro-batches those calls caused. Nothing is written until
  * [[Tracer.dump]] at the end of the run. A disabled tracer records
  * nothing and registers no listener. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = TrieMap.empty[Long, Counters]
  private val stageSpan = TrieMap.empty[Int, (Long, Long)]
  private val jobSpans = TrieMap.empty[Int, Span]
  private val progress = TrieMap.empty[String, mutable.ArrayBuffer[
    org.apache.spark.sql.streaming.StreamingQueryProgress]]

  /** The local property that tags jobs with the span that submitted them. */
  val SpanProperty = "perfbench.span"

  def open(sc: SparkContext, parent: Long, group: String, name: String): Span = {
    val s = Span(nextId.getAndIncrement(), parent, group, name, System.currentTimeMillis())
    if (enabled) {
      spans.synchronized(spans += s)
      sc.setLocalProperty(SpanProperty, s.id.toString)
    }
    s
  }

  def close(sc: SparkContext, s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    if (enabled) sc.setLocalProperty(SpanProperty, s.parent.toString)
  }

  def countersOf(spanId: Long): Counters = counters.getOrElseUpdate(spanId, new Counters)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val js = Span(nextId.getAndIncrement(), sid, "", s"job ${e.jobId}", e.time)
      e.stageIds.foreach(st => stageSpan.put(st, (sid, js.id)))
      Seq(sid, js.id).foreach { id => val c = countersOf(id); c.synchronized(c.jobs += 1) }
      jobSpans.put(e.jobId, js)
      spans.synchronized(spans += js)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.remove(e.jobId).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val (sid, jid) = stageSpan.getOrElse(info.stageId, (0L, 0L))
      val m = info.taskMetrics
      Seq(sid, jid).distinct.map(countersOf).foreach(c => c.synchronized {
        c.stages += 1
        c.tasks += info.numTasks
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
        }
      })
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val buf = progress.getOrElseUpdate(p.id.toString, mutable.ArrayBuffer.empty)
      buf.synchronized(buf += p)
    }
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drain(sc)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Micro-batch spans from the progress events each stream reported,
    * named by `laneOf(query id)` and parented to the rung span that was
    * open when the batch began. */
  private def batchSpans(laneOf: Map[String, String]): Seq[Span] = {
    val rungs = allSpans.filter(_.group.startsWith("rung#"))
    progress.toSeq.flatMap { case (id, ps) =>
      ps.synchronized(ps.toList).map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val parent = rungs.find(r => r.startMs <= start && (r.endMs < 0 || start <= r.endMs))
          .map(_.id).getOrElse(0L)
        val attrs = mutable.LinkedHashMap[String, Any]("rows" -> p.numInputRows)
        p.durationMs.asScala.foreach { case (k, v) => attrs(s"${k}_ms") = v.longValue }
        p.stateOperators.headOption.foreach { st =>
          attrs("state_rows") = st.numRowsTotal
          attrs("state_bytes") = st.memoryUsedBytes
          attrs("state_commit_ms") = st.commitTimeMs
        }
        Span(nextId.getAndIncrement(), parent, laneOf.getOrElse(id, id), s"batch ${p.batchId}",
          start, start + p.durationMs.getOrDefault("triggerExecution", 0L), attrs)
      }
    }
  }

  def dump(path: String, laneOf: Map[String, String] = Map.empty): Unit = if (enabled) {
    val lines = (allSpans ++ batchSpans(laneOf)).map { s =>
      val c = counters.get(s.id).map(_.toMap).getOrElse(Map.empty)
      Json.render(s.toMap ++ (if (c.isEmpty) Map.empty else Map("counters" -> c)))
    }
    Common.writeFile(path, lines.mkString("", "\n", "\n"))
  }
}
