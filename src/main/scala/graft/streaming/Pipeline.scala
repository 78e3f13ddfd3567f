package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.Schemas
import graft.model.Schemas.SensorReading

/** The streaming core (SURVEY.md §2.6, reference:
  * streaming/spark_processor.py) — Kafka-shaped source → CAST →
  * from_json → flatten → typed coercion, then the analytical tails the
  * reference documents but never built: watermarked tumbling windows,
  * session windows, and a stateful per-sensor alert machine.
  *
  * Sources are taken as DataFrames so tests drive the identical plans
  * through MemoryStream; graft.ingest.Sources.kafkaStream produces the
  * production source with the same (value: binary) contract.
  *
  * Scale notes: every stage is keyed on sensor_id, so state (window
  * partials, session state, alert counters) shards across executors;
  * watermarks bound state size; checkpointing makes sinks
  * exactly-once (the reference ran without checkpoints — T3).
  */
object Pipeline {

  /** Alert state: consecutive out-of-band readings per sensor. */
  final case class AlertState(consecutive: Int, lastEventMs: Long)

  /** Emitted when a sensor crosses [[AlertThreshold]] consecutive
    * out-of-band readings.
    */
  final case class Alert(
      sensor_id: String,
      alert_time: java.sql.Timestamp,
      n_consecutive: Int,
      ph_value: Option[Float],
      do_value: Option[Float])

  val AlertThreshold = 3

  /** Wire→typed parse. The producer emits every field as a JSON string
    * under the CSV header names (reference: kafka/producer.py:24,37);
    * the canonical schema demands typed sensor readings — so parse
    * with the wire schema and coerce explicitly (J2–J4, P2–P4). The
    * parse is `from_json` row for row, through
    * [[graft.functions.JsonToStructsString]], which skips the per-row
    * reader allocation of the built-in.
    */
  def parseWire(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS value")
      .select(graft.functions.JsonOps.fromJson(col("value"), Schemas.wireSchema)
        .alias("data"))
      .select("data.*")
      .select(
        col("WaterbodyName").as("sensor_id"),
        to_timestamp(col("FullDate")).as("timestamp"),
        col("pH").cast("float").as("ph_value"),
        col("`Dissolved Oxygen`").cast("float").as("do_value"),
        col("`Conductivity @25°C`").cast("float").as("tds_value"))

  /** The reference's own parse — from_json directly against the sensor
    * schema (reference: streaming/spark_processor.py:37-39). Kept
    * verbatim because its PERMISSIVE null-on-mismatch behavior against
    * the actual wire fields is a pinned semantic (SURVEY.md §1.3).
    */
  def parseSensorStrict(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS value")
      .select(from_json(col("value"), Schemas.sensorSchema).alias("data"))
      .select("data.*")

  /** T5+T6: watermarked tumbling 1-hour per-sensor aggregation. In
    * append mode a window emits exactly once, when the watermark
    * passes its end — late rows beyond 1 day are dropped.
    */
  def windowedStats(readings: DataFrame): DataFrame =
    readings
      .withWatermark("timestamp", "1 day")
      .groupBy(window(col("timestamp"), "1 hour"), col("sensor_id"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("ph_value")).as("avg_ph"),
        min(col("do_value")).as("min_do"),
        max(col("tds_value")).as("max_tds"))
      .select(col("window.start").as("window_start"),
        col("sensor_id"), col("n"), col("avg_ph"), col("min_do"), col("max_tds"))

  /** A2/T6 (hopping variant): sliding 1-hour windows every 15 minutes
    * on the stream — the streaming twin of
    * [[graft.analytics.Quality.hoppingStats]] (same generator, same
    * window arithmetic; each reading lands in 4 overlapping windows
    * scan-side before the stateful aggregation). Watermark bounds the
    * open-window state to (late-bound + window length) per sensor.
    */
  def hoppingStats(readings: DataFrame): DataFrame =
    readings
      .withWatermark("timestamp", "1 day")
      .groupBy(window(col("timestamp"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), avg(col("ph_value")).as("avg_ph"))
      .select(col("window.start").as("window_start"),
        col("n"), col("avg_ph"))

  /** X1 live: the composite WQI over the stream — watermarked hourly
    * per-sensor windows of the SAME scoring expression the batch
    * q_river_wqi uses ([[graft.analytics.Quality.wqiRaw]] — one
    * definition point, so the live dashboard and the batch report
    * cannot disagree about what "quality" means). Rows missing any
    * constituent reading carry no WQI (the score is a composite;
    * avg ignores nulls).
    */
  def wqiWindowed(readings: DataFrame): DataFrame =
    readings
      .withWatermark("timestamp", "1 day")
      .withColumn("wqi", graft.analytics.Quality.wqiRaw(
        col("ph_value"), col("do_value"), col("tds_value")))
      .groupBy(window(col("timestamp"), "1 hour"), col("sensor_id"))
      .agg(count(col("wqi")).as("n"),
        avg(col("wqi")).as("avg_wqi_raw"),
        min(col("wqi")).as("min_wqi_raw"))
      .select(col("window.start").as("window_start"), col("sensor_id"),
        col("n"), round(col("avg_wqi_raw"), 4).as("avg_wqi"),
        round(col("min_wqi_raw"), 4).as("min_wqi"))

  /** T6: session windows — readings within a 30-minute gap merge. */
  def sessionStats(readings: DataFrame): DataFrame =
    readings
      .withWatermark("timestamp", "1 day")
      .groupBy(session_window(col("timestamp"), "30 minutes"), col("sensor_id"))
      .agg(count(lit(1)).as("n"), avg(col("ph_value")).as("avg_ph"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("sensor_id"), col("n"), col("avg_ph"))

  /** Out-of-band predicate (F1 thresholds; missing values don't vote). */
  private def isOutOfBand(r: SensorReading): Boolean = {
    val phBad = r.ph_value.exists(p => p < 6.5f || p > 8.5f)
    val doBad = r.do_value.exists(_ < 30f)
    phBad || doBad
  }

  /** T7: per-sensor alert state machine via flatMapGroupsWithState —
    * an alert fires when [[AlertThreshold]] consecutive out-of-band
    * readings arrive; a healthy reading resets the streak; state for
    * sensors silent past the watermark + 1h is evicted by event-time
    * timeout. One sensor's micro-batch rows are folded in event-time
    * order from its stored state.
    */
  def alerts(readings: Dataset[SensorReading]): Dataset[Alert] = {
    val spark = readings.sparkSession
    import spark.implicits._

    // a function value, not a local def: scalac reaches the module's
    // private isOutOfBand from a lambda body through its static
    // instance, while a lifted local def would call it on `this` and
    // the closure Spark serializes would capture the Pipeline object
    val fn: (String, Iterator[SensorReading], GroupState[AlertState]) =>
        Iterator[Alert] = (sensorId, rows, state) => {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val sorted = rows.toSeq.sortBy(r =>
          (Option(r.timestamp).map(_.getTime).getOrElse(0L), r.sensor_id))
        var st = state.getOption.getOrElse(AlertState(0, 0L))
        val out = Seq.newBuilder[Alert]
        sorted.foreach { r =>
          val ms = Option(r.timestamp).map(_.getTime).getOrElse(st.lastEventMs)
          st =
            if (isOutOfBand(r)) {
              val n = st.consecutive + 1
              if (n == AlertThreshold)
                out += Alert(sensorId, r.timestamp, n, r.ph_value, r.do_value)
              AlertState(n, ms)
            } else AlertState(0, ms)
        }
        state.update(st)
        if (st.lastEventMs > 0)
          state.setTimeoutTimestamp(st.lastEventMs + 3600 * 1000)
        out.result().iterator
      }
    }

    readings
      .withWatermark("timestamp", "1 day")
      .groupByKey(_.sensor_id)
      .flatMapGroupsWithState[AlertState, Alert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Running per-sensor statistics maintained with mapGroupsWithState
    * (the 1-output-per-group sibling of flatMapGroupsWithState): each
    * micro-batch updates a Welford-style running mean per sensor and
    * emits the sensor's latest snapshot. Update output mode; state
    * evicted by event-time timeout like [[alerts]].
    */
  final case class SensorStats(sensor_id: String, n: Long, mean_ph: Double)

  def runningStats(readings: Dataset[SensorReading]): Dataset[SensorStats] = {
    val spark = readings.sparkSession
    import spark.implicits._

    def fn(sensorId: String, rows: Iterator[SensorReading],
           state: GroupState[SensorStats]): SensorStats = {
      if (state.hasTimedOut) {
        val last = state.get
        state.remove()
        last
      } else {
        var st = state.getOption.getOrElse(SensorStats(sensorId, 0L, 0.0))
        var maxMs = 0L
        rows.foreach { r =>
          r.ph_value.foreach { ph =>
            val n = st.n + 1
            st = SensorStats(sensorId, n, st.mean_ph + (ph - st.mean_ph) / n)
          }
          maxMs = math.max(maxMs, Option(r.timestamp).map(_.getTime).getOrElse(0L))
        }
        state.update(st)
        if (maxMs > 0) state.setTimeoutTimestamp(maxMs + 24L * 3600 * 1000)
        st
      }
    }

    readings
      .withWatermark("timestamp", "1 day")
      .groupByKey(_.sensor_id)
      .mapGroupsWithState[SensorStats, SensorStats](
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Calibration event for the stream-stream join (a second live feed
    * keyed by sensor).
    */
  final case class Calibration(
      cal_sensor_id: String,
      cal_time: java.sql.Timestamp,
      offset: Float)

  /** Bounded per-sensor AR(1) state: the last observation (for the
    * cross-batch pair seam) plus the six exact-BIGINT moments of all
    * consecutive (prev, cur) pH-cent pairs seen so far — 8 longs per
    * key, corpus-size-independent, and EXACTLY the sufficient
    * statistics the batch [[graft.analytics.TimeSeries.ar1Fit]] spine
    * uses, so a streaming snapshot after N batches equals the batch
    * fit over the same rows bit-for-bit (integer sums are associative;
    * the φ/μ doubles are the same fixed-arity expressions).
    */
  final case class Ar1State(lastTsMs: Long, lastCents: Long,
      n: Long, sx: Long, sy: Long, sxy: Long, sxx: Long, syy: Long)

  final case class Ar1Snap(sensor_id: String, n_pairs: Long,
      phi: Double, mu_cents: Double)

  /** Streaming AR(1) — observation-over-observation persistence of
    * each sensor's pH, fitted ON THE WIRE with mapGroupsWithState:
    * every micro-batch folds its rows (event-time order inside the
    * batch; rows at or before the state's last timestamp are skipped,
    * so a replayed or late row cannot corrupt the pair stream) into
    * the moment state and emits the sensor's refreshed fit. The
    * regression never holds a window of raw rows — state is the
    * 8-long [[Ar1State]] no matter how long the stream runs, the
    * streaming analogue of the batch exact-moment discipline.
    */
  def streamingAr1(readings: Dataset[SensorReading]): Dataset[Ar1Snap] = {
    val spark = readings.sparkSession
    import spark.implicits._

    def fn(sensorId: String, rows: Iterator[SensorReading],
           state: GroupState[Ar1State]): Ar1Snap = {
      var st = state.getOption.getOrElse(
        Ar1State(Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
      val ordered = rows.toArray
        .filter(r => r.ph_value.isDefined && r.timestamp != null)
        .sortBy(_.timestamp.getTime)
      ordered.foreach { r =>
        val t = r.timestamp.getTime
        if (t > st.lastTsMs) {
          val c = math.round(r.ph_value.get * 100.0)
          if (st.lastTsMs != Long.MinValue) {
            val x = st.lastCents; val y = c
            st = st.copy(n = st.n + 1, sx = st.sx + x, sy = st.sy + y,
              sxy = st.sxy + x * y, sxx = st.sxx + x * x,
              syy = st.syy + y * y)
          }
          st = st.copy(lastTsMs = t, lastCents = c)
        }
      }
      state.update(st)
      val nd = st.n.toDouble
      val den = nd * st.sxx - st.sx.toDouble * st.sx.toDouble
      val phi = if (den == 0) Double.NaN
        else (nd * st.sxy - st.sx.toDouble * st.sy.toDouble) / den
      val mu = if (den == 0 || st.n == 0) Double.NaN
        else (st.sy.toDouble - phi * st.sx.toDouble) / nd
      Ar1Snap(sensorId, st.n, phi, mu)
    }

    readings
      .groupByKey(_.sensor_id)
      .mapGroupsWithState[Ar1State, Ar1Snap](
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** L1 on the wire: streaming exact dedup — duplicate (sensor_id,
    * timestamp) rows arriving within the watermark horizon are dropped;
    * state older than the watermark is evicted, so dedup state stays
    * bounded no matter how long the stream runs.
    */
  def dedupStream(readings: DataFrame): DataFrame =
    readings
      .withWatermark("timestamp", "1 day")
      .dropDuplicates(Seq("sensor_id", "timestamp"))

  /** Streaming dedup for RETRANSMITTED readings — the at-least-once
    * transport case [[dedupStream]] cannot catch: a broker/producer
    * re-send carries the same payload but a JITTERED timestamp, so
    * (key, timestamp) equality never fires. This keys on the payload
    * alone via dropDuplicatesWithinWatermark: two occurrences whose
    * event times fall within the watermark delay collapse to the
    * FIRST one. Payload state is evicted once the WATERMARK (driven
    * by newer events, advanced at batch boundaries) passes the first
    * occurrence plus the delay — after that a genuinely repeated
    * measurement passes again; before that (e.g. on an idle stream
    * whose watermark hasn't moved) Spark's contract for occurrences
    * beyond the delay is "may or may not be dropped", not guaranteed
    * re-admission. State stays bounded by (distinct payloads per
    * watermark horizon), the same eviction mechanism as
    * [[dedupStream]].
    */
  def dedupRetransmits(readings: DataFrame,
                       delay: String = "1 hour"): DataFrame =
    readings
      .withWatermark("timestamp", delay)
      .dropDuplicatesWithinWatermark(
        Seq("sensor_id", "ph_value", "do_value", "tds_value"))

  /** Stream-static enrichment join: each streaming reading picks up
    * its waterbody's dimension row (the sensor-metadata join J5 on the
    * live path). The static side is a bounded table — no watermark and
    * no join state: Spark re-plans it per micro-batch, so a dimension
    * refresh on disk is visible to the next batch. Broadcast keeps the
    * per-batch join shuffle-free at any stream rate.
    */
  def enrichReadings(readings: DataFrame, dim: DataFrame): DataFrame =
    readings.join(
      broadcast(dim.select(col("sensor_id"), col("river"), col("basin"))),
      Seq("sensor_id"), "left")
      .select(col("sensor_id"), col("timestamp"), col("ph_value"),
        col("river"), col("basin"))

  /** Stream-static enrichment against a LIVE [[graft.sinks.ManifestTable]]
    * dimension — the lakehouse SCD pattern: each micro-batch re-resolves
    * the dimension's CURRENT committed snapshot inside foreachBatch, so a
    * dimension update (one atomic manifest commit) becomes visible to the
    * stream at the next batch boundary, never mid-batch (a static
    * `spark.read.parquet(dir)` join would race a directory rewrite; the
    * snapshot read cannot — readers only ever see committed file lists).
    * Output appends to a checkpointed parquet sink; the enrichment
    * itself is stateless.
    */
  def enrichAgainstManifest(readings: DataFrame, dimPath: String,
                            outPath: String, checkpoint: String,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    readings.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val dim = graft.sinks.ManifestTable.read(spark, dimPath)
          .select(col("sensor_id"), col("river"), col("basin"))
        batch.join(broadcast(dim), Seq("sensor_id"), "left")
          .select(col("sensor_id"), col("timestamp"), col("ph_value"),
            col("river"), col("basin"))
          .write.mode(SaveMode.Append).parquet(outPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming incremental dedup — the live twin of
    * [[graft.analytics.TextOps.incrementalDedup]]: incoming documents
    * compute their MinHash signature + band buckets SCAN-SIDE (the
    * same codegen kernel and banding rule as the batch index, shared
    * through `TextOps.bandIndexOf` so the two cannot drift) and probe
    * a STATIC history index with a stateless stream-static equi-join.
    * Emits EXACTLY one row per (incoming doc, matched history doc)
    * with the signature-agreement estimate ≥ `minEst` — a pair
    * colliding in several bands is emitted only on its FIRST
    * lane-agreeing band (a pure expression over the two signatures,
    * the first-shared-bucket discipline of `Intervals.overlapJoin`),
    * so the whole operator is STATELESS: no watermark, no
    * dropDuplicates state growing with the stream, and the join
    * itself keeps no state either (the static side is re-planned per
    * micro-batch, so appending yesterday's batch to the index table
    * is visible to the next batch — the daily-accretion lifecycle).
    */
  /** Per-group heavy-hitter state: a Count-Min sketch plus the
    * bounded candidate set tracked alongside it.
    */
  final case class HhState(cms: Array[Long], cands: Map[String, Long])

  /** One emitted heavy hitter after a micro-batch. */
  final case class HeavyHit(lang: String, rnk: Int, tok: String,
                            est: Long)

  /** Streaming heavy hitters with BOUNDED state (T7 × X3): per
    * language, the top-k tokens by frequency over everything seen so
    * far, maintained as a Count-Min sketch (fixed d×w longs — the
    * mergeable stream state an exact counts map cannot be, since
    * vocabulary grows with the stream) plus a candidate set capped at
    * 4k entries (the classic sketch-heap heavy-hitter construction:
    * a token enters the candidates when its CMS estimate reaches the
    * current bar, the smallest candidates fall off the cap). After
    * each batch the group emits its current top-k (est desc, token
    * asc) — Update-mode semantics. Estimates are one-sided
    * (est ≥ true count, CMS guarantee), and the candidate cap is the
    * standard recall trade: a true heavy hitter arriving heavily
    * keeps re-qualifying, so steady-state top-k converges on the
    * exact top-k (the spec drives a skewed stream and checks exactly
    * that).
    *
    * State per language: CmsDepth×CmsWidth longs + ≤ 4k (token, est)
    * pairs — corpus-size-INDEPENDENT, the whole point.
    */
  def streamingTopTokens(docs: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.Aggregators.{CountMin, CmsDepth, CmsWidth}
    val cap = 4 * k
    def fn(lang: String, rows: Iterator[(String, String)],
           state: GroupState[HhState]): Iterator[HeavyHit] = {
      var st = state.getOption.getOrElse(
        HhState(new Array[Long](CmsDepth * CmsWidth), Map.empty))
      var cms = st.cms
      var cands = st.cands
      rows.foreach { case (_, text) =>
        text.split(" ").foreach { tok =>
          var i = 0
          var est = Long.MaxValue
          while (i < CmsDepth) {
            val idx = i * CmsWidth + CountMin.bucket(tok, i)
            cms(idx) += 1L
            if (cms(idx) < est) est = cms(idx)
            i += 1
          }
          val bar = if (cands.size < cap) 0L else cands.values.min
          if (cands.contains(tok) || est > bar) {
            cands = cands.updated(tok, est)
            if (cands.size > cap) {
              // drop the weakest; among equal-estimate candidates the
              // lexicographically SMALLEST token goes (minBy on
              // (est, token) — deterministic)
              val weakest = cands.minBy { case (t, e) => (e, t) }._1
              cands = cands - weakest
            }
          }
        }
      }
      state.update(HhState(cms, cands))
      cands.toSeq
        .sortBy { case (t, e) => (-e, t) }
        .take(k).zipWithIndex
        .map { case ((t, e), i) => HeavyHit(lang, i + 1, t, e) }
        .iterator
    }
    docs.select(col("lang"), col("text")).as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HhState, HeavyHit](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Streaming Naive-Bayes scoring: incoming documents scored against
    * a model TRAINED OFFLINE ([[graft.analytics.TextOps.nbModel]]) —
    * the train-offline / score-online split of every production
    * quality-classifier deployment (the ingest gate that tags or
    * drops documents as they arrive). The scoring recurrence is the
    * SAME code path the batch evaluation runs
    * ([[graft.analytics.TextOps.nbScoreDocs]]): token terms and the
    * per-doc prior row union into ONE (doc, class)-keyed streaming
    * aggregation (update mode), every model lookup a broadcast
    * stream-static join. Integer scores make the streamed result
    * BIT-EQUAL to the batch scorer once all rows are processed — the
    * spec asserts exactly that.
    *
    * State: one long per (doc, class) in flight — bounded by the
    * micro-batch's document count × |classes|, aged by the sink's
    * key, never the corpus.
    */
  def nbScoreStream(docs: DataFrame, classes: DataFrame,
                    ltab: DataFrame): DataFrame =
    graft.analytics.TextOps.nbScoreDocs(
      docs.select(col("doc_id"), split(col("text"), " ").as("toks")),
      classes, ltab, carry = Seq.empty)

  /** Serving layout for [[dedupProbeStream]]'s history index: the
    * cache materialized in the join's distribution + ordering
    * (hash-partitioned and sorted on the four join keys). Honest
    * measurement (README "Dedup-probe lane profile (round 12)",
    * INTERLEAVED 6-pass A/B — the first sequential cut's apparent ~9%
    * was warmup ordering):
    * throughput is a WASH vs the plain cache, because the executed
    * plan broadcasts the batch-sized PROBE side and streams the index
    * through the join — the static side's partitioning never binds.
    * Kept as the principled layout for the sort-merge regime (probe
    * batches past the broadcast threshold), where the laid-out cache
    * satisfies the join's requirements and only the probe shuffles.
    * The real at-scale fix for this lane's O(index)-scan-per-batch
    * cost is the DISK-BACKED skipping index —
    * [[graft.analytics.TextOps.dedupIndexWrite]] /
    * `incrementalDedupPruned`: per-batch work O(batch + matching
    * files). Layout-only: same rows, same schema.
    */
  def dedupIndexLayout(historyIndex: DataFrame): DataFrame = {
    val keys = Seq("lang", "source", "band", "bucket").map(col)
    historyIndex.repartition(keys: _*).sortWithinPartitions(keys: _*)
  }

  def dedupProbeStream(docs: DataFrame, historyIndex: DataFrame,
                       minEst: Double = 0.75): DataFrame = {
    import graft.analytics.TextOps
    val probe = TextOps.bandIndexOf(docs)
    val hist = historyIndex.select(col("doc_id").as("dup_of"),
      col("sig").as("sig_h"), col("lang"), col("source"),
      col("band"), col("bucket"))
    probe.join(hist, Seq("lang", "source", "band", "bucket"))
      .filter(col("band") ===
        TextOps.firstAgreeingBand(col("sig"), col("sig_h")))
      .withColumn("est_jaccard",
        TextOps.sigAgreement(col("sig"), col("sig_h")))
      .filter(col("est_jaccard") >= minEst)
      .select(col("doc_id"), col("dup_of"), col("est_jaccard"))
  }

  /** Stream-stream interval join: each reading picks up the
    * calibration published for its sensor within the preceding hour.
    * Both sides are watermarked so Spark can bound the join state and
    * age out unmatched rows — the required shape for unbounded×
    * unbounded joins.
    */
  def joinCalibration(readings: DataFrame,
                      calibrations: DataFrame): DataFrame = {
    val r = readings.withWatermark("timestamp", "1 hour")
    val c = calibrations.withWatermark("cal_time", "2 hours")
    r.join(c,
      col("sensor_id") === col("cal_sensor_id") &&
        col("timestamp") >= col("cal_time") &&
        col("timestamp") < col("cal_time") + expr("INTERVAL 1 HOUR"))
      .select(col("sensor_id"), col("timestamp"), col("ph_value"),
        col("cal_time"), col("offset"),
        (col("ph_value") + col("offset")).as("ph_calibrated"))
  }

  /** Left-outer variant of [[joinCalibration]]: readings with NO
    * in-window calibration are still emitted (offset null, calibrated
    * value = the raw reading) — but only once the watermark PROVES no
    * matching calibration can still arrive; until then the reading is
    * held in the join state. The interval condition plus both
    * watermarks are what make the null-side emission decidable at all
    * (Spark rejects an outer stream-stream join without them). This is
    * the production enrichment shape: a missing reference row must
    * degrade the record, not drop it.
    */
  def joinCalibrationOuter(readings: DataFrame,
                           calibrations: DataFrame): DataFrame = {
    val r = readings.withWatermark("timestamp", "1 hour")
    val c = calibrations.withWatermark("cal_time", "2 hours")
    r.join(c,
      col("sensor_id") === col("cal_sensor_id") &&
        col("timestamp") >= col("cal_time") &&
        col("timestamp") < col("cal_time") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("sensor_id"), col("timestamp"), col("ph_value"),
        col("cal_time"), col("offset"),
        (col("ph_value") + coalesce(col("offset"), lit(0.0f)))
          .as("ph_calibrated"))
  }

  /** S7 stand-in: checkpointed parquet sink (the offline twin of the
    * intended Delta/MinIO sink — reference: spark_processor.py:42).
    * Default trigger drains deterministically via AvailableNow; pass
    * `Trigger.ProcessingTime(...)` for the reference's actual run mode
    * (a forever-running job, reference: spark_processor.py:43-50) —
    * the checkpoint protocol is identical, which is what the
    * mid-stream-kill soak spec pins.
    */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Lakehouse maintenance sink: each micro-batch UPSERTs into a
    * manifest-committed gold table via foreachBatch +
    * [[graft.sinks.Sinks.upsert]] — late/duplicate keys replace their
    * earlier rows instead of appending. The merged snapshot is STAGED
    * as new immutable files while the current snapshot stays live,
    * then published by [[graft.sinks.ManifestTable]]'s single atomic
    * manifest rename: a crash at any point leaves the previous
    * snapshot fully readable, with no directory-swap window at all.
    * Retention keeps the prior snapshot for in-flight readers; older
    * files are vacuumed per batch. (With Delta/Iceberg the body
    * becomes MERGE INTO; the streaming plumbing is identical.) Never
    * collects to the driver.
    */
  def toUpsertSink(df: DataFrame, path: String, checkpoint: String,
                   keys: Seq[String]): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import graft.sinks.ManifestTable
        val merged =
          if (ManifestTable.latestVersion(spark, path).isDefined)
            graft.sinks.Sinks.upsert(ManifestTable.read(spark, path),
              batch, keys)
          else ManifestTable.readLegacyParquet(spark, path) match {
            // migration: a gold table from the previous swap-based
            // sink (plain parquet at the path root) folds into
            // snapshot 0 instead of being silently shadowed
            case Some(legacy) => graft.sinks.Sinks.upsert(legacy, batch, keys)
            case None => batch
          }
        ManifestTable.replace(merged, path)
        ManifestTable.vacuum(spark, path, keepVersions = 2)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The reference's alert intent ("cảnh báo", reference README.md:6)
    * landing in the warehouse seam instead of the console: the
    * [[alerts]] state machine's stream upserted into a
    * manifest-committed gold table KEYED ON THE ALERT IDENTITY
    * (sensor_id, alert_time) via foreachBatch. foreachBatch is only
    * at-least-once (a crash between the manifest publish and the
    * checkpoint commit replays the batch), but the key-replace merge
    * makes the replay idempotent — the alert table is exactly-once
    * end to end. Same [[graft.sinks.ManifestTable]] commit protocol
    * as [[toUpsertSink]]: snapshots staged as immutable files, one
    * atomic manifest rename, vacuum keeps the prior snapshot for
    * in-flight readers.
    *
    * Round 10 takes the per-batch cost from O(table) to O(batch +
    * recent tail): the merge rides
    * [[graft.sinks.ManifestTable.upsertPruned]] — only files whose
    * recorded alert_time range intersects the batch are rewritten,
    * untouched files carry into the new manifest line-for-line, and
    * an empty batch commits nothing — and vacuum (a full data-dir
    * listing) runs every [[AlertVacuumEvery]] batches instead of
    * every batch. Replay idempotence is untouched: a replayed batch
    * prunes to the same files (a file holding a key's time always
    * intersects a batch carrying that time) and the key merge
    * dedupes, which the mid-kill soak spec still pins end to end.
    */
  val AlertVacuumEvery = 8L

  def alertsToWarehouse(readings: Dataset[SensorReading], path: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    warehouseSink(alerts(readings).toDF(), path, checkpoint, trigger)

  /** Streaming lane of the disk-backed skipping probe (round 12):
    * foreachBatch — the per-batch file prune is driver-side manifest
    * METADATA work (collecting a file list), not expressible inside a
    * continuous streaming plan — runs [[graft.analytics.TextOps
    * .probePrunedBatch]] against the committed serving index and
    * upserts the verdicts into a manifest gold table keyed by doc_id:
    * the alert lane's exactly-once pattern, so a micro-batch replayed
    * after a crash re-commits the same verdict rows instead of
    * duplicating them (doc_id is both key and pruneCol — functional
    * dependence trivially holds). Per-batch cost O(batch + matching
    * files), never O(index) — the asymptotic that lets this lane run
    * against a corpus-sized history.
    *
    * The micro-batch source executes ONCE per batch (r12 advice named
    * a triple execution here — prune collect, upsert null-probe,
    * stage write): [[graft.analytics.TextOps.probePrunedBatch]]
    * persists its signature frame and returns an eagerly materialized
    * local checkpoint, so the upsert's two actions replay blocks, not
    * the stateful plan.
    */
  def dedupProbePrunedToWarehouse(docs: DataFrame, indexPath: String,
      path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minEst: Double = 0.75): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val verdict = graft.analytics.TextOps
          .probePrunedBatch(batch, indexPath, minEst)
        graft.sinks.ManifestTable.upsertPruned(
          verdict.repartition(1), path, Seq("doc_id"), "doc_id"): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** The CLOSED daily-accretion loop on the disk serving index (r13
    * verdict #1): [[dedupProbePrunedToWarehouse]] only READ a static
    * index — this lane's foreachBatch probes batch N, upserts the
    * verdicts, and APPENDS batch N's novel signatures so batch N+1
    * flags duplicates against them (the disk twin of the in-memory
    * [[dedupProbeStream]] re-planning its static side per batch).
    *
    * Exactly-once end to end, every replay window covered:
    *  - verdict upsert: key-replace on doc_id (idempotent, the alert
    *    lane's pattern);
    *  - index append: [[graft.analytics.TextOps.probeAppendBatch]]'s
    *    txn marker (`txn-b<batchId>-` staged names riding the atomic
    *    manifest commit) makes a replayed append a detected no-op;
    *  - verdict DETERMINISM under replay: the probe's history side
    *    excludes the batch's own doc_ids, so a replay that races its
    *    predecessor's already-committed append still computes the
    *    identical verdict rows (the mid-kill soak spec drives this).
    *
    * txnIds are scoped by batchId, so ONE accreting stream per index
    * (the manifest's single-writer contract anyway). Growing tranche
    * count degrades kept-files per probe ~linearly (measured: README
    * "Round 14: the closed accretion loop, and the tranche-growth
    * bound"); the append path re-lays the index via
    * [[graft.analytics.TextOps.compactDedupIndex]] once
    * envelope overlap depth exceeds `relayDepth`.
    */
  def dedupProbeAppendToWarehouse(docs: DataFrame, indexPath: String,
      path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minEst: Double = 0.75,
      relayDepth: Int = graft.analytics.TextOps.DedupRelayDepth): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val verdict = graft.analytics.TextOps.probeAppendBatch(
          batch, indexPath, txnId = s"b$batchId",
          minEstJaccard = minEst, relayDepth = relayDepth)
        graft.sinks.ManifestTable.upsertPruned(
          verdict.repartition(1), path, Seq("doc_id"), "doc_id"): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming facts into a manifest source table WITH a continuously
    * maintained gold aggregate: each micro-batch key-merges into the
    * source ([[graft.sinks.ManifestTable.upsertPruned]] — rewrites
    * only the files the batch can touch) and then TICKS the gold
    * ([[graft.sinks.Sinks.maintainAggTable]] — applies the source's
    * net change feed to the materialized aggregate, reading only the
    * changed files). Downstream dashboards read gold: #groups rows,
    * always consistent with some committed source snapshot, never a
    * partially-applied batch.
    *
    * Exactly-once in CONTENT under foreachBatch's at-least-once
    * replay, each leg by its own mechanism: the source upsert is a
    * key-replace (a replayed batch rewrites the same keys to the same
    * values — a new, content-identical snapshot); the tick's net feed
    * over that replay window is pure rewrite noise, which
    * [[graft.sinks.ManifestTable.netChanges]] cancels to zero rows, so
    * the maintained gold is unchanged and only its watermark advances.
    * The contract inherited from upsertPruned applies: `pruneCol`
    * functionally dependent on `keys` and non-null — and rows must be
    * KEY-UNIQUE within a micro-batch (dedupe upstream; a key twice in
    * one batch would survive the merge twice, as in every key-merge
    * sink here).
    */
  def factsToMaintainedGold(facts: DataFrame, srcPath: String,
      goldPath: String, checkpoint: String,
      keys: Seq[String], pruneCol: String,
      groupCols: Seq[String], sumCols: Seq[String], countCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    facts.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.sinks.ManifestTable.upsertPruned(batch.repartition(1),
          srcPath, keys, pruneCol)
        graft.sinks.Sinks.maintainAggTable(spark, srcPath, goldPath,
          groupCols, sumCols, countCol): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming RETENTION / right-to-be-forgotten lane over the
    * merge-on-read delete: each micro-batch carries keys to forget,
    * and [[graft.sinks.ManifestTable.deleteWhereMor]] commits their
    * (file, position) pairs as a deletion-vector sidecar — O(matching
    * rows) bytes per batch, never a file rewrite, so the lane's cost
    * is independent of table size (~5 KB per thousand scattered keys,
    * README "Round 14 (continued)", "Measured bounds").
    *
    * Exactly-once WITHOUT a txn marker: foreachBatch replays are
    * idempotent BY CONSTRUCTION, because the delete scan is itself
    * DV-filtered — a replayed batch's keys are already vector-deleted,
    * nothing re-matches, deleteWhereMor returns None and no version
    * burns. (The same property makes keys duplicated ACROSS batches
    * harmless.) The commit itself is atomic, so a crash between the
    * manifest rename and the checkpoint write replays into that
    * no-op; a crash before the rename replays into a redo.
    *
    * `keyCol` must be numeric (its values drive the stats-envelope
    * prune — the [[graft.sinks.ManifestTable.deleteWhereMor]]
    * contract holds trivially: a matching row's key IS one of the
    * batch's keys, so it lies in [min, max] of them). A forget batch
    * is a regulatory key LIST — driver-small by nature; it is
    * collected to build the isin predicate and the envelope.
    */
  def forgetKeysToTable(keys: DataFrame, path: String, keyCol: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    keys.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val ks = batch.select(col(keyCol)).distinct().collect()
          .map(_.get(0)).filter(_ != null)
        if (ks.nonEmpty) {
          val ds = ks.map(_.asInstanceOf[Number].doubleValue)
          graft.sinks.ManifestTable.deleteWhereMor(spark, path,
            col(keyCol).isin(ks: _*), keyCol, ds.min, ds.max): Unit
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** TABLE REPLICATION over the change feed: subscribe to a manifest
    * table through the `graft-table` source and mirror it into
    * another manifest table — the cross-region/DR shape every
    * lakehouse runs, and the composition proof that the engine's
    * source and sink lanes close into a loop. Per micro-batch:
    * updates and inserts land as a key-replace upsert; keys present
    * only in the delete slice (a pure delete — an updated key's
    * delete row is superseded by its insert row) land as a
    * merge-on-read vector delete. Exactly-once WITHOUT txn markers:
    * the upsert is idempotent by key, and a replayed delete's keys
    * are already vector-deleted and cannot re-match. `keyCol` must be
    * the table's numeric key (same envelope contract as
    * [[forgetKeysToTable]]); the replica converges to the source
    * snapshot-by-snapshot, not byte-by-byte (its own file layout, its
    * own history).
    */
  def replicateTable(srcPath: String, dstPath: String, keyCol: String,
                     checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.readStream.format("graft-table").option("path", srcPath).load()
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val cached = batch.persist()
        try {
          val ins = cached.filter(col("_change_type") === "insert")
            .drop("_change_type")
          val del = cached.filter(col("_change_type") === "delete")
            .drop("_change_type")
          // pure deletes only: an updated key rides the upsert
          val gone = del.select(col(keyCol))
            .exceptAll(ins.select(col(keyCol)))
            .distinct().collect().map(_.get(0)).filter(_ != null)
          if (!ins.isEmpty)
            graft.sinks.ManifestTable.upsertPruned(
              ins.repartition(1), dstPath, Seq(keyCol), keyCol): Unit
          if (gone.nonEmpty) {
            val ds = gone.map(_.asInstanceOf[Number].doubleValue)
            graft.sinks.ManifestTable.deleteWhereMor(sp, dstPath,
              col(keyCol).isin(gone: _*), keyCol, ds.min, ds.max): Unit
          }
        } finally cached.unpersist(blocking = false): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  private def warehouseSink(alertStream: org.apache.spark.sql.DataFrame,
                            path: String, checkpoint: String,
                            trigger: Trigger): StreamingQuery =
    alertStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.sinks.ManifestTable
        // one staged file per commit: without this each micro-batch
        // stages shuffle-partition-many Kb-sized part files, and
        // staging + stats + manifest lines all pay that fan-out
        // forever. repartition (NOT coalesce: coalesce propagates the
        // 1-partition constraint down into the stateful stage itself —
        // measured 28% slower) adds one tiny shuffle of the alert rows
        // while the state machinery keeps its parallelism. Real
        // deployments size this to ~128 MB files instead of 1.
        ManifestTable.upsertPruned(batch.repartition(1), path,
          Seq("sensor_id", "alert_time"), "alert_time")
        if (batchId % AlertVacuumEvery == AlertVacuumEvery - 1)
          ManifestTable.vacuum(spark, path, keepVersions = 2)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** T8/S2: rate-paced replay of a bounded frame as a stream — the
    * Spark-native twin of the reference's 1 msg/s producer loop
    * (reference: kafka/producer.py:47): the rate source ticks, each
    * tick joined to the next indexed row.
    */
  def replayStream(spark: SparkSession, bounded: DataFrame,
                   rowsPerSecond: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOTE: the un-partitioned window imposes a total order, i.e. a
    // single-partition sort — inherent to faithful 1-at-a-time replay
    // (which is itself serial by definition) and only acceptable here;
    // never use an un-partitioned window on a data path at scale.
    val indexed = bounded.withColumn("_replay_idx",
      row_number().over(Window.orderBy(bounded.columns.map(col): _*)) - 1)
    graft.ingest.Sources.rateStream(spark, rowsPerSecond)
      .join(broadcast(indexed), col("value") === col("_replay_idx"))
      .drop("value", "_replay_idx")
  }

  /** S6: the reference's console sink, config-identical (reference:
    * streaming/spark_processor.py:43-47).
    */
  def toConsole(df: DataFrame): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("console")
      .option("truncate", "false")
      .start()

  /** S4: Kafka-sink framing — each row JSON-serialized into `value`
    * exactly as the reference producer does (reference:
    * kafka/producer.py:24). Attach to .write.format("kafka") or
    * .writeStream in a brokered deployment.
    */
  def toKafkaJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
}
