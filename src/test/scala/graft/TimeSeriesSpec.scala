package graft

import org.apache.spark.sql.functions._
import graft.analytics.{Events, TimeSeries}

/** Properties of the time-axis analytics that the DuckDB hash gates
  * can't see from the outside: the banded interval join's equivalence
  * to the brute-force inequality join, the rolling-window expansion's
  * equivalence to per-day re-scans, and the cohort cube's internal
  * consistency.
  */
class TimeSeriesSpec extends SparkSpec {

  test("banded interval join equals the brute-force inequality join") {
    val banded = TimeSeries.intervalOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_incidents"), r.getAs[Long]("overlap_s"))).toMap

    val ses = Events.sessions(spark, sf)
      .select(col("user_id"), col("session_id"),
        col("session_start_s").as("s_lo"), col("session_end_s").as("s_hi"))
    val inc = graft.ingest.Sources.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(
        (unix_timestamp(col("ts")) - TimeSeries.IncidentPadSeconds).as("i_lo"),
        (unix_timestamp(col("ts")) + TimeSeries.IncidentPadSeconds).as("i_hi"))
    // brute force: broadcast-nested-loop over the raw inequality
    val brute = ses.join(broadcast(inc),
        col("s_lo") <= col("i_hi") && col("i_lo") <= col("s_hi"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_incidents"),
        sum(least(col("s_hi"), col("i_hi")) -
          greatest(col("s_lo"), col("i_lo"))).as("overlap_s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_incidents"), r.getAs[Long]("overlap_s"))).toMap

    assert(banded == brute,
      s"banding diverges from brute force: ${banded.size} vs ${brute.size} pairs")
    assert(banded.nonEmpty, "no overlapping session/incident pairs at all")
  }

  test("banded interval join stays an equi-join (no nested-loop, no cartesian)") {
    val p = plan(TimeSeries.intervalOverlap(spark, sf))
    assert(!p.contains("CartesianProduct"), "banded join planned a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "banded join fell back to a nested loop — banding didn't produce an equi-key")
  }

  test("rolling 7-day distinct actives equals per-day recomputation") {
    val out = TimeSeries.rollingActiveUsers(spark, sf).collect()
      .map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("users_7d"), r.getAs[Long]("users_1d"))).toMap

    val pairs = graft.ingest.Sources.events(spark, sf)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = pairs.map(_._2)
    assert(out.keySet == (days.min to days.max).toSet,
      "output days are not exactly the observed calendar range")
    out.foreach { case (day, (w7, w1)) =>
      val expected7 = pairs.collect {
        case (u, d) if d >= day - 6 && d <= day => u
      }.distinct.length.toLong
      val expected1 = pairs.collect { case (u, d) if d == day => u }
        .distinct.length.toLong
      assert(w7 == expected7, s"users_7d wrong on day $day: $w7 != $expected7")
      assert(w1 == expected1, s"users_1d wrong on day $day: $w1 != $expected1")
    }
  }

  test("fixed-point EMA equals a driver-side sequential fold") {
    val out = TimeSeries.sensorEma(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("ema_cents")).toMap
    val seqs = graft.ingest.Sources.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(t => (t._1, t._2)).map(_._3)).toMap
    val a = TimeSeries.EmaAlphaPct
    seqs.foreach { case (u, cs) =>
      // the contract is truncating division (Spark DIV ≡ DuckDB
      // integer // ≡ Java /), not floorDiv
      val expect = cs.tail.foldLeft(cs.head) {
        (acc, x) => (a * x + (100 - a) * acc) / 100
      }
      assert(out(u) == expect, s"EMA fold mismatch for user $u")
    }
    assert(out.keySet == seqs.keySet)
  }

  test("MAD fence flags exactly the points beyond 3*1.4826*MAD") {
    import graft.analytics.Quality
    val rows = Quality.madOutliers(spark, sf).collect()
    val vals = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def interp(xs: Array[Double], q: Double): Double = {
      val pos = q * (xs.length - 1)
      val lo = pos.toInt
      if (lo == xs.length - 1) xs(lo)
      else xs(lo) + (pos - lo) * (xs(lo + 1) - xs(lo))
    }
    rows.foreach { r =>
      val et = r.getString(0)
      val xs = vals(et)
      val med = interp(xs, 0.5)
      val mad = interp(xs.map(v => math.abs(v - med)).sorted, 0.5)
      val fence = 3 * 1.4826 * mad
      val expected = xs.count(v => math.abs(v - med) > fence).toLong
      assert(r.getAs[Long]("n_outliers") == expected,
        s"outlier count mismatch for $et")
      assert(math.abs(r.getAs[Double]("mad") -
        BigDecimal(mad).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("cohort cube is internally consistent") {
    val rows = TimeSeries.cohortRetention(spark, sf).collect()
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_yr"))
    byCohort.foreach { case (c, rs) =>
      val offsets = rs.map(_.getAs[Long]("yr_offset"))
      assert(offsets.contains(0L), s"cohort $c missing its own offset-0 cell")
      val base = rs.find(_.getAs[Long]("yr_offset") == 0L).get
      assert(base.getAs[Double]("retention") == 1.0,
        s"cohort $c offset-0 retention must be 1.0")
      rs.foreach { r =>
        assert(r.getAs[Double]("retention") <= 1.0 &&
          r.getAs[Double]("retention") > 0.0)
        assert(r.getAs[Long]("n_cust") <= base.getAs[Long]("n_cust"),
          s"cohort $c has an offset larger than its base")
      }
    }
    // offset-0 cells partition all customers: every customer is in
    // exactly one cohort (its first-order year)
    val totalBase = byCohort.values
      .map(_.find(_.getAs[Long]("yr_offset") == 0L).get.getAs[Long]("n_cust")).sum
    val nCustomers = graft.ingest.Sources.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(totalBase == nCustomers,
      s"cohort bases sum to $totalBase but there are $nCustomers ordering customers")
  }

  test("generic overlap join equals a nested loop on random intervals (property)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rng = new scala.util.Random(7341)
    // random intervals, including negatives (exercises trunc-div
    // bucketing around zero), touching endpoints and containments
    def mk(prefix: String, n: Int) = (0 until n).map { i =>
      val lo = rng.nextLong() % 100000L - 20000L
      Row(prefix match { case "l" => i.toLong; case _ => 1000L + i },
        lo, lo + rng.nextInt(5000).toLong)
    }
    def df(rows: Seq[Row], id: String, lo: String, hi: String) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField(id, LongType),
          StructField(lo, LongType), StructField(hi, LongType))))
    val l = df(mk("l", 120), "lid", "l_lo", "l_hi")
    val r = df(mk("r", 90), "rid", "r_lo", "r_hi")
    val banded = graft.operators.Intervals
      .overlapJoin(l, r, "l_lo", "l_hi", "r_lo", "r_hi", bucket = 1024)
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val brute = l.crossJoin(r)
      .filter(col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(banded.length == banded.distinct.length,
      "banded join emitted a pair more than once")
    assert(banded.toSet == brute.toSet,
      s"banded ${banded.length} pairs != brute ${brute.length}")
    assert(brute.nonEmpty, "degenerate fixture: no overlaps at all")
  }

  test("overlap join fails loud on inverted intervals and oversized spans") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def df(rows: Seq[Row], id: String, lo: String, hi: String) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField(id, LongType),
          StructField(lo, LongType), StructField(hi, LongType))))
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val good = df(Seq(Row(1L, 0L, 10L)), "rid", "r_lo", "r_hi")
    // hi < lo: sequence() would silently generate a DESCENDING range —
    // must raise with the offending bounds instead
    val inverted = df(Seq(Row(1L, 100L, 50L)), "lid", "l_lo", "l_hi")
    val e1 = intercept[Exception] {
      graft.operators.Intervals
        .overlapJoin(inverted, good, "l_lo", "l_hi", "r_lo", "r_hi",
          bucket = 10).collect()
    }
    assert(msgs(e1).contains("overlapJoin") && msgs(e1).contains("100"),
      s"expected guarded failure naming the bounds, got: ${msgs(e1)}")
    // a span wider than maxSpanBuckets would fan out to millions of
    // rows — must raise, not dominate the shuffle
    val wide = df(Seq(Row(1L, 0L, 1000000L)), "lid", "l_lo", "l_hi")
    val e2 = intercept[Exception] {
      graft.operators.Intervals
        .overlapJoin(wide, good, "l_lo", "l_hi", "r_lo", "r_hi",
          bucket = 10, maxSpanBuckets = 1000).collect()
    }
    assert(msgs(e2).contains("oversized"),
      s"expected span-cap failure, got: ${msgs(e2)}")
    // NULL bounds (e.g. from an upstream outer join): the overlap
    // predicate's inferred not-null constraints push below the
    // fan-out, so the row is DROPPED before it can explode or join —
    // never a null-message crash (and the guard's message coalesces
    // NULL for any plan where the inference doesn't fire)
    val withNull = df(Seq(Row(1L, 5L, 9L)), "lid", "l_lo", "l_hi")
      .union(spark.sql("SELECT 2L, CAST(NULL AS LONG), 9L"))
    val out3 = graft.operators.Intervals
      .overlapJoin(withNull, good, "l_lo", "l_hi", "r_lo", "r_hi",
        bucket = 10)
      .select(col("lid")).collect().map(_.getLong(0)).toSet
    assert(out3 == Set(1L),
      s"NULL-bound row must drop, valid row must join: got $out3")
    // valid rows at the default cap are untouched
    val ok = graft.operators.Intervals
      .overlapJoin(good.withColumnRenamed("rid", "lid")
          .withColumnRenamed("r_lo", "l_lo").withColumnRenamed("r_hi", "l_hi"),
        good, "l_lo", "l_hi", "r_lo", "r_hi", bucket = 10)
    assert(ok.count() == 1)
  }

  test("Holt trend equals a driver-side fold of the coupled recurrences; fixture exercises negative trend") {
    val out = TimeSeries.holtTrend(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("level_cents"), r.getAs[Long]("trend_cents"),
          r.getAs[Long]("forecast3_cents"))).toMap
    val seqs = graft.ingest.Sources.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(t => (t._1, t._2)).map(_._3)).toMap
    val a = TimeSeries.HoltAlphaPct; val b = TimeSeries.HoltBetaPct
    var sawNegative = false
    seqs.foreach { case (u, cs) =>
      // truncating division — the Spark DIV / DuckDB // contract
      var l = cs.head; var t = 0L
      cs.tail.foreach { x =>
        val ln = (a * x + (100 - a) * (l + t)) / 100
        t = (b * (ln - l) + (100 - b) * t) / 100
        if (t < 0) sawNegative = true
        l = ln
      }
      assert(out(u) == ((l, t, l + 3 * t)), s"Holt fold mismatch for user $u")
    }
    assert(out.keySet == seqs.keySet)
    // the truncation-vs-floor distinction only exists on negative
    // states — the fixture must reach one or this test proves nothing
    // about the division contract
    assert(sawNegative, "no user's trend state went negative — vacuous")
  }

  test("CUSUM closed form equals the textbook recurrence, per user") {
    // the operator computes S via prefix-sum − running-min; the
    // definition is the stateful fold S_i = max(0, S_{i-1} + d_i).
    // Recompute the fold on the driver for every user in the fixture
    // and compare all emitted aggregates.
    val rows = graft.ingest.Sources.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val hiRef = TimeSeries.CusumTargetCents + TimeSeries.CusumSlackCents
    val loRef = TimeSeries.CusumTargetCents - TimeSeries.CusumSlackCents
    val h = TimeSeries.CusumThresholdCents
    val expect = rows.groupBy(_._1).map { case (u, rs) =>
      var sHi = 0L; var sLo = 0L
      var maxHi = 0L; var maxLo = 0L
      var nHi = 0L; var nLo = 0L
      var firstHi: Option[Long] = None; var firstLo: Option[Long] = None
      rs.sortBy(r => (r._2, r._3)).foreach { case (_, us, _, c) =>
        sHi = math.max(0L, sHi + (c - hiRef))
        sLo = math.max(0L, sLo - (c - loRef))
        maxHi = math.max(maxHi, sHi); maxLo = math.max(maxLo, sLo)
        if (sHi > h) { nHi += 1; if (firstHi.isEmpty) firstHi = Some(us) }
        if (sLo > h) { nLo += 1; if (firstLo.isEmpty) firstLo = Some(us) }
      }
      u -> (rs.length.toLong, maxHi, maxLo, nHi, nLo, firstHi, firstLo)
    }
    val got = TimeSeries.cusumShift(spark, sf).collect().map { r =>
      r.getLong(0) -> (r.getAs[Long]("n_events"),
        r.getAs[Long]("max_cusum_hi_cents"), r.getAs[Long]("max_cusum_lo_cents"),
        r.getAs[Long]("n_alarms_hi"), r.getAs[Long]("n_alarms_lo"),
        Option(r.getAs[java.lang.Long]("first_alarm_hi_us")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("first_alarm_lo_us")).map(_.toLong))
    }.toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (u, e) =>
      assert(got(u) == e, s"user $u: got ${got(u)}, recurrence says $e")
    }
    // non-vacuity: the fixture must actually trip at least one alarm
    assert(expect.values.exists(v => v._4 > 0 || v._5 > 0),
      "fixture trips no CUSUM alarm — thresholds make the test vacuous")
  }

  test("CUSUM flags a planted persistent shift but not a lone spike") {
    import spark.implicits._
    // base series hugs the target; one user gets a +15.00 persistent
    // shift (drifts 10.00/event past slack → alarms after ~20 events),
    // the other a single huge spike (big excursion but bounded excess)
    val base = (1 to 60).map(i => (1L, i.toLong, 1000000L + i * 1000L, 5000L))
    val shifted = (1 to 60).map(i => (2L, 100 + i.toLong, 1000000L + i * 1000L,
      if (i > 20) 6500L else 5000L))
    val spike = (1 to 60).map(i => (3L, 200 + i.toLong, 1000000L + i * 1000L,
      if (i == 30) 25000L else 5000L))
    val df = (base ++ shifted ++ spike)
      .toDF("user_id", "event_id", "us", "cents")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"),
        (col("cents") / 100.0).as("value"),
        lit("view").as("event_type"), lit("{}").as("props"))
    val dir = tempDir("cusum")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TimeSeries.cusumShift(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("shifted")).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 0),
      s"persistent shift must alarm, steady series and lone spike must not: $out")
  }

  test("ACF: period-2 series gives -1 at lag 1 and +1 at lag 2") {
    import spark.implicits._
    // one event per day for 14 days, value alternating 10.00 / 20.00 —
    // daily sums form a period-2 series whose autocorrelation is
    // exactly -1 at odd lags and +1 at even lags
    val rows = (0 until 14).map { d =>
      (1L, d.toLong, s"2024-01-${"%02d".format(d + 1)} 12:00:00",
        if (d % 2 == 0) 10.0 else 20.0)
    }
    val df = rows.toDF("user_id", "event_id", "ts_s", "value")
      .select(col("user_id"), col("event_id"),
        to_timestamp(col("ts_s")).as("ts"), col("value"),
        lit("view").as("event_type"), lit("{}").as("props"))
    val dir = tempDir("acf")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val acf = TimeSeries.acfDaily(spark, dir).collect()
      .map(r => r.getAs[Int]("lag") ->
        (r.getAs[Long]("n"), Option(r.getAs[Double]("acf")))).toMap
    assert(acf(1) == (13L, Some(-1.0)), s"lag 1: ${acf(1)}")
    assert(acf(2) == (12L, Some(1.0)), s"lag 2: ${acf(2)}")
    assert(acf(3)._2.contains(-1.0) && acf(4)._2.contains(1.0))
    // n shrinks by one per extra lag (fewer aligned pairs)
    assert((1 to 7).forall(l => acf(l)._1 == 14L - l))
  }

  test("Theil-Sen trend: replays a driver-side pairwise-median; pair counts are C(days,2)") {
    import graft.analytics.TimeSeries
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("d"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("cents")).as("cents"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (et, rows) =>
        et -> rows.map(r => r.getAs[Int]("d") -> r.getAs[Long]("cents")).sortBy(_._1)
      }
    val expected = daily.map { case (et, series) =>
      val slopes = (for {
        i <- series.indices; j <- (i + 1) until series.length
      } yield (series(j)._2 - series(i)._2).toDouble /
          (series(j)._1 - series(i)._1).toDouble).sorted
      et -> (slopes.length.toLong,
        BigDecimal(slopes((slopes.length + 1) / 2 - 1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = TimeSeries.theilSenTrend(spark, sf).collect().map(r =>
      r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("ts_slope"))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (et, (n, slope)) =>
      assert(got(et)._1 == n, s"$et n_pairs: got ${got(et)._1}, want $n")
      assert(math.abs(got(et)._2 - slope) < 1e-9,
        s"$et slope: got ${got(et)._2}, want $slope")
      val days = daily(et).length.toLong
      assert(n == days * (days - 1) / 2, s"$et pair count is not C(days,2)")
    }
  }

  test("seasonal profile: weighted-mean identity and driver replay of the two-step ratio") {
    import graft.analytics.TimeSeries
    val out = TimeSeries.seasonalProfile(spark, sf).collect()
    assert(out.nonEmpty)
    val byType = out.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (et, rows) =>
      assert(rows.map(_.getAs[Long]("dow")).toSet.subsetOf((0L to 6L).toSet))
      // identity: day-count-weighted mean of the dow means is the
      // grand mean, so sum(n_dow * idx)/n_total ~ 1e6 (up to the two
      // floor steps: each row floors twice, so the weighted mean can
      // undershoot by at most ~(1 + idx/1e6) per step)
      val nTot = rows.map(_.getAs[Long]("n_days_dow")).sum
      val wsum = rows.map(r =>
        r.getAs[Long]("n_days_dow") * r.getAs[Long]("seasonal_ppm")).sum
      val wm = wsum.toDouble / nTot
      assert(math.abs(wm - 1e6) < 2500, s"$et weighted mean $wm far from 1e6")
      rows.foreach(r => assert(r.getAs[Long]("seasonal_ppm") > 0))
    }
    // driver replay of the exact two-step arithmetic for one type
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("di"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("di")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getString(0), r.getAs[Int]("di").toLong, r.getAs[Long]("c")))
    val one = daily.map(_._1).head
    val mine = daily.filter(_._1 == one)
    val tot = mine.map(_._3).sum; val n = mine.length.toLong
    val expect = mine.groupBy(_._2 % 7).map { case (dow, ds) =>
      dow -> ((1000000L * ds.map(_._3).sum) / tot * n / ds.length)
    }
    out.filter(_.getAs[String]("event_type") == one).foreach { r =>
      assert(r.getAs[Long]("seasonal_ppm") == expect(r.getAs[Long]("dow")),
        s"dow ${r.getAs[Long]("dow")} does not replay")
    }
  }

  test("event burstiness: Fano replays driver-side over the dense spine; zero-days counted") {
    import graft.analytics.TimeSeries
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("di"))
      .groupBy(col("event_type"), col("di")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val lo = daily.map(_._2).min; val hi = daily.map(_._2).max
    val out = TimeSeries.eventBurstiness(spark, sf).collect()
    out.foreach { r =>
      val et = r.getAs[String]("event_type")
      val mine = daily.filter(_._1 == et).map(t => t._2 -> t._3).toMap
      val counts = (lo to hi).map(d => mine.getOrElse(d, 0L))
      val nDays = counts.length.toLong
      assert(r.getAs[Long]("n_days") == nDays)
      assert(r.getAs[Long]("n_events") == counts.sum)
      val mean = counts.sum.toDouble / nDays
      val s2 = counts.map(c => c.toDouble * c).sum / nDays
      val fano = (s2 - mean * mean) / mean
      assert(r.getAs[Long]("mean_milli") == math.floor(mean * 1000).toLong)
      assert(r.getAs[Long]("fano_milli") == math.floor(fano * 1000).toLong,
        s"$et fano does not replay")
    }
    assert(out.nonEmpty)
  }

  test("rolling median: each value is the exact 4th order statistic of its 7-row window") {
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("di"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("di")).agg(sum(col("c")).as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
    val out = TimeSeries.rollingMedian(spark, sf).collect()
    assert(out.nonEmpty)
    // suppression: exactly days-6 rows per type, and each med replays
    val byType = out.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (et, rows) =>
      val series = daily(et)
      assert(rows.length == math.max(0, series.length - 6), et)
      rows.sortBy(_.getAs[Int]("day_idx")).zipWithIndex.foreach {
        case (r, i) =>
          val window = series.slice(i, i + 7).sorted
          assert(r.getAs[Long]("med_cents") == window(3),
            s"$et window $i median")
      }
    }
  }

  test("lerp gap fill: total grid, exact at observations, bounded inside gaps") {
    val out = TimeSeries.gapFillLerp(spark, sf).collect()
    assert(out.nonEmpty)
    val byUser = out.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("hr"))
      // dense grid: consecutive hours, no holes
      val hrs = sorted.map(_.getAs[Long]("hr"))
      assert(hrs.zip(hrs.tail).forall { case (a, b) => b == a + 1 })
      // every filled value lies within [min, max] of the observed rows
      val obs = sorted.filter(!_.getAs[Boolean]("is_gap"))
        .map(_.getAs[Long]("value_lerp_micro"))
      if (obs.nonEmpty) {
        val (lo, hi) = (obs.min, obs.max)
        sorted.foreach { r =>
          val v = r.getAs[Long]("value_lerp_micro")
          assert(v >= lo - 1 && v <= hi + 1,
            s"interpolated $v escapes observed envelope [$lo, $hi]")
        }
      }
    }
    // no value is null (totality: leading/trailing gaps back/forward fill)
    assert(out.forall(!_.isNullAt(2)))
  }

  test("AR(1) fit: phi replays from exact moments of consecutive-day pairs") {
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("di"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("di")).agg(sum(col("c")).as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val out = TimeSeries.ar1Fit(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val et = r.getAs[String]("event_type")
      val series = daily(et)
      val pairs = series.zip(series.tail)
        .filter { case (a, b) => b._2 == a._2 + 1 }
        .map { case (a, b) => (a._3, b._3) }
      assert(r.getAs[Long]("n_pairs") == pairs.length, s"$et n_pairs")
      val n = pairs.length.toDouble
      val sx = pairs.map(_._1).sum.toDouble
      val sy = pairs.map(_._2).sum.toDouble
      val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
      val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
      val den = n * sxx - sx * sx
      if (den != 0) {
        val phi = (n * sxy - sx * sy) / den
        assert(math.abs(r.getAs[Double]("phi") - phi) < 1e-5, s"$et phi")
        val mu = (sy - phi * sx) / n
        assert(math.abs(r.getAs[Double]("mu_cents") - mu) < 1e-3, s"$et mu")
      }
      val r1 = r.getAs[Double]("r1")
      assert(r1 >= -1.0 - 1e-9 && r1 <= 1.0 + 1e-9, s"$et r1 out of range")
    }
  }

  test("STL-lite: additive identity closes exactly; trend and seasonal replay") {
    val out = TimeSeries.stlLite(spark, sf).collect()
    assert(out.nonEmpty)
    // exact identity on every row
    out.foreach { r =>
      assert(r.getAs[Long]("cents") ==
        r.getAs[Long]("trend") + r.getAs[Long]("seasonal") +
          r.getAs[Long]("residual"), "identity broken")
    }
    // trend replays as the centered 7-day integer mean
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("di"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("di")).agg(sum(col("c")).as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    out.groupBy(_.getAs[String]("event_type")).foreach { case (et, rows) =>
      val series = daily(et)
      val byDay = rows.map(r => r.getAs[Int]("day_idx") -> r).toMap
      series.sliding(7).foreach { win =>
        if (win.length == 7) {
          val center = win(3)
          byDay.get(center._2).foreach { r =>
            assert(r.getAs[Long]("trend") == win.map(_._3).sum / 7,
              s"$et trend at ${center._2}")
          }
        }
      }
      // seasonal: one value per weekday, floor of the detrended mean
      val seas = rows.groupBy(_.getAs[Int]("day_idx") % 7)
      seas.foreach { case (_, rs) =>
        assert(rs.map(_.getAs[Long]("seasonal")).distinct.length == 1,
          s"$et seasonal not constant per weekday")
      }
    }
  }

  test("forecast backtest: sMAPE/MAE recompute from the daily table; holdout window exact") {
    import org.apache.spark.sql.functions._
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("d"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "d").agg(sum("cents").as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byKey = daily.map { case (t, d, c) => (t, d) -> c }.toMap
    val rows = graft.analytics.TimeSeries.forecastBacktest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getString(0)
      val hold = daily.filter { case (tt, d, _) =>
        tt == t && d >= graft.analytics.TimeSeries.BacktestFromDay &&
          byKey.contains((tt, d - 7)) }
      val terms = hold.map { case (_, d, a) =>
        val f = byKey((t, d - 7))
        (2000000L * math.abs(f - a) / (f + a), math.abs(f - a), f - a)
      }
      assert(r.getAs[Long]("n_days") == hold.length.toLong)
      assert(r.getAs[Long]("smape_ppm") == terms.map(_._1).sum / hold.length)
      assert(r.getAs[Long]("mae_cents") == terms.map(_._2).sum / hold.length)
      assert(r.getAs[Long]("bias_cents") == terms.map(_._3).sum)
      assert(r.getAs[Long]("smape_ppm") >= 0L &&
        r.getAs[Long]("smape_ppm") <= 2000000L)
    }
  }

  test("SAX motifs: symbols recompute from PAA quartiles; motif is the true argmax") {
    import org.apache.spark.sql.functions._
    val rows = graft.analytics.TimeSeries.saxMotifs(spark, sf).collect()
    assert(rows.nonEmpty)
    val daily = graft.ingest.Sources.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("d"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "d").agg(sum("cents").as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    rows.foreach { r =>
      val t = r.getString(0)
      val series = daily.filter(_._1 == t).sortBy(_._2).map(_._3)
      val paa = series.grouped(2).filter(_.length == 2)
        .map(seg => seg.sum / 2).toArray
      val sortedV = paa.zipWithIndex.sortBy(x => (x._1, x._2)).map(_._1)
      val n = paa.length
      val (q1, q2, q3) = (sortedV((n + 3) / 4 - 1),
        sortedV((n + 1) / 2 - 1), sortedV((3 * n + 3) / 4 - 1))
      val syms = paa.map(v =>
        if (v <= q1) "a" else if (v <= q2) "b" else if (v <= q3) "c" else "d")
      val words = syms.sliding(4).filter(_.length == 4).map(_.mkString)
        .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val best = words.toSeq.minBy { case (w2, c) => (-c, w2) }
      assert(r.getAs[String]("motif") == best._1,
        s"$t motif ${r.getAs[String]("motif")} != ${best._1}")
      assert(r.getAs[Long]("n") == best._2)
      // the alphabet is genuinely used (quartile split of a 15-point
      // series cannot put everything in one symbol)
      assert(syms.distinct.length >= 2, s"$t degenerate symbolization")
    }
  }

  test("cohort LTV: per-head curve is monotone and recomputes from raw orders") {
    import org.apache.spark.sql.functions._
    val rows = graft.analytics.TimeSeries.cohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = graft.ingest.Sources.orders(spark, sf)
      .select(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cohortOf = raw.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    rows.groupBy(_.getLong(0)).foreach { case (cy, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      // cumulative per-head value never decreases along the curve
      val ltv = sorted.map(_.getAs[Long]("ltv_micro_per_head"))
      assert(ltv.zip(ltv.tail).forall { case (a, b) => b >= a },
        s"cohort $cy LTV not monotone: ${ltv.toSeq}")
      // cohort size = members whose first year is cy
      val size = cohortOf.count(_._2 == cy).toLong
      assert(sorted.head.getAs[Long]("cohort_size") == size)
      // recompute one cell's cumulative cents
      val off = sorted.last.getLong(1)
      val cum = raw.filter { case (c, y, _) =>
        cohortOf(c) == cy && y - cy <= off }.map(_._3).sum
      assert(sorted.last.getAs[Long]("cum_cents") == cum)
      assert(sorted.last.getAs[Long]("ltv_micro_per_head") ==
        cum * 10000L / size)
    }
  }
}
