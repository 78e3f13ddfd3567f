package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

class ScaleSpec extends SparkSpec {

  test("incremental snapshot+delta merge equals the one-pass aggregate, filters pushed") {
    val incr = Scale.incrementalAgg(spark, sf)
    val naive = graft.ingest.Sources.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice")).as("_sum"), count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"),
        round(col("_sum"), 2).as("revenue"),
        col("n_orders"),
        round(round(col("_sum"), 2) / col("n_orders"), 4).as("avg_price"))
    assert(incr.count() == naive.count())
    assert(incr.except(naive).count() == 0 && naive.except(incr).count() == 0)
    // both sub-scans must push their date filter into parquet — the
    // whole point is that the delta side reads one partition, not all
    val p = plan(incr)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate")
      || p.contains("LessThan(o_orderdate"),
      s"snapshot date filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"delta date filter not pushed:\n$p")
  }

  test("distributedNtile is bit-identical to window ntile for several n, both directions") {
    import org.apache.spark.sql.functions._
    val orders = graft.ingest.Sources.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // a frame whose count is NOT divisible by any tested n, so the
    // front-loaded remainder buckets are exercised every time
    val probe = orders.filter(col("o_orderkey") % 7 =!= 0)
    for (n <- Seq(3, 5, 10)) {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val expected = probe
        .withColumn("t", ntile(n).over(w))
        .select(col("o_orderkey"), col("t"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = graft.operators.Scale.distributedNtile(
          probe, n, round(col("o_totalprice") * 100), col("o_orderkey"), "t")
        .select(col("o_orderkey"), col("t"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == expected, s"ntile($n) diverges")
    }
    // descending basis via negation (the RFM recency path)
    val wd = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_custkey").desc, col("o_orderkey").asc)
    val expD = probe.withColumn("t", ntile(5).over(wd))
      .select(col("o_orderkey"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotD = graft.operators.Scale.distributedNtile(
        probe, 5, -col("o_custkey"), col("o_orderkey"), "t")
      .select(col("o_orderkey"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotD == expD, "descending-basis ntile diverges")
  }

  test("randomized differential: rank family equals window forms on adversarial frames") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // seeded generator: duplicate-heavy bases (forced ties), negative
    // values, tiny and mid-size frames, varied n — the shapes the
    // closed-form ntile and the shard-offset algebra could get wrong
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 6) {
      val size = 1 + rnd.nextInt(300)
      val n = 2 + rnd.nextInt(11)
      val dupRange = 1 + rnd.nextInt(20) // small range ⇒ many ties
      val rows = (1 to size).map { i =>
        (i.toLong, (rnd.nextInt(2 * dupRange) - dupRange).toLong,
          rnd.nextInt(1000).toLong)
      }
      val df = rows.toDF("k", "b", "v")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("b").asc, col("k").asc)
      val expN = df.withColumn("t", ntile(n).over(w))
        .select(col("k"), col("t")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val gotN = graft.operators.Scale.distributedNtile(
          df, n, col("b"), col("k"), "t")
        .select(col("k"), col("t")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(gotN == expN, s"trial $trial: ntile($n) diverges at size $size")
      val expR = df.withColumn("r", row_number().over(w).cast("long"))
        .select(col("k"), col("r")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotR = graft.operators.Scale.distributedRowNumber(
          df, col("b"), col("k"), "r")
        .select(col("k"), col("r")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotR == expR, s"trial $trial: row_number diverges")
      val wc = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val expS = df.withColumn("c", sum(col("v")).over(wc))
        .select(col("k"), col("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotS = graft.operators.Scale.distributedPrefixSum(
          df, col("b"), col("k"), col("v"), "c")
        .select(col("k"), col("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotS == expS, s"trial $trial: prefix sum diverges")
    }
  }

  test("zipfian basis: equi-depth shards stay balanced with 90% of rows on ONE value, outputs bit-identical") {
    val spark2 = spark
    import spark2.implicits._
    // the round-9 equi-width buckets' conceded worst case: a heavy-
    // tailed basis where one value holds 90% of the mass — equi-width
    // sharding piles it into a single shard (parallelism 1); the
    // round-10 equi-depth boundaries must split the hot value by KEY
    // quantiles and keep every shard within a small constant of ideal
    val n = 20000
    val rnd = new scala.util.Random(7)
    val rows = (1 to n).map { i =>
      val b = if (i % 10 != 0) 42L else rnd.nextInt(1000).toLong - 500L
      (i.toLong, b, (1 + rnd.nextInt(5)).toLong)
    }
    val df = rows.toDF("k", "b", "v")
    val sharded = Scale.shardedFrame(df, col("b"), col("k"), "z")
    val counts = sharded.groupBy(col("_s_z")).count()
      .collect().map(_.getLong(1))
    val ideal = n.toDouble / Scale.NtileShards
    assert(counts.length > Scale.NtileShards.toInt / 2,
      s"hot value not split across shards: only ${counts.length} shards used")
    assert(counts.max <= 4 * ideal,
      s"shard imbalance under zipfian basis: max ${counts.max} rows vs ideal $ideal")
    // and the rank family stays bit-identical to the window forms on
    // exactly this adversarial frame
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b").asc, col("k").asc)
    val expR = df.withColumn("r", row_number().over(w).cast("long"))
      .select(col("k"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotR = Scale.distributedRowNumber(df, col("b"), col("k"), "r")
      .select(col("k"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotR == expR, "zipfian row_number diverges from window form")
    val expN = df.withColumn("t", ntile(7).over(w))
      .select(col("k"), col("t")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotN = Scale.distributedNtile(df, 7, col("b"), col("k"), "t")
      .select(col("k"), col("t")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotN == expN, "zipfian ntile diverges from window form")
  }

  test("distributedGroupedRowNumber equals per-group window ranks; totals match; cap falls back to the window") {
    val spark2 = spark
    import spark2.implicits._
    // per-group zipfian: group "g0" piles 90% of its basis mass on one
    // value (the in-group worst case), the others spread; unique keys
    // keep the window form a total order so bit-equality is exact
    val rnd = new scala.util.Random(31)
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 5}"
      val b = if (i % 5 == 0 && i % 10 != 5) 7L
              else rnd.nextInt(100).toLong - 50L
      (g, i.toLong, b)
    }
    val df = rows.toDF("g", "k", "b")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("b").asc, col("k").asc)
    val exp = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .select(col("k"), col("rn"), col("n")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = Scale.distributedGroupedRowNumber(
        df, col("g"), col("b"), col("k"), "rn", totalOut = Some("n"))
      .select(col("k"), col("rn"), col("n")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp, "grouped rank diverges from the partitioned window form")
    // past the cap the operator FALLS BACK to the plain partitioned
    // window (round 11 — previously a hard error): a corpus-scaled
    // key's window parallelism already grows with the domain, so the
    // right behavior is identical output via the window plan, not an
    // exception. 2,000 groups × a few rows each, ranks + totals
    // bit-equal to the window form.
    val nWide = 2000
    val wideRows = (1 to nWide).flatMap { g =>
      (1 to 1 + g % 4).map(j => (s"w$g", (g * 10 + j).toLong,
        ((g * 7 + j * 3) % 50).toLong))
    }
    val wide = wideRows.toDF("g", "k", "b")
    assert(nWide > Scale.MaxRankGroups)
    val wExp = wide
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .select(col("k"), col("rn"), col("n")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val wGot = Scale.distributedGroupedRowNumber(
        wide, col("g"), col("b"), col("k"), "rn", totalOut = Some("n"))
      .select(col("k"), col("rn"), col("n")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(wGot == wExp,
      "past-cap fallback diverges from the partitioned window form")
  }

  test("rank family fails loudly on null sort keys and null groups instead of dropping rows") {
    val spark2 = spark
    import spark2.implicits._
    // round-11 advice: ShardOf/GroupShardOf are null-intolerant, so a
    // null basis/key/group used to get a null shard id and vanish in
    // the null-unsafe offset join — SILENT row loss where the window
    // form ranks nulls first. The contract is now enforced in the
    // boundary pass (one extra agg expression, zero extra jobs).
    val df = Seq((Some(1L), 1L), (None, 2L), (Some(3L), 3L))
      .toDF("b", "k")
    val e1 = intercept[IllegalArgumentException] {
      Scale.distributedRowNumber(df, col("b"), col("k"), "r").collect()
    }
    assert(e1.getMessage.contains("NULL basis/key"))
    val e2 = intercept[IllegalArgumentException] {
      Scale.distributedPrefixSum(df, col("k"), col("b"), col("k"), "c")
        .collect()
    }
    assert(e2.getMessage.contains("NULL basis/key"))
    val g = Seq((Some("a"), 1L), (None, 2L)).toDF("g", "k")
    val e3 = intercept[IllegalArgumentException] {
      Scale.distributedGroupedRowNumber(
        g, col("g"), col("k"), col("k"), "r").collect()
    }
    assert(e3.getMessage.contains("NULL group"))
    val e4 = intercept[IllegalArgumentException] {
      Scale.distributedGroupedRowNumber(
        Seq(("a", Some(1L), 1L), ("a", None, 2L)).toDF("g", "b", "k"),
        col("g"), col("b"), col("k"), "r").collect()
    }
    assert(e4.getMessage.contains("NULL basis/key"))
    // PAST THE CAP the fallback window inherits ordinary window null
    // semantics instead of the loud failure (round-12 advice: the old
    // code ran the requires on the limit(cap+1) sample, so whether a
    // null in an unsampled group threw depended on which groups the
    // un-ordered LIMIT happened to pick — nondeterministic
    // enforcement). Deterministic contract now: domain ≤ cap → loud
    // failure, always; domain > cap → window semantics (null group
    // keeps its partition, null basis ranks first), nothing dropped.
    val nWide = Scale.MaxRankGroups + 76
    val wideRows = (1 to 2 * nWide).map { i =>
      val g = i % nWide // two rows per group: rank order is exercised
      val grp = if (g == 3) None else Some(s"n$g")
      val b = if (i % 7 == 0) None else Some((i % 50).toLong)
      (grp, b, i.toLong)
    }
    val wide = wideRows.toDF("g", "b", "k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("b").asc, col("k").asc)
    val exp = wide.withColumn("r", row_number().over(w).cast("long"))
      .select(col("k"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Scale.distributedGroupedRowNumber(
        wide, col("g"), col("b"), col("k"), "r")
      .select(col("k"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 2 * nWide, "fallback must not drop null rows")
    assert(got == exp,
      "past-cap fallback with nulls diverges from window null semantics")
  }

  test("prefix-sum pair (empirical-CDF shape): chained applications match the window CDF counts") {
    val spark2 = spark
    import spark2.implicits._
    // the q_nb_ks rebuild shape: TWO prefix sums over the same
    // (margin, doc_id) order, one per outcome indicator — the second
    // application runs on the first's output (carrying its c_ok
    // column through shardedFrame's checkpoint), which is the part a
    // single-application differential never exercises
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      (i.toLong, (rnd.nextInt(40) - 20).toLong,
        if (rnd.nextBoolean()) 1L else 0L)
    }
    val df = rows.toDF("doc_id", "margin", "ok")
      .withColumn("bad", lit(1L) - col("ok"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("margin"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val exp = df
      .withColumn("c_ok", sum(col("ok")).over(w))
      .withColumn("c_bad", sum(col("bad")).over(w))
      .select(col("doc_id"), col("c_ok"), col("c_bad")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = Scale.distributedPrefixSum(
        Scale.distributedPrefixSum(
          df, col("margin"), col("doc_id"), col("ok"), "c_ok"),
        col("margin"), col("doc_id"), col("bad"), "c_bad")
      .select(col("doc_id"), col("c_ok"), col("c_bad")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp, "chained prefix-sum pair diverges from window CDF")
    // round 11: the FUSED multi-payload form — one phase 0 (one
    // checkpoint + one boundary sample) carrying both indicators —
    // must be bit-identical to the chained pair and to the window
    // CDF; this is the form q_nb_ks now ships
    val fused = Scale.distributedPrefixSums(
        df, col("margin"), col("doc_id"),
        Seq(col("ok") -> "c_ok", col("bad") -> "c_bad"))
      .select(col("doc_id"), col("c_ok"), col("c_bad")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fused == exp, "fused prefix-sum pair diverges from window CDF")
    // and the fused form keeps every input column (schema contract)
    val cols = Scale.distributedPrefixSums(
      df, col("margin"), col("doc_id"),
      Seq(col("ok") -> "c_ok", col("bad") -> "c_bad")).columns.toSet
    assert(cols == Set("doc_id", "margin", "ok", "bad", "c_ok", "c_bad"),
      s"fused output columns leaked helpers or dropped inputs: $cols")
  }

  test("fused prefix sums: three payloads, negative values, zipfian basis") {
    val spark2 = spark
    import spark2.implicits._
    // the general multi-payload form beyond the CDF pair: N=3 summed
    // indicators, one signed (running NET sums are a legit payload —
    // nothing in the offset algebra assumes non-negativity), over a
    // 90%-one-value basis so the hot-value key-quantile split is the
    // path under test, not the spread-out easy case
    val rnd = new scala.util.Random(17)
    val rows = (1 to 800).map { i =>
      val basis = if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(40).toLong
      (i.toLong, basis, rnd.nextInt(3).toLong, (rnd.nextInt(21) - 10).toLong)
    }
    val df = rows.toDF("id", "b", "u", "signed")
      .withColumn("hit", when(col("u") === 1L, 1L).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def keyed(d: org.apache.spark.sql.DataFrame) = d
      .select(col("id"), col("s1"), col("s2"), col("s3")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val exp = keyed(df
      .withColumn("s1", sum(col("u")).over(w))
      .withColumn("s2", sum(col("signed")).over(w))
      .withColumn("s3", sum(col("hit")).over(w)))
    val got = keyed(Scale.distributedPrefixSums(df, col("b"), col("id"),
      Seq(col("u") -> "s1", col("signed") -> "s2", col("hit") -> "s3")))
    assert(got == exp,
      "3-payload fused prefix sums diverge from the window running sums")
  }

  test("distributedPrefixSum equals the inclusive window running sum, descending basis") {
    import org.apache.spark.sql.functions._
    val rev = graft.ingest.Sources.lineitem(spark, sf)
      .groupBy(col("l_partkey").as("k"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").desc, col("k").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val expected = rev.withColumn("cum", sum(col("v")).over(w))
      .select(col("k"), col("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = graft.operators.Scale.distributedPrefixSum(
        rev, -col("v"), col("k"), col("v"), "cum")
      .select(col("k"), col("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "sharded prefix sum diverges from window cumsum")
  }

  test("key-skew count-of-counts closure equals the window-rank form on tie-heavy random frames") {
    val spark2 = spark
    import spark2.implicits._
    // the round-10 q_key_skew rebuild derives ic = Σ rank·c and the
    // top-1% row mass from f(c) alone; ties are the dangerous part
    // (equal-c blocks must contribute an order-invariant rank sum and
    // an interchangeable boundary slice), so the generator forces
    // heavy ties via a tiny count range over many keys
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val nKeys = 200 + rnd.nextInt(800)
      val rows = (1 to nKeys).map(k =>
        (k.toLong, (1 + rnd.nextInt(2 + rnd.nextInt(6))).toLong))
      val counts = rows.toDF("k", "c")
      // window form (the oracle's shape)
      val wAsc = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").asc, col("k").asc)
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("k").asc)
      val win = counts
        .withColumn("i", row_number().over(wAsc).cast("long"))
        .withColumn("r", row_number().over(wDesc).cast("long"))
        .withColumn("nk", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
        .agg(sum(col("i") * col("c")).as("ic"),
          sum(when(col("r") * 100 <= col("nk"), col("c"))
            .otherwise(lit(0L))).as("t1"))
        .collect().head
      // count-of-counts closure (the production shape)
      val coc = counts.groupBy(col("c")).agg(count(lit(1)).as("f"))
      val cum = Scale.distributedPrefixSum(coc, col("c"), col("c"),
        col("f"), "cumf")
      val tot = coc.agg(sum(col("f")).as("nk"))
      val closed = cum.crossJoin(broadcast(tot))
        .withColumn("s", col("cumf") - col("f"))
        .withColumn("ic_c", col("c") *
          (col("f") * col("s") + expr("(f * (f + 1)) DIV 2")))
        .withColumn("t1_c", col("c") *
          greatest(lit(0L), least(col("f"),
            expr("nk DIV 100") - (col("nk") - col("cumf")))))
        .agg(sum(col("ic_c")).as("ic"), sum(col("t1_c")).as("t1"))
        .collect().head
      assert(closed.getLong(0) == win.getLong(0),
        s"trial $trial: ic diverges (${closed.getLong(0)} vs ${win.getLong(0)})")
      assert(closed.getLong(1) == win.getLong(1),
        s"trial $trial: top-1% mass diverges (${closed.getLong(1)} vs ${win.getLong(1)})")
    }
  }

  test("salted aggregation equals naive groupBy exactly") {
    val naive = graft.ingest.Sources.orders(spark, sf)
      .join(broadcast(graft.ingest.Sources.customer(spark, sf)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.ingest.Sources.nation(spark, sf)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(col("o_totalprice")).as("n_orders"))
    val salted = Scale.saltedRevenue(spark, sf)
    assert(salted.count() == naive.count())
    assert(salted.except(naive).count() == 0 && naive.except(salted).count() == 0)
  }

  test("salted plan has two aggregation exchanges (split + combine)") {
    val p = plan(Scale.saltedRevenue(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected split+combine exchanges, got $exchanges:\n$p")
  }

  test("equi-join of co-bucketed tables needs no exchange") {
    // managed tables land in the default ./spark-warehouse (gitignored);
    // DROP TABLE below removes the files
    val n = 8
    Scale.writeBucketed(
      graft.ingest.Sources.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "orders_b", "o_custkey", n)
    Scale.writeBucketed(
      graft.ingest.Sources.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment")),
      "customer_b", "c_custkey", n)
    // disable broadcast so the join would otherwise shuffle both sides
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val p = plan(joined)
      assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
        !p.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join should not exchange on the bucket key:\n$p")
      assert(joined.count() == 5)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("AQE skew join: OptimizeSkewedJoin actually splits the hot partition") {
    // The scale notes (Relational.scala) say fact-fact joins "rely on
    // AQE for skew" — this pins that the claim is live, not folklore:
    // a join keyed 90%+ on one value must come back with the skewed
    // partition split (skew=true on the SMJ, skewed AQEShuffleRead),
    // at thresholds scaled down to fixture size the same way a real
    // deployment scales them to executor memory. Scale.saltedSumCount
    // remains the prescribed path for the one shape AQE cannot fix
    // (skewed AGGREGATION keys, where there is no second side to
    // split against).
    import spark.implicits._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "131072")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      val pad = "x" * 64
      // ~4 MiB of rows on ONE join key in one shuffle partition vs a
      // tiny tail: factor x threshold make it unambiguously skewed
      val left = spark.range(0, 55000)
        .select(when($"id" < 50000, lit(0L)).otherwise($"id").as("k"),
          $"id".as("v"), lit(pad).as("pad"))
      val right = spark.range(0, 1000).select($"id".as("k"), lit(pad).as("rpad"))
      val joined = left.join(right, "k")
      // execute THIS frame (count() would plan a separate query and
      // leave joined's own adaptive plan unfinalized)
      assert(joined.collect().length == 50000, "skewed join row count off")
      val p = plan(joined)
      assert(p.contains("isFinalPlan=true"), s"adaptive plan not final:\n$p")
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not mark the join as skew-split:\n$p")
      assert(p.contains("AQEShuffleRead"),
        s"expected an AQE shuffle read in the final adaptive plan:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("stratified sample: per-stratum rates honored, shuffle-free, stable") {
    val docs = graft.ingest.Sources.documents(spark, sf)
    val sampled = Scale.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 0.5, "es" -> 0.25), defaultRate = 0.1)
    // a filter is the whole plan — no Exchange anywhere
    assert(!plan(sampled).contains("Exchange"),
      s"stratified sample must not shuffle:\n${plan(sampled)}")
    // per-stratum rate lands near its target (hash uniformity; the
    // strata at sf0.001 are small, so bounds are loose but one-sided
    // errors like swapped thresholds still fail)
    val totals = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = sampled.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def rate(l: String) = kept.getOrElse(l, 0L).toDouble / totals(l)
    assert(rate("en") > 0.25 && rate("en") < 0.75, s"en rate ${rate("en")}")
    assert(rate("es") < 0.5, s"es rate ${rate("es")}")
    // deterministic: re-evaluation yields the identical id set
    val a = sampled.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val b = Scale.stratifiedSample(docs, col("doc_id"), col("lang"),
      Map("en" -> 0.5, "es" -> 0.25), defaultRate = 0.1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("bloom prune: no false negatives, real pruning, predicate in plan") {
    val li = graft.ingest.Sources.lineitem(spark, sf)
    val urgent = graft.ingest.Sources.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val pruned = graft.functions.BloomOps.bloomPrune(
      li, col("l_orderkey"), urgent, col("o_orderkey"), 100000L)
    assert(plan(pruned).contains("might_contain"),
      "bloom predicate should be in the probe-side plan")
    val truePositives = li.join(urgent,
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    // every true match survives (no false negatives)...
    assert(pruned.count() >= truePositives.count())
    // ...and the filter actually prunes (urgent is ~1/5 of orders)
    assert(pruned.count() < li.count())
  }

  test("z-order layout: per-file extents shrink in BOTH dimensions") {
    val x = col("o_custkey")
    val y = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val orders = graft.ingest.Sources.orders(spark, sf)
    val mm = orders.agg(
      min(x).cast("double").as("mnx"), max(x).cast("double").as("mxx"),
      min(y).cast("double").as("mny"), max(y).cast("double").as("mxy"))
    val coords = orders.crossJoin(broadcast(mm)).select(
      Scale.byteBucket(x, col("mnx"), col("mxx")).as("xb"),
      Scale.byteBucket(y, col("mny"), col("mxy")).as("yb"))
    val dir = tempDir("zorder")
    val nFiles = 8
    Scale.writeZOrdered(coords, Scale.zValue(col("xb"), col("yb")),
      s"$dir/z", nFiles)
    // mean per-file span in each dimension, as a fraction of the
    // global 0..255 span; a z-ordered layout shrinks BOTH (a plain
    // sort on xb would leave the yb span at ~1.0)
    def meanSpans(path: String): (Double, Double) = {
      val byFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col("xb")) - min(col("xb"))).as("sx"),
          (max(col("yb")) - min(col("yb"))).as("sy"))
        .agg(avg(col("sx")), avg(col("sy"))).collect().head
      (byFile.getDouble(0) / 255.0, byFile.getDouble(1) / 255.0)
    }
    val (zx, zy) = meanSpans(s"$dir/z")
    assert(zx < 0.75 && zy < 0.75,
      s"z-order should bound both dimensions: x-span $zx, y-span $zy")
    // row-identical to the input (layout changes, content doesn't)
    assert(spark.read.parquet(s"$dir/z").count() == coords.count())
  }

  test("feature hashing: indices bounded, deterministic, category-consistent") {
    val out = Scale.featureHash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val again = Scale.featureHash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == again, "feature hashing must be deterministic")
    out.values.foreach { s =>
      val idx = s.split(",").map(_.toInt)
      assert(idx.length == 2, s"expected 2 features, got $s")
      assert(idx.forall(i => i >= 0 && i < Scale.FeatureDim))
      assert(idx.sorted.sameElements(idx), "indices must be emitted sorted")
    }
    // same (segment, nation) => same encoding — pure function of categories
    val cust = graft.ingest.Sources.customer(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        (r.getAs[String]("c_mktsegment"), r.getAs[Int]("c_nationkey"))).toMap
    val byCat = cust.groupBy(_._2).view.mapValues(_.keys.map(out).toSet)
    byCat.foreach { case (cat, encs) =>
      assert(encs.size == 1, s"category $cat produced ${encs.size} encodings")
    }
  }
}
