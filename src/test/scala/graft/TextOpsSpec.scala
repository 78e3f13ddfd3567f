package graft

import org.apache.spark.sql.functions._
import graft.analytics.TextOps

class TextOpsSpec extends SparkSpec {

  test("every text query returns rows; oracle keys are a subset") {
    assert(TextOps.oracles.keySet.subsetOf(TextOps.queries.keySet))
    TextOps.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
    }
  }

  test("WindowHashes kernel matches the substr+xxhash64 HOF reference") {
    import spark.implicits._
    val w = 5
    // fixture corpus + crafted edges: multi-byte UTF-8 (code-point
    // windows ≠ byte windows), exact-w, shorter-than-w, empty, NULL
    val crafted = Seq(Some("héllo wörld — ünïcode blörb"), Some("exact"),
      Some("tiny"), Some(""), None)
      .toDF("text")
    val fixture = graft.ingest.Sources.documents(spark, sf).select(col("text"))
    for (df <- Seq(crafted, fixture)) {
      val mismatches = df.select(
        graft.functions.WindowOps.windowHashes(col("text"), w).as("kernel"),
        // kernel contract is NULL in → NULL out; the isNull arm keeps
        // the reference honest (a bare `when` would fall to the
        // otherwise branch and emit [] for NULL text)
        when(col("text").isNull, lit(null).cast("array<bigint>"))
          .when(length(col("text")) >= w,
            transform(sequence(lit(0), length(col("text")) - w),
              p => xxhash64(col("text").substr(p + 1, lit(w)))))
          .otherwise(array().cast("array<bigint>")).as("hof"))
        .filter(not(col("kernel") <=> col("hof")))
        .count()
      assert(mismatches == 0, s"$mismatches rows where kernel != HOF reference")
    }
    // and the kernel stays inside WholeStageCodegen on the scan
    val p = plan(fixture.select(
      graft.functions.WindowOps.windowHashes(col("text"), w).as("h")))
    // "*(N)" marks a WholeStageCodegen stage in this plan format
    assert("""\*\(\d+\) Project \[window_hashes""".r.findFirstIn(p).isDefined,
      s"kernel fell out of codegen:\n$p")
  }

  test("DupPositions kernel matches a filter+isin HOF reference; codegen holds") {
    import spark.implicits._
    val w = 5
    // keys: two real window hashes from the fixture + misses; plus the
    // empty key set (must select nothing, not throw)
    val fixture = graft.ingest.Sources.documents(spark, sf)
      .select(col("text"))
      .withColumn("wh", graft.functions.WindowOps.windowHashes(col("text"), w))
    val someHashes = fixture.select(explode(col("wh")).as("h"))
      .limit(2).collect().map(_.getLong(0))
    for (keys <- Seq(someHashes ++ Array(1L, -7L), Array.emptyLongArray)) {
      val mismatches = fixture.select(
        graft.functions.WindowOps.dupPositions(col("wh"), keys).as("kernel"),
        filter(
          transform(col("wh"), (h, i) => struct(i.as("pos"), h.as("h"))),
          s => s.getField("h").isin(keys.map(Long.box): _*))
          .getField("pos").as("hof"))
        .filter(not(col("kernel") <=> col("hof")))
        .count()
      assert(mismatches == 0,
        s"${keys.length}-key set: kernel != filter+isin reference")
    }
    // NULL array in → NULL out (same contract as WindowHashes)
    val nullRow = Seq(Option.empty[Array[Long]]).toDF("wh")
      .select(graft.functions.WindowOps.dupPositions(col("wh"), Array(1L)))
      .collect()
    assert(nullRow.head.isNullAt(0), "NULL hash array must map to NULL")
    // the probe stays inside WholeStageCodegen on the scan
    val p = plan(fixture.select(
      graft.functions.WindowOps.dupPositions(col("wh"), someHashes).as("ps")))
    assert("""\*\(\d+\) Project \[dup_positions""".r.findFirstIn(p).isDefined,
      s"kernel fell out of codegen:\n$p")
  }

  test("naive bayes: confusion matrix partitions the test split exactly; head accuracy is real") {
    val docs = graft.ingest.Sources.documents(spark, sf)
    val isTrain = graft.operators.Scale.hashBucket(col("doc_id")) < 80
    val nTest = docs.filter(!isTrain).count()
    val cm = TextOps.naiveBayes(spark, sf).collect()
    assert(cm.map(_.getLong(2)).sum == nTest,
      "confusion matrix cell counts must sum to the test-split size")
    // every prediction is a class the TRAIN split actually contains
    // (the model can only score classes it has priors for)
    val trainSources = docs.filter(isTrain)
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(cm.map(_.getString(1)).toSet.subsetOf(trainSources))
    // the split must NOT separate classes (the corpus assigns source
    // by doc_id modulo |sources|, so a parity split would be vacuous):
    // the classifier must get SOMETHING right
    val diag = cm.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    assert(diag > 0, "zero correct predictions — split separates classes")
    // integer scores + source-asc tie-break ⇒ bit-deterministic rerun
    val again = TextOps.naiveBayes(spark, sf).collect()
    assert(cm.toSeq == again.toSeq, "argmax must be deterministic")
  }

  test("JM-interpolated LM: one doc's NLL recomputes from raw counts; coverage matches lmBigram") {
    val jm = TextOps.lmInterp(spark, sf).collect()
    val laplace = TextOps.lmBigram(spark, sf).collect()
    // same eval split, same bigramization ⇒ identical doc/bigram counts
    assert(jm.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      laplace.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // recompute the first eval doc from raw train counts
    val docId = jm.head.getLong(0)
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // train membership must match the engine's split rule
    val trainIds = graft.ingest.Sources.documents(spark, sf)
      .filter(graft.operators.Scale.hashBucket(col("doc_id")) < 80)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val trainToks = trainIds.toSeq.flatMap(id => docs(id).split(" "))
    val uni = trainToks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bgs = trainIds.toSeq.flatMap(id => docs(id).split(" ").sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")))
    val c2 = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = bgs.groupBy(_.split(" ")(0)).map { case (k, v) => k -> v.size.toLong }
    val n = trainToks.size.toLong
    val v = uni.size.toLong
    val evalBgs = docs(docId).split(" ").sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")).toSeq
    val nll = evalBgs.map { bg =>
      val Array(w1, w2) = bg.split(" ")
      val pBg = if (c1.getOrElse(w1, 0L) > 0)
        0.75 * c2.getOrElse(bg, 0L).toDouble / c1(w1) else 0.0
      -math.log(pBg + 0.25 * (uni.getOrElse(w2, 0L) + 1.0) / (n + v))
    }
    val expect = BigDecimal(nll.sum / nll.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(jm.head.getAs[Double]("avg_nll") - expect) < 2e-6,
      s"JM NLL ${jm.head.getAs[Double]("avg_nll")} != recomputed $expect")
  }

  test("textrank: vertex ids injective at every SF; per-lang top-k well-formed") {
    // id collisions would silently merge two words' ranks — assert the
    // 48-bit md5 id is injective over every fixture vocabulary
    for (dir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val vocab = graft.ingest.Sources.documents(spark, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .distinct()
        .withColumn("v", conv(substring(md5(concat_ws("|", col("lang"),
          col("w"))), 1, 12), 16, 10).cast("long"))
      val words = vocab.count()
      val ids = vocab.select(col("v")).distinct().count()
      assert(words == ids, s"$dir: ${words - ids} vertex-id collisions")
    }
    val rows = TextOps.textrank(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.length <= TextOps.TextrankTopK)
      val ranks = rs.map(_.getAs[Int]("rnk")).toSeq.sorted
      assert(ranks == (1 to rs.length), s"$lang ranks not dense: $ranks")
      // ranks weakly decrease down the list (ties broken by word asc)
      val trs = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("tr")).toSeq
      assert(trs.zip(trs.tail).forall { case (a, b) => a >= b })
      assert(trs.forall(_ > 0L))
    }
  }

  test("nb calibration: bins partition the test split; accuracy reconciles with the confusion matrix") {
    val cal = TextOps.nbCalibration(spark, sf).collect()
    val cm = TextOps.naiveBayes(spark, sf).collect()
    // every test doc has >= 2 classes to rank (train has >= 2 sources),
    // so bins partition exactly the docs the confusion matrix counts
    assert(cal.map(_.getAs[Long]("n_docs")).sum ==
      cm.map(_.getAs[Long]("n_docs")).sum)
    // total correct across bins == the confusion-matrix diagonal
    val diag = cm.filter(r => r.getString(0) == r.getString(1))
      .map(_.getAs[Long]("n_docs")).sum
    assert(cal.map(_.getAs[Long]("n_correct")).sum == diag)
    cal.foreach { r =>
      val acc = r.getAs[Long]("acc_ppm")
      assert(acc >= 0L && acc <= 1000000L)
      assert(acc == r.getAs[Long]("n_correct") * 1000000L /
        r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("bin") >= 0L && r.getAs[Long]("bin") <= 9L)
    }
  }

  test("containment dup: prefix-filtered pairs equal a brute-force blocked recount") {
    val t = TextOps.ContainThreshold
    val sets = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(split(col("text"), " ")).as("set"))
      .withColumn("n", size(col("set")))
    val a = sets.select(col("doc_id").as("da"), col("lang"), col("source"),
      col("set").as("sa"), col("n").as("na"))
    val b = sets.select(col("doc_id").as("db"), col("lang"), col("source"),
      col("set").as("sb"), col("n").as("nb"))
    // brute force: every in-block pair, small side normalized first
    val brute = a.join(b, Seq("lang", "source"))
      .filter(col("na") < col("nb") ||
        (col("na") === col("nb") && col("da") < col("db")))
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("c", round(col("ni").cast("double") / col("na"), 6))
      .filter(col("c") >= t)
      .select(col("da"), col("db"), col("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = TextOps.containmentDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("containment")))
      .toSet
    assert(got == brute,
      s"prefix filter lost/invented pairs: got ${got.size}, brute ${brute.size}")
    assert(brute.nonEmpty, "fixture yields no containment pairs — vacuous")
  }

  test("dup spans: fixtures stay under the oracle position cap") {
    // the SQL twin enumerates positions from a constant series of
    // DupSpanOracleMaxLen — a longer doc would silently lose windows
    // in the oracle and surface as a driver hash mismatch
    for (dir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val over = graft.ingest.Sources.documents(spark, dir)
        .filter(length(col("text")) - TextOps.DupSpanWindow + 1 >
          TextOps.DupSpanOracleMaxLen)
        .count()
      assert(over == 0, s"$over docs in $dir exceed the dup-span oracle cap")
    }
  }

  test("dup spans: disjoint in-range spans match a brute-force recompute") {
    val w = TextOps.DupSpanWindow
    val lens = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val spans = TextOps.dupSpans(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len")))
    assert(spans.nonEmpty, "fixture has no duplicated windows — test vacuous")
    spans.foreach { case (doc, s, e, l) =>
      assert(s >= 0 && e <= lens(doc) && l == e - s && l >= w,
        s"span ($doc, $s, $e) out of range or shorter than the window")
    }
    // merged spans are strictly disjoint with a gap (touching merges)
    spans.groupBy(_._1).values.foreach { ds =>
      ds.sortBy(_._2).toSeq.sliding(2).foreach {
        case Seq((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1, "adjacent spans should have merged")
        case _ =>
      }
    }
    // independent driver-side brute force over the whole fixture
    // (code-unit substring == Spark's code-point substr because the
    // corpus is ASCII — asserted below alongside the length map)
    val texts = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, t) =>
      assert(t.length == lens(id) && t.forall(_ < 128), s"doc $id not ASCII")
    }
    val occ = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- texts; p <- 0 to t.length - w)
      occ.updateWith(t.substring(p, p + w))(c => Some(c.getOrElse(0) + 1))
    val expected = texts.flatMap { case (id, t) =>
      val marked = (0 to t.length - w).filter(p => occ(t.substring(p, p + w)) >= 2)
      val islands = marked.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p <= e0 => (s0, p + w) :: rest
        case (acc, p) => (p, p + w) :: acc
      }.reverse
      islands.map { case (s, e) => (id, s.toLong, e.toLong, (e - s).toLong) }
    }.sortBy(t => (t._1, t._2))
    assert(spans.sortBy(t => (t._1, t._2)).toSeq == expected.toSeq,
      "operator spans differ from the brute-force recompute")
  }

  test("dup spans: join lane (driver-set overflow fallback) matches the driver-set lane") {
    // a ceiling of 0 keys forces the distributed join lane — the two
    // lanes must be output-identical on the same corpus (the size pick
    // is an execution choice, never a semantic one)
    val viaJoin = TextOps.dupSpans(spark, sf, maxDriverKeys = 0)
      .collect().map(_.toSeq).toSeq
    val viaSet = TextOps.dupSpans(spark, sf).collect().map(_.toSeq).toSeq
    assert(viaSet.nonEmpty, "fixture has no duplicated windows — vacuous")
    assert(viaJoin == viaSet, "dupSpans lanes diverge")
  }

  test("bpe train: merges match an independent driver-side reference BPE") {
    val out = TextOps.bpeTrain(spark, sf).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("corpus_tokens")))
      .sortBy(_._1)
    assert(out.length == TextOps.BpeMerges + 1,
      "fixture exhausted pairs before the full merge budget — contract broken")
    // independent reference: collect word counts, run classic BPE on
    // symbol VECTORS (no string-framing trick) with the same
    // greedy-leftmost application and (count desc, pair asc) argmax
    val counts = graft.ingest.Sources.documents(spark, sf)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var states: Map[Vector[String], Long] =
      counts.groupBy(_._1.split("").toVector)
        .map { case (k, vs) => k -> vs.map(_._2).sum }
    def mergeWord(w: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        if (i + 1 < w.length && w(i) == l && w(i + 1) == r) {
          b += (l + r); i += 2
        } else { b += w(i); i += 1 }
      }
      b.result()
    }
    val expected = (1 to TextOps.BpeMerges).map { step =>
      val pairCounts = states.toSeq.flatMap { case (w, c) =>
        w.sliding(2).filter(_.length == 2).map(p => (p(0), p(1)) -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ((l, r), c) = pairCounts.minBy { case ((l, r), c) => (-c, l, r) }
      states = states.toSeq.map { case (w, cnt) => (mergeWord(w, l, r), cnt) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val toks = states.map { case (w, cnt) => w.length * cnt }.sum
      (step.toLong, l, r, l + r, c, toks)
    }
    val baselineToks = counts.map { case (w, c) => w.length * c }.sum
    assert(out.head == ((0L, "", "", "", 0L, baselineToks)),
      s"baseline row mismatch: ${out.head}")
    (out.tail zip expected).foreach { case (got, want) =>
      assert(got == want, s"step ${want._1}: got $got, want $want")
    }
    // the compression curve must strictly decrease while merges fire
    out.map(_._6).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(b < a, "a merge that saves no tokens won")
      case _ =>
    }
  }

  test("bpe train: framed replace is exactly greedy-leftmost merging") {
    import spark.implicits._
    // consecutive pairs both rewrite; overlapping same-symbol runs
    // merge greedily left-to-right — the two cases where a naive
    // space-separated encoding diverges from BPE semantics
    val got = Seq("(a)(b)(a)(b)", "(a)(a)(a)", "(x)(a)(b)(y)", "(ab)(a)(b)")
      .toDF("state")
      .select(replace(col("state"), lit("(a)(b)"), lit("(ab)")).as("m"))
      .as[String].collect().toSeq
    assert(got == Seq("(ab)(ab)", "(a)(a)(a)", "(x)(ab)(y)", "(ab)(ab)"))
    val aa = Seq("(a)(a)(a)").toDF("state")
      .select(replace(col("state"), lit("(a)(a)"), lit("(aa)")).as("m"))
      .as[String].head()
    assert(aa == "(aa)(a)", "greedy-leftmost broken for overlapping runs")
  }

  test("bpe encode: totals reconcile with the trainer's compression curve") {
    val enc = TextOps.bpeEncode(spark, sf).collect()
    assert(enc.nonEmpty)
    // cross-language total BPE tokens == the trainer's final
    // corpus_tokens (same corpus, same rules, different aggregation path)
    val trainFinal = TextOps.bpeTrain(spark, sf).collect()
      .maxBy(_.getAs[Long]("step")).getAs[Long]("corpus_tokens")
    val encTotal = enc.map(_.getAs[Long]("bpe_tokens")).sum
    assert(encTotal == trainFinal,
      s"encode total $encTotal != trainer final corpus tokens $trainFinal")
    enc.foreach { r =>
      val (words, chars, bpe) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("char_tokens"), r.getAs[Long]("bpe_tokens"))
      // every word is 1..len(word) tokens, and 10 merges must bite
      assert(bpe >= words && bpe <= chars, s"token bounds violated: $r")
      assert(r.getAs[Double]("ratio") ==
        BigDecimal(bpe.toDouble / chars.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(enc.map(_.getAs[Long]("bpe_tokens")).sum <
      enc.map(_.getAs[Long]("char_tokens")).sum, "no compression achieved")
  }

  test("bpe train: no fixture exhausts pairs before the merge budget") {
    // the oracle is exhaustion-robust (LEFT JOIN keeps states when a
    // step finds no pair), but a fixture that exhausted would silently
    // weaken the gate — every gate scale must exercise all merges
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val steps = TextOps.bpeTrain(spark, dir).count()
      assert(steps == TextOps.BpeMerges + 1,
        s"$dir trained ${steps - 1} of ${TextOps.BpeMerges} merges")
    }
    // (sf0.001 is covered row-by-row by the reference-BPE test above)
  }

  test("bpe train: frees every checkpoint it makes") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    TextOps.bpeTrain(spark, sf).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs ${leaked.mkString(",")} still pinned after bpeTrain")
  }

  test("bpe encode: retains exactly the served vocabulary checkpoint") {
    // encode serves from the training loop's FINAL state table — one
    // retained checkpoint (caller-owned, like every checkpoint-returning
    // operator); the superseded per-round frames must all be freed
    val before = spark.sparkContext.getPersistentRDDs.keySet
    TextOps.bpeEncode(spark, sf).collect()
    val kept = spark.sparkContext.getPersistentRDDs.filter {
      case (id, _) => !before(id)
    }
    assert(kept.size == 1,
      s"expected only the final state table pinned, got ${kept.size}")
    kept.values.foreach(_.unpersist(blocking = true))
  }

  test("exact dedup is idempotent and conserves rows") {
    val docs = graft.ingest.Sources.documents(spark, sf)
    val deduped = TextOps.dedupExact(spark, sf)
    // survivors + extra copies == total docs
    val total = deduped.agg(sum(col("n_copies"))).collect().head.getLong(0)
    assert(total == docs.count())
    // survivor ids are distinct
    assert(deduped.select(col("doc_id")).distinct().count() == deduped.count())
  }

  test("MinHash-LSH recall: every exact-Jaccard>=0.9 pair surfaces as a candidate") {
    // ground truth from the oracle-verified exact pairwise query
    val truth = TextOps.nearDupJaccard(spark, sf, threshold = 0.9)
      .select(col("doc_a"), col("doc_b"))
    val found = TextOps.minHashLsh(spark, sf, minEstJaccard = 0.0)
      .select(col("doc_a"), col("doc_b"))
    val missed = truth.except(found).count()
    val truthN = truth.count()
    assert(truthN > 0, "test corpus has no high-Jaccard pairs — recall test vacuous")
    // b=4 r=4 banding: P(candidate | J=0.9) = 1-(1-0.9^4)^4 ≈ 0.986;
    // demand >= 95% recall on the actual corpus
    assert(missed.toDouble / truthN <= 0.05,
      s"LSH missed $missed of $truthN true near-dup pairs")
  }

  test("MinHash estimated Jaccard tracks exact Jaccard") {
    val exact = TextOps.nearDupJaccard(spark, sf, threshold = 0.8)
    val est = TextOps.minHashLsh(spark, sf, minEstJaccard = 0.0)
    val joined = exact.join(est, Seq("doc_a", "doc_b"))
      .select(avg(abs(col("jaccard") - col("est_jaccard"))).as("mae"))
      .collect().head.getDouble(0)
    // 16-hash signatures: stderr ~ sqrt(J(1-J)/16) ~ 0.08; allow 0.15 MAE
    assert(joined < 0.15, s"MinHash estimate MAE too high: $joined")
  }

  test("SimHash: identical token sets get identical fingerprints, hamming is symmetric-bounded") {
    val fps = TextOps.simHashFingerprints(spark, sf)
    assert(fps.count() == graft.ingest.Sources.documents(spark, sf).count())
    // token-set-identical pairs (exact Jaccard == 1.0) must have hamming 0
    val identicalPairs = TextOps.nearDupJaccard(spark, sf, threshold = 1.0)
    val a = fps.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = fps.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    val bad = identicalPairs.join(a, "doc_a").join(b, "doc_b")
      .filter(col("sim_a") =!= col("sim_b")).count()
    assert(bad == 0, s"$bad identical-token-set pairs had differing simhash")
  }

  test("simHashDedup finds all token-set-identical same-block pairs") {
    val truth = TextOps.nearDupJaccard(spark, sf, threshold = 1.0)
      .select(col("doc_a"), col("doc_b"))
    val found = TextOps.simHashDedup(spark, sf, maxHamming = 6)
      .select(col("doc_a"), col("doc_b"))
    assert(truth.except(found).count() == 0)
  }

  test("simHashDedup is pigeonhole-complete at radius 7 (8-chunk banding)") {
    // ground truth by brute force: every same-block pair within
    // hamming 7 — the radius the old fixed 4-chunk banding could miss
    val fps = TextOps.simHashFingerprints(spark, sf)
    val a = fps.select(col("doc_id").as("doc_a"), col("lang"),
      col("source"), col("simhash").as("sim_a"))
    val b = fps.select(col("doc_id").as("doc_b"), col("lang"),
      col("source"), col("simhash").as("sim_b"))
    val truth = a.join(b, Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val found = TextOps.simHashDedup(spark, sf, maxHamming = 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    assert(truth.count() > 0, "no pairs within hamming 7 — vacuous")
    assert(truth.except(found).count() == 0,
      "banded dedup missed a pair the pigeonhole guarantees")
    assert(found.except(truth).count() == 0,
      "banded dedup emitted a pair outside the radius/blocks")
  }

  test("ngram Jaccard: bounded scores, same-block exact text dups score 1.0") {
    val out = TextOps.ngramJaccard(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0 && j <= 1.0 + 1e-9, s"jaccard out of range: $j")
    }
    // independent formulation: brute-force blocked cross-join with
    // array_intersect (no gram explode, no join-on-gram) must produce
    // the identical pair set and scores
    val toks = split(col("text"), " ")
    val grams = array_distinct(when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2),
        i => md5(concat_ws(" ", slice(toks, i, lit(3))))))
      .otherwise(array().cast("array<string>")))
    val d = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), grams.as("g"))
    val ni = size(array_intersect(col("x.g"), col("y.g")))
    val truth = d.as("x").join(d.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("jaccard", round(ni.cast("double") /
        (size(col("x.g")) + size(col("y.g")) - ni), 6))
      .filter(col("jaccard") >= 0.6)
      .select(col("x.doc_id"), col("y.doc_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = out.map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    assert(truth == got,
      s"join-based ngram Jaccard disagrees with brute force: " +
        s"missing=${truth -- got} extra=${got -- truth}")
  }

  test("sourceQuota keeps exactly min(cap, group size) per (lang, source)") {
    val cap = 7
    val rows = TextOps.sourceQuota(spark, sf, cap = cap).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, kept) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(kept == math.min(cap.toLong, n),
        s"${r.getAs[String]("lang")}/${r.getAs[String]("source")}: " +
          s"kept $kept of $n with cap $cap")
    }
    // non-vacuous: at least one group actually hit the cap
    assert(rows.exists(_.getAs[Long]("n_docs") > cap),
      "no group exceeds the cap at test scale — quota never exercised")
  }

  test("winnowing fingerprints: deterministic and bounded by shingle count") {
    val fp1 = TextOps.docFingerprints(spark, sf).collect()
    val fp2 = TextOps.docFingerprints(spark, sf).collect()
    assert(fp1.sameElements(fp2))
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val joined = TextOps.docFingerprints(spark, sf).join(docs, "doc_id")
      .filter(col("n_fingerprints") > greatest(col("n_tok") - 2, lit(1)))
    assert(joined.count() == 0, "more fingerprints than shingles")
  }

  test("tokens explode plan keeps pushdown: only needed columns read from parquet") {
    val df = TextOps.tokenStats(spark, sf)
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<text:string,lang:string>")
      || p.contains("ReadSchema: struct<lang:string,text:string>"),
      s"expected pruned read schema, got:\n$p")
  }

  test("MinHash estimate is close to a KNOWN exact Jaccard on constructed sets") {
    import spark.implicits._
    // doc 1 = tokens 0..99, doc 2 = tokens 50..149 -> J = 50/150 = 1/3
    val d1 = (0 until 100).map(i => s"t$i").mkString(" ")
    val d2 = (50 until 150).map(i => s"t$i").mkString(" ")
    val dir = tempDir("graft_mh")
    Seq((1L, d1, "en", "s0"), (2L, d2, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    // reuse the real pipeline on the constructed corpus
    val sigs = TextOps.minHashSignatures(spark, dir).collect()
    val byId = sigs.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val agree = (0 until TextOps.MinHashK).count { i =>
      byId(1L).getAs[Long](s"h$i") == byId(2L).getAs[Long](s"h$i")
    }
    val est = agree.toDouble / TextOps.MinHashK
    // stderr = sqrt(J(1-J)/K); bound fixed at 3 sigma of the K=16
    // config (0.36) so raising K only ever tightens the actual noise
    assert(math.abs(est - 1.0 / 3.0) < 0.36, s"minhash estimate $est far from 1/3")
  }

  test("winnowing guarantee: docs sharing a long token run share a fingerprint") {
    import spark.implicits._
    // guarantee: any shared run of >= w + shingle - 1 = 4 + 3 - 1 = 6
    // tokens forces at least one common selected fingerprint
    val shared = (0 until 12).map(i => s"common$i").mkString(" ")
    val d1 = s"alpha beta gamma $shared delta"
    val d2 = s"omega psi $shared chi phi rho"
    val dir = tempDir("graft_win")
    Seq((1L, d1, "en", "s0"), (2L, d2, "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    // recompute the full fingerprint sets (not the min/max summary)
    val toks = split(col("text"), " ")
    val nShingle = greatest(size(toks) - 2, lit(1))
    val hashes = transform(sequence(lit(1), nShingle),
      i => conv(substring(md5(concat_ws(" ", slice(toks, i, lit(3)))),
        1, 8), 16, 10).cast("long"))
    val wins = transform(
      sequence(lit(1), greatest(size(col("sh")) - 3, lit(1))),
      j => array_min(slice(col("sh"), j, lit(4))))
    val fps = graft.ingest.Sources.documents(spark, dir)
      .select(col("doc_id"), hashes.as("sh"))
      .select(col("doc_id"), array_distinct(wins).as("fps"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty,
      "no shared fingerprint despite a 12-token shared run")
    // pin the recomputation to the PRODUCTION operator: its summary
    // columns must equal this test's independently derived sets
    val prod = TextOps.docFingerprints(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_fingerprints"), r.getAs[Long]("min_fp"), r.getAs[Long]("max_fp")))).toMap
    Seq(1L, 2L).foreach { id =>
      assert(prod(id) == ((fps(id).size, fps(id).min, fps(id).max)),
        s"docFingerprints summary diverges from recomputed set for doc $id")
    }
  }

  test("repetition metrics pin to hand-computed values on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      // 6 tokens, 3 distinct, top tok "a" ×4, bigrams: a a,a a,a b,b c,c a → 4 distinct of 5
      (1L, "a a a b c a", "en"),
      // fully unique: ratios at the clean extreme
      (2L, "w x y z", "en"),
      // pure loop: 1 distinct token, 1 distinct bigram
      (3L, "q q q q q", "en")
    ).toDF("doc_id", "text", "lang")
    val m = TextOps.repetitionMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("uniq_ratio"), r.getAs[Double]("top_tok_frac"),
          r.getAs[Double]("dup_bigram_frac")))).toMap
    assert(m(1L) == ((3.0 / 6, 4.0 / 6, 1.0 - 4.0 / 5)))
    assert(m(2L) == ((1.0, 0.25, 0.0)))
    assert(m(3L) == ((0.2, 1.0, 0.75)))
  }

  test("docRepetition flag counts are consistent with per-doc metrics") {
    val docs = graft.ingest.Sources.documents(spark, sf)
    val perDoc = TextOps.repetitionMetrics(docs)
      .filter(col("uniq_ratio") < 0.35 || col("top_tok_frac") > 0.20 ||
        col("dup_bigram_frac") > 0.10)
      .count()
    val rollup = TextOps.docRepetition(spark, sf)
      .agg(sum(col("n_flagged"))).collect().head.getLong(0)
    assert(rollup == perDoc)
    assert(rollup > 0, "thresholds flag nothing at test scale — vacuous filter")
  }

  test("contamination: only eval-split docs, ratio bounded, planted dups detected") {
    val out = TextOps.contamination(spark, sf).collect()
    val trainIds = graft.ingest.Sources.documents(spark, sf)
      .filter(graft.operators.Scale.hashBucket(col("doc_id")) < 80)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(!trainIds.contains(r.getAs[Long]("doc_id")),
        "a train-split doc leaked into the contamination report")
      val (n, s) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_shared"))
      assert(s >= 0 && s <= n)
      assert(math.abs(r.getAs[Double]("contam_ratio") - s.toDouble / n) < 1e-6)
    }
    // the corpus plants near-duplicates; some straddle the 80/20 split,
    // so a fully-contained eval doc (ratio 1.0) must exist
    assert(out.exists(_.getAs[Double]("contam_ratio") >= 0.99),
      "no contaminated eval doc found — check the gram join")
  }

  test("lm perplexity: scores bounded by the unseen-token ceiling, seen-token floor") {
    import spark.implicits._
    val docs = graft.ingest.Sources.documents(spark, sf)
    val trainTok = docs
      .filter(graft.operators.Scale.hashBucket(col("doc_id")) < 80)
      .select(explode(split(col("text"), " ")).as("tok"))
    val n = trainTok.count().toDouble
    val v = trainTok.distinct().count().toDouble
    val maxC = trainTok.groupBy(col("tok")).count()
      .agg(max(col("count"))).head().getLong(0).toDouble
    val ceiling = math.log(n + v)           // all tokens unseen
    val floor = -math.log((maxC + 1) / (n + v)) // all tokens = most frequent
    val scores = TextOps.lmPerplexity(spark, sf)
      .select(col("avg_nll")).as[Double].collect()
    assert(scores.nonEmpty)
    assert(scores.forall(s => s > 0 && s <= ceiling + 1e-6))
    assert(scores.forall(s => s >= floor - 1e-6))
    // non-degenerate: the model separates documents
    assert(scores.distinct.length > 1)
  }

  test("chunkDedup: planted duplicate chunk flagged in both docs, short docs absent") {
    import spark.implicits._
    val shared = (0 until 8).map(i => s"dup$i").mkString(" ")
    val uniqA = (0 until 8).map(i => s"ua$i").mkString(" ")
    val uniqB = (0 until 8).map(i => s"ub$i").mkString(" ")
    val dir = tempDir("graft_chunk")
    val selfRep = (0 until 8).map(i => s"rep$i").mkString(" ")
    Seq(
      (1L, s"$shared $uniqA", "en", "s0"), // chunks: [shared, uniqA]
      (2L, s"$shared $uniqB", "en", "s0"), // chunks: [shared, uniqB]
      (3L, "tiny doc", "en", "s0"), //        < 8 tokens → no chunks
      (4L, s"$selfRep $selfRep", "en", "s0")) // same chunk twice, ONE doc
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextOps.chunkDedup(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup")))).toMap
    assert(out.keySet == Set(1L, 2L, 4L), s"unexpected docs: ${out.keySet}")
    assert(out(1L) == ((2L, 1L)) && out(2L) == ((2L, 1L)),
      s"expected 1 of 2 chunks duplicated per doc, got $out")
    // self-repetition within a single doc is NOT cross-document
    // boilerplate — docRepetition owns that signal
    assert(out(4L) == ((2L, 0L)),
      s"same-doc repeats must not count as duplicates, got ${out(4L)}")
  }

  // the md5-word projection both kernel parity specs run on — one copy
  private def md5Words = graft.ingest.Sources.documents(spark, sf)
    .select(col("doc_id"),
      transform(array_distinct(split(col("text"), " ")),
        t => md5(t)).as("mds"))
    .select(col("doc_id"),
      transform(col("mds"),
        s => conv(substring(s, 1, 8), 16, 10).cast("long")).as("h1"),
      transform(col("mds"),
        s => conv(substring(s, 9, 8), 16, 10).cast("long")).as("h2"))

  test("MinHashSigs kernel: lane-exact vs HOF reference, inside WholeStageCodegen, null on degenerate input") {
    import graft.functions.MinHashOps._
    val words = md5Words
    val cmp = words.select(
      minhashSigs(col("h1"), col("h2"), TextOps.MinHashK, TextOps.MinHashP).as("kernel"),
      minhashSigsHof(col("h1"), col("h2"), TextOps.MinHashK, TextOps.MinHashP).as("hof"))
    // null-safe inequality: a kernel regressing to all-NULL must FAIL,
    // not have its rows dropped by three-valued =!= logic
    val diff = cmp.filter(!(col("kernel") <=> col("hof"))).count()
    assert(diff == 0, s"$diff rows differ between kernel and HOF signatures")
    assert(cmp.filter(col("kernel").isNotNull).count() > 0,
      "parity comparison vacuous: kernel returned no non-null rows")
    // codegen assertion on a transform-free input: the HOF word
    // projections upstream are themselves non-codegen, so the fused
    // stage must be demonstrated with plain CreateArray inputs
    val p = plan(spark.range(100)
      .select(array(col("id"), col("id") + 1).as("h1"),
        array(col("id") * 3, col("id") + 7).as("h2"))
      .select(minhashSigs(col("h1"), col("h2"), 4, 97L).as("s")))
    assert("""\*\(\d+\) Project \[.*minhash_sigs""".r.findFirstIn(p).isDefined,
      s"expected minhash_sigs inside a codegen stage, plan:\n$p")
    // degenerate: empty word arrays produce NULL, never a MAX_VALUE sig
    import spark.implicits._
    val empty = Seq((Array.empty[Long], Array.empty[Long])).toDF("h1", "h2")
      .select(minhashSigs(col("h1"), col("h2"), 4, 97L).as("s"))
      .collect().head
    assert(empty.isNullAt(0), "empty input must yield a NULL signature")
  }

  test("MinHashSigs kernel: floor-mod contract holds on full-range signed words") {
    import graft.functions.MinHashOps._
    import spark.implicits._
    // signed inputs are the documented xxhash64 swap; lanes must
    // match pmod (mathematical mod), never drift negative
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(50)(
      (Array.fill(8)(rng.nextLong()), Array.fill(8)(rng.nextLong())))
    val df = rows.toDF("h1", "h2")
    val p = 4294967291L
    val ref = array((0 until 8).map(i =>
      array_min(zip_with(col("h1"), col("h2"),
        (a, b) => pmod(pmod(a, lit(p)) + lit(i.toLong) * pmod(b, lit(p)),
          lit(p))))): _*)
    val out = df.select(
      minhashSigs(col("h1"), col("h2"), 8, p).as("kernel"), ref.as("ref"))
      .collect()
    out.foreach { r =>
      val k = r.getSeq[Long](0)
      assert(k == r.getSeq[Long](1), s"kernel $k != floor-mod ref")
      assert(k.forall(v => v >= 0 && v < p), s"lane out of [0,p): $k")
    }
  }

  test("SimHashPack kernel: bit-exact vs the 64-filter HOF reference, inside WholeStageCodegen") {
    import graft.functions.MinHashOps._
    val cmp = md5Words.select(
      simhashPack(col("h1"), col("h2")).as("kernel"),
      simhashPackHof(col("h1"), col("h2")).as("hof"))
    val diff = cmp.filter(!(col("kernel") <=> col("hof"))).count()
    assert(diff == 0, s"$diff rows differ between kernel and HOF fingerprints")
    assert(cmp.filter(col("kernel").isNotNull).count() > 0,
      "parity comparison vacuous: kernel returned no non-null rows")
    // codegen-stage assertion on a transform-free input, as for
    // minhash_sigs: an uncompilable doGenCode silently falls back to
    // interpreted eval and stays bit-correct — catch it here
    val p = plan(spark.range(100)
      .select(array(col("id"), col("id") + 1).as("h1"),
        array(col("id") * 3, col("id") + 7).as("h2"))
      .select(simhashPack(col("h1"), col("h2")).as("s")))
    assert("""\*\(\d+\) Project \[.*simhash_pack""".r.findFirstIn(p).isDefined,
      s"expected simhash_pack inside a codegen stage, plan:\n$p")
  }

  test("SigLaneAgree / FirstAgreeBand kernels: exact vs HOF/unrolled references, inside WholeStageCodegen, null on degenerate input") {
    import graft.functions.MinHashOps._
    import spark.implicits._
    // adversarial signature pairs: full agreement, none, single-band
    // agreement at each band position, partial in-band agreement, and
    // seeded random lanes — collision-shaped inputs for both kernels
    val rng = new scala.util.Random(11)
    val k = TextOps.MinHashK; val bands = TextOps.LshBands; val r = k / bands
    val base = Array.tabulate(k)(_.toLong * 37 + 5)
    val cases = Seq.tabulate(bands) { b =>
      // agree exactly on band b, differ everywhere else
      val other = Array.tabulate(k)(i =>
        if (i / r == b) base(i) else base(i) + 1000) ; (base, other)
    } ++ Seq((base, base), (base, base.map(_ + 1))) ++
      Seq.fill(200)((Array.fill(k)(rng.nextLong().abs % 1000),
        Array.fill(k)(rng.nextLong().abs % 1000)))
    val df = cases.toDF("a", "b")
    val hofAgree = aggregate(zip_with(col("a"), col("b"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    val unrolledFirst = least((0 until bands).map { band =>
      val laneEq = (band * r until (band + 1) * r)
        .map(i => element_at(col("a"), i + 1) === element_at(col("b"), i + 1))
        .reduce(_ && _)
      when(laneEq, lit(band)).otherwise(lit(Int.MaxValue))
    }: _*)
    val diff = df.select(
      sigLaneAgree(col("a"), col("b")).as("k1"), hofAgree.as("r1"),
      firstAgreeBand(col("a"), col("b"), bands).as("k2"),
      unrolledFirst.as("r2"))
      .filter(!(col("k1") <=> col("r1")) || !(col("k2") <=> col("r2")))
      .count()
    assert(diff == 0, s"$diff rows differ from the reference forms")
    // both kernels must stay inside a WholeStageCodegen stage — the
    // entire point of their existence (an uncompilable doGenCode
    // silently falls back to interpreted eval and stays bit-correct)
    val p = plan(spark.range(100)
      .select(array(col("id"), col("id") + 1, col("id") * 3, col("id") + 7).as("a"),
        array(col("id"), col("id") + 2, col("id") * 3, col("id") + 7).as("b"))
      .select(sigLaneAgree(col("a"), col("b")).as("s"),
        firstAgreeBand(col("a"), col("b"), 2).as("f")))
    assert("""\*\(\d+\) Project \[.*sig_lane_agree""".r.findFirstIn(p).isDefined,
      s"expected sig_lane_agree inside a codegen stage, plan:\n$p")
    assert("""first_agree_band""".r.findFirstIn(p).isDefined,
      s"expected first_agree_band in the same stage, plan:\n$p")
    // degenerate: length mismatch → NULL (not 0 / MAX_VALUE)
    val degen = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
      .select(sigLaneAgree(col("a"), col("b")).as("s"),
        firstAgreeBand(col("a"), col("b"), 2).as("f")).collect().head
    assert(degen.isNullAt(0) && degen.isNullAt(1),
      "length-mismatched signatures must yield NULL from both kernels")
  }

  test("BM25: crafted corpus scores match a driver-side recompute of the formula") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark hash x x"),      // dl=5, tf: spark 2, hash 1
      (2L, "spark y y y y y"),           // dl=6, tf: spark 1
      (3L, "z z z z"),                   // dl=4, no query terms
      (4L, "merge hash merge merge a b") // dl=6, tf: merge 3, hash 1
    )
    val dir = tempDir("bm25")
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val k1 = TextOps.Bm25K1; val b = TextOps.Bm25B
    val n = 4.0; val avgdl = 21.0 / 4
    def term(tf: Long, df: Long, dl: Long): Long =
      if (tf == 0) 0L
      else math.round(
        math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
          (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))) * 1e6)
    val expect = Map(
      1L -> (term(2, 2, 5) + term(1, 2, 5), 2),
      2L -> (term(1, 2, 6), 1),
      4L -> (term(3, 1, 6) + term(1, 2, 6), 2))
    val got = TextOps.bm25TopK(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_micros"), r.getAs[Int]("n_terms"))).toMap
    assert(got.keySet == expect.keySet, s"docs with hits: $got")
    expect.foreach { case (d, e) =>
      assert(got(d) == e, s"doc $d: got ${got(d)}, formula says $e")
    }
    // ranking: doc 4 (rare 'merge' ×3) must outrank the common terms
    val ranked = TextOps.bm25TopK(spark, dir).collect()
      .sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("doc_id"))
    assert(ranked.head == 4L, s"idf must favor the rare term: $ranked")
  }

  test("PMI collocations: scores recompute from raw bigram counts; ranks dense") {
    val out = graft.analytics.TextOps.pmiCollocations(spark, sf).collect()
    assert(out.nonEmpty)
    // rebuild the model table on the driver
    val bigrams = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ", -1)
        toks.sliding(2).filter(_.length == 2)
          .map(p => (r.getString(0), p(0), p(1))).toSeq
      }
    val c12 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ctx1 = bigrams.groupBy(t => (t._1, t._2)).view.mapValues(_.length.toLong).toMap
    val ctx2 = bigrams.groupBy(t => (t._1, t._3)).view.mapValues(_.length.toLong).toMap
    val nBg = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq ==
        (1 to rows.length), s"$lang ranks not dense")
    }
    out.foreach { r =>
      val (lang, w1, w2) = (r.getAs[String]("lang"), r.getAs[String]("w1"),
        r.getAs[String]("w2"))
      val c = c12((lang, w1, w2))
      assert(c == r.getAs[Long]("c12"), s"count mismatch for $lang ($w1,$w2)")
      assert(c >= graft.analytics.TextOps.PmiMinCount)
      val pmi = math.log((c.toDouble / ctx1((lang, w1))) *
        (nBg(lang).toDouble / ctx2((lang, w2))))
      val expect = BigDecimal(pmi).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert((BigDecimal(r.getAs[Double]("pmi")) - expect).abs <= BigDecimal("0.000001"),
        s"PMI mismatch for $lang ($w1,$w2): ${r.getAs[Double]("pmi")} vs $pmi")
    }
  }

  test("prefix-filtered Jaccard equals brute force on randomized clustered docs") {
    import spark.implicits._
    // seeded generator: clusters of near-duplicate variants with sizes
    // straddling the size-ratio prune boundary (drop/add up to 3 of
    // ~4..40 tokens), plus unrelated noise docs — the adversarial
    // input for the AllPairs prefix length and the t-relaxed prune
    val rng = new scala.util.Random(4242)
    val vocab = (0 until 200).map(i => s"w$i")
    var id = -1L
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (0 until 25).foreach { _ =>
      val k = 4 + rng.nextInt(37)
      val base = rng.shuffle(vocab).take(k)
      (0 until 1 + rng.nextInt(4)).foreach { _ =>
        val dropped = base.drop(rng.nextInt(4).min(base.size - 1))
        val added = dropped ++ rng.shuffle(vocab).take(rng.nextInt(4))
        id += 1
        docs += ((id, rng.shuffle(added.distinct).mkString(" ")))
      }
    }
    (0 until 30).foreach { _ =>
      id += 1
      docs += ((id,
        rng.shuffle(vocab).take(2 + rng.nextInt(30)).mkString(" ")))
    }
    val dir = tempDir("graft_pj")
    docs.toSeq.map { case (i, t) => (i, t, "en", "s0") }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val prod = TextOps.nearDupJaccard(spark, dir, threshold = 0.8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val toks = array_distinct(split(col("text"), " "))
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), toks.as("t"))
    val ni = size(array_intersect(col("x.t"), col("y.t")))
    val truth = d.as("x")
      .join(d.as("y"), col("x.doc_id") < col("y.doc_id"))
      .withColumn("j", round(ni.cast("double") /
        (size(col("x.t")) + size(col("y.t")) - ni), 6))
      .filter(col("j") >= 0.8)
      .select(col("x.doc_id"), col("y.doc_id"), col("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(truth.nonEmpty, "generator produced no near-dup pairs — vacuous run")
    assert(prod == truth,
      s"prefix-filtered differs from brute force: only-prod=${prod -- truth}, only-truth=${truth -- prod}")
  }

  test("vocabOov: OOV bounded by totals, nonzero on the >16-token fixture vocab, plan broadcasts the vocab") {
    val out = TextOps.vocabOov(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tok"))
      assert(r.getAs[Long]("n_docs") >= 1)
    }
    // fixture vocabulary exceeds V=16 distinct tokens, so a real OOV
    // tail must exist somewhere
    assert(out.map(_.getAs[Long]("n_oov")).sum > 0, "no OOV tokens found")
    val p = plan(TextOps.vocabOov(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
  }

  test("corpusCuration: funnel counts are monotone and dedup consistent") {
    val out = TextOps.corpusCuration(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (raw, q, u, qt, s) = (r.getAs[Long]("n_raw"),
        r.getAs[Long]("n_quality"), r.getAs[Long]("n_unique"),
        r.getAs[Long]("n_quota"), r.getAs[Long]("n_sampled"))
      assert(raw >= q && q >= u && u >= qt && qt >= s,
        s"funnel not monotone: $raw >= $q >= $u >= $qt >= $s")
      assert(qt <= TextOps.QuotaCap, s"quota stage exceeded its cap: $qt")
    }
    // corpus-wide: some stage must actually reject something at
    // sf0.001 (exact dups and short docs are planted in the fixture)
    val totalRaw = out.map(_.getAs[Long]("n_raw")).sum
    val totalSampled = out.map(_.getAs[Long]("n_sampled")).sum
    assert(totalSampled < totalRaw, "curation funnel rejected nothing")
  }

  test("weightedSample: kept counts bounded, deterministic, never above the group") {
    val out = TextOps.weightedSample(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      // every kept doc has at least one token, so token mass >= kept
      assert(r.getAs[Long]("kept_tok_sum") >= r.getAs[Long]("n_kept"))
    }
    // hash-decided sample: bit-identical on re-run, no RNG state
    assert(TextOps.weightedSample(spark, sf).collect().sameElements(out))
  }

  test("incremental dedup: total over the batch, matches only history, agrees with full LSH") {
    val out = TextOps.incrementalDedup(spark, sf).collect()
    val batchIds = graft.ingest.Sources.documents(spark, sf)
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // total function of the batch: one verdict per batch doc
    assert(out.map(_.getLong(0)).toSet == batchIds)
    assert(out.length == batchIds.size)
    out.foreach { r =>
      val dup = r.getAs[Long]("is_dup")
      if (dup == 1L) {
        val m = r.getAs[Long]("dup_of")
        assert(m % 5 != 4, s"batch doc ${r.getLong(0)} matched batch doc $m")
        assert(r.getAs[Double]("est_jaccard") >= 0.75)
      } else {
        assert(r.isNullAt(r.fieldIndex("dup_of")))
        assert(r.isNullAt(r.fieldIndex("est_jaccard")))
      }
    }
    // consistency with the full pairwise LSH: every cross-boundary
    // LSH pair implies the batch side is flagged, with est at least
    // as good as that pair's
    val lsh = TextOps.minHashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("est_jaccard")))
    val verdicts = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("is_dup"), Option(r.get(r.fieldIndex("est_jaccard")))
        .map(_.asInstanceOf[Double]))).toMap
    lsh.foreach { case (a, b, est) =>
      val (batchDoc, histDoc) =
        if (a % 5 == 4 && b % 5 != 4) (a, b)
        else if (b % 5 == 4 && a % 5 != 4) (b, a)
        else (-1L, -1L)
      if (batchDoc >= 0) {
        val (isDup, bestEst) = verdicts(batchDoc)
        assert(isDup == 1L,
          s"LSH pair ($batchDoc, $histDoc) not flagged incrementally")
        assert(bestEst.exists(_ >= est - 1e-9),
          s"best match for $batchDoc worse than known pair est $est")
      }
    }
  }

  test("pruned serving-index dedup: identical verdicts, and the probe provably skips files") {
    // semantic invisibility: the disk-backed, file-skipped path must
    // reproduce the in-memory incremental dedup row-for-row
    val full = TextOps.incrementalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("dup_of"))),
        Option(r.get(r.fieldIndex("est_jaccard"))))).toSet
    // build-probe-delete: the call leaves no index dir behind, and the
    // frame it returns is materialized, so it collects without one
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def idxDirs(): Set[String] = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("graft_dedup_idx_"))
    val before = idxDirs()
    val prunedDf = TextOps.incrementalDedupPruned(spark, sf)
    val leaked = idxDirs() -- before
    assert(leaked.isEmpty, s"serving index dirs left in $tmp: $leaked")
    val pruned = prunedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("dup_of"))),
        Option(r.get(r.fieldIndex("est_jaccard"))))).toSet
    assert(pruned == full,
      s"pruned path diverged: ${pruned.diff(full)} vs ${full.diff(pruned)}")

    // physical claim: a small probe opens FEW of the index files. The
    // index is range-laid on the packed (band, bucket-prefix) key, so
    // a 3-doc probe (<= 24 band-bucket keys) must hit well under half
    // of the 32 file envelopes; a conservative regression (stats lost,
    // layout collapsed) shows up here as kept == total.
    val dir = new java.io.File(tempDir("graft_dpf_"))
    val path = new java.io.File(dir, "idx").toString
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    TextOps.dedupIndexWrite(TextOps.bandIndexOf(docs), path)
    val probe = TextOps.bandIndexOf(docs.orderBy(col("doc_id")).limit(3))
    val (kept, total) = TextOps.dedupPrunedFiles(spark, path, probe)
    assert(total == TextOps.DedupIndexFiles,
      s"index layout collapsed: $total files")
    assert(kept.nonEmpty, "probe of indexed docs cannot skip everything")
    assert(kept.size <= total / 2,
      s"no real skipping: ${kept.size} of $total files kept")
    // skipped files really don't matter: the kept set contains every
    // file holding the probe's own (band, bucket) rows
    val keptRows = graft.sinks.ManifestTable.readFiles(spark, path, kept)
    val missing = probe.select(col("band"), col("bucket")).distinct()
      .join(keptRows.select(col("band"), col("bucket")).distinct(),
        Seq("band", "bucket"), "left_anti").count()
    assert(missing == 0, s"$missing probe buckets absent from kept files")
  }

  test("appended serving index: identical verdicts through overlapping envelopes") {
    // semantic invisibility of the append lifecycle: write tranche A,
    // APPEND tranche B, probe — row-identical to the in-memory path
    val full = TextOps.incrementalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("dup_of"))),
        Option(r.get(r.fieldIndex("est_jaccard"))))).toSet
    val appended = TextOps.incrementalDedupAppended(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("dup_of"))),
        Option(r.get(r.fieldIndex("est_jaccard"))))).toSet
    assert(appended == full,
      s"appended path diverged: ${appended.diff(full)} vs ${full.diff(appended)}")

    // physical claim: after an append the index REALLY holds
    // overlapping envelopes (else this spec exercises nothing the
    // pruned spec doesn't), and the prune stays conservative through
    // them — every probe bucket is present in the kept files
    val dir = new java.io.File(tempDir("graft_dapp_"))
    val path = new java.io.File(dir, "idx").toString
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val hist = TextOps.bandIndexOf(docs)
    TextOps.dedupIndexWrite(hist.filter(col("doc_id") % 2 === 0), path)
    TextOps.dedupIndexAppend(hist.filter(col("doc_id") % 2 =!= 0), path)
    val stats = graft.sinks.ManifestTable.snapshotStats(spark, path)
      .flatMap { case (_, st) => st.get("bkey") }.sortBy(_._1)
    val overlaps = stats.sliding(2).count {
      case Seq((_, aMax), (bMin, _)) => bMin <= aMax
      case _ => false
    }
    assert(overlaps > 0,
      "append produced a globally range-laid index — the overlap path is untested")
    val probe = TextOps.bandIndexOf(docs.orderBy(col("doc_id")).limit(3))
    val (kept, total) = TextOps.dedupPrunedFiles(spark, path, probe)
    assert(kept.nonEmpty && kept.size < total,
      s"prune did nothing through overlap: ${kept.size} of $total")
    val keptRows = graft.sinks.ManifestTable.readFiles(spark, path, kept)
    val missing = probe.select(col("band"), col("bucket")).distinct()
      .join(keptRows.select(col("band"), col("bucket")).distinct(),
        Seq("band", "bucket"), "left_anti").count()
    assert(missing == 0, s"$missing probe buckets absent from kept files")
  }

  test("pruned file set follows the snapshot version (envelope-cache invalidation)") {
    // the r13 per-version broadcast envelope index is cached per path;
    // a stale hit after a new snapshot commit would silently prune
    // against the OLD file envelopes — this pins the invalidation:
    // replace the index under the same path and the prune must see the
    // new version's files (names change with the staging token, so any
    // old-version name in the kept set is a stale cache)
    val dir = new java.io.File(tempDir("graft_envinv_"))
    val path = new java.io.File(dir, "idx").toString
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    TextOps.dedupIndexWrite(TextOps.bandIndexOf(docs), path)
    val probe = TextOps.bandIndexOf(docs.orderBy(col("doc_id")).limit(3))
    val (kept1, total1) = TextOps.dedupPrunedFiles(spark, path, probe)
    val v1Files = graft.sinks.ManifestTable.snapshotFiles(spark, path).toSet
    assert(kept1.forall(v1Files), "kept names must come from v1's manifest")
    // commit a NEW snapshot (half the docs) at the same path
    TextOps.dedupIndexWrite(
      TextOps.bandIndexOf(docs.filter(col("doc_id") % 2 === 0)), path)
    val v2Files = graft.sinks.ManifestTable.snapshotFiles(spark, path).toSet
    assert((v1Files & v2Files).isEmpty, "staging tokens must differ")
    val (kept2, total2) = TextOps.dedupPrunedFiles(spark, path, probe)
    assert(total1 == TextOps.DedupIndexFiles && total2 == TextOps.DedupIndexFiles)
    assert(kept2.nonEmpty && kept2.forall(v2Files),
      s"stale envelope cache: kept names not from the new snapshot " +
        s"(${kept2.filterNot(v2Files).take(3)})")
  }

  test("envelope cache keys on manifest IDENTITY: a recreated index at the same path is re-read") {
    // r13 advice (medium): version numbering restarts at 0 when a
    // table is deleted and recreated at the same path, so a
    // version-only cache key would serve the OLD table's envelopes —
    // and a probe falling outside them silently reports zero
    // duplicates. The fix keys on (version, manifest length, mtime).
    val dir = new java.io.File(tempDir("graft_envid_"))
    val path = new java.io.File(dir, "idx").toString
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    TextOps.dedupIndexWrite(TextOps.bandIndexOf(docs), path)
    val probe = TextOps.bandIndexOf(docs.orderBy(col("doc_id")).limit(3))
    TextOps.dedupPrunedFiles(spark, path, probe): Unit // cache v0
    assert(graft.sinks.ManifestTable.latestVersion(spark, path)
      .contains(0L))
    // delete and RECREATE at the same path: version 0 again, new files
    graft.sinks.Sinks.deleteRecursively(new java.io.File(path))
    TextOps.dedupIndexWrite(
      TextOps.bandIndexOf(docs.filter(col("doc_id") % 2 === 0)), path)
    assert(graft.sinks.ManifestTable.latestVersion(spark, path)
      .contains(0L), "fixture: recreation must restart at version 0")
    val newFiles = graft.sinks.ManifestTable.snapshotFiles(spark, path).toSet
    val (kept, _) = TextOps.dedupPrunedFiles(spark, path, probe)
    assert(kept.nonEmpty && kept.forall(newFiles),
      s"stale envelope cache across a same-path recreation: " +
        s"${kept.filterNot(newFiles).take(3)}")
    // and the full probe still answers correctly against the new table
    val verdict = TextOps.probePrunedBatch(
      docs.orderBy(col("doc_id")).limit(3), path).collect()
    assert(verdict.length == 3)
  }

  test("append re-lay trigger: overlap depth past the threshold compacts, verdicts invariant") {
    val dir = new java.io.File(tempDir("graft_relay_"))
    val path = new java.io.File(dir, "idx").toString
    val spark2 = spark
    import spark2.implicits._
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val isBatch = graft.operators.Scale.isBatch(col("doc_id"))
    val hist = TextOps.bandIndexOf(docs.filter(!isBatch))
      .localCheckpoint(true)
    val batch = docs.filter(isBatch)
    // fresh write: depth is the range-laid floor (1–2: inclusive
    // endpoints of adjacent envelopes may touch)
    TextOps.dedupIndexWrite(hist.filter(col("doc_id") % 4 === 0), path)
    val floor = TextOps.dedupIndexOverlapDepth(spark, path)
    assert(floor <= 2, s"range-laid depth should be ~1, got $floor")
    // three appends with the trigger DISABLED (relayDepth=0): each
    // tranche tiles the key space once more — depth grows
    (1 to 3).foreach { i =>
      TextOps.dedupIndexAppend(hist.filter(col("doc_id") % 4 === i),
        path, files = 4, relayDepth = 0): Unit
    }
    val grown = TextOps.dedupIndexOverlapDepth(spark, path)
    assert(grown > floor && grown >= 3,
      s"appends should stack envelope depth, got $grown (floor $floor)")
    val verdictBefore = TextOps.probePrunedBatch(batch, path).collect()
      .map(_.toString).sorted.toSeq
    // one more append WITH a threshold the snapshot already exceeds:
    // the trigger must re-lay the whole index in the same call (the
    // sentinel doc's unique tokens cannot collide with any probe)
    val extra = TextOps.bandIndexOf(Seq(
      (999999L, "zzq unique relay trigger sentinel wwx yyv qqj",
        "en", "srcZ")).toDF("doc_id", "text", "lang", "source"))
    TextOps.dedupIndexAppend(extra, path, files = 1,
      relayDepth = 2): Unit
    val relaid = TextOps.dedupIndexOverlapDepth(spark, path)
    assert(relaid <= 2,
      s"re-lay should restore the range-laid floor, got $relaid")
    assert(graft.sinks.ManifestTable.snapshotFiles(spark, path).size ==
      TextOps.DedupIndexFiles,
      "re-lay should produce the full write layout")
    // physical-only: the probe answers identically pre/post re-lay
    val verdictAfter = TextOps.probePrunedBatch(batch, path).collect()
      .map(_.toString).sorted.toSeq
    assert(verdictAfter == verdictBefore,
      "compaction changed verdicts — re-lay must be physically invisible")
  }

  test("probeAppendBatch: accretes novel docs; a crash-replay computes the identical verdict and appends nothing") {
    val dir = new java.io.File(tempDir("graft_pab_"))
    val path = new java.io.File(dir, "idx").toString
    val spark2 = spark
    import spark2.implicits._
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again",
        "en", "src0"),
      (2L, "completely different historical content about rivers and sensors",
        "en", "src0")).toDF("doc_id", "text", "lang", "source")
    TextOps.dedupIndexWrite(TextOps.bandIndexOf(history), path)
    val batch = Seq(
      // dup of history doc 1
      (100L, "the quick brown fox jumps over the lazy dog again and again",
        "en", "src0"),
      // novel
      (101L, "entirely novel text that matches nothing in the history",
        "en", "src0"),
      // within-batch copy of the novel doc: judged against HISTORY
      // only, so it passes clean this batch and both land in the index
      (102L, "entirely novel text that matches nothing in the history",
        "en", "src0")).toDF("doc_id", "text", "lang", "source")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        Option(r.get(r.fieldIndex("dup_of"))),
        Option(r.get(r.fieldIndex("est_jaccard"))))
    val v1 = TextOps.probeAppendBatch(batch, path, txnId = "b0")
      .collect().map(key).toSet
    assert(v1 == Set(
      (100L, 1L, Some(1L), Some(1.0)),
      (101L, 0L, None, None),
      (102L, 0L, None, None)), s"first-run verdict wrong: $v1")
    // the novel docs (and ONLY they) accreted into the index
    val idxIds = graft.sinks.ManifestTable.read(spark, path)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(1L, 2L, 101L, 102L),
      s"index accretion wrong: $idxIds")
    val versionsAfter = graft.sinks.ManifestTable.versions(spark, path)
    // CRASH-REPLAY: same batch, same txnId, index already appended.
    // The verdict must be IDENTICAL (batch's own ids are excluded
    // from the history side — no self-matches, no within-batch
    // matches through the half-committed tranche) and the append a
    // detected no-op.
    val v2 = TextOps.probeAppendBatch(batch, path, txnId = "b0")
      .collect().map(key).toSet
    assert(v2 == v1, s"replay verdict diverged:\n$v2\nvs\n$v1")
    assert(graft.sinks.ManifestTable.versions(spark, path) == versionsAfter,
      "replay re-appended — txn marker not honored")
    // a NEXT batch flags against the appended tranche
    val next = Seq(
      (200L, "entirely novel text that matches nothing in the history",
        "en", "src0")).toDF("doc_id", "text", "lang", "source")
    val v3 = TextOps.probeAppendBatch(next, path, txnId = "b1")
      .collect().map(key).toSet
    assert(v3 == Set((200L, 1L, Some(101L), Some(1.0))),
      s"cross-batch accretion failed: $v3")
  }

  test("bigram LM: NLL bounds and bigram mass per eval doc") {
    val rows = TextOps.lmBigram(spark, sf).collect()
    assert(rows.nonEmpty)
    // model-wide bounds: smoothed probability is in (0, 1) strictly
    // (c12 <= ctx and V > 1), so 0 < avg_nll <= ln(maxCtx + V)
    val docs = graft.ingest.Sources.documents(spark, sf)
      .withColumn("is_train",
        graft.operators.Scale.hashBucket(col("doc_id")) < 80)
    val v = docs.filter(col("is_train"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val maxCtx = docs.filter(col("is_train"))
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).count().agg(max(col("count"))).head().getLong(0)
    val ub = math.log(maxCtx.toDouble + v)
    rows.foreach { r =>
      val nll = r.getAs[Double]("avg_nll")
      assert(nll > 0.0 && nll <= ub + 1e-9,
        s"doc ${r.getLong(0)}: avg_nll $nll outside (0, $ub]")
    }
    // each eval doc contributes exactly (tokens - 1) bigrams
    val expected = docs.filter(!col("is_train"))
      .select(col("doc_id"), (size(split(col("text"), " ")) - 1).as("nb"))
      .filter(col("nb") >= 1).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("nb").toLong).toMap
    assert(rows.map(r => r.getLong(0) -> r.getAs[Long]("n_bigram")).toMap
      == expected, "bigram mass mismatch")
  }

  test("sourceLeakage: strictly cross-source, canonical order, bounded by all-pairs ground truth") {
    val rows = graft.analytics.TextOps.sourceLeakage(spark, sf).collect()
    assert(rows.nonEmpty, "fixture has no cross-source near-dups — vacuous")
    rows.foreach { r =>
      assert(r.getString(1) < r.getString(2), "source pair not canonical")
      val avg = r.getAs[Double]("avg_est_jaccard")
      assert(avg >= 0.75 && avg <= 1.0, s"avg $avg outside [threshold, 1]")
      assert(r.getAs[Long]("n_pairs") >= 1L)
    }
    // banding can only MISS pairs, never invent them: every cell count
    // is bounded by the all-pairs (no banding) agreement ground truth
    val sigs = graft.analytics.TextOps
      .sigArraysOf(graft.ingest.Sources.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getAs[scala.collection.Seq[Long]]("sig").toArray))
    val truth = scala.collection.mutable.Map
      .empty[(String, String, String), Long].withDefaultValue(0L)
    for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (ida, la, sa, va) = sigs(i); (idb, lb, sb, vb) = sigs(j)
      if la == lb && sa != sb
      agree = va.zip(vb).count { case (x, y) => x == y }
      if agree * 4 >= 3 * 32 // est >= 0.75 on 32 lanes
    } truth((la, if (sa < sb) sa else sb, if (sa < sb) sb else sa)) += 1L
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getString(2))
      assert(r.getAs[Long]("n_pairs") <= truth(key),
        s"cell $key reports more pairs than exist: " +
          s"${r.getAs[Long]("n_pairs")} > ${truth(key)}")
    }
  }

  test("langEntropy: metrics reproduce a driver-side recount per language") {
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
    val counts = docs
      .flatMap(r => "[a-z]+".r.findAllIn(r.getString(1).toLowerCase)
        .map(w => (r.getString(0), w)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = graft.analytics.TextOps.langEntropy(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      rows.map(_.getString(0)).toSeq.sorted, "output not lang-ordered")
    rows.foreach { r =>
      val lang = r.getString(0)
      val cnts = counts.collect { case ((l, _), c) if l == lang => c }.toSeq
      val nTypes = cnts.size.toLong
      val nTokens = cnts.sum
      assert(r.getAs[Long]("n_types") == nTypes, s"$lang types")
      assert(r.getAs[Long]("n_tokens") == nTokens, s"$lang tokens")
      val log2 = (x: Double) => math.log(x) / math.log(2.0)
      val h = log2(nTokens.toDouble) -
        cnts.map(c => c * log2(c.toDouble)).sum / nTokens
      assert(math.abs(r.getAs[Double]("entropy_bits") - h) < 1e-4,
        s"$lang entropy ${r.getAs[Double]("entropy_bits")} != $h")
      // entropy is bounded by log2(vocab); Zipfian text slopes negative
      assert(h >= 0 && h <= log2(nTypes.toDouble) + 1e-9)
      assert(r.getAs[Double]("zipf_slope") < 0.0,
        s"$lang zipf slope not negative")
      val ttr = r.getAs[Double]("type_token_ratio")
      assert(ttr > 0.0 && ttr <= 1.0)
    }
    assert(rows.nonEmpty)
  }

  test("phrase search: replays a driver-side scan of the raw text; probe broadcasts the phrases") {
    import graft.analytics.TextOps
    val texts = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    // driver-side ground truth: top-K bigrams, then every adjacency hit
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.values.foreach { ts =>
      ts.sliding(2).filter(_.length == 2).foreach { p =>
        counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + 1
      }
    }
    val top = counts.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(TextOps.PhraseTopK)
      .map(_._1)
    val expected = (for {
      (w1, w2) <- top
      (id, ts) <- texts
      hits = ts.indices.dropRight(1)
        .filter(i => ts(i) == w1 && ts(i + 1) == w2)
      if hits.nonEmpty
    } yield (s"$w1 $w2", id) -> (hits.size.toLong, hits.min + 1L)).toMap
    val df = TextOps.phraseSearch(spark, sf)
    val got = df.collect().map(r =>
      (r.getAs[String]("phrase"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("n_occ"), r.getAs[Long]("first_pos"))).toMap
    assert(got == expected, "phrase hits do not replay from raw text")
    assert(got.nonEmpty)
    val p = plan(df)
    assert(p.contains("BroadcastExchange"),
      "phrase probe must broadcast the tiny query-phrase side")
    assert(!p.contains("CartesianProduct"))
  }

  test("phrase search plan: no corpus-derived broadcast in the EXECUTED plan (r6 regression)") {
    // Round 6 shipped a probe whose second join BROADCAST THE ENTIRE
    // postings table (every token of every document) — invisible at
    // small SF where the corpus fits under the broadcast threshold,
    // fatal at scale. This pins the fix: after AQE finalizes the plan,
    // every broadcast build side must be cardinality-bounded (the ≤3-row
    // phrase frame / its distinct w2 projection), never a raw posting
    // scan; and the pos-adjacency join must be a shuffled join between
    // the two semi-filtered posting lists.
    import graft.analytics.TextOps
    val df = TextOps.phraseSearch(spark, sf)
    val fin = org.apache.spark.sql.GraftBridge.finalPlan(df)
    val offenders = graft.tools.PlanForensics.corpusBroadcasts(fin)
    assert(offenders.isEmpty,
      s"corpus-derived broadcast in phrase-search probe: $offenders\n$fin")
    val nodes = graft.tools.PlanForensics.walk(fin)
      .map(_.getClass.getSimpleName)
    assert(nodes.contains("ShuffledHashJoinExec") ||
      nodes.contains("SortMergeJoinExec"),
      s"adjacency join must shuffle the semi-filtered posting lists:\n$fin")
  }

  test("top-terms shift: counts replay from driver-side top-K cuts; accounting closes") {
    import graft.analytics.TextOps
    val toks = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1)
        .map(t => (r.getLong(0) % 5 == 4) -> t))
    def top(batch: Boolean) = toks.filter(_._1 == batch).map(_._2)
      .groupBy(identity).map { case (t, xs) => t -> xs.size }
      .toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextOps.TermShiftK).map(_._1).toSet
    val h = top(false); val b = top(true)
    val r = TextOps.topTermsShift(spark, sf).collect().head
    assert(r.getAs[Long]("n_hist_top") == h.size)
    assert(r.getAs[Long]("n_batch_top") == b.size)
    assert(r.getAs[Long]("n_shared") == (h & b).size)
    assert(r.getAs[Long]("n_entrants") == (b -- h).size)
    assert(r.getAs[Long]("n_dropouts") == (h -- b).size)
    assert(r.getAs[Long]("overlap_ppm") == 1000000L * (h & b).size / b.size)
    // accounting closes: shared + entrants = batch top, shared +
    // dropouts = hist top
    assert(r.getAs[Long]("n_shared") + r.getAs[Long]("n_entrants")
      == r.getAs[Long]("n_batch_top"))
    assert(r.getAs[Long]("n_shared") + r.getAs[Long]("n_dropouts")
      == r.getAs[Long]("n_hist_top"))
  }

  test("dedup quality reps: representative is the cluster argmax; agrees with dedupClusters membership") {
    import graft.analytics.TextOps
    val clusters = TextOps.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("component") ->
        r.getAs[String]("doc_ids").split(",").map(_.toLong).toSet).toMap
    val out = TextOps.dedupQualityReps(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("representative"), r.getAs[Long]("rep_quality"),
        r.getAs[Long]("quality_spread")))
    // same clusters as the canonical min-id operator
    assert(out.map(_._1).toSet == clusters.keySet)
    out.foreach { case (c, n, rep, q, spread) =>
      val members = clusters(c)
      assert(n == members.size && members(rep), s"cluster $c membership")
      assert(q >= 0 && q <= 3 && spread >= 0 && spread <= 3)
    }
    // the rule must matter somewhere: at least one representative
    // differs from the min-id canonical (else the fixture cannot
    // distinguish the two policies)
    assert(out.exists { case (c, _, rep, _, _) => rep != clusters(c).min },
      "every quality rep equals the min id — policy indistinguishable")
  }

  test("trigram lang-id: confusion matrix replays; near-chance on the shared-vocab fixture") {
    import graft.analytics.TextOps
    val out = TextOps.langIdTrigram(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("predicted"),
        r.getAs[Long]("n_docs")))
    val nEval = graft.ingest.Sources.documents(spark, sf)
      .filter(graft.operators.Scale.hashBucket(col("doc_id")) >= 80).count()
    assert(out.map(_._3).sum == nEval, "matrix mass != eval docs")
    // every predicted label is a real language or unk
    val langs = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSet
    out.foreach { case (l, p, _) =>
      assert(langs(l) && (langs(p) || p == "unk"))
    }
    // the diagnosis the audit exists for: this corpus's languages
    // share one vocabulary, so accuracy must sit near chance — FAR
    // below the 0.9 a real multilingual corpus would show (if this
    // fires, the fixture gained real language structure: tighten it)
    val tot = out.map(_._3).sum.toDouble
    val acc = out.filter(t => t._1 == t._2).map(_._3).sum / tot
    assert(acc < 0.5, s"accuracy $acc: labels became text-derivable?")
  }

  test("dedup bias audit: verdict partition conserves; histogram consistent with mean") {
    import graft.analytics.TextOps
    val out = TextOps.dedupBiasAudit(spark, sf).collect()
      .map(r => r.getAs[String]("verdict") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("mean_q_milli"),
          Seq(r.getAs[Long]("q0"), r.getAs[Long]("q1"),
            r.getAs[Long]("q2"), r.getAs[Long]("q3")))).toMap
    val nDocs = graft.ingest.Sources.documents(spark, sf).count()
    assert(out.keySet.subsetOf(Set("kept", "removed")))
    assert(out.values.map(_._1).sum == nDocs, "verdicts do not partition")
    out.foreach { case (v, (n, meanMilli, hist)) =>
      assert(hist.sum == n, s"$v histogram mass")
      val scoreSum = hist.zipWithIndex.map { case (c, q) => c * q }.sum
      assert(meanMilli == 1000L * scoreSum / n, s"$v mean inconsistent")
    }
    // the planted near-dups mean the removed bucket is non-empty
    assert(out.contains("removed") && out("removed")._1 > 0)
  }

  test("ngram novelty: replays a driver-side shingle diff; planted dup is non-novel") {
    import graft.analytics.TextOps
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(" ", -1).toSeq))
    def grams(ts: Seq[String]) =
      if (ts.length < 8) Set.empty[String]
      else ts.sliding(8).map(_.mkString(" ")).toSet
    val byLang = docs.groupBy(_._1)
    val expected = byLang.flatMap { case (lang, ds) =>
      val b = ds.filter(_._2 % 5 == 4).flatMap(d => grams(d._3)).toSet
      val h = ds.filter(_._2 % 5 != 4).flatMap(d => grams(d._3)).toSet
      if (b.isEmpty) None
      else Some(lang -> (b.size.toLong, (b -- h).size.toLong))
    }
    val got = TextOps.ngramNovelty(spark, sf).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_batch_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm"))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (lang, (nb, nn)) =>
      val (gb, gn, ppm) = got(lang)
      assert(gb == nb && gn == nn, s"$lang gram counts do not replay")
      assert(ppm == 1000000L * nn / nb)
    }
    // the fixture plants cross-boundary near-dups: novelty < 100%
    // somewhere, and some genuinely new text exists too
    assert(got.values.exists(_._3 < 1000000L), "no shared grams — vacuous")
    assert(got.values.exists(_._3 > 0L), "no novel grams — vacuous")
  }

  test("lang overlap matrix: shared-type counts replay; Jaccard exact; matrix bounded by lang pairs") {
    import graft.analytics.TextOps
    val vocab = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(r.getString(0) -> _))
      .distinct.groupBy(_._1).map { case (l, ts) => l -> ts.map(_._2).toSet }
    val out = TextOps.langOverlap(spark, sf).collect()
    val langs = vocab.keys.toSeq.sorted
    assert(out.length <= langs.size * (langs.size - 1) / 2)
    out.foreach { r =>
      val la = r.getAs[String]("lang_a"); val lb = r.getAs[String]("lang_b")
      assert(la < lb)
      val shared = (vocab(la) & vocab(lb)).size.toLong
      assert(r.getAs[Long]("n_shared") == shared, s"($la,$lb) shared")
      assert(r.getAs[Long]("va") == vocab(la).size.toLong)
      assert(r.getAs[Long]("vb") == vocab(lb).size.toLong)
      assert(r.getAs[Long]("jaccard_ppm") ==
        1000000L * shared / (vocab(la).size + vocab(lb).size - shared))
    }
    assert(out.nonEmpty, "no overlapping language pairs — vacuous fixture")
  }

  test("dedup rate curve: monotone non-increasing in threshold; counts replay from the pair table") {
    import graft.analytics.TextOps
    val out = TextOps.dedupRateCurve(spark, sf).collect()
      .map(r => (r.getAs[Int]("th32"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_removed"), r.getAs[Long]("removed_ppm")))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq ==
      TextOps.DedupCurve32s.filter(t => out.map(_._1).contains(t)))
    // tightening the threshold can only shrink the curve
    out.sliding(2).foreach {
      case Array((_, p1, d1, _), (_, p2, d2, _)) =>
        assert(p2 <= p1 && d2 <= d1, "curve not monotone")
      case _ => ()
    }
    // exact replay from the LSH pair table
    val pairs = TextOps.minHashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_b"), r.getAs[Double]("est_jaccard")))
    val nCorpus = graft.ingest.Sources.documents(spark, sf).count()
    out.foreach { case (t, np, nd, ppm) =>
      val q = pairs.filter(_._2 >= t.toDouble / 32.0)
      assert(np == q.length, s"th=$t pair count")
      assert(nd == q.map(_._1).distinct.length, s"th=$t removed count")
      assert(ppm == 1000000L * nd / nCorpus)
    }
    assert(out.head._2 > 0, "curve empty at the loosest threshold — vacuous")
  }

  test("curriculum stages: token-mass quarters, difficulty-ordered, totals conserve") {
    import graft.analytics.TextOps
    val out = TextOps.curriculumStages(spark, sf).collect()
      .map(r => (r.getAs[Long]("stage"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("bin_lo"),
        r.getAs[Long]("bin_hi"))).sortBy(_._1)
    assert(out.nonEmpty && out.map(_._1).forall(s => s >= 0 && s < 4))
    // stages are difficulty-ordered and non-overlapping on the bin axis
    out.sliding(2).foreach {
      case Array((_, _, _, _, hi1), (_, _, _, lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
    // totals conserve against the base scoring
    val base = TextOps.lmPerplexity(spark, sf).collect()
    assert(out.map(_._2).sum == base.length)
    assert(out.map(_._3).sum == base.map(_.getAs[Long]("n_tok")).sum)
    // each stage except possibly the last holds <= ~a quarter + one
    // bin of token mass (histogram granularity, not doc granularity)
    val total = out.map(_._3).sum
    val maxBinMass = {
      val bins = base.groupBy(r => math.floor(r.getAs[Double]("avg_nll") * 10))
        .map(_._2.map(_.getAs[Long]("n_tok")).sum)
      bins.max
    }
    out.foreach { case (s, _, tok, _, _) =>
      assert(tok <= total / 4 + maxBinMass,
        s"stage $s mass $tok exceeds quarter + bin granularity")
    }
  }

  test("minhash recall harness: counts replay from the two pair sets; metrics are the exact ratios") {
    import graft.analytics.TextOps
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(TextOps.nearDupJaccard(spark, sf))
    val lsh = pairs(TextOps.minHashLsh(spark, sf))
    val row = TextOps.minhashRecall(spark, sf).collect().head
    assert(row.getAs[Long]("n_exact") == exact.size)
    assert(row.getAs[Long]("n_lsh") == lsh.size)
    assert(row.getAs[Long]("n_hit") == (exact & lsh).size)
    assert(row.getAs[Long]("precision_ppm") ==
      (if (lsh.isEmpty) 0L else 1000000L * (exact & lsh).size / lsh.size))
    assert(row.getAs[Long]("recall_ppm") ==
      (if (exact.isEmpty) 0L else 1000000L * (exact & lsh).size / exact.size))
    // the banding is configured for ≥0.99 theoretical recall at J=0.8
    // (1-(1-J^4)^8); demand ≥ 0.9 observed on the fixture
    assert(exact.isEmpty || row.getAs[Long]("recall_ppm") >= 900000L,
      s"LSH recall ${row.getAs[Long]("recall_ppm")} ppm below banding promise")
  }

  test("leakage-safe split: clusters never straddle splits; totals conserve; doc-id split WOULD leak") {
    import graft.analytics.TextOps
    val out = TextOps.leakageSafeSplit(spark, sf).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("cross_pairs"))).toMap
    // in-band guarantee: zero boundary-crossing near-dup pairs
    out.values.foreach { case (_, _, x) => assert(x == 0L) }
    // totals conserve: every document assigned exactly once
    val nDocs = graft.ingest.Sources.documents(spark, sf).count()
    assert(out.values.map(_._2).sum == nDocs)
    assert(out.keySet.subsetOf(Set("train", "valid", "test")))
    // the guarantee is non-vacuous: hashing the DOC id instead of the
    // cluster id DOES cross the boundary on this corpus (the planted
    // near-dup pairs split apart) — i.e. the cluster hop is load-bearing
    val pairs = TextOps.nearDupJaccard(spark, sf).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture has no near-dup pairs — test vacuous")
    val idSplit = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"),
        graft.operators.Scale.hashSplit(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairs.exists { case (a, b) => idSplit(a) != idSplit(b) },
      "doc-id-hashed split happens not to leak on this corpus — " +
        "strengthen the fixture or the spec is vacuous")
  }

  test("Kneser-Ney bigrams: replays a driver-side model build; probabilities are discounted") {
    import graft.analytics.TextOps
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    val byLang = docs.groupBy(_._1)
    val expected = byLang.toSeq.flatMap { case (lang, ds) =>
      val bgs = ds.flatMap { case (_, ts) => ts.sliding(2).filter(_.length == 2)
        .map(p => s"${p(0)} ${p(1)}") }
      val c2 = bgs.groupBy(identity).map { case (bg, xs) => bg -> xs.size.toLong }
      val c1 = c2.groupBy(_._1.split(" ")(0)).map { case (w1, m) =>
        w1 -> m.values.sum }
      val n1pW1 = c2.groupBy(_._1.split(" ")(0)).map { case (w1, m) =>
        w1 -> m.size.toLong }
      val n1pW2 = c2.groupBy(_._1.split(" ")(1)).map { case (w2, m) =>
        w2 -> m.size.toLong }
      val nbt = c2.size.toLong
      val d = TextOps.KnDiscountQuarters
      c2.filter(_._2 >= TextOps.KnMinCount).toSeq.map { case (bg, c12) =>
        val Array(w1, w2) = bg.split(" ")
        val p = (1000000L * ((4 * c12 - d) * nbt + d * n1pW1(w1) * n1pW2(w2))) /
          (4 * c1(w1) * nbt)
        (lang, bg, c12, c1(w1), p)
      }.sortBy { case (_, bg, _, _, p) => (-p, bg) }
        .take(TextOps.KnTopK).zipWithIndex
        .map { case ((l, bg, c12, cc1, p), i) => (l, i + 1, bg, c12, cc1, p) }
    }.sortBy(t => (t._1, t._2))
    val got = TextOps.lmKneserNey(spark, sf).collect().map(r =>
      (r.getAs[String]("lang"), r.getAs[Int]("rnk"),
        r.getAs[String]("bigram"), r.getAs[Long]("c12"),
        r.getAs[Long]("c1"), r.getAs[Long]("p_micro"))).toSeq
    assert(got == expected, s"KN model does not replay:\n${got.take(3)}\nvs\n${expected.take(3)}")
    // discounting: every probability strictly below 1, and positive
    got.foreach { case (_, _, _, _, _, p) =>
      assert(p > 0 && p < 1000000L, s"p_micro $p outside (0, 1e6)")
    }
    assert(got.nonEmpty)
  }

  test("DSIR selection: replays a driver-side hashed-ngram importance weighting") {
    import graft.analytics.TextOps
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ", -1).toSeq))
    // identical md5 bucket rule, via the SQL expression the engine uses
    val allToks = docs.flatMap { case (_, _, _, ts) => ts }.distinct
    val spark2 = spark
    import spark2.implicits._
    val bucketOf = allToks.toSeq.toDF("tok")
      .select(col("tok"), graft.operators.Scale.hashBucket(col("tok"),
        TextOps.DsirBuckets).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val B = TextOps.DsirBuckets
    val src = new Array[Long](B); val tgt = new Array[Long](B)
    var nSrc = 0L; var nTgt = 0L
    docs.foreach { case (_, lang, _, ts) =>
      ts.foreach { t =>
        val b = bucketOf(t).toInt
        src.update(b, src(b) + 1L)
        nSrc += 1
        if (lang == TextOps.DsirTargetLang) {
          tgt.update(b, tgt(b) + 1L)
          nTgt += 1
        }
      }
    }
    val lr = (0 until B).map(b => math.floor(1e6 * (
      math.log((tgt(b) + 1).toDouble / (nTgt + B)) -
        math.log((src(b) + 1).toDouble / (nSrc + B)))).toLong)
    val expected = docs.filter(_._2 != TextOps.DsirTargetLang)
      .map { case (id, lang, source, ts) =>
        (id, lang, source, ts.map(t => lr(bucketOf(t).toInt)).sum,
          ts.length.toLong)
      }
      .sortBy { case (id, _, _, w, _) => (-w, id) }
      .take(TextOps.DsirTopK)
    val got = TextOps.dsirSelect(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("logw_micro"),
        r.getAs[Long]("n_tok")))
    assert(got.toSeq == expected.toSeq,
      s"DSIR selection does not replay: got ${got.take(3).toSeq}... " +
        s"expected ${expected.take(3).toSeq}...")
    // ranks contiguous
    val rnks = TextOps.dsirSelect(spark, sf).collect().map(_.getAs[Int]("rnk"))
    assert(rnks.toSeq == (1 to got.length))
  }

  test("RAKE keywords: replays a driver-side run-split + degree/freq scoring") {
    import graft.analytics.TextOps
    val stop = Set("the", "a")
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // candidate phrases per lang: maximal stopword-free runs
    val phrases = docs.flatMap { case (lang, text) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      text.split(" ", -1).foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur = t :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs.map(ws => lang -> ws.mkString(" "))
    }
    val byLang = phrases.groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2) }
    val expected = byLang.flatMap { case (lang, ps) =>
      val freq = scala.collection.mutable.Map.empty[String, Long]
      val degree = scala.collection.mutable.Map.empty[String, Long]
      ps.foreach { p =>
        val ws = p.split(" ", -1)
        ws.foreach { w =>
          freq(w) = freq.getOrElse(w, 0L) + 1
          degree(w) = degree.getOrElse(w, 0L) + ws.length
        }
      }
      val milli = freq.keys.map(w => w -> 1000L * degree(w) / freq(w)).toMap
      val pFreq = ps.groupBy(identity).map { case (p, v) => p -> v.size.toLong }
      pFreq.toSeq
        .map { case (p, f) =>
          (p, f, p.split(" ", -1).map(milli).sum)
        }
        .sortBy { case (p, f, s) => (-s, -f, p) }
        .take(TextOps.RakeTopK)
        .zipWithIndex
        .map { case ((p, f, s), i) => (lang, i + 1) -> (p, s, f) }
    }
    val got = TextOps.rakeKeywords(spark, sf).collect().map(r =>
      (r.getString(0), r.getAs[Int]("rnk")) ->
        (r.getAs[String]("phrase"), r.getAs[Long]("score_milli"),
          r.getAs[Long]("p_freq"))).toMap
    assert(got == expected, "RAKE top-k does not replay from raw text")
    assert(got.nonEmpty)
  }

  test("source-token KL: exact micro-nat replay, floor-error lower bound, top token") {
    import org.apache.spark.sql.functions._
    val counts = graft.ingest.Sources.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val bySrc = counts.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val byTok = counts.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val nC = counts.map(_._2).sum
    val contribs = counts.map { case ((s, t), c) =>
      (s, t, c * math.floor(1e6 * (math.log(c.toDouble / bySrc(s)) -
        math.log(byTok(t).toDouble / nC))).toLong)
    }
    val out = graft.analytics.TextOps.sourceTokenKl(spark, sf).collect()
    assert(out.nonEmpty && out.length == bySrc.size)
    out.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("n_tok") == bySrc(s))
      val mine = contribs.filter(_._1 == s)
      assert(r.getAs[Long]("kl_micro_sum") == mine.map(_._3).sum, s"$s sum")
      // true KL >= 0; each floored term loses < 1 micro-nat per token
      assert(r.getAs[Long]("kl_micro_sum") >= -bySrc(s), s"$s KL below floor bound")
      val top = mine.minBy(t => (-t._3, t._2))
      assert(r.getAs[String]("top_token") == top._2 &&
        r.getAs[Long]("top_contrib_micro") == top._3, s"$s top token")
    }
  }

  test("domain xent: full matrix, diagonal minimizes each eval column, one cell recomputes") {
    val rows = TextOps.domainXent(spark, sf).collect()
    val srcs = rows.map(_.getString(0)).distinct.sorted
    assert(rows.length == srcs.length * srcs.length, "matrix not complete")
    // a source's own LM must fit it at least as well as any other
    // model fits it (Gibbs' inequality up to smoothing + floor slack:
    // allow a 1% micro-nat tolerance rather than strictness)
    rows.groupBy(_.getString(1)).foreach { case (e, cell) =>
      val self = cell.find(_.getString(0) == e).get.getAs[Long]("xent_micro")
      val best = cell.map(_.getAs[Long]("xent_micro")).min
      assert(self <= (best * 101) / 100,
        s"own-source model badly beaten on $e: self $self vs best $best")
    }
    // recompute one off-diagonal cell from raw counts
    val (m, e) = (srcs.head, srcs.last)
    val toks = graft.ingest.Sources.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val v = toks.map(_._2).distinct.length.toLong
    val cm = toks.filter(_._1 == m).groupBy(_._2).view.mapValues(_.length.toLong)
    val nM = cm.values.sum
    def l(w: String) = -math.floor(1e6 * math.log(
      (cm.getOrElse(w, 0L) + 1).toDouble / (nM + v))).toLong
    val evalToks = toks.filter(_._1 == e).map(_._2)
    val expect = evalToks.map(l).sum / evalToks.length
    val got = rows.find(r => r.getString(0) == m && r.getString(1) == e)
      .get.getAs[Long]("xent_micro")
    assert(got == expect, s"cell ($m,$e): $got != $expect")
  }

  /** Call sites ("collect at TextOps.scala:N") of the jobs `body`
    * submits from this thread, in submission order.
    */
  private def jobSites(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.jobSites"
    val jobs = new java.util.concurrent.LinkedBlockingQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(tag =>
          jobs.add(tag -> e.stageInfos.maxBy(_.stageId).name))
    }
    def marked(tag: String)(f: => Unit): Unit = {
      sc.setLocalProperty(key, tag)
      try f finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marked("body")(body)
      // job events arrive in order: once the closing job's has, every
      // job of the body's has too
      marked("end")(sc.parallelize(Seq(1), 1).count(): Unit)
      Iterator.continually(jobs.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(j => j != null && j._1 != "end").map(_._2).toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** [[TextOps.setCoverSelect]] over `dir` against the greedy
    * invariants and a driver-side replay of every round.
    */
  private def checkSetCover(dir: String): Unit = {
    val rows = TextOps.setCoverSelect(spark, dir).collect()
    assert(rows.length == TextOps.SetCoverK)
    val gains = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("gain"))
    // submodularity: marginal gains never increase along the greedy path
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"gains not non-increasing: ${gains.toSeq}")
    // cumulative coverage is exactly the running gain sum
    val cums = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("cum_grams"))
    assert(cums.toSeq == gains.scanLeft(0L)(_ + _).tail.toSeq)
    // replay greedy driver-side from raw grams and pin every pick
    val items = graft.ingest.Sources.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map { r =>
        val t = r.getSeq[String](1)
        r.getLong(0) -> t.sliding(TextOps.SetCoverN)
          .filter(_.length == TextOps.SetCoverN).map(_.mkString(" ")).toSet
      }.toMap
    var covered = Set.empty[String]
    rows.sortBy(_.getAs[Int]("rnk")).foreach { r =>
      val best = items.map { case (id, g) => (id, (g -- covered).size.toLong) }
        .toSeq.minBy { case (id, g) => (-g, id) }
      assert(r.getAs[Long]("doc_id") == best._1 &&
        r.getAs[Long]("gain") == best._2,
        s"round ${r.getAs[Int]("rnk")}: pick ${r.getAs[Long]("doc_id")}/${r.getAs[Long]("gain")} != replay $best")
      covered ++= items(best._1)
    }
  }

  test("set cover: greedy invariants — gains non-increasing, disjoint increments, true argmax per round") {
    import spark.implicits._
    checkSetCover(sf)
    // long near-duplicates, more of them than one prefetch holds: the
    // prefetch takes the longest, which differ from each other in 3
    // words; the 16 shorter ones left out differ in 20. After the first
    // pick the best gain sits outside the candidates, every candidate
    // fails its certificate and the rounds prefetch again — a pick made
    // without the certificate would miss the replay's argmax
    val rnd = new scala.util.Random(17)
    val base = Array.fill(200)(s"w${rnd.nextInt(1000)}")
    val docs = (1L to TextOps.SetCoverPrefetch + 16L).map { id =>
      val (len, swaps) = if (id <= TextOps.SetCoverPrefetch) (200, 3) else (190, 20)
      val t = base.take(len)
      (1 to swaps).foreach(j => t(rnd.nextInt(len)) = s"u${id}_$j")
      (id, t.mkString(" "))
    }
    val dir = tempDir("graft_setcover_")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // a prefetch collects twice: the top documents, then the
    // candidates' uncovered grams
    val collects = jobSites(checkSetCover(dir))
      .count(_.startsWith("collect at TextOps.scala:"))
    assert(collects > 2,
      s"the near-duplicate corpus never failed a certificate ($collects prefetch collects)")
  }

  test("chao2: estimate bounds observed richness; q1/q2 recompute from doc incidence") {
    val rows = TextOps.chao2Richness(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.ingest.Sources.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    rows.foreach { r =>
      val lang = r.getString(0)
      val inc = docs.filter(_._1 == lang).flatMap { case (_, _, t) =>
        t.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet.toSeq
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(r.getAs[Long]("d_grams") == inc.size.toLong)
      assert(r.getAs[Long]("q1") == inc.values.count(_ == 1L).toLong)
      assert(r.getAs[Long]("q2") == inc.values.count(_ == 2L).toLong)
      // the richness estimate can never fall below what was observed
      assert(r.getAs[Long]("chao2_milli") >= r.getAs[Long]("d_grams") * 1000L)
      val up = r.getAs[Long]("unseen_ppm")
      assert(up >= 0L && up <= 1000000L)
    }
  }

  test("nb ks: statistic recomputes from labeled margins and is positive on a real split") {
    val rows = TextOps.nbKs(spark, sf).head()
    val cal = TextOps.nbCalibration(spark, sf).collect()
    val nOk = rows.getAs[Long]("n_correct")
    val nBad = rows.getAs[Long]("n_incorrect")
    assert(nOk == cal.map(_.getAs[Long]("n_correct")).sum)
    assert(nOk + nBad == cal.map(_.getAs[Long]("n_docs")).sum)
    assert(nOk > 0 && nBad > 0,
      "both outcome classes must be populated — otherwise KS is undefined")
    val ks = rows.getAs[Long]("ks_ppm")
    assert(ks >= 0L && ks <= 1000000L)
    // a margin with NO discrimination would score ~0; the NB margin
    // must carry some signal on this corpus (the calibration curve
    // already shows accuracy rising with margin)
    assert(ks > 0L)
  }

  test("nb ks sketch: binned statistic sandwiched between exact KS and exact KS minus the largest bin's mass") {
    val exact = TextOps.nbKs(spark, sf).head()
    val sk = TextOps.nbKsSketch(spark, sf).head()
    assert(sk.getAs[Long]("n_correct") == exact.getAs[Long]("n_correct"))
    assert(sk.getAs[Long]("n_incorrect") == exact.getAs[Long]("n_incorrect"))
    val dExact = exact.getAs[Long]("ks_ppm")
    val dBin = sk.getAs[Long]("ks_ppm")
    // evaluate the largest bin's probability mass (per-class, summed)
    // — the binned CDF agrees with the exact CDF at bin boundaries,
    // so the sketch can underestimate D by at most that mass; the
    // ±4 ppm slop covers the four integer-DIV floors involved
    val w = TextOps.NbKsBinMicros
    val ms = TextOps.nbMargins(spark, sf)
      .collect().map(r => (r.getAs[Long]("ok"), r.getAs[Long]("margin")))
    val nOk = ms.count(_._1 == 1L).toLong
    val nBad = ms.length - nOk
    val maxBinMassPpm = ms.groupBy(_._2 / w).values.map { bin =>
      bin.count(_._1 == 1L).toLong * 1000000L / nOk +
        bin.count(_._1 == 0L).toLong * 1000000L / nBad
    }.max
    assert(dBin <= dExact + 4L,
      s"binned KS $dBin exceeds exact $dExact beyond DIV slop")
    assert(dExact - dBin <= maxBinMassPpm + 4L,
      s"binned KS $dBin misses exact $dExact by more than the max bin mass $maxBinMassPpm")
    // and on this corpus the sketch must retain the signal
    assert(dBin > 0L)
  }

  test("nb batch scorer (doc-token pre-aggregation) is bit-identical to the streaming-shape scorer") {
    // round 11: nbScores moved to nbScoreDocsBatch, which aggregates
    // (doc, tok) counts BEFORE the x|classes| expansion; the streaming
    // scorer keeps the one-aggregation shape. Exact integer micro-nats
    // mean the two must agree to the bit on every (doc, class) --
    // this is the pin that lets every batch NB eval (confusion matrix,
    // calibration, KS) keep its unchanged oracle while the plan shrank
    import org.apache.spark.sql.functions._
    val (classes, ltab) = TextOps.nbModel(spark, sf)
    val test = graft.ingest.Sources.documents(spark, sf)
      .filter(graft.operators.Scale.hashBucket(col("doc_id")) >= 80)
      .select(col("doc_id"), col("source").as("true_source"),
        split(col("text"), " ").as("toks"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("c"), col("score")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val a = keyed(TextOps.nbScoreDocs(test, classes, ltab, Seq("true_source")))
    val b = keyed(TextOps.nbScoreDocsBatch(test, classes, ltab, Seq("true_source")))
    assert(a.nonEmpty && a == b,
      s"batch pre-aggregated scorer diverges: ${a.size} vs ${b.size} keys")
  }
}
