package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.ingest.Sources
import graft.{Query, QueryModule}

/** Custom typed aggregates (SURVEY.md §2.7 X2).
  *
  * Welford/Chan parallel moments: numerically stable mean + variance
  * with an exact MERGE step — the property that matters on a cluster,
  * where partial aggregates combine in arbitrary order across
  * partitions. (A naive exponentially-weighted mean is order-dependent
  * and therefore not a lawful distributed aggregate; time-decayed
  * stats live in window functions instead — see
  * graft.analytics.Quality.rollingZscore.)
  */
object Aggregators extends QueryModule {

  /** Running moments buffer: count, mean, and M2 (sum of squared
    * deviations from the current mean).
    */
  final case class Moments(n: Long, mean: Double, m2: Double)

  final case class MomentsOut(n: Long, mean: Double, stddev_samp: Double)

  /** Chan et al. parallel-merge Welford aggregator. */
  object WelfordMoments extends Aggregator[Double, Moments, MomentsOut] {
    override def zero: Moments = Moments(0L, 0.0, 0.0)

    override def reduce(b: Moments, x: Double): Moments = {
      val n = b.n + 1
      val delta = x - b.mean
      val mean = b.mean + delta / n
      Moments(n, mean, b.m2 + delta * (x - mean))
    }

    override def merge(a: Moments, b: Moments): Moments =
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val delta = b.mean - a.mean
        Moments(n,
          a.mean + delta * b.n / n,
          a.m2 + b.m2 + delta * delta * a.n * b.n / n)
      }

    override def finish(r: Moments): MomentsOut =
      MomentsOut(r.n, r.mean,
        if (r.n > 1) math.sqrt(r.m2 / (r.n - 1)) else Double.NaN)

    override def bufferEncoder: Encoder[Moments] = Encoders.product
    override def outputEncoder: Encoder[MomentsOut] = Encoders.product
  }

  /** Column form for untyped DataFrames. */
  val welford: Column => Column = {
    val u = udaf(WelfordMoments)
    (c: Column) => u(c)
  }

  /** Oracle-checked query: per-event-type moments via the custom
    * aggregator; DuckDB recomputes with its built-ins — equality (to
    * 4 decimals) proves the merge math, since local[*] merges partial
    * buffers across 32 partitions in arbitrary order.
    */
  def eventMoments(spark: SparkSession, dir: String): DataFrame =
    Sources.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(welford(col("value")).as("m"))
      .select(col("event_type"), col("m.n").as("n"),
        round(col("m.mean"), 4).as("mean_value"),
        round(col("m.stddev_samp"), 4).as("sd_value"))
      .orderBy(col("event_type"))

  val eventMomentsSql: String =
    """SELECT event_type, count(value) AS n,
      |  round(avg(value), 4) AS mean_value,
      |  round(stddev_samp(value), 4) AS sd_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // X3: Count-Min Sketch (Cormode & Muthukrishnan 2005)
  // ---------------------------------------------------------------

  /** Sketch depth (hash rows) and width (buckets per row). ε = e/w,
    * δ = e^−d: estimates overcount by ≤ εN with probability ≥ 1−δ.
    */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Fixed-size mergeable buffer; a case class so Encoders.product
    * serializes it without a custom encoder.
    */
  final case class CmsBuf(c: Array[Long])

  /** Count-Min Sketch over string keys — the mergeable fixed-size
    * frequency sketch a 100 TB pipeline uses where an exact groupBy's
    * key cardinality is unbounded: the buffer is d×w Longs (8 KiB
    * here) regardless of input size, `merge` is elementwise addition
    * (associative + commutative, so partial sketches combine lawfully
    * in any partition order), and estimates are one-sided
    * (est ≥ true, over by ≤ εN w.h.p.).
    *
    * Bucket derivation reuses the engine-portable md5-word convention
    * of the MinHash family (TextOps.md5Hex): row i hashes a key to
    * the 32-bit word at hex offset 8i of md5(key), mod [[CmsWidth]].
    * CMS counters are plain sums of per-(row, bucket) indicator
    * counts, so an exact ANSI-SQL twin can rebuild every counter by
    * GROUP BY — which is what makes a probabilistic sketch fully
    * hash-gateable against DuckDB.
    */
  object CountMin extends Aggregator[String, CmsBuf, Array[Long]] {
    override def zero: CmsBuf = CmsBuf(new Array[Long](CmsDepth * CmsWidth))

    private def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < d.length) {
        sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(d(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }

    /** Row i's bucket for a key — identical to the SQL form
      * ('0x' || substr(md5(key), 1 + 8i, 8))::BIGINT % w.
      */
    def bucket(key: String, i: Int): Int = {
      val hex = md5hex(key)
      (java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16)
        % CmsWidth).toInt
    }

    override def reduce(b: CmsBuf, key: String): CmsBuf = {
      var i = 0
      while (i < CmsDepth) {
        b.c(i * CmsWidth + bucket(key, i)) += 1L
        i += 1
      }
      b
    }

    override def merge(a: CmsBuf, b: CmsBuf): CmsBuf = {
      var i = 0
      while (i < a.c.length) { a.c(i) += b.c(i); i += 1 }
      a
    }

    override def finish(r: CmsBuf): Array[Long] = r.c

    override def bufferEncoder: Encoder[CmsBuf] = Encoders.product
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Column form for untyped DataFrames. */
  val countMin: Column => Column = {
    val u = udaf(CountMin)
    (c: Column) => u(c)
  }

  /** Column-side CMS estimate: least over the d rows of the counter at
    * the key's bucket — the same md5 words the aggregator used, so
    * lookup and update cannot drift.
    */
  def cmsEstimate(sketch: Column, key: Column): Column =
    least((0 until CmsDepth).map { i =>
      element_at(sketch, (
        lit(i * CmsWidth + 1) +
          pmod(conv(substring(md5(key), 1 + 8 * i, 8), 16, 10).cast("long"),
            lit(CmsWidth.toLong))).cast("int"))
    }: _*)

  /** Oracle-checked query: sketch every token of the document corpus,
    * then compare the CMS estimate against the exact count for the 25
    * most frequent tokens. DuckDB rebuilds the identical counters via
    * GROUP BY (row, bucket) — estimates, not just bounds, must match
    * bit-for-bit. The probe's exact counts double as the one-sided
    * error witness: overcount ≥ 0 on every row.
    */
  def countMinTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = Sources.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = toks.agg(countMin(col("tok")).as("sk"))
    val probe = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
      .limit(25)
    probe.crossJoin(broadcast(sketch))
      .select(col("tok"), col("exact_cnt"),
        cmsEstimate(col("sk"), col("tok")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
  }

  val countMinTokensSql: String =
    s"""WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), exact_c AS (
      |  SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
      |), probe AS (
      |  SELECT tok, exact_cnt FROM exact_c
      |  ORDER BY exact_cnt DESC, tok LIMIT 25
      |), hrows AS (
      |  SELECT unnest(range(0, $CmsDepth)) AS i
      |), counters AS (
      |  SELECT r.i AS i,
      |    CAST(('0x' || substr(md5(t.tok), 1 + 8 * r.i, 8)) AS BIGINT)
      |      % $CmsWidth AS bucket,
      |    count(*) AS cnt
      |  FROM toks t CROSS JOIN hrows r
      |  GROUP BY 1, 2
      |)
      |SELECT p.tok, p.exact_cnt,
      |  CAST(min(c.cnt) AS BIGINT) AS cms_est,
      |  CAST(min(c.cnt) - p.exact_cnt AS BIGINT) AS overcount
      |FROM probe p JOIN counters c
      |  ON c.bucket = CAST(('0x' || substr(md5(p.tok), 1 + 8 * c.i, 8))
      |                  AS BIGINT) % $CmsWidth
      |GROUP BY p.tok, p.exact_cnt
      |ORDER BY p.exact_cnt DESC, p.tok""".stripMargin

  // ---------------------------------------------------------------
  // Bounded-state per-key top-k (SURVEY.md §2.7 X2 / round-6 advice)
  // ---------------------------------------------------------------

  /** One scored candidate for [[TopKAgg]]: score (HIGHER = better),
    * id as the deterministic tiebreak (LOWER wins), and an optional
    * integer tag carried through unchanged (0 when unused; callers
    * with non-integer payloads join them back on id).
    */
  final case class Scored(score: Double, id: Long, tag: Long)

  /** Bounded-state per-key top-k — the distributed replacement for
    * `row_number() OVER (PARTITION BY key ORDER BY score DESC)` +
    * `rnk <= k`, which sorts each key's ENTIRE candidate set inside
    * one task (per-query corpus sort for KNN-style ranking). This
    * keeps at most k rows of state per partial buffer, merges
    * map-side, and shuffles only k rows per key.
    *
    * Lawfulness: (score desc, id asc) is a TOTAL order whenever ids
    * are distinct within a key, so "k best of a multiset union" is
    * associative and commutative — partial buffers can combine in any
    * order/grouping and yield the same k (the property
    * AggregatorsSpec checks by randomized re-grouping).
    */
  final class TopKAgg(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    private val ord: Ordering[Scored] =
      Ordering.by((s: Scored) => (-s.score, s.id))
    override def zero: Seq[Scored] = Nil
    // buffer invariant: sorted best-first, length ≤ k
    private def insert(b: Seq[Scored], a: Scored): Seq[Scored] =
      if (b.lengthCompare(k) >= 0 && ord.lteq(b.last, a)) b
      else ((a +: b).sorted(ord)).take(k)
    override def reduce(b: Seq[Scored], a: Scored): Seq[Scored] =
      insert(b, a)
    override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] =
      b2.foldLeft(b1)(insert)
    override def finish(r: Seq[Scored]): Seq[Scored] = r
    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Column form: `topK(k)(score, id, tag)` → array<struct> of the k
    * best, best-first. Longs used as scores (exact integer dots) are
    * exact through the Double carrier up to 2^53 — callers above that
    * range must pre-scale.
    */
  def topK(k: Int): (Column, Column, Column) => Column = {
    val u = udaf(new TopKAgg(k))
    (score: Column, id: Column, tag: Column) => u(score, id, tag)
  }

  /** Estimator count for the AMS F2 sketch. */
  val AmsEstimators = 8

  /** AMS second-frequency-moment sketch (Alon–Matias–Szegedy 1996)
    * over the token stream, audited against the exact F2 = Σ c_t² —
    * the third sketch in the family (HLL estimates distinct count =
    * F0, Count-Min point frequencies, AMS the self-join size F2 that
    * sizes skew/join planning). Each of [[AmsEstimators]] estimators
    * is (Σ_t sign_j(t)·c_t)² with ±1 signs from the engine-portable
    * md5 word — E[est] = F2 exactly, Var ≤ 2F2²/k. Sign-sums are
    * plain integer sums, so the sketch is a lawful distributed
    * aggregate (mergeable in any partial order) and every output is
    * exact integer, ppm by positive DIV.
    *
    * Scale shape: at 100 TB the k sign-sums accumulate directly on
    * the token STREAM (one pass, k longs of state per partition — no
    * vocab table needed); here they derive from the already-aggregated
    * count table so the exact-F2 audit shares its one shuffle.
    */
  def amsF2Tokens(spark: SparkSession, dir: String): DataFrame = {
    val counts = Sources.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds exact F2 AND the k estimator sums
    val exact = counts.agg(sum(expr("c * c")).as("exact_f2"))
    counts
      .crossJoin(broadcast(spark.range(AmsEstimators).select(col("id").as("j"))))
      .withColumn("sign", expr(
        "CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), '_', tok)), 1, 8), 16, 10) AS BIGINT) % 2 = 0" +
          " THEN 1L ELSE -1L END"))
      .groupBy(col("j"))
      .agg(sum(col("sign") * col("c")).as("s"))
      .select(col("j"), expr("s * s").as("est_f2"))
      .crossJoin(broadcast(exact))
      .select(col("j"), col("est_f2"), col("exact_f2"),
        expr("(est_f2 * 1000000L) DIV exact_f2").as("est_ppm"))
      .orderBy(col("j"))
  }

  val amsF2TokensSql: String =
    s"""WITH counts AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok
      |), exact_f AS (
      |  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM counts
      |), ests AS (
      |  SELECT j, CAST(sum(
      |      (CASE WHEN CAST(('0x' || substr(md5(j::VARCHAR || '_' || tok), 1, 8))
      |                 AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) * c)
      |    AS BIGINT) AS s
      |  FROM counts CROSS JOIN (SELECT unnest(range(0, $AmsEstimators)) AS j)
      |  GROUP BY j
      |)
      |SELECT j, s * s AS est_f2, exact_f2,
      |  ((s * s) * 1000000) // exact_f2 AS est_ppm
      |FROM ests CROSS JOIN exact_f
      |ORDER BY j""".stripMargin

  /** Equi-join size estimation by Count-Min inner product (Cormode &
    * Muthukrishnan 2005, §4.2): |A ⋈ B| = Σ_k cA(k)·cB(k) is estimated
    * by min_i Σ_b cmsA[i][b]·cmsB[i][b] — the cardinality probe a
    * planner (or a pipeline author) runs BEFORE committing to a
    * shuffle join whose output might be quadratic. One-sided like the
    * point estimate: est ≥ exact always, over by εN_A·N_B/w w.h.p.
    * Probed here on the genuinely non-FK join events.user_id ⋈
    * orders.o_custkey, audited against the exact Σ-product.
    *
    * The sketch rows rebuild from per-(row, bucket) indicator counts
    * (the [[CountMin]] bucket rule), so the DuckDB twin reproduces
    * every counter — and therefore the estimate — bit-for-bit. Scale
    * shape: two corpus passes into d×w counters each (fixed size);
    * the inner product is a d×w-bounded join; the exact audit is one
    * key-count join (key-cardinality-sized, not join-output-sized).
    */
  def joinSizeSketch(spark: SparkSession, dir: String): DataFrame = {
    def counters(keys: DataFrame): DataFrame = keys
      .select(explode(sequence(lit(0), lit(CmsDepth - 1))).as("i"),
        col("k"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("k")), lit(1) + col("i") * 8, lit(8)), 16, 10)
          .cast("long"), lit(CmsWidth.toLong)))
      .groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val ev = Sources.events(spark, dir)
      .select(col("user_id").cast("string").as("k"))
    val od = Sources.orders(spark, dir)
      .select(col("o_custkey").cast("string").as("k"))
    val est = counters(ev).join(counters(od)
        .select(col("i"), col("bucket"), col("cnt").as("cnt_b")),
        Seq("i", "bucket"))
      .groupBy(col("i"))
      .agg(sum(col("cnt") * col("cnt_b")).as("ip"))
      .agg(min(col("ip")).as("cms_est"))
    val exact = ev.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(od.groupBy(col("k")).agg(count(lit(1)).as("cb")), Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_size"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_size"), col("cms_est"),
        (col("cms_est") - col("exact_size")).as("overcount"),
        lit(CmsDepth.toLong).as("d"), lit(CmsWidth.toLong).as("w"))
  }

  val joinSizeSketchSql: String =
    s"""WITH ek AS (
      |  SELECT CAST(user_id AS VARCHAR) AS k FROM events
      |), ok AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders
      |), hrows AS (
      |  SELECT unnest(range(0, $CmsDepth)) AS i
      |), ca AS (
      |  SELECT i, CAST(('0x' || substr(md5(k), 1 + 8 * i, 8)) AS BIGINT)
      |      % $CmsWidth AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM ek CROSS JOIN hrows GROUP BY 1, 2
      |), cb AS (
      |  SELECT i, CAST(('0x' || substr(md5(k), 1 + 8 * i, 8)) AS BIGINT)
      |      % $CmsWidth AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM ok CROSS JOIN hrows GROUP BY 1, 2
      |), est AS (
      |  SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM (
      |    SELECT ca.i, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS ip
      |    FROM ca JOIN cb ON ca.i = cb.i AND ca.bucket = cb.bucket
      |    GROUP BY 1)
      |), exact_ AS (
      |  SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS exact_size
      |  FROM (SELECT k, count(*) AS c FROM ek GROUP BY 1) a
      |  JOIN (SELECT k, count(*) AS c FROM ok GROUP BY 1) b USING (k)
      |)
      |SELECT exact_size, cms_est, cms_est - exact_size AS overcount,
      |  CAST($CmsDepth AS BIGINT) AS d, CAST($CmsWidth AS BIGINT) AS w
      |FROM exact_ CROSS JOIN est""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_join_size_sketch" -> Query(joinSizeSketch, joinSizeSketchSql),
    "q_ams_f2" -> Query(amsF2Tokens, amsF2TokensSql),
    "q_event_moments" -> Query(eventMoments, eventMomentsSql),
    "q_countmin_tokens" -> Query(countMinTokens, countMinTokensSql)
  )
}
