package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources._
import graft.functions.VectorOps._
import graft.{Query, QueryModule}

/** Similarity search over the embedding column (SURVEY.md §2.8 L3).
  *
  * Two paths, same re-rank kernel:
  *  - Brute-force cosine top-k: exact, used as the baseline and the
  *    oracle-checked ground truth. The query set broadcasts; the corpus
  *    streams through a codegen'd dot-product expression
  *    ([[graft.functions.FloatVectorDot]]) — no shuffle of the corpus.
  *  - Random-hyperplane LSH: 16 sign bits → 4 bands of 4 bits →
  *    bucket self-join → exact cosine re-rank of candidates only.
  *    This is the 100 TB path: candidate generation is Σ bucket²
  *    instead of |queries| × |corpus|.
  *
  * The pairwise near-dup query is the "embedding-cosine near-dup"
  * dedup mode: at scale its candidate pairs come from the LSH buckets;
  * the exact-verify stage below is unchanged.
  */
object Similarity extends QueryModule {

  /** Default query-sample size / top-k / probe width for the KNN
    * family, interpolated into BOTH each Scala operator's parameter
    * defaults and its registered oracle SQL — so the two cannot drift
    * (round-6 advice: the oracles previously hardcoded 10/5/3/2 as
    * literals while the Scala side took parameters).
    */
  val KnnQueries = 10
  val KnnBruteK = 5
  val KnnTopK = 3
  val IvfNprobe = 2

  /** Embeddings with a double-cast copy (for engine-portable math) and
    * the precomputed L2 norm.
    */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        vecNorm(col("embedding")).as("nrm"))

  // ---------------------------------------------------------------
  // Brute-force cosine top-k (oracle-checked)
  // ---------------------------------------------------------------

  /** Per-query ranking runs through the bounded-state
    * [[graft.functions.Aggregators.topK]] aggregator (k rows of state
    * per partial buffer, map-side merged) rather than
    * `row_number() OVER (PARTITION BY query_id)` — the window form
    * sorts each query's ENTIRE scored corpus inside one task, which
    * is the per-query scale ceiling this operator would otherwise
    * hit first at 100 TB.
    */
  def knnBruteForce(spark: SparkSession, dir: String,
                    nQueries: Int = KnnQueries, k: Int = KnnBruteK): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qemb"), col("nrm").as("qnrm"))
    val c = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cemb"), col("nrm").as("cnrm"))
    val tk = graft.functions.Aggregators.topK(k)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", vecDot(col("qemb"), col("cemb")) / (col("qnrm") * col("cnrm")))
      .groupBy(col("query_id"))
      .agg(tk(col("cos"), col("neighbor_id"), lit(0L)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        round(col("s.score"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The brute-force twin with the query-sample size and k as
    * parameters — shared by q_knn_bruteforce and the [[annRecall]]
    * ground-truth CTE so the two cannot drift.
    */
  private def knnBruteForceSqlFor(nQueries: Int, k: Int): String =
    s"""WITH n AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM n WHERE vec_id < $nQueries
      |), ranked AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, len(qemb) + 1), k -> qemb[k] * c.emb[k]))
      |      / (qnrm * c.nrm) AS cos,
      |    row_number() OVER (
      |      PARTITION BY query_id
      |      ORDER BY list_sum(list_transform(range(1, len(qemb) + 1), k -> qemb[k] * c.emb[k]))
      |                 / (qnrm * c.nrm) DESC,
      |               c.vec_id ASC) AS rnk
      |  FROM q JOIN n c ON c.vec_id <> query_id
      |)
      |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cosine
      |FROM ranked WHERE rnk <= $k
      |ORDER BY query_id, rnk""".stripMargin

  val knnBruteForceSql: String = knnBruteForceSqlFor(KnnQueries, KnnBruteK)

  // ---------------------------------------------------------------
  // Embedding-cosine near-dup pairs (oracle-checked exact verify)
  // ---------------------------------------------------------------

  def embedNearDup(spark: SparkSession, dir: String,
                   threshold: Double = 0.4): DataFrame = {
    val v = vectors(spark, dir)
    val a = v.select(col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos",
        vecDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val embedNearDupSql: String =
    """WITH n AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      |  FROM embeddings
      |)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_sum(list_transform(range(1, len(a.emb) + 1), k -> a.emb[k] * b.emb[k]))
      |    / (a.nrm * b.nrm), 6) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(range(1, len(a.emb) + 1), k -> a.emb[k] * b.emb[k]))
      |    / (a.nrm * b.nrm) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------
  // Per-label centroids (vector aggregate; oracle-checked)
  // ---------------------------------------------------------------

  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val pos = v.select(col("label"), col("vec_id"), col("nrm"),
      posexplode(col("embedding")).as(Seq("k", "x")))
      .withColumn("x", col("x").cast("double"))
    val cent = pos.groupBy(col("label"), col("k"))
      .agg(avg(col("x")).as("cv"))
    val centArr = cent.groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("k"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
    val dotCent = aggregate(
      zip_with(col("embedding"), col("centroid"),
        (x, c) => x.cast("double") * c),
      lit(0.0), (acc, p) => acc + p)
    val centNorm = sqrt(aggregate(
      transform(col("centroid"), c => c * c), lit(0.0), (acc, p) => acc + p))
    v.join(broadcast(centArr), "label")
      .withColumn("cos_centroid", dotCent / (col("nrm") * centNorm))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg(col("nrm")), 6).as("avg_norm"),
        round(avg(col("cos_centroid")), 6).as("avg_cos_centroid"))
      .orderBy(col("label"))
  }

  val labelCentroidsSql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |), pos AS (
      |  SELECT label, vec_id, unnest(emb) AS x,
      |    unnest(range(1, len(emb) + 1)) AS k
      |  FROM e
      |), cent AS (
      |  SELECT label, k, avg(x) AS cv FROM pos GROUP BY label, k
      |), dots AS (
      |  SELECT p.label, p.vec_id,
      |    sum(p.x * c.cv) AS dot, sum(p.x * p.x) AS v2, sum(c.cv * c.cv) AS c2
      |  FROM pos p JOIN cent c ON p.label = c.label AND p.k = c.k
      |  GROUP BY p.label, p.vec_id
      |)
      |SELECT label, count(*) AS n_vecs,
      |  round(avg(sqrt(v2)), 6) AS avg_norm,
      |  round(avg(dot / (sqrt(v2) * sqrt(c2))), 6) AS avg_cos_centroid
      |FROM dots
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // Random-hyperplane LSH (scale path; spec-verified recall)
  // ---------------------------------------------------------------

  val LshPlanes = 16
  val LshChunkBits = 4
  private val Dim = 64

  /** Driver-side twin of the engine-portable 32-bit md5 word (first 8
    * md5-hex chars as an unsigned int) — the same value DuckDB's
    * ('0x' || substr(md5(s), 1, 8))::BIGINT yields for the same
    * string, so constants derived from it are SQL-reproducible.
    */
  private def md5Word32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  /** Exact md5-word uniform in [0, 1): h/2^32 is a power-of-two
    * division of an integer, so both engines produce the identical
    * double.
    */
  private def md5Uniform(s: String): Double =
    md5Word32(s).toDouble / 4294967296.0

  /** Deterministic GAUSSIAN hyperplanes: weight(p, d) is Irwin–Hall —
    * the sum of 12 exact md5-word uniforms ("p_d_j", j = 0..11) minus
    * 6 — giving mean 0 / variance 1 per coordinate. Gaussian matters:
    * sign-LSH's collision law Pr[sign differs] = θ/π needs
    * spherically-symmetric plane normals, which uniform-in-cube
    * weights do not give (they bias recall by direction). Irwin–Hall
    * over Box–Muller because it is PURE ARITHMETIC: left-to-right
    * double addition and one float32 rounding reproduce bit-for-bit
    * in DuckDB SQL, while ln/cos are not guaranteed bit-identical
    * across libm implementations.
    */
  private[analytics] val hyperplanes: Seq[Seq[Float]] =
    Seq.tabulate(LshPlanes)(p => Seq.tabulate(Dim) { d =>
      val s = (0 until 12).map(j => md5Uniform(s"${p}_${d}_$j")).sum
      (s - 6.0).toFloat
    })

  /** The 12-term uniform sum of one hyperplane weight, as DuckDB SQL
    * over lambda variables `p`/`d` — interpolated into [[knnLshSql]]
    * so the SQL twin cannot drift from [[hyperplanes]]. SQL's
    * left-associative `+` matches Scala's foldLeft sum order.
    */
  private def planeWeightSqlSum: String = (0 until 12).map(j =>
    "CAST(('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR || '_" + j +
      "'), 1, 8)) AS BIGINT) / 4294967296.0").mkString(" + ")

  /** 16-bit sign sketch of an embedding column. */
  private[analytics] def sketch(emb: Column): Column =
    hyperplanes.zipWithIndex.map { case (plane, h) =>
      shiftleft(when(vecDot(emb, typedlit(plane)) > 0, 1L).otherwise(0L), h)
    }.reduce(_.bitwiseOR(_))

  /** Banded sketch rows shared by every LSH path: (vec_id, carried
    * columns, chunk, chunk_val) — one row per 4-bit chunk of the
    * 16-bit sign sketch. Single definition point for the banding
    * scheme so the candidate and top-k paths cannot drift.
    */
  private def bandedSketch(df: DataFrame, carry: Seq[Column]): DataFrame = {
    val sk = df.withColumn("_sk", sketch(col("embedding")))
    val chunks = (0 until LshPlanes / LshChunkBits).map(c =>
      shiftright(col("_sk"), c * LshChunkBits)
        .bitwiseAND(lit((1L << LshChunkBits) - 1)))
    sk.select((col("vec_id") +: carry) :+
      posexplode(array(chunks: _*)).as(Seq("chunk", "chunk_val")): _*)
  }

  /** Candidate pairs from banded sketch buckets: vec pairs sharing any
    * 4-bit chunk of the 16-bit sketch. Input df needs (vec_id,
    * embedding); output (vec_a, vec_b) distinct, vec_a < vec_b.
    */
  def lshCandidates(df: DataFrame): DataFrame = {
    val banded = bandedSketch(df, Seq.empty)
    val a = banded.select(col("vec_id").as("vec_a"), col("chunk"), col("chunk_val"))
    val b = banded.select(col("vec_id").as("vec_b"), col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
  }

  /** DuckDB twin of the FULL random-hyperplane pipeline: md5-derived
    * plane weights, 16 sign-bit sketch, 4-bit chunk banding, candidate
    * join, exact-cosine re-rank — double-accumulated dot products in
    * array order on both engines, the pattern q_knn_bruteforce's hash
    * match already proves stable.
    */
  val knnLshSql: String =
    s"""WITH n AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      |  FROM embeddings
      |), planes AS (
      |  SELECT p, list_transform(range(0, 64), d ->
      |    CAST(CAST(($planeWeightSqlSum
      |               - 6) AS REAL) AS DOUBLE)) AS w
      |  FROM (SELECT unnest(range(0, 16)) AS p)
      |), sk AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
      |                                k -> emb[k] * w[k])) > 0
      |             THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sk
      |  FROM n CROSS JOIN planes
      |  GROUP BY vec_id
      |), banded AS (
      |  SELECT vec_id, c AS chunk, (sk >> (c * 4)) & 15 AS chunk_val
      |  FROM sk CROSS JOIN (SELECT unnest(range(0, 4)) AS c)
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      |  FROM banded a JOIN banded b USING (chunk, chunk_val)
      |  WHERE a.vec_id <> b.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id,
      |    list_sum(list_transform(range(1, 65), k -> q.emb[k] * c.emb[k]))
      |      / (q.nrm * c.nrm) AS cos,
      |    row_number() OVER (
      |      PARTITION BY query_id
      |      ORDER BY list_sum(list_transform(range(1, 65), k -> q.emb[k] * c.emb[k]))
      |                 / (q.nrm * c.nrm) DESC,
      |               neighbor_id ASC) AS rnk
      |  FROM cand JOIN n q ON q.vec_id = query_id
      |            JOIN n c ON c.vec_id = neighbor_id
      |)
      |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cosine
      |FROM ranked WHERE rnk <= $KnnTopK
      |ORDER BY query_id, rnk""".stripMargin

  /** ANN top-k: LSH candidates re-ranked by exact cosine. Every vector
    * is a query; only bucket-mates are scored.
    */
  def knnLsh(spark: SparkSession, dir: String, k: Int = KnnTopK): DataFrame = {
    // the banded-sketch subtree carries the embedding + norm, so the
    // bucket self-join yields scoreable pairs directly: 2 scans total,
    // and keeping BOTH directions of each pair (a ≠ b) makes every
    // vector a query with no union re-execution of the subtree.
    val banded = bandedSketch(vectors(spark, dir),
      Seq(col("embedding"), col("nrm")))
    val a = banded.select(col("vec_id").as("query_id"),
      col("embedding").as("qemb"), col("nrm").as("qnrm"),
      col("chunk"), col("chunk_val"))
    val b = banded.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cemb"), col("nrm").as("cnrm"),
      col("chunk"), col("chunk_val"))
    val tk = graft.functions.Aggregators.topK(k)
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        vecDot(col("qemb"), col("cemb")) / (col("qnrm") * col("cnrm")))
      // pairs colliding in several chunks dedup on the slim
      // (query, neighbor, cos) projection; cos is identical per dup
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("cos")).as("cos"))
      // bounded-state per-query top-k (see knnBruteForce): k rows of
      // aggregation state per query, no per-query window sort
      .groupBy(col("query_id"))
      .agg(tk(col("cos"), col("neighbor_id"), lit(0L)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        round(col("s.score"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ---------------------------------------------------------------
  // ANN quality eval: recall@k of the LSH index vs exact ground truth
  // ---------------------------------------------------------------

  /** Recall@k of [[knnLsh]] against exact brute-force ground truth
    * over a fixed query sample — the eval every production ANN
    * deployment runs before trusting an index. One summary row:
    * (n_queries, k, recall_at_k, n_perfect).
    *
    * Scale shape: ground truth is only ever computed for the SAMPLE
    * (nQueries × corpus streamed through the codegen dot product, the
    * sample broadcast — no corpus shuffle), which is how recall is
    * audited on a real corpus: the exact pass over a few hundred
    * probes is cheap; the index answers the rest. The metric
    * aggregation itself is exact-integer (hit counts), so the single
    * float division makes the row hash-stable on any engine.
    */
  /** Query-sample size and depth of the recall eval — the ONE pair of
    * constants [[annRecall]] and its oracle both interpolate, so the
    * two sides cannot drift.
    */
  val AnnRecallQueries = 200
  val AnnRecallK = 3

  def annRecall(spark: SparkSession, dir: String,
                nQueries: Int = AnnRecallQueries,
                k: Int = AnnRecallK): DataFrame = {
    val truth = knnBruteForce(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = knnLsh(spark, dir, k)
      .filter(col("query_id") < nQueries)
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    // left join: a truth row with no LSH match still counts its query
    val perQuery = truth.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .groupBy(col("query_id"))
      .agg(sum(when(col("aq").isNotNull, 1L).otherwise(0L)).as("hits"))
    perQuery.agg(
        count(lit(1)).as("n_queries"),
        sum(col("hits")).as("sum_hits"),
        sum(when(col("hits") === k, 1L).otherwise(0L)).as("n_perfect"))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        round(col("sum_hits").cast("double") / (col("n_queries") * k), 6)
          .as("recall_at_k"),
        col("n_perfect"))
  }

  /** DuckDB twin: both sides are the EXISTING oracle pipelines
    * ([[knnBruteForceSqlFor]] and [[knnLshSql]]) embedded as
    * subqueries, so the eval is checked against the same ground truth
    * the index queries are.
    */
  val annRecallSql: String =
    s"""WITH truth AS (
      |  SELECT query_id, neighbor_id FROM (
      |${knnBruteForceSqlFor(AnnRecallQueries, AnnRecallK)}
      |  )
      |), approx AS (
      |  SELECT query_id, neighbor_id FROM (
      |${knnLshSql}
      |  ) WHERE query_id < $AnnRecallQueries
      |), per_q AS (
      |  SELECT t.query_id,
      |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS hits
      |  FROM truth t LEFT JOIN approx a
      |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      |  GROUP BY 1
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST($AnnRecallK AS BIGINT) AS k,
      |  round(CAST(sum(hits) AS DOUBLE) / (count(*) * $AnnRecallK), 6)
      |    AS recall_at_k,
      |  CAST(sum(CASE WHEN hits = $AnnRecallK THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_perfect
      |FROM per_q""".stripMargin

  // ---------------------------------------------------------------
  // Int8 scalar quantization (SQ8): codes, quantized kNN, recall
  // ---------------------------------------------------------------

  /** Per-vector int8 codes under global per-dimension min/max scalar
    * quantization — the serving-side compression every production
    * vector index offers (FAISS `SQ8`, 4× smaller than float32, SIMD
    * integer dot products): code_d = ⌊(x_d − mn_d)·255 / (mx_d −
    * mn_d)⌋ capped at 255, constant-dimension 0. Both engines cast to
    * double first and evaluate the IDENTICAL expression tree, so the
    * codes are bit-equal cross-engine (min/max are order-insensitive;
    * the one multiply/divide per code is the same IEEE operation
    * sequence on both sides).
    *
    * Scale shape: the (dim, mn, mx) table is dimension-sized from one
    * posexplode pass; codes are a scan-side zip_with against the
    * broadcast 1-row range arrays.
    */
  /** The SQ8 training constants: one row of per-dimension global
    * [min, max] arrays — the k×dim-style driver anchor every SQ8
    * stage broadcasts (shared by codes / recon / distortion so the
    * three stages provably quantize against the same ranges).
    */
  private def sq8DimArrs(spark: SparkSession, dir: String): DataFrame = {
    val pos = embeddings(spark, dir)
      .select(posexplode(transform(col("embedding"),
        x => x.cast("double"))).as(Seq("d", "x")))
    val dims = pos.groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("d"), col("mx")))),
          s => s.getField("mx")).as("mxs"))
  }

  def sq8Codes(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    e.crossJoin(broadcast(sq8DimArrs(spark, dir)))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("emb"), col("mns"), (x, m) => x - m),
          zip_with(col("mxs"), col("mns"), (a, b) => a - b),
          (c, s) => when(s === 0.0, lit(0L))
            .otherwise(least(floor((c * 255.0) / s), lit(255L)))).as("q"))
  }

  /** Midpoint-dequantized float32 reconstructions of the SQ8 codes:
    * x̂_d = mn_d + (code_d + 0.5)·span_d/255 (constant dims
    * reconstruct exactly as mn_d). Kept as a separate frame so the
    * index build (codes) and the serving-side dequant are the two
    * halves a real deployment stores/computes.
    */
  private def sq8Recon(spark: SparkSession, dir: String): DataFrame = {
    sq8Codes(spark, dir).crossJoin(broadcast(sq8DimArrs(spark, dir)))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("q"), col("mns"), (c, m) => struct(c.as("c"), m.as("m"))),
          zip_with(col("mxs"), col("mns"), (a, b) => a - b),
          (cm, s) => when(s === 0.0, cm.getField("m")).otherwise(
            cm.getField("m") +
              ((cm.getField("c").cast("double") + 0.5) * s) / 255.0)
            .cast("float")).as("remb"))
  }

  /** Top-k under SQ8 compression, ASYMMETRIC scoring (the FAISS
    * `SQ8` serving shape): the query stays full-precision float, the
    * corpus side is the midpoint-dequantized reconstruction, score is
    * their cosine through the same codegen'd kernel as
    * [[knnBruteForce]]. (A first cut ranked by the raw integer dot of
    * the SHIFTED codes — measured recall 0.04: the per-dimension
    * affine shift is NOT monotone under dot products, which is why
    * every production scalar quantizer dequantizes before scoring.)
    * Ranking via the bounded-state TopK aggregator; reconstruction is
    * float32 on both engines so the scores — and their ties — stay
    * bit-portable.
    */
  def sq8Knn(spark: SparkSession, dir: String,
             nQueries: Int = AnnRecallQueries,
             k: Int = AnnRecallK): DataFrame = {
    val q = vectors(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qemb"), col("nrm").as("qnrm"))
    val c = sq8Recon(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("remb"),
        vecNorm(col("remb")).as("rnrm"))
    val tk = graft.functions.Aggregators.topK(k)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        vecDot(col("qemb"), col("remb")) / (col("qnrm") * col("rnrm")))
      .groupBy(col("query_id"))
      .agg(tk(col("cos"), col("neighbor_id"), lit(0L)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        round(col("s.score"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Recall@k of the SQ8-quantized ranking against the exact float
    * brute-force ground truth — the accept/reject number for shipping
    * the 4×-compressed index (same readout contract as [[annRecall]]:
    * quantization error shows up as lost truth hits, and n_perfect
    * counts queries whose whole top-k survived compression).
    */
  def sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val k = AnnRecallK
    val truth = knnBruteForce(spark, dir, AnnRecallQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = sq8Knn(spark, dir, AnnRecallQueries, k)
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    val perQuery = truth.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .groupBy(col("query_id"))
      .agg(sum(when(col("aq").isNotNull, 1L).otherwise(0L)).as("hits"))
    perQuery.agg(
        count(lit(1)).as("n_queries"),
        sum(col("hits")).as("sum_hits"),
        sum(when(col("hits") === k, 1L).otherwise(0L)).as("n_perfect"))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        round(col("sum_hits").cast("double") / (col("n_queries") * k), 6)
          .as("recall_at_k"),
        col("n_perfect"))
  }

  /** CTE chain ending in `codes` (vec_id, q) — the SQL twin of
    * [[sq8Codes]], shared by both SQ8 oracles.
    */
  private val sq8CodesCte: String =
    """e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |), dims AS (
      |  SELECT k AS d, min(emb[k]) AS mn, max(emb[k]) AS mx
      |  FROM e CROSS JOIN (SELECT unnest(range(1,
      |    (SELECT len(emb) FROM e LIMIT 1) + 1)) AS k) ks
      |  GROUP BY 1
      |), da AS (
      |  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
      |  FROM dims
      |), codes AS (
      |  SELECT vec_id, list_transform(range(1, len(emb) + 1), d ->
      |    CASE WHEN mxs[d] - mns[d] = 0 THEN 0
      |         ELSE least(CAST(floor(((emb[d] - mns[d]) * 255.0) /
      |           (mxs[d] - mns[d])) AS BIGINT), 255) END) AS q
      |  FROM e CROSS JOIN da
      |)""".stripMargin

  /** Ranked asymmetric-SQ8 CTE at the recall sample size, shared by
    * both oracles: float queries against float32 midpoint
    * reconstructions, cosine-ranked.
    */
  private def sq8RankedCte(nQueries: Int): String =
    s"""recon AS (
      |  SELECT c.vec_id,
      |    list_transform(range(1, len(q) + 1), d ->
      |      CAST(CASE WHEN mxs[d] - mns[d] = 0 THEN mns[d]
      |           ELSE mns[d] + ((q[d] + 0.5) * (mxs[d] - mns[d])) / 255.0
      |           END AS FLOAT)) AS rembf
      |  FROM codes c CROSS JOIN da
      |), rn AS (
      |  SELECT vec_id, list_transform(rembf, x -> CAST(x AS DOUBLE)) AS remb,
      |    sqrt(list_sum(list_transform(rembf, x -> CAST(x AS DOUBLE) * x)))
      |      AS rnrm
      |  FROM recon
      |), nq AS (
      |  SELECT vec_id AS query_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qemb,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))
      |      AS qnrm
      |  FROM embeddings WHERE vec_id < $nQueries
      |), sq8ranked AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, len(qemb) + 1),
      |      i -> qemb[i] * c.remb[i])) / (qnrm * c.rnrm) AS cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY list_sum(list_transform(range(1, len(qemb) + 1),
      |        i -> qemb[i] * c.remb[i])) / (qnrm * c.rnrm) DESC,
      |        c.vec_id ASC) AS rnk
      |  FROM nq JOIN rn c ON c.vec_id <> query_id
      |)""".stripMargin

  val sq8KnnSql: String =
    s"""WITH $sq8CodesCte, ${sq8RankedCte(AnnRecallQueries)}
      |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cosine
      |FROM sq8ranked WHERE rnk <= $AnnRecallK
      |ORDER BY query_id, rnk""".stripMargin

  /** SQ8 reconstruction-distortion audit — the second number (beside
    * [[sq8Recall]]) a quantized index ships with: per-element absolute
    * reconstruction error in exact integer micro-units
    * (⌊|x − x̂|·10⁶⌋ — floored BEFORE summing, so the corpus total is
    * an order-insensitive integer sum, never a float accumulation),
    * with the worst element and the mean in ppm of the global value
    * range. The midpoint dequantizer bounds per-element error by
    * span/510 + float32 rounding; the audit MEASURES it instead.
    *
    * Scale shape: quantize → dequantize → error is a pure per-element
    * function of (x, mn_d, mx_d), so the whole audit is ONE zip_with
    * pass over the embeddings scan plus the 1-row range broadcast and
    * a scalar aggregate — no join at all. (A first cut joined the
    * raw embeddings against the [[sq8Recon]] frame on vec_id: both
    * sides corpus-sized, and the round-12 BroadcastBounds harness
    * measured the planner's size-picked build side growing 4× with a
    * 4× corpus — a self-join the operator never needed, since both
    * sides derive from the same scan. The inline form's math is
    * bit-identical: same code, same midpoint dequant, same float32
    * rounding point.)
    */
  def sq8Distortion(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select(
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val errs = e.crossJoin(broadcast(sq8DimArrs(spark, dir)))
      .select(explode(zip_with(
        zip_with(col("emb"), col("mns"),
          (x, m) => struct(x.as("x"), m.as("m"))),
        zip_with(col("mxs"), col("mns"), (a, b) => a - b),
        (xm, s) => {
          val x = xm.getField("x"); val m = xm.getField("m")
          // the code exactly as sq8Codes compiles it
          val code = when(s === 0.0, lit(0L))
            .otherwise(least(floor(((x - m) * 255.0) / s), lit(255L)))
          // the reconstruction exactly as sq8Recon compiles it,
          // float32 rounding point included
          val recon = when(s === 0.0, m).otherwise(
            m + ((code.cast("double") + 0.5) * s) / 255.0).cast("float")
          floor(abs(x - recon.cast("double")) * 1e6).cast("long")
        })).as("err_micro"))
    errs.agg(count(lit(1)).as("n_elems"),
        max(col("err_micro")).as("max_err_micro"),
        sum(col("err_micro")).as("sum_err_micro"))
      .withColumn("mean_err_micro", expr("sum_err_micro DIV n_elems"))
      .select(col("n_elems"), col("max_err_micro"), col("mean_err_micro"))
  }

  val sq8DistortionSql: String =
    s"""WITH $sq8CodesCte, recon AS (
      |  SELECT c.vec_id,
      |    list_transform(range(1, len(q) + 1), d ->
      |      CAST(CASE WHEN mxs[d] - mns[d] = 0 THEN mns[d]
      |           ELSE mns[d] + ((q[d] + 0.5) * (mxs[d] - mns[d])) / 255.0
      |           END AS FLOAT)) AS rembf
      |  FROM codes c CROSS JOIN da
      |), errs AS (
      |  SELECT unnest(list_transform(range(1, len(emb) + 1), d ->
      |    CAST(floor(abs(emb[d] - CAST(rembf[d] AS DOUBLE)) * 1e6)
      |         AS BIGINT))) AS err_micro
      |  FROM e JOIN recon USING (vec_id)
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_elems,
      |  CAST(max(err_micro) AS BIGINT) AS max_err_micro,
      |  CAST(sum(err_micro) AS BIGINT) // count(*) AS mean_err_micro
      |FROM errs""".stripMargin

  val sq8RecallSql: String =
    s"""WITH truth AS (
      |  SELECT query_id, neighbor_id FROM (
      |${knnBruteForceSqlFor(AnnRecallQueries, AnnRecallK)}
      |  )
      |), $sq8CodesCte, ${sq8RankedCte(AnnRecallQueries)}, approx AS (
      |  SELECT query_id, neighbor_id FROM sq8ranked
      |  WHERE rnk <= $AnnRecallK
      |), per_q AS (
      |  SELECT t.query_id,
      |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS hits
      |  FROM truth t LEFT JOIN approx a
      |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      |  GROUP BY 1
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST($AnnRecallK AS BIGINT) AS k,
      |  round(CAST(sum(hits) AS DOUBLE) / (count(*) * $AnnRecallK), 6)
      |    AS recall_at_k,
      |  CAST(sum(CASE WHEN hits = $AnnRecallK THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_perfect
      |FROM per_q""".stripMargin

  // ---------------------------------------------------------------
  // ANN quality eval #2: NDCG@k + MRR (rank-aware, beyond recall)
  // ---------------------------------------------------------------

  /** Position discounts for NDCG@[[AnnRecallK]], micro-scaled:
    * W(r) = floor(1e9 / log2(r+1)). Driver-side constants interpolated
    * into BOTH the Scala plan and the SQL twin, so no engine ever
    * evaluates a logarithm over data.
    */
  private[graft] val ndcgDiscounts: Seq[Long] =
    (1 to AnnRecallK).map(r =>
      math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Ideal DCG (graded relevance k, k−1, …, 1 in perfect order) —
    * the per-query normalizer, a single constant.
    */
  private[graft] val ndcgIdeal: Long =
    ndcgDiscounts.zipWithIndex.map { case (w, i) => (AnnRecallK - i) * w }.sum

  /** NDCG@k and MRR of the LSH index against exact brute-force
    * ground truth — the RANK-AWARE retrieval eval ([[annRecall]] is
    * set-based: it cannot see that an index returns the right
    * neighbors in the wrong order). Graded relevance of an approx
    * hit is (k − true_rank + 1); position r is discounted by the
    * constant table [[ndcgDiscounts]]; MRR tracks the first approx
    * position holding the TRUE nearest neighbor. All per-query
    * scores are exact-integer (ppm via DIV on nonnegative operands),
    * so the summary row is hash-stable on any engine.
    *
    * Scale shape: identical to [[annRecall]] — ground truth only for
    * the broadcast query sample, the index side filtered to the same
    * sample, the join keyed on (query, neighbor); nothing here ever
    * touches more than sample × k rows after the two retrieval
    * subtrees.
    */
  def ndcgEval(spark: SparkSession, dir: String,
               nQueries: Int = AnnRecallQueries,
               k: Int = AnnRecallK): DataFrame = {
    val truth = knnBruteForce(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("true_rnk"))
    val approx = knnLsh(spark, dir, k)
      .filter(col("query_id") < nQueries)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("appr_rnk"))
    val gains = approx.join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel",
        coalesce(lit((k + 1).toLong) - col("true_rnk"), lit(0L)))
      .withColumn("w",
        element_at(typedlit(ndcgDiscounts), col("appr_rnk").cast("int")))
      .withColumn("g", col("rel") * col("w"))
    val perQ = gains.groupBy(col("query_id"))
      .agg(sum(col("g")).as("dcg"),
        min(when(col("true_rnk") === 1, col("appr_rnk"))).as("hit1"))
    // base = every sampled query (an index returning NOTHING for a
    // query must score 0, not vanish from the average)
    truth.select(col("query_id")).distinct()
      .join(perQ, Seq("query_id"), "left")
      .select(
        expr(s"(coalesce(dcg, 0L) * 1000000L) DIV ${ndcgIdeal}L")
          .as("ndcg_ppm"),
        coalesce(expr("1000000L DIV hit1"), lit(0L)).as("rr_ppm"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("ndcg_ppm")).as("sum_ndcg"),
        sum(when(col("ndcg_ppm") === 1000000L, 1L).otherwise(0L))
          .as("n_perfect"),
        sum(col("rr_ppm")).as("sum_rr"))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        expr("sum_ndcg DIV n_queries").as("ndcg_ppm"),
        col("n_perfect"),
        expr("sum_rr DIV n_queries").as("mrr_ppm"))
  }

  /** DuckDB twin: the EXISTING brute-force and LSH oracle pipelines as
    * CTE bodies, the discount table as interpolated literals.
    */
  val ndcgEvalSql: String = {
    val wCase = ndcgDiscounts.zipWithIndex.map { case (w, i) =>
      s"WHEN appr_rnk = ${i + 1} THEN ${w}"
    }.mkString(" ")
    s"""WITH truth AS (
      |  SELECT query_id, neighbor_id, rnk AS true_rnk FROM (
      |${knnBruteForceSqlFor(AnnRecallQueries, AnnRecallK)}
      |  )
      |), approx AS (
      |  SELECT query_id, neighbor_id, rnk AS appr_rnk FROM (
      |${knnLshSql}
      |  ) WHERE query_id < $AnnRecallQueries
      |), gains AS (
      |  SELECT a.query_id,
      |    coalesce(${AnnRecallK + 1} - t.true_rnk, 0)
      |      * (CASE $wCase END) AS g,
      |    CASE WHEN t.true_rnk = 1 THEN a.appr_rnk END AS hit_rnk
      |  FROM approx a LEFT JOIN truth t
      |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
      |), per_q AS (
      |  SELECT query_id, CAST(sum(g) AS BIGINT) AS dcg,
      |    min(hit_rnk) AS hit1
      |  FROM gains GROUP BY 1
      |), scored AS (
      |  SELECT (coalesce(p.dcg, 0) * 1000000) // ${ndcgIdeal} AS ndcg_ppm,
      |    coalesce(1000000 // p.hit1, 0) AS rr_ppm
      |  FROM (SELECT DISTINCT query_id FROM truth) q
      |  LEFT JOIN per_q p USING (query_id)
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST($AnnRecallK AS BIGINT) AS k,
      |  CAST(CAST(sum(ndcg_ppm) AS BIGINT) // count(*) AS BIGINT) AS ndcg_ppm,
      |  CAST(sum(CASE WHEN ndcg_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_perfect,
      |  CAST(CAST(sum(rr_ppm) AS BIGINT) // count(*) AS BIGINT) AS mrr_ppm
      |FROM scored""".stripMargin
  }

  // ---------------------------------------------------------------
  // ANN quality eval #3: truncated rank-biased overlap (RBO)
  // ---------------------------------------------------------------

  /** RBO persistence parameter (Webber–Moffat–Zobel 2010): the
    * geometric top-weighting of agreement depth.
    */
  val RboP = 0.9

  /** Depth weights W(d) = floor(1e9·(1−p)·p^(d−1)) — driver constants
    * interpolated into both sides.
    */
  private[graft] val rboWeights: Seq[Long] =
    (1 to AnnRecallK).map(d =>
      math.floor(1e9 * (1 - RboP) * math.pow(RboP, d - 1)).toLong)

  /** lcm(1..k) — clears the 1/d agreement denominators so the whole
    * per-query score is a single exact integer sum.
    */
  private[graft] val rboLcm: Long =
    (1L to AnnRecallK.toLong).reduce((a, b) => a * b / {
      var x = a; var y = b; while (y != 0) { val t = x % y; x = y; y = t }; x
    })

  /** Per-match contribution table: a neighbor ranked r_t by truth and
    * r_a by the index is inside BOTH depth-d prefixes for every
    * d ≥ max(r_t, r_a), so it adds T(m) = Σ_{d=m..k} W(d)·(lcm/d) —
    * integer exactly, no per-term division.
    */
  private[graft] val rboContrib: Seq[Long] =
    (1 to AnnRecallK).map(m =>
      (m to AnnRecallK).map(d => rboWeights(d - 1) * (rboLcm / d)).sum)

  /** Truncated rank-biased overlap of the LSH index against exact
    * ground truth — the third retrieval eval: recall counts hits,
    * NDCG grades positions by the TRUTH's ordering, RBO scores
    * prefix-set agreement with a geometric top-weight (two rankings
    * that agree on the head but scramble the tail score high; the
    * persistence p says how far down "the head" reaches). Truncated
    * at k (no extrapolation term), so a perfect index scores
    * (1−p^k) · 1e6 ppm — the mass of the first k depths.
    *
    * Exactness: each matched neighbor contributes the constant
    * [[rboContrib]](max(rank_truth, rank_index)); the lcm scaling
    * clears every 1/d, so per-query scores are single exact-integer
    * sums divided once (nonnegative DIV) into ppm.
    *
    * Scale shape: identical to [[annRecall]]/[[ndcgEval]] — nothing
    * beyond the two retrieval subtrees ever exceeds sample × k rows.
    */
  def rboEval(spark: SparkSession, dir: String,
              nQueries: Int = AnnRecallQueries,
              k: Int = AnnRecallK): DataFrame = {
    require(k == AnnRecallK, "contribution table is sized for AnnRecallK")
    val truth = knnBruteForce(spark, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("rt"))
    val approx = knnLsh(spark, dir, k)
      .filter(col("query_id") < nQueries)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("ra"))
    val contribCase = rboContrib.zipWithIndex.map { case (c, i) =>
      s"WHEN m = ${i + 1} THEN ${c}L"
    }.mkString(" ")
    val perQ = truth.join(approx, Seq("query_id", "neighbor_id"))
      .withColumn("m", greatest(col("rt"), col("ra")))
      .withColumn("t", expr(s"CASE $contribCase END"))
      .groupBy(col("query_id"))
      .agg(sum(col("t")).as("s"))
    truth.select(col("query_id")).distinct()
      .join(perQ, Seq("query_id"), "left")
      .select(expr(s"coalesce(s, 0L) DIV ${rboLcm * 1000L}L").as("rbo_ppm"))
      .agg(count(lit(1)).as("n_queries"), sum(col("rbo_ppm")).as("sum_rbo"),
        max(col("rbo_ppm")).as("max_rbo_ppm"))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        lit(math.round(RboP * 1000000)).as("p_ppm"),
        expr("sum_rbo DIV n_queries").as("rbo_ppm"),
        col("max_rbo_ppm"))
  }

  val rboEvalSql: String = {
    val contribCase = rboContrib.zipWithIndex.map { case (c, i) =>
      s"WHEN m = ${i + 1} THEN ${c}"
    }.mkString(" ")
    s"""WITH truth AS (
      |  SELECT query_id, neighbor_id, rnk AS rt FROM (
      |${knnBruteForceSqlFor(AnnRecallQueries, AnnRecallK)}
      |  )
      |), approx AS (
      |  SELECT query_id, neighbor_id, rnk AS ra FROM (
      |${knnLshSql}
      |  ) WHERE query_id < $AnnRecallQueries
      |), per_q AS (
      |  SELECT query_id, CAST(sum(CASE $contribCase END) AS BIGINT) AS s
      |  FROM (SELECT t.query_id, greatest(t.rt, a.ra) AS m
      |        FROM truth t JOIN approx a
      |          ON a.query_id = t.query_id
      |         AND a.neighbor_id = t.neighbor_id)
      |  GROUP BY 1
      |), scored AS (
      |  SELECT coalesce(p.s, 0) // ${rboLcm * 1000L} AS rbo_ppm
      |  FROM (SELECT DISTINCT query_id FROM truth) q
      |  LEFT JOIN per_q p USING (query_id)
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  CAST($AnnRecallK AS BIGINT) AS k,
      |  CAST(${math.round(RboP * 1000000)} AS BIGINT) AS p_ppm,
      |  CAST(CAST(sum(rbo_ppm) AS BIGINT) // count(*) AS BIGINT) AS rbo_ppm,
      |  CAST(max(rbo_ppm) AS BIGINT) AS max_rbo_ppm
      |FROM scored""".stripMargin
  }

  // ---------------------------------------------------------------
  // IVF (inverted-file) ANN: centroid coarse quantizer + probed lists
  // ---------------------------------------------------------------

  /** Iterations of Lloyd refinement for the IVF codebook. */
  val KmeansIters = 3

  /** Fixed-point scale for the quantized unit vectors and centroids:
    * lane values live in [-IvfScale, IvfScale]. 1e4 keeps every
    * intermediate exact — per-lane products <= 1e8, 64-lane dots and
    * centroid norms <= 6.4e9 — all well inside Long AND inside
    * double's 2^53 exact-integer range, so the assignment score
    * (dot / sqrt(||c||²)) is the same IEEE double on any engine.
    */
  val IvfScale = 10000L

  /** Quantized unit vector: float32 normalize (one well-defined
    * rounding), then scale to integer ten-thousandths. Everything
    * downstream of this expression is exact integer arithmetic —
    * which is what makes the whole Lloyd recurrence, and therefore
    * q_knn_ivf, oracle-checkable: integer sums are associative, so
    * partial-aggregation order (and a DuckDB re-run) cannot drift
    * the codebook. Same recipe as the fixed-point PageRank/EMA
    * operators ([[graft.operators.Graph]]).
    */
  private def quantExpr(emb: Column, nrm: Column): Column =
    // transform() keeps the expression tree COMPACT (one lambda, not
    // 64 unrolled element_at chains): an unrolled form measured 2.4 MB
    // task binaries and seconds of Janino compile per stage, far
    // outweighing the interpreted-lambda cost of one pass over the
    // lanes. Callers evaluate it once per row behind a projection.
    transform(emb, x =>
      round((x.cast("double") / nrm).cast("float").cast("double")
        * IvfScale).cast("long"))

  /** Embeddings as quantized unit vectors (vec_id, label, q). */
  private[graft] def quantVectors(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).select(col("vec_id"), col("label"),
      quantExpr(col("embedding"), col("nrm")).as("q"))

  /** Exact integer dot product of two long arrays (codegen'd kernel —
    * the lambda-frame `aggregate(zip_with(...))` form costs ~4× the
    * whole IVF query at k dots per row).
    */
  private def intDot(a: Column, b: Column): Column = vecDotLong(a, b)

  /** Scores of a quantized vector against a literal integer codebook,
    * sorted best-first: array of struct(negscore, idx) ordered by
    * cosine-proportional score desc with centroid-id-ascending
    * tie-break. score = dot(q, c) / ||c|| — the ||q|| factor is
    * constant per row and drops out of the argmax. A pure scan-side
    * expression — k exact integer dots and a k-element array sort per
    * row, no join, no window, no shuffle. The dot is exact, ||c||² is
    * exact, and sqrt/divide are single correctly-rounded IEEE ops, so
    * the ordering is engine-independent.
    */
  private def centroidOrder(q: Column,
                            cents: Seq[(Int, Seq[Long])]): Column = {
    // one struct per centroid, UNROLLED (k is a plan-time constant):
    // each dot is the codegen'd kernel over a literal centroid array,
    // where a transform() lambda over the codebook would evaluate
    // every dot interpreted. `q` should be a projected column
    // reference so the quantization isn't re-inlined k times.
    val entries = cents.zipWithIndex.map { case ((_, c), i) =>
      val norm = math.sqrt(c.map(x => x * x).sum.toDouble)
      struct(
        (-(intDot(q, typedlit(c)).cast("double") / lit(norm))).as("negscore"),
        lit(i).as("idx"))
    }
    array_sort(array(entries: _*))
  }

  /** THE cell-assignment contract, shared by k-means training, IVF
    * probing and SemDeDup: centroids of `q`'s cells in score order
    * (best first), each as struct(cid, negscore). The idx→centroid-id
    * mapping lives only here — a tie-break or quantization change in
    * one consumer cannot silently diverge from the others (or from
    * the shared DuckDB assignment CTE).
    */
  private[graft] def cellRank(q: Column, cents: Seq[(Int, Seq[Long])]): Column = {
    val centIds = typedlit(cents.map(_._1))
    transform(centroidOrder(q, cents), s => struct(
      element_at(centIds, s.getField("idx") + 1).as("cid"),
      s.getField("negscore").as("negscore")))
  }

  /** One spherical k-means step over quantized unit vectors: assign
    * each vector to its max-score centroid (scan-side [[centroidOrder]]
    * argmax — the assignment never shuffles), then recompute each
    * centroid as the per-lane floor-mean of its members' EXACT integer
    * lane sums. Returns the new codebook plus the objective
    * (Σ cos(q, c_assigned)) of the ASSIGNMENT under the old codebook —
    * non-decreasing across steps up to the floor quantization, which
    * is the property the spec pins. Empty clusters keep their previous
    * centroid.
    *
    * The floor-mean (floor(sum/n), both engines as one double divide +
    * floor over exact integer operands) rather than the raw sum keeps
    * centroid lanes bounded by IvfScale at ANY corpus size — lane sums
    * stay exact up to ~9e14 members and nothing downstream can
    * overflow.
    *
    * The codebook is collected driver-side each step (k × 64 longs —
    * size-independent of the corpus) and re-inlined, so every
    * iteration is one job: a scan that assigns and reduces through
    * [[cellMeans]], the standard distributed-k-means shape at any
    * data size.
    */
  private[graft] def kmeansStep(
      spark: SparkSession, qv: DataFrame,
      cents: Seq[(Int, Seq[Long])]): (Seq[(Int, Seq[Long])], Double) = {
    val qnorm = sqrt(vecDotLong(col("q"), col("q")).cast("double"))
    val (means, obj) = cellMeans(qv
      .withColumn("best", element_at(cellRank(col("q"), cents), 1))
      .select(array(col("best").getField("cid")).as("cells"), col("q"),
        (-col("best").getField("negscore") / qnorm).as("obj")))
    (cents.map { case (id, old) => id -> means.getOrElse((0, id), old) }, obj)
  }

  /** Member count, then the exact integer lane sums, of one
    * (subspace, cell); summed over rows by [[cellMeans]].
    */
  private final class LaneSums extends Serializable {
    val cells = scala.collection.mutable.HashMap.empty[(Int, Int), Array[Long]]
    var obj = 0.0

    def add(row: org.apache.spark.sql.catalyst.InternalRow): LaneSums = {
      val ids = row.getArray(0)
      val q = row.getArray(1)
      val w = q.numElements() / ids.numElements()
      var j = 0
      while (j < ids.numElements()) {
        val s = cells.getOrElseUpdate((j, ids.getInt(j)), new Array[Long](w + 1))
        s(0) += 1
        var i = 0
        while (i < w) { s(i + 1) += q.getLong(j * w + i); i += 1 }
        j += 1
      }
      obj += row.getDouble(2)
      this
    }

    def merge(o: LaneSums): LaneSums = {
      o.cells.foreach { case (key, s) =>
        cells.get(key) match {
          case Some(t) => s.indices.foreach(i => t(i) += s(i))
          case None => cells(key) = s
        }
      }
      obj += o.obj
      this
    }
  }

  /** The reduce of one Lloyd round, as ONE job with one stage and no
    * shuffle: an RDD aggregate over the assigned rows, the shape
    * MLlib's KMeans uses, so no 66-column hash aggregate is planned
    * and code-generated per round. `assigned` is
    * `(cells array<int>, q array<bigint>, obj double)`; cell j of a row
    * owns lanes [j·w, (j+1)·w) of q, with w = |q| / |cells| — IVF
    * passes one cell for all 64 lanes, PQ one per 8-lane subspace.
    * Returns the per-lane floor-mean of every non-empty
    * (subspace, cell) — k entries whatever the corpus size — and the
    * summed obj. Lane sums are exact integers, so the means do not
    * depend on the reduce order.
    */
  private def cellMeans(assigned: DataFrame): (Map[(Int, Int), Seq[Long]], Double) = {
    val acc = assigned.queryExecution.toRdd
      .aggregate(new LaneSums)((a, row) => a.add(row), (a, b) => a.merge(b))
    (acc.cells.map { case (key, s) =>
      key -> (1 until s.length).map(i => math.floor(s(i).toDouble / s(0)).toLong)
    }.toMap, acc.obj)
  }

  /** Coarse quantizer: spherical k-means codebook (SURVEY.md §9 item 2
    * resolved — label means are now only the deterministic
    * initialization; [[KmeansIters]] Lloyd steps refine them). Returns
    * the driver-side codebook (k × 64 floats, corpus-size-independent)
    * sorted by centroid id, ready to inline as a literal.
    */
  /** Trained codebooks, keyed by (corpus dir, iters) and stamped with
    * the corpus file fingerprint they were trained on. An IVF index is
    * trained once and served for many queries — the memo models that
    * lifecycle, and the fingerprint (file names + sizes + mtimes)
    * invalidates it if the data under the path is rewritten, so a hit
    * always returns centroids of the data actually on disk (training
    * is deterministic per corpus). Keeping the fingerprint in the
    * VALUE rather than the key bounds the cache to one codebook per
    * (dir, iters): rewriting a corpus evicts the stale entry instead
    * of leaking every superseded k×64 codebook on the driver.
    */
  private val codebookCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Boolean), (String, Seq[(Int, Seq[Long])])]

  /** Test seam: observed cache size (bounded by distinct (dir, iters)). */
  private[graft] def codebookCacheSize: Int = codebookCache.size

  private def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  private[graft] def kmeansCentroids(spark: SparkSession, dir: String,
                                     iters: Int = KmeansIters,
                                     histOnly: Boolean = false): Seq[(Int, Seq[Long])] = {
    val fp = corpusFingerprint(spark, dir)
    codebookCache.get((dir, iters, histOnly)) match {
      case Some((`fp`, cents)) => cents
      case _ =>
        val cents = trainCentroids(spark, dir, iters, histOnly)
        codebookCache.put((dir, iters, histOnly), (fp, cents))
        cents
    }
  }

  /** Deterministic k-means initialization: per-label floor-means of
    * the quantized unit vectors (single source of truth — the
    * objective spec starts from this same init).
    */
  private[graft] def initCentroids(qv: DataFrame): Seq[(Int, Seq[Long])] =
    cellMeans(qv.select(array(col("label").cast("int")).as("cells"), col("q"),
      lit(0.0).as("obj")))._1
      .toSeq.map { case ((_, id), c) => id -> c }.sortBy(_._1)

  private def trainCentroids(spark: SparkSession, dir: String,
                             iters: Int,
                             histOnly: Boolean = false): Seq[(Int, Seq[Long])] = {
    // histOnly models the persisted-index lifecycle: the codebook was
    // trained when the HISTORY was indexed, before today's batch
    // existed — so the batch must not influence the centroids
    val qv0 = quantVectors(spark, dir)
    val qv = if (histOnly)
      qv0.filter(!graft.operators.Scale.isBatch(col("vec_id"))) else qv0
    qv.persist()
    try {
      var cents = initCentroids(qv)
      (1 to iters).foreach { _ =>
        cents = kmeansStep(spark, qv, cents)._1
      }
      cents
    } finally qv.unpersist()
  }

  /** IVF-ANN top-k: every vector is assigned to its nearest centroid
    * (the inverted list); each query probes its `nprobe` nearest
    * centroids and scores ONLY vectors in those lists.
    *
    * The codebook is a driver-side literal, so assignment is a pure
    * scan-side expression (k codegen'd dot products + an array sort of
    * k structs per row) — no broadcast join, no window, no shuffle —
    * and the assigned frame is MATERIALIZED once (localCheckpoint):
    * that materialization IS the index build (the inverted lists), so
    * the list side and the probe side read index rows instead of each
    * re-running the scan + k-dot assignment. The only exchanges left
    * are the probe×list join on centroid_id (at scale the inverted
    * lists ARE the partitioning, so a probe touches nprobe/nlist of
    * the corpus) and the final top-k window.
    */
  def knnIvf(spark: SparkSession, dir: String, k: Int = KnnTopK,
             nprobe: Int = IvfNprobe): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    // centroid ids ordered by quantized score desc (tie: id asc) —
    // the same exact-integer ranking the codebook was trained under.
    // q is projected FIRST so the 64-lane quantization is computed
    // once per row, not once per centroid dot.
    val probeOrder = transform(
      cellRank(col("q"), cents), s => s.getField("cid"))
    val index = vectors(spark, dir)
      .withColumn("q", quantExpr(col("embedding"), col("nrm")))
      .withColumn("probe_order", probeOrder)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        element_at(col("probe_order"), 1).as("own_cid"),
        slice(col("probe_order"), 1, nprobe).as("probe_cids"))
      .localCheckpoint() // the index build: feeds both join sides
    val lists = index
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"), col("own_cid").as("centroid_id"))
    val probes = index
      .select(col("vec_id").as("query_id"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"),
        explode(col("probe_cids")).as("centroid_id"))
    val tk = graft.functions.Aggregators.topK(k)
    probes.join(lists, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        vecDot(col("qemb"), col("cemb")) / (col("qnrm") * col("cnrm")))
      // bounded-state per-query top-k (see knnBruteForce); (query,
      // neighbor) pairs are unique — a vector lives in exactly one
      // inverted list and a query probes distinct cells
      .groupBy(col("query_id"))
      .agg(tk(col("cos"), col("neighbor_id"), lit(0L)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        round(col("s.score"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Assignment CTE: every vector of `base` ranked against codebook
    * `cPrev` (exact integer dot through one sqrt + one divide). The
    * score survives to the CTE output — consumers that only need
    * (vec_id, cid, rnk) ignore it; [[incrIvfSql]] reads it back as the
    * assignment confidence.
    */
  private def assignCte(id: String, cPrev: String,
                        base: String = "qv"): String =
    s"""$id AS (
       |  SELECT vec_id, cid, score,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY score DESC, cid ASC) AS rnk
       |  FROM (
       |    SELECT qv.vec_id, cc.cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |             k -> qv.q[k] * cc.c[k])) AS DOUBLE)
       |        / sqrt(CAST(list_sum(list_transform(cc.c, x -> x * x))
       |                    AS DOUBLE)) AS score
       |    FROM $base qv CROSS JOIN $cPrev cc)
       |)""".stripMargin

  /** Floor-mean update CTE from `assignId` over `base`; empty clusters
    * carry `cPrev`.
    */
  private def meanCte(id: String, assignId: String, cPrev: String,
                      base: String = "qv"): String =
    s"""$id AS (
       |  SELECT p.cid, COALESCE(m.c, p.c) AS c
       |  FROM $cPrev p LEFT JOIN (
       |    SELECT cid,
       |      list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT)
       |           ORDER BY k) AS c
       |    FROM (
       |      SELECT a.cid, l.k,
       |        CAST(sum(qv.q[l.k]) AS BIGINT) AS s, count(*) AS cnt
       |      FROM $base qv
       |      JOIN (SELECT vec_id, cid FROM $assignId WHERE rnk = 1) a
       |        USING (vec_id)
       |      CROSS JOIN lanes l
       |      GROUP BY a.cid, l.k)
       |    GROUP BY cid) m ON m.cid = p.cid
       |)""".stripMargin

  /** Shared oracle prefix (DuckDB twin of [[kmeansCentroids]] +
    * assignment): double-cast embeddings `n`, quantized unit vectors
    * `qv`, per-label floor-mean init `c0`, [[KmeansIters]] unrolled
    * fixed-point Lloyd steps (each = one assignment CTE + one
    * floor-mean CTE, the same recipe as the fixed-point PageRank
    * oracle), and the final `probe` ranking of every vector under the
    * trained codebook. Ends inside the WITH list — callers append
    * their own CTEs and final SELECT. The recurrence is
    * hash-checkable at all only because every score compares exact
    * integers through one sqrt + one divide.
    */
  private def kmeansProbeCte: String = kmeansProbeCteOn("qv")

  /** The same oracle prefix with the TRAINING base selectable: "qv"
    * trains on the whole corpus (the batch-free operators), "hv"
    * trains on history only — the persisted-index lifecycle
    * [[incrSemanticDedup]] models, where today's batch must not move
    * the centroids it is probed against. The final `probe` ranking
    * always covers ALL of qv (history for lists, batch for probes).
    */
  private def kmeansProbeCteOn(base: String): String = {
    val steps = (1 to KmeansIters).map(i =>
      assignCte(s"a$i", s"c${i - 1}", base) + ",\n" +
        meanCte(s"c$i", s"a$i", s"c${i - 1}", base)).mkString(",\n")
    s"""WITH n AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * x))) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id, label,
       |    list_transform(emb, x ->
       |      CAST(round(CAST(CAST(x / nrm AS REAL) AS DOUBLE) * $IvfScale)
       |           AS BIGINT)) AS q
       |  FROM n
       |), hv AS (
       |  SELECT * FROM qv
       |  WHERE NOT (${graft.operators.Scale.isBatchSql("vec_id")})
       |), lanes AS (
       |  SELECT unnest(range(1, 65)) AS k
       |), c0 AS (
       |  SELECT label AS cid,
       |    list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY k) AS c
       |  FROM (
       |    SELECT b.label, l.k,
       |      CAST(sum(b.q[l.k]) AS BIGINT) AS s, count(*) AS cnt
       |    FROM $base b CROSS JOIN lanes l
       |    GROUP BY b.label, l.k)
       |  GROUP BY label
       |),
       |$steps,
       |${assignCte("probe", s"c$KmeansIters")}""".stripMargin
  }

  /** DuckDB twin of the COMPLETE IVF pipeline: [[kmeansProbeCte]] plus
    * inverted lists and the exact-cosine re-rank.
    */
  val knnIvfSql: String = {
    s"""$kmeansProbeCte,
       |lists AS (
       |  SELECT vec_id AS neighbor_id, cid FROM probe WHERE rnk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM probe WHERE rnk <= $IvfNprobe
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      k -> qn.emb[k] * cn.emb[k])) / (qn.nrm * cn.nrm) AS cos,
       |    row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY list_sum(list_transform(range(1, 65),
       |                 k -> qn.emb[k] * cn.emb[k])) / (qn.nrm * cn.nrm) DESC,
       |               neighbor_id ASC) AS rnk
       |  FROM probes JOIN lists USING (cid)
       |  JOIN n qn ON qn.vec_id = query_id
       |  JOIN n cn ON cn.vec_id = neighbor_id
       |  WHERE query_id <> neighbor_id
       |)
       |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cosine
       |FROM ranked WHERE rnk <= $KnnTopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  // SemDeDup: semantic dedup via k-means cells (oracle-checked)
  // ---------------------------------------------------------------

  /** Cosine threshold above which two same-cell embeddings are
    * semantic duplicates (the synthetic corpus's near-dup pairs sit
    * above 0.4 — same operating point as [[embedNearDup]]).
    */
  val SemDedupTau = 0.4

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication that only ever compares embeddings INSIDE the same
    * k-means cell. A vector is a duplicate iff some lower-id member of
    * its cell has cosine ≥ [[SemDedupTau]] with it — the deterministic
    * "keep the first representative" variant of the paper's
    * keep-one-per-group rule (no transitive chaining: the rule is a
    * per-vector predicate, so it distributes as one semi-join-shaped
    * aggregation).
    *
    * Scale shape: the trained codebook ([[kmeansCentroids]] — k×64
    * driver literal) makes cell assignment a pure scan-side argmax
    * (no shuffle); the pairwise stage joins the corpus to itself ON
    * THE CELL ID only, so candidate pairs are Σ cell² rather than N².
    * At 100 TB you size k ≈ N / target-cell-size (the paper uses
    * ~10⁵ cells for billions of points) — cost scales with cell
    * width, not corpus width. One localCheckpoint materializes the
    * assignment once for both join sides (same discipline as the IVF
    * index build).
    */
  def semanticDedup(spark: SparkSession, dir: String,
                    tau: Double = SemDedupTau): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val assigned = vectors(spark, dir)
      .withColumn("q", quantExpr(col("embedding"), col("nrm")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        element_at(cellRank(col("q"), cents), 1).getField("cid").as("cell"))
      .localCheckpoint() // one assignment pass feeds both join sides
    val others = assigned.select(col("cell"), col("vec_id").as("y_id"),
      col("embedding").as("y_emb"), col("nrm").as("y_nrm"))
    val dups = assigned.join(others, "cell")
      .filter(col("y_id") < col("vec_id"))
      .withColumn("cos",
        vecDot(col("embedding"), col("y_emb")) / (col("nrm") * col("y_nrm")))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(min(col("y_id")).as("dup_of"), max(col("cos")).as("max_cos"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        col("dup_of"),
        round(col("max_cos"), 6).as("dup_cos"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin: [[kmeansProbeCte]] trains the identical codebook;
    * cells are the rnk=1 assignment; the duplicate predicate repeats
    * the exact-double cosine recipe of [[embedNearDupSql]].
    */
  val semanticDedupSql: String =
    s"""$kmeansProbeCte,
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM probe WHERE rnk = 1
       |), pairs AS (
       |  SELECT a.vec_id, b.vec_id AS y_id,
       |    list_sum(list_transform(range(1, 65),
       |      k -> na.emb[k] * nb.emb[k])) / (na.nrm * nb.nrm) AS cos
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id
       |), dups AS (
       |  SELECT vec_id, min(y_id) AS dup_of, max(cos) AS max_cos
       |  FROM pairs WHERE cos >= $SemDedupTau GROUP BY vec_id
       |)
       |SELECT c.vec_id, c.cell,
       |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  d.dup_of, round(d.max_cos, 6) AS dup_cos
       |FROM cells c LEFT JOIN dups d USING (vec_id)
       |ORDER BY c.vec_id""".stripMargin

  /** Incremental semantic dedup — SemDeDup's daily-batch form, the
    * embedding twin of [[graft.analytics.TextOps.incrementalDedup]]:
    * the codebook is trained on HISTORY only (it was fit when the
    * history was indexed, before today's batch existed), history
    * vectors sit in their persisted cells, and each batch vector
    * ([[graft.operators.Scale.isBatch]]) is assigned to its nearest
    * cell and compared against that cell's HISTORY members only —
    * never against other batch rows, and history is never re-paired
    * with itself. Output is a total function of the batch: one
    * (kept, dup_of, dup_cos) verdict per batch vec_id, the same
    * deterministic min-id representative rule as [[semanticDedup]].
    *
    * Scale shape: per day, cost is O(batch × cell-width) — the
    * history index is probed, not rebuilt; assignment is the same
    * scan-side codebook argmax as IVF, and the only join is
    * cell-partitioned batch×history.
    */
  def incrSemanticDedup(spark: SparkSession, dir: String,
                        tau: Double = SemDedupTau): DataFrame = {
    val cents = kmeansCentroids(spark, dir, histOnly = true)
    val isBatch = graft.operators.Scale.isBatch(col("vec_id"))
    val assigned = vectors(spark, dir)
      .withColumn("q", quantExpr(col("embedding"), col("nrm")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        element_at(cellRank(col("q"), cents), 1).getField("cid").as("cell"))
      .localCheckpoint() // one assignment pass feeds both join sides
    val hist = assigned.filter(!isBatch)
      .select(col("cell"), col("vec_id").as("y_id"),
        col("embedding").as("y_emb"), col("nrm").as("y_nrm"))
    val batch = assigned.filter(isBatch)
    val dups = batch.join(hist, "cell")
      .withColumn("cos",
        vecDot(col("embedding"), col("y_emb")) / (col("nrm") * col("y_nrm")))
      .filter(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(min(col("y_id")).as("dup_of"), max(col("cos")).as("max_cos"))
    batch.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        col("dup_of"),
        round(col("max_cos"), 6).as("dup_cos"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin: [[kmeansProbeCteOn]]("hv") trains the identical
    * history-only codebook (the probe still ranks every vector);
    * the duplicate predicate repeats [[semanticDedupSql]]'s recipe
    * restricted to batch-probes-history pairs.
    */
  val incrSemanticDedupSql: String =
    s"""${kmeansProbeCteOn("hv")},
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM probe WHERE rnk = 1
       |), bat AS (
       |  SELECT vec_id, cell FROM cells
       |  WHERE ${graft.operators.Scale.isBatchSql("vec_id")}
       |), hist AS (
       |  SELECT vec_id AS y_id, cell FROM cells
       |  WHERE NOT (${graft.operators.Scale.isBatchSql("vec_id")})
       |), pairs AS (
       |  SELECT b.vec_id, h.y_id,
       |    list_sum(list_transform(range(1, 65),
       |      k -> na.emb[k] * nb.emb[k])) / (na.nrm * nb.nrm) AS cos
       |  FROM bat b JOIN hist h USING (cell)
       |  JOIN n na ON na.vec_id = b.vec_id
       |  JOIN n nb ON nb.vec_id = h.y_id
       |), dups AS (
       |  SELECT vec_id, min(y_id) AS dup_of, max(cos) AS max_cos
       |  FROM pairs WHERE cos >= $SemDedupTau GROUP BY vec_id
       |)
       |SELECT b.vec_id, b.cell,
       |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  d.dup_of, round(d.max_cos, 6) AS dup_cos
       |FROM bat b LEFT JOIN dups d USING (vec_id)
       |ORDER BY b.vec_id""".stripMargin

  // ---------------------------------------------------------------
  // L3: int8 scalar quantization (oracle-checked)
  // ---------------------------------------------------------------

  /** Per-lane asymmetric int8 quantization of the embedding column —
    * the compression step before an ANN index ships to serving (4×
    * smaller than float32). Lane ranges come from one global aggregate
    * (128 partial-merge min/max — a single 1-row frame, broadcast to
    * the scan); codes use a floor quantizer (engine-portable — no
    * round-half-mode dependence), reconstruction at bucket midpoints.
    *
    * Output per label: exact code checksum (BIGINT — proves every one
    * of n×64 codes matches the oracle bit-for-bit) and mean
    * reconstruction MSE (×1e6). At 100 TB: one scan for ranges, one
    * scan to encode; both pure map/agg, no shuffle of the vectors.
    */
  /** Hard-negative mining for contrastive retrieval training — for
    * each query vector in the sample, the top-k most COSINE-similar
    * vectors carrying a DIFFERENT label: the near-miss negatives that
    * make a retrieval model learn boundaries (random negatives are
    * trivially separable; same-label neighbors are positives, so both
    * are filtered out). Scores are exact integer dots of the shared
    * quantized UNIT vectors ([[quantVectors]]): both sides unit-norm,
    * so the dot IS the cosine up to the constant scale² — the ranking
    * compares exact integers with no float anywhere in the path, and
    * the emitted score column is the raw BIGINT dot. Same
    * broadcast-query / streamed-corpus shape as [[knnBruteForce]]
    * (exact scoring only for the bounded query sample — the full-
    * corpus mining path would swap in the LSH/IVF candidate cut).
    */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = KnnQueries, k: Int = KnnBruteK): DataFrame = {
    val qv = quantVectors(spark, dir)
    val q = qv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("q").as("qq"))
    val c = qv.select(col("vec_id").as("neighbor_id"),
      col("label").as("neg_label"), col("q").as("cq"))
    // bounded-state per-query top-k (see knnBruteForce). The exact
    // BIGINT dot rides the aggregator's Double score carrier — lossless
    // here since |dot| ≤ Dim·IvfScale² = 6.4e9 ≪ 2^53.
    val tk = graft.functions.Aggregators.topK(k)
    c.join(broadcast(q), col("neg_label") =!= col("qlabel"))
      .withColumn("dot", intDot(col("qq"), col("cq")))
      .groupBy(col("query_id"))
      .agg(tk(col("dot").cast("double"), col("neighbor_id"),
        col("neg_label").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        col("s.tag").cast("int").as("neg_label"),
        col("s.score").cast("long").as("dot"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val hardNegativesSql: String = {
    val dot = s"CAST(list_sum(list_transform(range(1, ${Dim + 1}), " +
      "j -> qq[j] * c.q[j])) AS BIGINT)"
    s"""WITH n AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * x))) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id, label,
       |    list_transform(emb, x ->
       |      CAST(round(CAST(CAST(x / nrm AS REAL) AS DOUBLE) * $IvfScale)
       |           AS BIGINT)) AS q
       |  FROM n
       |), qs AS (
       |  SELECT vec_id AS query_id, label AS qlabel, q AS qq
       |  FROM qv WHERE vec_id < $KnnQueries
       |), ranked AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, c.label AS neg_label,
       |    $dot AS dot,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY $dot DESC, c.vec_id ASC) AS rnk
       |  FROM qs JOIN qv c ON c.label <> qlabel
       |)
       |SELECT query_id, rnk, neighbor_id, neg_label, dot
       |FROM ranked WHERE rnk <= $KnnBruteK
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Hard-negative mining THROUGH the IVF index — the documented
    * full-corpus path [[hardNegatives]]'s docstring defers to: each
    * query probes its [[IvfNprobe]] nearest k-means cells and mines
    * negatives from those cells' inverted lists ONLY, so per-query
    * cost is nprobe/nlist of the corpus instead of a full scan. Same
    * exact-integer dot ranking and label-disjoint filter as the exact
    * miner, same bounded-state top-k aggregation; candidate pairs are
    * unique by construction (each vector lives in exactly ONE
    * inverted list — its rnk-1 cell — and a query probes distinct
    * cells). At full-corpus mining the probe side becomes the whole
    * corpus and the join stays cell-partitioned — the inverted lists
    * ARE the partitioning, the shape that survives 100 TB.
    */
  def hardNegativesIvf(spark: SparkSession, dir: String): DataFrame =
    hardNegativesIvfAt(spark, dir, IvfNprobe)

  /** Test seam: the same miner with a free probe width — the spec
    * proves probing EVERY cell recovers [[hardNegatives]] exactly
    * (candidates = corpus), and measures recall at the serving width.
    * The registered query pins [[IvfNprobe]] so it cannot drift from
    * [[hardNegativesIvfSql]].
    */
  private[graft] def hardNegativesIvfAt(spark: SparkSession, dir: String,
                                        nprobe: Int): DataFrame = {
    val nQueries = KnnQueries
    val k = KnnBruteK
    val cents = kmeansCentroids(spark, dir)
    val probeOrder = transform(
      cellRank(col("q"), cents), s => s.getField("cid"))
    val index = quantVectors(spark, dir)
      .withColumn("probe_order", probeOrder)
      .select(col("vec_id"), col("label"), col("q"),
        element_at(col("probe_order"), 1).as("own_cid"),
        slice(col("probe_order"), 1, nprobe).as("probe_cids"))
      .localCheckpoint() // the index build feeds both join sides
    val lists = index
      .select(col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"), col("q").as("cq"),
        col("own_cid").as("centroid_id"))
    val probes = index.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("q").as("qq"), explode(col("probe_cids")).as("centroid_id"))
    val tk = graft.functions.Aggregators.topK(k)
    probes.join(lists, "centroid_id")
      .filter(col("neg_label") =!= col("qlabel")) // also excludes self
      .withColumn("dot", intDot(col("qq"), col("cq")))
      .groupBy(col("query_id"))
      .agg(tk(col("dot").cast("double"), col("neighbor_id"),
        col("neg_label").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        col("s.tag").cast("int").as("neg_label"),
        col("s.score").cast("long").as("dot"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB twin: [[kmeansProbeCte]] trains the identical codebook
    * and ranks every vector's cells; the candidate walk repeats
    * q_knn_ivf's lists/probes CTEs and the ranking repeats the
    * exact-integer-dot recipe of [[hardNegativesSql]].
    */
  val hardNegativesIvfSql: String =
    s"""$kmeansProbeCte,
       |lists AS (
       |  SELECT vec_id AS neighbor_id, cid FROM probe WHERE rnk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM probe
       |  WHERE rnk <= $IvfNprobe AND vec_id < $KnnQueries
       |), ranked AS (
       |  SELECT * , row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, neighbor_id ASC) AS rnk
       |  FROM (
       |    SELECT p.query_id, l.neighbor_id, cn.label AS neg_label,
       |      CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |             j -> qn.q[j] * cn.q[j])) AS BIGINT) AS dot
       |    FROM probes p JOIN lists l USING (cid)
       |    JOIN qv qn ON qn.vec_id = p.query_id
       |    JOIN qv cn ON cn.vec_id = l.neighbor_id
       |    WHERE cn.label <> qn.label)
       |)
       |SELECT query_id, rnk, neighbor_id, neg_label, dot
       |FROM ranked WHERE rnk <= $KnnBruteK
       |ORDER BY query_id, rnk""".stripMargin

  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val lanes = 0 until Dim
    def x(i: Int) = element_at(col("embedding"), i + 1).cast("double")
    val mmAggs = lanes.flatMap(i => Seq(
      min(x(i)).as(s"mn$i"), max(x(i)).as(s"mx$i")))
    val mm = embeddings(spark, dir).agg(mmAggs.head, mmAggs.tail: _*)
    def rng(i: Int) = col(s"mx$i") - col(s"mn$i")
    def code(i: Int) = least(
      floor((x(i) - col(s"mn$i")) * 256.0 / rng(i)).cast("long"), lit(255L))
    def err(i: Int) = {
      val recon = col(s"mn$i") + (code(i).cast("double") + 0.5) * rng(i) / 256.0
      (x(i) - recon) * (x(i) - recon)
    }
    embeddings(spark, dir)
      .crossJoin(broadcast(mm))
      .select(col("label"),
        lanes.map(code).reduce(_ + _).as("sum_codes"),
        (lanes.map(err).reduce(_ + _) / Dim).as("mse"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sum_codes")).cast("long").as("code_checksum"),
        round(avg(col("mse")) * 1e6, 2).as("avg_mse_e6"))
      .orderBy(col("label"))
  }

  val quantizeInt8Sql: String = {
    val lanes = 0 until Dim
    val mmAggs = lanes.map(i =>
      s"min(CAST(embedding[${i + 1}] AS DOUBLE)) AS mn$i, " +
        s"max(CAST(embedding[${i + 1}] AS DOUBLE)) AS mx$i").mkString(", ")
    def x(i: Int) = s"CAST(embedding[${i + 1}] AS DOUBLE)"
    def code(i: Int) =
      s"LEAST(CAST(floor((${x(i)} - mn$i) * 256.0 / (mx$i - mn$i)) AS BIGINT), 255)"
    def err(i: Int) =
      s"power(${x(i)} - (mn$i + (CAST(c$i AS DOUBLE) + 0.5) * (mx$i - mn$i) / 256.0), 2)"
    val codeCols = lanes.map(i => s"${code(i)} AS c$i").mkString(", ")
    val sumCodes = lanes.map(i => s"c$i").mkString(" + ")
    val sumErr = lanes.map(err).mkString(" + ")
    s"""WITH mm AS (SELECT $mmAggs FROM embeddings),
       |coded AS (
       |  SELECT label, embedding, $codeCols, ${lanes.map(i => s"mn$i, mx$i").mkString(", ")}
       |  FROM embeddings, mm
       |)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum($sumCodes) AS BIGINT) AS code_checksum,
       |  round(avg(($sumErr) / ${Dim}) * 1e6, 2) AS avg_mse_e6
       |FROM coded
       |GROUP BY label
       |ORDER BY label""".stripMargin
  }

  // ---------------------------------------------------------------
  // Reciprocal (mutual) kNN pairs (oracle-checked)
  // ---------------------------------------------------------------

  /** Reciprocal nearest neighbors over the IVF index: pairs where
    * each vector ranks inside the OTHER's top-k — the mutual-kNN
    * filter that strips asymmetric hub matches (a hub vector lands in
    * everyone's top-k, but its own top-k holds only its true peers),
    * the standard precision upgrade for embedding near-dup candidates
    * and re-ranking (e.g. reciprocal re-ranking in retrieval).
    * Composes [[knnIvf]] unchanged: one checkpointed kNN table
    * self-joined on the reversed pair, each unordered pair emitted
    * once with both ranks. Cosine is taken from one leg — the scoring
    * expression is symmetric lane-for-lane, so the legs carry the
    * identical double.
    *
    * Scale shape: the kNN table is k rows per vector (corpus × k);
    * the reversal join is an equi-join of that table with itself on
    * the pair key — never the corpus against itself.
    */
  def mutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnIvf(spark, dir).localCheckpoint()
    val fwd = knn.select(col("query_id").as("vec_a"),
      col("neighbor_id").as("vec_b"), col("rnk").as("rank_ab"),
      col("cosine"))
    val bwd = knn.select(col("neighbor_id").as("vec_a"),
      col("query_id").as("vec_b"), col("rnk").as("rank_ba"))
    fwd.join(bwd, Seq("vec_a", "vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("rank_ab"),
        col("rank_ba"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** DuckDB twin: [[knnIvfSql]] embedded once as `base`, self-joined
    * on the reversed pair.
    */
  val mutualKnnSql: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT * FROM ($knnIvfSql)
       |)
       |SELECT f.query_id AS vec_a, f.neighbor_id AS vec_b,
       |  f.rnk AS rank_ab, b.rnk AS rank_ba, f.cosine
       |FROM base f
       |JOIN base b ON b.query_id = f.neighbor_id
       |           AND b.neighbor_id = f.query_id
       |WHERE f.query_id < f.neighbor_id
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Mutual-kNN clustering — connected components over the
    * reciprocal-edge graph ([[mutualKnn]]): the classic
    * density-adaptive grouping (Brito et al. 1997's mutual-kNN graph;
    * the backbone of many modern semantic-cluster pipelines) — using
    * only RECIPROCAL edges means a hub cannot glue unrelated regions
    * together, which is exactly why plain kNN-graph components
    * over-merge. Components come from the co-partitioned RDD CC loop;
    * singletons (vectors with no reciprocal neighbor) are their own
    * cluster. Emits per cluster: size and member ids (sorted, joined
    * — the dedupClusters output discipline).
    */
  def mutualKnnClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = mutualKnn(spark, dir)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val comp = graft.operators.Graph.connectedComponents(pairs)
    val all = vectors(spark, dir).select(col("vec_id"))
      .join(comp.select(col("v").as("vec_id"), col("comp")),
        Seq("vec_id"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("vec_id")))
    all.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        concat_ws(",",
          transform(sort_array(collect_list(col("vec_id"))),
            x => x.cast("string"))).as("vec_ids"))
      .orderBy(col("cluster"))
  }

  /** DuckDB twin: [[mutualKnnSql]]'s pair output closed under the
    * recursive-CTE reachability of the dedup-clusters oracle, with
    * singleton back-fill.
    */
  // MATERIALIZED (optimization r15): `pairs` is referenced twice and
  // `edges` sits inside the RECURSIVE reach term — un-hinted, DuckDB
  // 1.0 re-inlined the whole IVF-kNN pipeline per reference AND per
  // recursion iteration (measured 104 s at sf0.01 vs 0.41 s
  // materialized, identical rows). Evaluation fence only.
  lazy val mutualKnnClustersSql: String =
    s"""WITH RECURSIVE
       |pairs AS MATERIALIZED (SELECT vec_a, vec_b FROM ($mutualKnnSql)),
       |edges AS MATERIALIZED (
       |  SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT vec_b, vec_a FROM pairs
       |),
       |verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
       |reach(v, r) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT reach.v, e.dst FROM reach JOIN edges e ON reach.r = e.src
       |),
       |comp AS (SELECT v AS vec_id, min(r) AS component FROM reach GROUP BY v),
       |assign AS (
       |  SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS cluster
       |  FROM (SELECT vec_id FROM embeddings) e
       |  LEFT JOIN comp c USING (vec_id)
       |)
       |SELECT cluster, count(*) AS n_vecs,
       |  array_to_string(list_sort(list(vec_id)), ',') AS vec_ids
       |FROM assign
       |GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------
  // Hubness audit over the kNN graph (oracle-checked)
  // ---------------------------------------------------------------

  /** Hubness audit (Radovanović, Nanopoulos & Ivanović 2010, JMLR:
    * "Hubs in space") — the k-occurrence distribution of the IVF kNN
    * graph: how often each vector appears in OTHERS' top-k. High-
    * dimensional embedding spaces grow hubs (vectors in everyone's
    * neighbor list) and antihubs (in nobody's), which silently skew
    * retrieval and kNN-based dedup; the skewness of N_k is THE
    * standard severity metric. Emits the full k-occurrence histogram
    * (bounded by k × corpus / corpus = k+1-ish distinct values)
    * plus exact-moment skewness of N_k in milli units — computed from
    * integer power sums (Σn, Σn², Σn³ — exact for N_k ≤ k·corpus
    * sizes well past these), one fixed IEEE op sequence both engines.
    *
    * Scale shape: one aggregation of the k-rows-per-vector kNN table
    * by neighbor, one histogram rollup, moments from the histogram.
    */
  def hubnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnIvf(spark, dir)
    val nVec = vectors(spark, dir).agg(count(lit(1)).as("n_corpus"))
    // N_k per vector: antihubs (never a neighbor) enter with 0 via the
    // right join to the corpus
    val occ = knn.groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("nk"))
    val full = vectors(spark, dir).select(col("vec_id"))
      .join(occ, Seq("vec_id"), "left")
      .select(coalesce(col("nk"), lit(0L)).as("nk"))
    val hist = full.groupBy(col("nk")).agg(count(lit(1)).as("n_vecs"))
      .localCheckpoint() // feeds BOTH the output rows and the moments
    // decimal product moments off the histogram (round 11): nk is a
    // vector's occurrence count across ALL top-k lists — a mega-hub's
    // nk³ alone leaves i64 at nk ≈ 2·10⁶, so the carrier must widen;
    // closing the moments over the ALREADY-COMPUTED count-of-counts
    // hist (Σ_vectors nk^p ≡ Σ_hist n_vecs·nk^p exactly) keeps the
    // DECIMAL(38,0) math on the tiny distinct-nk frame and deletes
    // the second corpus-length aggregation the first cut paid.
    // Carrier bound unchanged: exact while n_vecs·nk³ < 10³⁸.
    val moments = hist.agg(sum(col("n_vecs")).as("n"),
      sum(col("n_vecs").cast("decimal(20,0)") * col("nk")).as("s1"),
      sum(col("n_vecs").cast("decimal(20,0)") * col("nk") * col("nk"))
        .as("s2"),
      sum(col("n_vecs").cast("decimal(20,0)") * col("nk") * col("nk")
        * col("nk")).as("s3"))
    hist.crossJoin(broadcast(moments))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("m2",
        col("s2").cast("double") / col("n") - col("mean") * col("mean"))
      .withColumn("m3",
        col("s3").cast("double") / col("n")
          - lit(3.0) * col("mean") * col("s2").cast("double") / col("n")
          + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .select(col("nk"), col("n_vecs"),
        // a perfectly regular kNN graph (every N_k equal — e.g. a
        // corpus of exact clone groups) has zero variance: report
        // skew 0 instead of dividing by it
        when(col("m2") <= 0, lit(0L))
          .otherwise(floor(col("m3") / pow(col("m2"), 1.5) * 1000)
            .cast("long")).as("skew_milli"))
      .orderBy(col("nk"))
  }

  /** DuckDB twin: [[knnIvfSql]] embedded, identical moment algebra. */
  lazy val hubnessAuditSql: String =
    s"""WITH knn AS MATERIALIZED (
       |  SELECT * FROM ($knnIvfSql)
       |), occ AS (
       |  SELECT neighbor_id AS vec_id, count(*) AS nk FROM knn GROUP BY 1
       |), full_occ AS MATERIALIZED (
       |  SELECT COALESCE(o.nk, 0) AS nk
       |  FROM embeddings e LEFT JOIN occ o ON o.vec_id = e.vec_id
       |), m AS (
       |  SELECT count(*) AS n, CAST(sum(nk) AS BIGINT) AS s1,
       |    CAST(sum(nk * nk) AS BIGINT) AS s2,
       |    CAST(sum(nk * nk * nk) AS BIGINT) AS s3
       |  FROM full_occ
       |)
       |SELECT nk, count(*) AS n_vecs,
       |  CASE WHEN CAST(s2 AS DOUBLE) / n
       |            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
       |          <= 0 THEN 0 ELSE
       |  CAST(floor((CAST(s3 AS DOUBLE) / n
       |      - 3.0 * (CAST(s1 AS DOUBLE) / n) * CAST(s2 AS DOUBLE) / n
       |      + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
       |        * (CAST(s1 AS DOUBLE) / n))
       |    / power(CAST(s2 AS DOUBLE) / n
       |        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 1.5)
       |    * 1000) AS BIGINT) END AS skew_milli
       |FROM full_occ CROSS JOIN m
       |GROUP BY nk, n, s1, s2, s3
       |ORDER BY nk""".stripMargin

  // ---------------------------------------------------------------
  // Matryoshka prefix-truncation audit (oracle-checked)
  // ---------------------------------------------------------------

  /** Prefix dimensionalities audited by [[matryoshkaEval]]. */
  val MrlDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka-style truncation audit (Kusupati et al. 2022,
    * "Matryoshka representation learning": serve a PREFIX of each
    * embedding and pay dim/64 of the memory bandwidth): for each
    * prefix width, how faithfully does truncated cosine preserve the
    * full-dim geometry over the standard [[KnnQueries]]-query probe?
    * Emits per width: pair count, how many queries keep their
    * full-dim rank-1 neighbor, and the mean |cos_prefix − cos_full|.
    *
    * Arithmetic: cosines are the usual exact-integer prefix dots
    * through one sqrt/divide; deltas are floored to integer MICROS
    * per pair before summing (order-free integer sum) and the mean is
    * one positive-operand DIV — the dim=64 row's delta is exactly 0
    * and its top-1 retention exactly [[KnnQueries]], an in-band
    * self-check the hash gate covers.
    *
    * Scale shape: the corpus×dims frame computes each vector's prefix
    * norm once; queries ride one broadcast; per-(dim, query) top-1 is
    * the bounded-state [[graft.functions.Aggregators.topK]] (k = 1),
    * so state is 2 rows per group. Nothing is pairwise in the corpus.
    */
  def matryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    val dims = spark.range(0, MrlDims.length)
      .select(element_at(typedlit(MrlDims), col("id").cast("int") + 1)
        .as("dim"))
    val qv = quantVectors(spark, dir).localCheckpoint()
    def prefixed(base: DataFrame, idc: String, qc: String) = base
      .crossJoin(broadcast(dims))
      .withColumn("pq", slice(col(qc), lit(1), col("dim")))
      .withColumn("pnrm", sqrt(vecDotLong(col("pq"), col("pq")).cast("double")))
      .withColumn("fnrm", sqrt(vecDotLong(col(qc), col(qc)).cast("double")))
    val corpus = prefixed(qv.select(col("vec_id").as("neighbor_id"),
      col("q").as("cq")), "neighbor_id", "cq")
      .select(col("dim"), col("neighbor_id"), col("cq"),
        col("pq").as("cpq"), col("pnrm").as("cpnrm"), col("fnrm").as("cfnrm"))
    val queries = prefixed(qv.filter(col("vec_id") < KnnQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq")),
      "query_id", "qq")
      .select(col("dim"), col("query_id"), col("qq"),
        col("pq").as("qpq"), col("pnrm").as("qpnrm"), col("fnrm").as("qfnrm"))
    val tk1 = graft.functions.Aggregators.topK(1)
    val pairs = corpus.join(broadcast(queries), Seq("dim"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_p", vecDotLong(col("qpq"), col("cpq")).cast("double")
        / (col("qpnrm") * col("cpnrm")))
      .withColumn("cos_f", vecDotLong(col("qq"), col("cq")).cast("double")
        / (col("qfnrm") * col("cfnrm")))
      .withColumn("delta_micro",
        abs(floor(col("cos_p") * 1e6).cast("long") -
          floor(col("cos_f") * 1e6).cast("long")))
    pairs
      .groupBy(col("dim"), col("query_id"))
      .agg(tk1(col("cos_p"), col("neighbor_id"), lit(0L)).as("t_p"),
        tk1(col("cos_f"), col("neighbor_id"), lit(0L)).as("t_f"),
        count(lit(1)).as("n"), sum(col("delta_micro")).as("d"))
      .groupBy(col("dim"))
      .agg(sum(col("n")).as("n_pairs"),
        sum(when(element_at(col("t_p"), 1).getField("id") ===
          element_at(col("t_f"), 1).getField("id"), 1L).otherwise(0L))
          .as("n_top1_match"),
        expr("sum(d) DIV sum(n)").as("mean_abs_delta_micro"))
      .orderBy(col("dim"))
  }

  /** DuckDB twin: same quantized prefixes, micro-floored deltas,
    * per-(dim, query) double ranking.
    */
  val matryoshkaEvalSql: String =
    s"""WITH n AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * x))) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id,
       |    list_transform(emb, x ->
       |      CAST(round(CAST(CAST(x / nrm AS REAL) AS DOUBLE) * $IvfScale)
       |           AS BIGINT)) AS q
       |  FROM n
       |), dims AS (
       |  SELECT unnest([${MrlDims.mkString(", ")}]) AS dim
       |), pairs AS (
       |  SELECT d.dim, qr.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, d.dim + 1),
       |           j -> qr.q[j] * c.q[j])) AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(range(1, d.dim + 1),
       |                    j -> qr.q[j] * qr.q[j])) AS DOUBLE))
       |         * sqrt(CAST(list_sum(list_transform(range(1, d.dim + 1),
       |                      j -> c.q[j] * c.q[j])) AS DOUBLE))) AS cos_p,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |           j -> qr.q[j] * c.q[j])) AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |                    j -> qr.q[j] * qr.q[j])) AS DOUBLE))
       |         * sqrt(CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |                      j -> c.q[j] * c.q[j])) AS DOUBLE))) AS cos_f
       |  FROM dims d
       |  CROSS JOIN (SELECT * FROM qv WHERE vec_id < $KnnQueries) qr
       |  JOIN qv c ON c.vec_id <> qr.vec_id
       |), stats AS (
       |  SELECT dim, query_id, count(*) AS nn,
       |    CAST(sum(abs(CAST(floor(cos_p * 1e6) AS BIGINT)
       |                 - CAST(floor(cos_f * 1e6) AS BIGINT))) AS BIGINT) AS d
       |  FROM pairs GROUP BY dim, query_id
       |), rp AS (
       |  SELECT dim, query_id, neighbor_id AS top_p FROM (
       |    SELECT dim, query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY dim, query_id
       |        ORDER BY cos_p DESC, neighbor_id ASC) AS r
       |    FROM pairs) WHERE r = 1
       |), rf AS (
       |  SELECT dim, query_id, neighbor_id AS top_f FROM (
       |    SELECT dim, query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY dim, query_id
       |        ORDER BY cos_f DESC, neighbor_id ASC) AS r
       |    FROM pairs) WHERE r = 1
       |)
       |SELECT dim, CAST(sum(nn) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN top_p = top_f THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_top1_match,
       |  CAST(sum(d) AS BIGINT) // CAST(sum(nn) AS BIGINT)
       |    AS mean_abs_delta_micro
       |FROM stats
       |JOIN rp USING (dim, query_id)
       |JOIN rf USING (dim, query_id)
       |GROUP BY dim
       |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------
  // Johnson–Lindenstrauss random projection (oracle-checked)
  // ---------------------------------------------------------------

  /** Projected dimensionality of [[randomProjection]]. */
  val RpDims = 16

  /** ±1 projection matrix, signs from the md5-word parity of "rp_p_d"
    * — SQL-reproducible like [[hyperplanes]].
    */
  private[analytics] val rpSigns: Seq[Seq[Float]] =
    Seq.tabulate(RpDims)(p => Seq.tabulate(Dim)(d =>
      if (md5Word32(s"rp_${p}_${d}") % 2 == 0) 1.0f else -1.0f))

  /** Johnson–Lindenstrauss dimension reduction 64 → 16: a ±1 sign
    * matrix (Achlioptas-style) applied scan-side — [[RpDims]] codegen'd
    * dot products per row, scaled by 1/√16 (an exact power-of-two
    * division). Output keeps the first two components plus the
    * projected norm and its ratio to the original norm — the JL
    * distance-preservation property made visible (ratio ≈ 1). No
    * shuffle at all until the presentation sort; at 100 TB this is the
    * cheap front half of any ANN/sketch pipeline that can't afford
    * 64-dim candidate scoring.
    */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val projCols = rpSigns.map(s =>
      (vecDot(col("embedding"), typedlit(s)) / 4.0))
    vectors(spark, dir)
      .select(col("vec_id"), col("nrm"), array(projCols: _*).as("proj"))
      .select(col("vec_id"), col("nrm"), col("proj"),
        sqrt(aggregate(col("proj"), lit(0.0),
          (acc, x) => acc + x * x)).as("pnorm"))
      .select(col("vec_id"),
        round(element_at(col("proj"), 1), 6).as("p0"),
        round(element_at(col("proj"), 2), 6).as("p1"),
        round(col("pnorm"), 6).as("proj_norm"),
        round(col("pnorm") / col("nrm"), 6).as("norm_ratio"))
      .orderBy(col("vec_id"))
  }

  val randomProjectionSql: String =
    """WITH n AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      |  FROM embeddings
      |), signs AS (
      |  SELECT p, list_transform(range(0, 64), d ->
      |    CASE WHEN CAST(('0x' || substr(md5('rp_' || p::VARCHAR || '_'
      |                                    || d::VARCHAR), 1, 8)) AS BIGINT)
      |              % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS s
      |  FROM (SELECT unnest(range(0, 16)) AS p)
      |), pr AS (
      |  SELECT vec_id, nrm, p,
      |    list_sum(list_transform(range(1, 65), k -> emb[k] * s[k])) / 4.0 AS v
      |  FROM n CROSS JOIN signs
      |), agg AS (
      |  SELECT vec_id, any_value(nrm) AS nrm, list(v ORDER BY p) AS proj
      |  FROM pr GROUP BY vec_id
      |)
      |SELECT vec_id,
      |  round(proj[1], 6) AS p0, round(proj[2], 6) AS p1,
      |  round(sqrt(list_sum(list_transform(proj, x -> x * x))), 6) AS proj_norm,
      |  round(sqrt(list_sum(list_transform(proj, x -> x * x))) / nrm, 6) AS norm_ratio
      |FROM agg
      |ORDER BY vec_id""".stripMargin


  /** Cluster-separation audit (embedding QA): every vector scored
    * against ALL label centroids — own-centroid cosine vs the best
    * foreign centroid. Per label: how many vectors a nearest-centroid
    * classifier would mis-assign, and the mean separation margin. The
    * operator a pipeline runs before trusting labels for IVF routing
    * or stratified sampling.
    *
    * The 10×64 centroid table broadcasts; each vector computes all 10
    * cosines scan-side via the `aggregate` fold (no shuffle beyond the
    * centroid build and the final per-label rollup).
    */
  def labelSeparation(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val pos = v.select(col("label"),
      posexplode(col("embedding")).as(Seq("k", "x")))
      .withColumn("x", col("x").cast("double"))
    val centArr = pos.groupBy(col("label"), col("k"))
      .agg(avg(col("x")).as("cv"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("k"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .select(col("label").as("c_label"), col("centroid"))
    val dotCent = aggregate(
      zip_with(col("embedding"), col("centroid"),
        (x, c) => x.cast("double") * c),
      lit(0.0), (acc, p) => acc + p)
    val centNorm = sqrt(aggregate(
      transform(col("centroid"), c => c * c), lit(0.0), (acc, p) => acc + p))
    // cosines are rounded to 9 decimals BEFORE the max/compare: the
    // confusion count is an integer derived from floats, and a 1-ulp
    // centroid-sum difference (partial-agg order) must not flip it
    v.crossJoin(broadcast(centArr))
      .withColumn("cos", round(dotCent / (col("nrm") * centNorm), 9))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("c_label") === col("label"), col("cos"))).as("own_cos"),
        max(when(col("c_label") =!= col("label"), col("cos"))).as("best_other"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("best_other") > col("own_cos"), 1L).otherwise(0L))
          .as("n_confused"),
        round(avg(col("own_cos") - col("best_other")), 6).as("avg_margin"))
      .orderBy(col("label"))
  }

  val labelSeparationSql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |), pos AS (
      |  SELECT label, vec_id, unnest(emb) AS x,
      |    unnest(range(1, len(emb) + 1)) AS k
      |  FROM e
      |), cent AS (
      |  SELECT label, k, avg(x) AS cv FROM pos GROUP BY label, k
      |), cn AS (
      |  SELECT label AS c_label, sqrt(sum(cv * cv)) AS cnorm
      |  FROM cent GROUP BY 1
      |), dots AS (
      |  SELECT p.vec_id, p.label, c.label AS c_label,
      |    sum(p.x * c.cv) AS dot, sum(p.x * p.x) AS v2
      |  FROM pos p JOIN cent c ON p.k = c.k
      |  GROUP BY 1, 2, 3
      |), cos AS (
      |  SELECT d.vec_id, d.label,
      |    max(CASE WHEN d.c_label = d.label
      |             THEN round(d.dot / (sqrt(d.v2) * cn.cnorm), 9) END) AS own_cos,
      |    max(CASE WHEN d.c_label <> d.label
      |             THEN round(d.dot / (sqrt(d.v2) * cn.cnorm), 9) END) AS best_other
      |  FROM dots d JOIN cn ON d.c_label = cn.c_label
      |  GROUP BY 1, 2
      |)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(CASE WHEN best_other > own_cos THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_confused,
      |  round(avg(own_cos - best_other), 6) AS avg_margin
      |FROM cos
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of keyword + vector legs
  // ---------------------------------------------------------------

  /** RRF constant (Cormack et al. 2009's k = 60) and the integer
    * scale: contribution = Scale DIV (k + rank) — integer division on
    * both engines, so fused scores sum and compare exactly.
    */
  val RrfK = 60L
  val RrfScale = 1000000000000L
  val HybridListK = 50
  val HybridTopK = 20

  /** Hybrid retrieval via reciprocal-rank fusion: the keyword leg is
    * the BM25 ranking ([[TextOps.bm25Scores]] over the fixed query
    * terms), the vector leg is exact cosine against the query
    * embedding (vec_id 0 — ids are shared with doc_id in the
    * harness data, the aligned-corpus assumption every hybrid store
    * makes); each leg keeps its top-[[HybridListK]] and fusion scores
    * rank positions only — the classic engine-agnostic combiner (no
    * score calibration across legs, which is the point of RRF).
    *
    * Scale shape: each leg is a TakeOrdered top-k (no global sort, no
    * corpus-sized window); the fusion joins two k-row lists — driver-
    * scale — and every fused score is Scale DIV (k + rank) integer
    * arithmetic, exact on any engine.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val kw = TextOps.bm25Ranked(spark, dir, HybridListK)
      .select(col("doc_id"), col("rnk").as("kw_rank"))
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") === 0)
      .select(col("embedding").as("qemb"), col("nrm").as("qnrm"))
    val vecW = Window.orderBy(col("cos").desc, col("doc_id").asc)
    val vec = v.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .withColumn("cos",
        vecDot(col("qemb"), col("embedding")) / (col("qnrm") * col("nrm")))
      .select(col("vec_id").as("doc_id"), col("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc)
      .limit(HybridListK)
      .withColumn("vec_rank", row_number().over(vecW))
      .select(col("doc_id"), col("vec_rank"))
    val fusedW = Window.orderBy(col("rrf_scaled").desc, col("doc_id").asc)
    kw.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_scaled",
        coalesce(expr(s"$RrfScale DIV ($RrfK + kw_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfScale DIV ($RrfK + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_scaled").desc, col("doc_id").asc)
      .limit(HybridTopK)
      .withColumn("rnk", row_number().over(fusedW))
      .select(col("rnk"), col("doc_id"), col("kw_rank"), col("vec_rank"),
        col("rrf_scaled"))
      .orderBy(col("rnk"))
  }

  val hybridRrfSql: String =
    s"""WITH ${TextOps.bm25ScoredCte},
       |kw AS (
       |  SELECT doc_id, row_number() OVER (
       |      ORDER BY score_micros DESC, doc_id ASC) AS kw_rank
       |  FROM scored WHERE score_micros > 0
       |  ORDER BY score_micros DESC, doc_id ASC LIMIT $HybridListK
       |), n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT emb AS qemb, nrm AS qnrm FROM n WHERE vec_id = 0
       |), vec AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS vec_rank
       |  FROM (
       |    SELECT c.vec_id AS doc_id,
       |      list_sum(list_transform(range(1, len(qemb) + 1),
       |        k -> qemb[k] * c.emb[k])) / (qnrm * c.nrm) AS cos
       |    FROM n c CROSS JOIN qv WHERE c.vec_id <> 0)
       |  ORDER BY cos DESC, doc_id ASC LIMIT $HybridListK
       |), fused AS (
       |  -- USING on a FULL JOIN yields the coalesced key in both engines
       |  SELECT doc_id, kw_rank, vec_rank,
       |    coalesce($RrfScale // ($RrfK + kw_rank), 0)
       |      + coalesce($RrfScale // ($RrfK + vec_rank), 0) AS rrf_scaled
       |  FROM kw FULL OUTER JOIN vec USING (doc_id)
       |)
       |SELECT row_number() OVER (ORDER BY rrf_scaled DESC, doc_id ASC) AS rnk,
       |  doc_id, kw_rank, vec_rank, rrf_scaled
       |FROM fused
       |ORDER BY rrf_scaled DESC, doc_id ASC
       |LIMIT $HybridTopK""".stripMargin

  // ---------------------------------------------------------------
  // MMR: maximal-marginal-relevance diversified re-ranking
  // ---------------------------------------------------------------

  /** Diversified result count and candidate pool for [[mmrRerank]]. */
  val MmrK = 10
  val MmrPool = 50

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    * diversified top-[[MmrK]] for the vec_id-0 query: greedy selection
    * maximizing λ·rel − (1−λ)·max-sim-to-selected with λ = 1/2, which
    * over our EXACT integer scores reduces to argmax(rel − maxsim) —
    * the re-ranker that keeps a result list from filling up with
    * near-duplicates the plain top-k would return (the retrieval-side
    * twin of SemDeDup's corpus-side rule).
    *
    * Every score is an exact integer dot of the shared quantized unit
    * vectors ([[quantVectors]]), so relevance and pairwise similarity
    * live on the same ~IvfScale² scale and the greedy argmax (ties by
    * vec_id) is engine-deterministic.
    *
    * Scale shape: candidate generation is the DISTRIBUTED stage — a
    * scan-side dot against the broadcast query vector cut to
    * [[MmrPool]] rows by TakeOrdered (corpus-size-independent, like
    * the IVF codebook). The greedy loop then runs on those ≤50 rows
    * on the driver — O(k·pool·dim) ≈ 32k lane-multiplies — exactly
    * where every production serving stack puts its re-rank stage; at
    * 100 TB only the candidate cut grows, and it's one TakeOrdered.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one quantization pass feeds both the q0 lookup and the candidate
    // cut — without the checkpoint the corpus-sized normalize/quantize
    // scan (the only stage that grows with the corpus) would run twice
    val qv = quantVectors(spark, dir).select(col("vec_id"), col("q"))
      .localCheckpoint()
    val q0 = qv.filter(col("vec_id") === 0).select(col("q"))
      .head().getSeq[Long](0)
    val cands = qv.filter(col("vec_id") =!= 0)
      .withColumn("rel", intDot(col("q"), typedlit(q0)))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(MmrPool)
      .select(col("vec_id"), col("rel"), col("q"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Long], Long)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.size < MmrK && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, q) =>
        val mmr =
          if (selected.isEmpty) rel
          else rel - selected.iterator.map(s => dot(q, s._3)).max
        (id, rel, q, mmr)
      }
      val best = scored.minBy { case (id, _, _, mmr) => (-mmr, id) }
      selected += best
      remaining.remove(remaining.indexWhere(_._1 == best._1)): Unit
    }
    selected.zipWithIndex
      .map { case ((id, rel, _, mmr), i) => (i + 1, id, rel, mmr) }
      .toSeq
      .toDF("mmr_rank", "vec_id", "rel_score", "mmr_score")
      .orderBy(col("mmr_rank"))
  }

  /** DuckDB twin: same quantization CTEs, same candidate cut, and the
    * greedy recurrence unrolled as [[MmrK]] argmax steps — each one a
    * correlated max over the ≤(step−1) already-selected rows.
    */
  val mmrRerankSql: String = {
    // the max-sim term is a CROSS JOIN + GROUP BY, not a correlated
    // subquery: DuckDB lambdas cannot capture a column correlated in
    // from an outer query, but two join sides in direct scope work
    // (the knnIvf ranked CTE relies on the same)
    val steps = (2 to MmrK).map { t =>
      s"""s$t AS (
         |  SELECT $t AS rnk, vec_id, rel, q, mmr FROM (
         |    SELECT c.vec_id, c.rel, c.q,
         |      c.rel - max(CAST(list_sum(list_transform(range(1, 65),
         |          k -> c.q[k] * s.q[k])) AS BIGINT)) AS mmr
         |    FROM cand c CROSS JOIN sel${t - 1} s
         |    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |    GROUP BY c.vec_id, c.rel, c.q)
         |  ORDER BY mmr DESC, vec_id ASC LIMIT 1
         |), sel$t AS MATERIALIZED (
         |  SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH n AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * x))) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id,
       |    list_transform(emb, x ->
       |      CAST(round(CAST(CAST(x / nrm AS REAL) AS DOUBLE) * $IvfScale)
       |           AS BIGINT)) AS q
       |  FROM n
       |), q0 AS (SELECT q FROM qv WHERE vec_id = 0),
       |rel AS (
       |  SELECT v.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      k -> v.q[k] * q0.q[k])) AS BIGINT) AS rel,
       |    v.q
       |  FROM qv v, q0 WHERE v.vec_id <> 0
       |), cand AS MATERIALIZED (
       |  SELECT * FROM rel ORDER BY rel DESC, vec_id ASC LIMIT $MmrPool
       |), s1 AS (
       |  SELECT 1 AS rnk, vec_id, rel, q, rel AS mmr FROM cand
       |  ORDER BY rel DESC, vec_id ASC LIMIT 1
       |), sel1 AS MATERIALIZED (SELECT * FROM s1),
       |$steps
       |SELECT rnk AS mmr_rank, vec_id, rel AS rel_score, mmr AS mmr_score
       |FROM sel$MmrK ORDER BY rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  // Product quantization ANN (oracle-checked)
  // ---------------------------------------------------------------

  /** PQ geometry: [[Dim]]=64 lanes split into 8 subspaces of 8 lanes,
    * 4 centroids per subspace (a 16-bit code per vector), 2 Lloyd
    * steps per sub-codebook. Small constants keep the unrolled DuckDB
    * twin tractable; the shapes below are parameter-independent.
    */
  val PqM = 8
  val PqD = 8
  val PqK = 4
  val PqIters = 2

  /** Sub-centroid assignment for one 8-lane subvector: argmin of the
    * EXACT integer squared L2 distance over the 4 literal centroids,
    * centroid-id-ascending tie-break. Lanes are quantized unit-vector
    * integers (|x| ≤ 10000), so a lane diff² ≤ 4·10⁸ and the 8-lane sum
    * never leaves Long. Pure scan-side expression — like the IVF
    * [[cellRank]], assignment/encoding never shuffles.
    */
  private def pqCode(sq: Column, cents: Seq[(Int, Seq[Long])]): Column = {
    val entries = cents.map { case (cid, c) =>
      val dist = (0 until PqD).map { j =>
        val d = element_at(sq, j + 1) - lit(c(j))
        d * d
      }.reduce(_ + _)
      struct(dist.as("dist"), lit(cid).as("cid"))
    }
    element_at(array_sort(array(entries: _*)), 1).getField("cid")
  }

  /** The 8 sub-centroid codes of a quantized vector under codebook
    * `cb` — the one encoding rule of training and of every index.
    */
  private[graft] def pqCodes(q: Column, cb: Map[Int, Seq[(Int, Seq[Long])]]): Column =
    array((0 until PqM).map(m => pqCode(slice(q, m * PqD + 1, PqD), cb(m))): _*)

  /** Train the 8 sub-codebooks: deterministic init (per-subspace
    * floor-means of the label%4 groups), then [[PqIters]] fixed-point
    * Lloyd steps (exact integer distances, floor-mean updates, empty
    * clusters keep their previous centroid). Each round is ONE job: a
    * scan that encodes every vector and reduces the 8×4 cells through
    * [[cellMeans]]; the codebook collected driver-side is 8×4×8
    * longs — corpus-size-independent, the same distributed-k-means
    * shape as [[kmeansStep]].
    */
  private[graft] def trainPq(qv: DataFrame): Map[Int, Seq[(Int, Seq[Long])]] = {
    def round(cells: Column): Map[(Int, Int), Seq[Long]] =
      cellMeans(qv.select(cells.as("cells"), col("q"), lit(0.0).as("obj")))._1
    val init = round(array(Seq.fill(PqM)((col("label") % PqK).cast("int")): _*))
    var cb: Map[Int, Seq[(Int, Seq[Long])]] = (0 until PqM).map(m =>
      m -> (0 until PqK).map(g => g -> init((m, g)))).toMap
    (1 to PqIters).foreach { _ =>
      val upd = round(pqCodes(col("q"), cb))
      cb = cb.map { case (m, cents) =>
        m -> cents.map { case (g, old) =>
          g -> upd.getOrElse((m, g), old)
        }
      }
    }
    cb
  }

  /** PQ-ANN top-k via asymmetric distance computation (Jégou, Douze &
    * Schmid 2011, "Product quantization for nearest neighbor search",
    * IEEE TPAMI 33(1)): every corpus vector is compressed to 8
    * sub-centroid codes (16 bits); a query keeps its exact quantized
    * subvectors and scores a candidate as Σ_m dot(q_sub_m,
    * centroid[code_m]) — the ADC inner-product estimate. Everything is
    * exact integer arithmetic end to end (quantized lanes × integer
    * centroids), which is what lets the full train→encode→score
    * pipeline hash-match an unrolled DuckDB twin.
    *
    * Scale shape: THE memory-bandwidth technique for 100 TB embedding
    * stores — the scored corpus representation is 16 bits/vector
    * instead of 256 bytes (128× less scan traffic); encoding is
    * scan-side against the literal codebook (no shuffle), queries ride
    * a broadcast, and the only wide op is the per-query top-k window.
    * At real scale PQ composes with IVF ([[knnIvf]]): lists prune the
    * candidates, ADC scores the survivors.
    */
  def knnPq(spark: SparkSession, dir: String, k: Int = KnnTopK,
            nQueries: Int = KnnQueries): DataFrame = {
    // one quantization pass feeds training (3 aggregation rounds), the
    // encoding scan and the query lookup
    val qv = quantVectors(spark, dir).localCheckpoint()
    val cb = trainPq(qv)
    val codes = pqCodes(col("q"), cb)
    val corpus = qv.select(col("vec_id").as("neighbor_id"),
      codes.as("codes"))
    val queries = qv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val adc = (0 until PqM).map { m =>
      val cents = typedlit(cb(m).sortBy(_._1).map(_._2))
      vecDotLong(
        slice(col("qq"), m * PqD + 1, PqD),
        element_at(cents, element_at(col("codes"), m + 1) + 1))
    }.reduce(_ + _)
    // bounded-state per-query top-k (see knnBruteForce); the exact
    // BIGINT ADC rides the Double carrier losslessly (|adc| <=
    // Dim*IvfScale^2 = 6.4e9 << 2^53)
    val tk = graft.functions.Aggregators.topK(k)
    corpus.join(broadcast(queries),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", adc)
      .groupBy(col("query_id"))
      .agg(tk(col("adc").cast("double"), col("neighbor_id"), lit(0L)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        col("s.score").cast("long").as("adc"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** PQ training + encoding CTE block (assumes `qv` is already
    * defined): per-subspace label%4 floor-mean init, [[PqIters]]
    * unrolled Lloyd steps over exact integer squared distances, and
    * the final `codes` encoding under the trained `pc[[PqIters]]`
    * codebooks. Shared by [[knnPqSql]] and [[knnIvfPqSql]] so the two
    * gates pin the SAME training recurrence.
    */
  private def pqTrainCtes: String = {
    def assign(id: String, cPrev: String): String =
      s"""$id AS (
         |  SELECT vec_id, m, cid,
         |    row_number() OVER (PARTITION BY vec_id, m
         |                       ORDER BY dist ASC, cid ASC) AS rnk
         |  FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |      CAST(list_sum(list_transform(range(1, ${PqD + 1}),
         |        j -> (s.sq[j] - c.c[j]) * (s.sq[j] - c.c[j])))
         |        AS BIGINT) AS dist
         |    FROM sub s JOIN $cPrev c ON c.m = s.m)
         |)""".stripMargin
    def mean(id: String, assignId: String, cPrev: String): String =
      s"""$id AS (
         |  SELECT p.m, p.cid, COALESCE(u.c, p.c) AS c
         |  FROM $cPrev p LEFT JOIN (
         |    SELECT m, cid,
         |      list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT)
         |           ORDER BY j) AS c
         |    FROM (
         |      SELECT s.m, a.cid, l.j,
         |        CAST(sum(s.sq[l.j]) AS BIGINT) AS s, count(*) AS cnt
         |      FROM sub s
         |      JOIN (SELECT vec_id, m, cid FROM $assignId WHERE rnk = 1) a
         |        USING (vec_id, m)
         |      CROSS JOIN lanes8 l
         |      GROUP BY s.m, a.cid, l.j)
         |    GROUP BY m, cid) u ON u.m = p.m AND u.cid = p.cid
         |)""".stripMargin
    val steps = (1 to PqIters).map(i =>
      assign(s"pa$i", s"pc${i - 1}") + ",\n" +
        mean(s"pc$i", s"pa$i", s"pc${i - 1}")).mkString(",\n")
    s"""lanes8 AS (
       |  SELECT unnest(range(1, ${PqD + 1})) AS j
       |), sub AS MATERIALIZED (
       |  SELECT vec_id, label, m,
       |    list_transform(range(1, ${PqD + 1}),
       |      j -> q[m * $PqD + j]) AS sq
       |  FROM qv CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |), pc0 AS (
       |  SELECT m, cid,
       |    list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT)
       |         ORDER BY j) AS c
       |  FROM (
       |    SELECT m, label % $PqK AS cid, l.j,
       |      CAST(sum(sq[l.j]) AS BIGINT) AS s, count(*) AS cnt
       |    FROM sub CROSS JOIN lanes8 l
       |    GROUP BY m, label % $PqK, l.j)
       |  GROUP BY m, cid
       |),
       |$steps,
       |${assign("enc", s"pc$PqIters")},
       |codes AS (SELECT vec_id, m, cid FROM enc WHERE rnk = 1)""".stripMargin
  }

  /** The per-pair ADC estimate: Σ_m dot(query subvector, the centroid
    * of the neighbor's m-th code). Shared verbatim by both PQ oracles.
    */
  private def adcSumSql: String =
    s"""CAST(sum(list_sum(list_transform(range(1, ${PqD + 1}),
       |      j -> qr.q[cd.m * $PqD + j] * c.c[j]))) AS BIGINT)""".stripMargin

  /** DuckDB twin of the COMPLETE PQ pipeline: shared quantization CTEs,
    * the [[pqTrainCtes]] training/encoding recurrence, and the ADC
    * scoring of every corpus code against the 10 query vectors. Same
    * recipe as [[knnIvfSql]] — hash-checkable because every comparison
    * is exact-integer.
    */
  val knnPqSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * x))) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id, label,
       |    list_transform(emb, x ->
       |      CAST(round(CAST(CAST(x / nrm AS REAL) AS DOUBLE) * $IvfScale)
       |           AS BIGINT)) AS q
       |  FROM n
       |), $pqTrainCtes,
       |adc AS (
       |  SELECT qr.vec_id AS query_id, cd.vec_id AS neighbor_id,
       |    $adcSumSql AS adc
       |  FROM (SELECT vec_id, q FROM qv WHERE vec_id < $KnnQueries) qr
       |  CROSS JOIN codes cd
       |  JOIN pc$PqIters c ON c.m = cd.m AND c.cid = cd.cid
       |  WHERE cd.vec_id <> qr.vec_id
       |  GROUP BY qr.vec_id, cd.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, adc,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY adc DESC, neighbor_id ASC) AS rnk
       |  FROM adc
       |)
       |SELECT query_id, rnk, neighbor_id, adc
       |FROM ranked WHERE rnk <= $KnnTopK
       |ORDER BY query_id, rnk""".stripMargin

  /** IVF-PQ composed ANN — the FAISS IVFADC serving shape (Jégou et
    * al. 2011 §IV): the coarse IVF quantizer prunes the corpus to the
    * query's nprobe inverted lists, and the survivors are scored by PQ
    * ADC codes instead of exact dots — at 100 TB the scan reads
    * nprobe/nlist of the corpus AND only 16 bits per survivor, the
    * two multiplicative cost cuts that make billion-scale ANN serve.
    * Training (coarse codebook + sub-codebooks), encoding and probing
    * all reuse the IVF/PQ building blocks verbatim, so this query pins
    * their composition, not new machinery.
    */
  def knnIvfPq(spark: SparkSession, dir: String, k: Int = KnnTopK,
               nprobe: Int = IvfNprobe, nQueries: Int = KnnQueries): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val qv = quantVectors(spark, dir).localCheckpoint()
    val cb = trainPq(qv)
    val codes = pqCodes(col("q"), cb)
    val probeOrder = transform(
      cellRank(col("q"), cents), s => s.getField("cid"))
    // the index build: one materialization feeds lists AND probes
    val index = qv
      .withColumn("po", probeOrder)
      .select(col("vec_id"), col("q"),
        element_at(col("po"), 1).as("own_cid"),
        slice(col("po"), 1, nprobe).as("probe_cids"),
        codes.as("codes"))
      .localCheckpoint()
    val lists = index.select(col("vec_id").as("neighbor_id"),
      col("codes"), col("own_cid").as("centroid_id"))
    val probes = index.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        explode(col("probe_cids")).as("centroid_id"))
    val adc = (0 until PqM).map { m =>
      val subCents = typedlit(cb(m).sortBy(_._1).map(_._2))
      vecDotLong(
        slice(col("qq"), m * PqD + 1, PqD),
        element_at(subCents, element_at(col("codes"), m + 1) + 1))
    }.reduce(_ + _)
    // bounded-state per-query top-k over the probed lists only
    val tk = graft.functions.Aggregators.topK(k)
    probes.join(lists, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .groupBy(col("query_id"))
      .agg(tk(col("adc").cast("double"), col("neighbor_id"), lit(0L)).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("s.id").as("neighbor_id"),
        col("s.score").cast("long").as("adc"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB twin of the composition: the IVF [[kmeansProbeCte]] chain
    * (coarse training + per-vector cell ranking) spliced with the PQ
    * [[pqTrainCtes]] chain over the same `qv`, then ADC over only the
    * probed lists.
    */
  val knnIvfPqSql: String =
    s"""$kmeansProbeCte,
       |$pqTrainCtes,
       |lists AS (SELECT vec_id AS neighbor_id, cid FROM probe WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM probe
       |  WHERE rnk <= $IvfNprobe AND vec_id < $KnnQueries
       |), adc AS (
       |  SELECT p.query_id, l.neighbor_id,
       |    $adcSumSql AS adc
       |  FROM probes p
       |  JOIN lists l USING (cid)
       |  JOIN codes cd ON cd.vec_id = l.neighbor_id
       |  JOIN pc$PqIters c ON c.m = cd.m AND c.cid = cd.cid
       |  JOIN qv qr ON qr.vec_id = p.query_id
       |  WHERE l.neighbor_id <> p.query_id
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT query_id, neighbor_id, adc,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY adc DESC, neighbor_id ASC) AS rnk
       |  FROM adc
       |)
       |SELECT query_id, rnk, neighbor_id, adc
       |FROM ranked WHERE rnk <= $KnnTopK
       |ORDER BY query_id, rnk""".stripMargin

  /** IVF index balance audit — the operational health check every
    * inverted-file deployment needs BEFORE queries hit it: probe cost
    * is proportional to the probed lists' sizes, so a skewed codebook
    * (one cell holding half the corpus) silently turns nprobe/nlist
    * pruning into a near-full scan. Per cell: size, corpus share
    * (ppm), how many distinct labels land there, and majority-label
    * purity (ppm) — the same trained codebook as [[knnIvf]] (driver
    * literal, scan-side argmax assignment, ONE aggregation over
    * (cell, label); every division is positive-operand integer DIV).
    */
  def ivfBalance(spark: SparkSession, dir: String): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    val per = vectors(spark, dir)
      .withColumn("q", quantExpr(col("embedding"), col("nrm")))
      .withColumn("cid",
        element_at(transform(cellRank(col("q"), cents),
          s => s.getField("cid")), 1))
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("c"))
    val tot = per.agg(sum(col("c")).as("n"))
    per.groupBy(col("cid"))
      .agg(sum(col("c")).as("size"), max(col("c")).as("maxc"),
        count(lit(1)).as("n_labels"))
      .crossJoin(broadcast(tot))
      .select(col("cid"), col("size"),
        expr("(1000000 * size) DIV n").as("share_ppm"),
        col("n_labels"),
        expr("(1000000 * maxc) DIV size").as("purity_ppm"))
      .orderBy(col("cid"))
  }

  val ivfBalanceSql: String =
    s"""$kmeansProbeCte,
       |cells AS (
       |  SELECT p.vec_id, p.cid, q.label
       |  FROM probe p JOIN qv q USING (vec_id)
       |  WHERE p.rnk = 1
       |), per AS (
       |  SELECT cid, label, count(*) AS c FROM cells GROUP BY 1, 2
       |), cell AS (
       |  SELECT cid, CAST(sum(c) AS BIGINT) AS size,
       |    CAST(max(c) AS BIGINT) AS maxc, count(*) AS n_labels
       |  FROM per GROUP BY cid
       |), tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n FROM per
       |)
       |SELECT cid, size, (1000000 * size) // n AS share_ppm,
       |  n_labels, (1000000 * maxc) // size AS purity_ppm
       |FROM cell CROSS JOIN tot
       |ORDER BY cid""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_ivf_balance" -> Query(ivfBalance, ivfBalanceSql),
    "q_knn_pq" -> Query(knnPq(_, _), knnPqSql),
    "q_knn_ivfpq" -> Query(knnIvfPq(_, _), knnIvfPqSql),
    "q_mmr_rerank" -> Query(mmrRerank, mmrRerankSql),
    "q_hybrid_rrf" -> Query(hybridRrf, hybridRrfSql),
    "q_label_separation" -> Query(labelSeparation, labelSeparationSql),
    "q_random_projection" -> Query(randomProjection, randomProjectionSql),
    "q_knn_bruteforce" -> Query(knnBruteForce(_, _), knnBruteForceSql),
    "q_hard_negatives" -> Query(hardNegatives(_, _), hardNegativesSql),
    "q_hard_negatives_ivf" -> Query(hardNegativesIvf, hardNegativesIvfSql),
    "q_embed_near_dup" -> Query(embedNearDup(_, _), embedNearDupSql),
    "q_label_centroids" -> Query(labelCentroids, labelCentroidsSql),
    "q_knn_lsh" -> Query(knnLsh(_, _), knnLshSql),
    "q_knn_ivf" -> Query(knnIvf(_, _), knnIvfSql),
    "q_ann_recall" -> Query(annRecall(_, _), annRecallSql),
    "q_sq8_knn" -> Query(sq8Knn(_, _), sq8KnnSql),
    "q_sq8_recall" -> Query(sq8Recall, sq8RecallSql),
    "q_sq8_distortion" -> Query(sq8Distortion, sq8DistortionSql),
    "q_ndcg_eval" -> Query(ndcgEval(_, _), ndcgEvalSql),
    "q_rbo_eval" -> Query(rboEval(_, _), rboEvalSql),
    "q_semantic_dedup" -> Query(semanticDedup(_, _), semanticDedupSql),
    "q_incr_semantic" -> Query(incrSemanticDedup(_, _), incrSemanticDedupSql),
    "q_embed_quantize" -> Query(quantizeInt8, quantizeInt8Sql),
    "q_matryoshka_eval" -> Query(matryoshkaEval, matryoshkaEvalSql),
    "q_mutual_knn" -> Query(mutualKnn, mutualKnnSql),
    "q_hubness_audit" -> Query(hubnessAudit, hubnessAuditSql),
    "q_mutual_knn_clusters" -> Query(mutualKnnClusters, mutualKnnClustersSql)
  )
}
