package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ingest.Sources
import graft.{Query, QueryModule}

/** Sequence-assembly operators for LLM training-data preparation
  * (SURVEY.md §2.8 extension surface): packing documents into
  * fixed-size context windows, temperature-scaled source mixing, and
  * sliding-window chunking for embedding/RAG pipelines. All three are
  * pure integer/one-sqrt arithmetic so their DuckDB oracles hash-match
  * exactly (same discipline as the fixed-point PageRank/EMA/IVF
  * family).
  */
object Packing extends QueryModule {

  /** Context-window size (tokens) for sequence packing. */
  val PackWindow = 512L

  /** Hard cap on windows per language stream / chunks per document —
    * PART OF THE OPERATOR CONTRACT, not a tuning knob: the DuckDB
    * twins expand windows/chunks from a constant series (DuckDB v1.0
    * has no lateral generate_series over a column), so past these
    * bounds the oracle would silently truncate. The Spark side
    * therefore FAILS LOUD at the same bound (raise_error with the
    * offending stream/doc) instead of diverging. sf0.1 uses < 2% of
    * either cap; a deployment that legitimately needs more raises
    * both constants together.
    */
  val MaxPackWindows = 16384L
  val MaxChunksPerDoc = 4096L

  /** Chunk size / stride (tokens) for sliding-window chunking. */
  val ChunkSize = 64L
  val ChunkStride = 48L

  /** Token budget used for the expected-epochs column of the mixture
    * weights (a typical "how many epochs of each source does one
    * training run consume" planning number).
    */
  val MixTokenBudget = 1000000L

  private def toks(c: org.apache.spark.sql.Column) = size(split(c, " "))

  /** Shard count for the 2-phase packing prefix sum — parallelism per
    * language stream. Output is shard-count-invariant (see seqPack),
    * so this IS a tuning knob, unlike the oracle-bound caps above.
    */
  val PackShards = 32L

  /** Concat-and-chunk sequence packing (the GPT-style packing used to
    * build fixed-length training sequences): documents concatenate in
    * a deterministic order (doc_id) into one token stream PER
    * LANGUAGE, and the stream is cut every [[PackWindow]] tokens.
    * Emitted per (lang, window): how many documents contribute, how
    * many of them are continuation fragments (started in an earlier
    * window), the window's token fill and fill fraction — the
    * fragmentation/efficiency report a packing job is run for.
    *
    * Scale: the running offset is a 2-PHASE SHARDED prefix sum — the
    * standard distributed scan, so no single language's stream ever
    * serializes through one task:
    *
    *  1. each document lands in shard `doc_id DIV R` where
    *     `R = max(doc_id) DIV PackShards + 1` — MONOTONE in doc_id, so
    *     shards are contiguous doc_id ranges and concatenation order
    *     is untouched; local prefix sums run per (lang, shard) —
    *     languages × [[PackShards]] parallel window tasks;
    *  2. per-(lang, shard) token totals (a tiny languages×shards
    *     frame) get their own prefix sum over shards and broadcast
    *     back; global offset = shard offset + local prefix.
    *
    * The result is provably identical to the single-window form —
    * same s for every document — which is why the unchanged DuckDB
    * oracle (a plain per-language window) stays the done-gate. The
    * window fan-out per document is ceil(n/W) — proportional to its
    * token count, never to corpus size.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val base = Sources.documents(spark, dir)
      .select(col("doc_id"), col("lang"), toks(col("text")).cast("long").as("n_tok"))
    // shard width from one scalar agg, kept in-plan via broadcast
    // cross join (1 row) — no driver collect, corpus-size independent
    val width = base.agg(
      expr(s"max(doc_id) DIV $PackShards + 1").as("shard_w"))
    val sharded = base.crossJoin(broadcast(width))
      .withColumn("shard", expr("doc_id DIV shard_w"))
    val local = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = sharded
      .withColumn("local_s", coalesce(sum(col("n_tok")).over(local), lit(0L)))
    // phase 2: shard totals — languages × PackShards rows, so the
    // un-sharded prefix window over THIS frame is trivially cheap
    val offW = Window.partitionBy(col("lang")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_tok")).as("shard_tok"))
      .withColumn("shard_off", coalesce(sum(col("shard_tok")).over(offW), lit(0L)))
      .select(col("lang").as("o_lang"), col("shard").as("o_shard"),
        col("shard_off"))
    // null-safe on lang: a NULL language is its own stream, exactly as
    // the window partitioning treated it (equi-join would drop it)
    val d = withLocal.join(broadcast(offsets),
        col("lang") <=> col("o_lang") && col("shard") === col("o_shard"))
      .withColumn("s", col("local_s") + col("shard_off"))
    val W = PackWindow
    d.withColumn("window_id",
        explode(when(expr(s"(s + n_tok - 1) DIV $W") < MaxPackWindows,
          sequence(expr(s"s DIV $W"), expr(s"(s + n_tok - 1) DIV $W")))
          .otherwise(raise_error(concat(
            lit(s"seqPack: stream for lang "),
            coalesce(col("lang"), lit("NULL")),
            lit(s" exceeds MaxPackWindows=$MaxPackWindows windows of $W" +
              " tokens — raise the cap (and the oracle series) together"))))))
      .withColumn("win_tokens",
        least(col("s") + col("n_tok"), (col("window_id") + 1) * W) -
          greatest(col("s"), col("window_id") * W))
      .groupBy(col("lang"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("s") < col("window_id") * W, 1L).otherwise(0L))
          .as("n_frag"),
        sum(col("win_tokens")).as("n_tokens"))
      .withColumn("fill_frac", round(col("n_tokens") / lit(W.toDouble), 6))
      .orderBy(col("lang"), col("window_id"))
  }

  val seqPackSql: String = {
    val W = PackWindow
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), off AS (
      |  SELECT doc_id, lang, n_tok,
      |    COALESCE(CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS s
      |  FROM d
      |), win AS (
      |  SELECT lang, doc_id, n_tok, s, ws.w AS window_id,
      |    least(s + n_tok, (ws.w + 1) * $W) - greatest(s, ws.w * $W)
      |      AS win_tokens
      |  FROM off JOIN (SELECT unnest(range(0, $MaxPackWindows)) AS w) ws
      |    ON ws.w BETWEEN s // $W AND (s + n_tok - 1) // $W
      |)
      |SELECT lang, window_id, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN s < window_id * $W THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_frag,
      |  CAST(sum(win_tokens) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(win_tokens) AS BIGINT) / ${W.toDouble}, 6) AS fill_frac
      |FROM win
      |GROUP BY lang, window_id
      |ORDER BY lang, window_id""".stripMargin
  }

  /** Temperature-scaled source mixing weights (the "alpha sampling" of
    * multilingual/multi-source LLM training, α = 1/2): each source's
    * sampling weight ∝ sqrt(its token count), which up-weights small
    * sources relative to proportional sampling. α = 1/2 exactly
    * BECAUSE sqrt is a single correctly-rounded IEEE op on every
    * engine — pow(x, 0.3) is libm-dependent and would break the hash
    * gate. The normalizer is a PREFIX sum in source order (both
    * engines fold left-to-right over the ordered 20-row frame), so
    * the double is bit-identical. expected_epochs = how many passes
    * over the source one [[MixTokenBudget]]-token run makes at that
    * weight — the oversampling report a mixture is planned with.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Sources.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(toks(col("text")).cast("long")).as("n_tokens"))
      .withColumn("w_raw", sqrt(col("n_tokens")))
    val prefix = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    bySource
      .withColumn("cum", sum(col("w_raw")).over(prefix))
      .withColumn("total", max(col("cum")).over(all))
      .withColumn("weight", round(col("w_raw") / col("total"), 6))
      .withColumn("expected_epochs",
        round(col("weight") * MixTokenBudget / col("n_tokens"), 4))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("expected_epochs"))
      .orderBy(col("source"))
  }

  val mixWeightsSql: String =
    s"""WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY source
      |), c AS (
      |  SELECT source, n_docs, n_tokens, sqrt(n_tokens) AS w_raw,
      |    sum(sqrt(n_tokens)) OVER (ORDER BY source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM s
      |), t AS (
      |  SELECT *, max(cum) OVER () AS total FROM c
      |)
      |SELECT source, n_docs, n_tokens,
      |  round(w_raw / total, 6) AS weight,
      |  round(round(w_raw / total, 6) * $MixTokenBudget / n_tokens, 4)
      |    AS expected_epochs
      |FROM t
      |ORDER BY source""".stripMargin

  /** Sliding-window chunking with overlap (embedding/RAG prep): each
    * document yields chunks of [[ChunkSize]] tokens starting every
    * [[ChunkStride]] tokens (overlap = size − stride), the last chunk
    * truncated at the document end; a document shorter than one chunk
    * yields exactly one. Emitted per (doc, chunk): token start and
    * length — the table an embedding job maps over. Pure scan-side
    * explode: fan-out is ceil-proportional to each doc's token count,
    * no shuffle until the presentation sort.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val (c, s) = (ChunkSize, ChunkStride)
    Sources.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).cast("long").as("n_tok"))
      .withColumn("n_chunks",
        when(col("n_tok") <= c, lit(1L))
          .otherwise(lit(1L) + expr(s"(n_tok - $c + $s - 1) DIV $s")))
      .withColumn("chunk_id", explode(
        when(col("n_chunks") <= MaxChunksPerDoc,
          sequence(lit(0L), col("n_chunks") - 1))
          .otherwise(raise_error(concat(
            lit("docChunks: doc "),
            coalesce(col("doc_id").cast("string"), lit("NULL")),
            lit(s" exceeds MaxChunksPerDoc=$MaxChunksPerDoc — raise the" +
              " cap (and the oracle series) together"))))))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * s).as("start_tok"),
        (least(col("n_tok"), col("chunk_id") * s + c) - col("chunk_id") * s)
          .as("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val docChunksSql: String = {
    val (c, s) = (ChunkSize, ChunkStride)
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), n AS (
      |  SELECT doc_id, n_tok,
      |    CASE WHEN n_tok <= $c THEN 1
      |         ELSE 1 + (n_tok - $c + $s - 1) // $s END AS n_chunks
      |  FROM d
      |)
      |SELECT doc_id, cs.c AS chunk_id,
      |  cs.c * $s AS start_tok,
      |  least(n_tok, cs.c * $s + $c) - cs.c * $s AS n_chunk_tokens
      |FROM n JOIN (SELECT unnest(range(0, $MaxChunksPerDoc)) AS c) cs
      |  ON cs.c < n_chunks
      |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Temperatures for [[mixTemperatureCurve]], in quarters (4 = 1.0
    * proportional, 1 = 0.25 near-uniform). Quarter powers are exactly
    * computable as sqrt compositions — x^(1/2) = sqrt(x), x^(1/4) =
    * sqrt(sqrt(x)), x^(3/4) = sqrt(x)·sqrt(sqrt(x)) — each a fixed
    * sequence of CORRECTLY-ROUNDED IEEE ops, so both engines produce
    * the identical double. A general pow(x, τ) has no such guarantee
    * (libm vs JVM pow differ in ulps), which is why the sweep is
    * pinned to quarter temperatures.
    */
  val MixTaus: Seq[Int] = Seq(4, 3, 2, 1)

  /** The temperature-sampling sweep (the α-curve of multilingual LLM
    * data mixing — Conneau & Lample's p_i^α renormalization): source
    * sampling weights at each quarter temperature, plus the top
    * source's share per temperature — the flattening curve a lab
    * inspects before fixing α. τ = 2 (α = 1/2) reproduces
    * [[mixWeights]]'s sqrt weighting exactly.
    *
    * Scale shape: one corpus aggregation to |sources| rows; the sweep
    * is a 4-row cross join and windows over the bounded
    * sources×temperatures frame.
    */
  def mixTemperatureCurve(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Sources.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(toks(col("text")).cast("long")).as("n_tokens"))
    val taus = spark.range(MixTaus.length)
      .select(element_at(typedlit(MixTaus), col("id").cast("int") + 1)
        .as("tau_q"))
    val x = col("n_tokens").cast("double")
    val wRaw = when(col("tau_q") === 4, x)
      .when(col("tau_q") === 3, sqrt(x) * sqrt(sqrt(x)))
      .when(col("tau_q") === 2, sqrt(x))
      .otherwise(sqrt(sqrt(x)))
    val byTau = Window.partitionBy(col("tau_q"))
    bySource.crossJoin(broadcast(taus))
      .withColumn("w_raw", wRaw)
      .withColumn("weight", round(col("w_raw") / sum(col("w_raw")).over(byTau), 6))
      .withColumn("max_weight",
        round(max(col("w_raw")).over(byTau) / sum(col("w_raw")).over(byTau), 6))
      .select(col("tau_q"), col("source"), col("n_tokens"),
        col("weight"), col("max_weight"))
      .orderBy(col("tau_q"), col("source"))
  }

  /** DuckDB twin: the same sqrt compositions, windowed per τ. */
  val mixTemperatureCurveSql: String =
    s"""WITH s AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), sweep AS (
      |  SELECT t.tau_q, s.source, s.n_tokens,
      |    CASE t.tau_q
      |      WHEN 4 THEN CAST(s.n_tokens AS DOUBLE)
      |      WHEN 3 THEN sqrt(CAST(s.n_tokens AS DOUBLE))
      |                  * sqrt(sqrt(CAST(s.n_tokens AS DOUBLE)))
      |      WHEN 2 THEN sqrt(CAST(s.n_tokens AS DOUBLE))
      |      ELSE sqrt(sqrt(CAST(s.n_tokens AS DOUBLE)))
      |    END AS w_raw
      |  FROM s CROSS JOIN (SELECT unnest([${MixTaus.mkString(", ")}]) AS tau_q) t
      |)
      |SELECT tau_q, source, n_tokens,
      |  round(w_raw / sum(w_raw) OVER (PARTITION BY tau_q), 6) AS weight,
      |  round(max(w_raw) OVER (PARTITION BY tau_q)
      |        / sum(w_raw) OVER (PARTITION BY tau_q), 6) AS max_weight
      |FROM sweep
      |ORDER BY tau_q, source""".stripMargin

  /** Source-concentration audit — the diversity number next to the
    * dataset card: the Gini coefficient of token mass across sources
    * (0 = perfectly even, →1 = one source dominates) plus the top
    * source's share. Exact integer form over rank-ordered source
    * totals: gini = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with sources
    * sorted ascending (ties by name), emitted in micros via one
    * positive-operand DIV. The rank window runs over the
    * |sources|-row aggregate — bounded domain, like every audit here.
    */
  def sourceGini(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Sources.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("toks"))
    val w = Window.orderBy(col("toks").asc, col("source").asc)
    bySource
      .withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("toks")).as("total_tokens"),
        // decimal carriers (round 11): rank-weighted token sums and
        // the ×10⁶ Gini numerator leave i64 once the corpus holds
        // ~10¹² tokens across ~10⁴ sources; outputs stay small BIGINTs
        sum(col("i").cast("decimal(20,0)") * col("toks")).as("s"),
        max(col("toks")).as("max_toks"))
      .select(col("n_sources"), col("total_tokens"),
        expr("(1000000 * (2 * s - CAST(n_sources + 1 AS DECIMAL(20,0))" +
          " * total_tokens))" +
          " DIV (CAST(n_sources AS DECIMAL(20,0)) * total_tokens)")
          .as("gini_micro"),
        expr("(1000000 * CAST(max_toks AS DECIMAL(20,0)))" +
          " DIV total_tokens").as("top_share_ppm"))
  }

  /** DuckDB twin: same rank order, same exact rational. */
  val sourceGiniSql: String =
    """WITH s AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
      |  FROM documents GROUP BY source
      |), ranked AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY toks ASC, source ASC)
      |                 AS BIGINT) AS i
      |  FROM s
      |)
      |SELECT count(*) AS n_sources,
      |  CAST(sum(toks) AS BIGINT) AS total_tokens,
      |  CAST((1000000 * (2 * sum(CAST(i AS HUGEINT) * toks)
      |              - (count(*) + 1) * CAST(sum(toks) AS HUGEINT)))
      |    // (count(*) * CAST(sum(toks) AS HUGEINT)) AS BIGINT)
      |    AS gini_micro,
      |  CAST((1000000 * CAST(max(toks) AS HUGEINT))
      |    // sum(toks) AS BIGINT) AS top_share_ppm
      |FROM ranked""".stripMargin

  /** Dataset-card summary — the one-row corpus statement a dataset
    * release ships with: sizes, coverage, exact-duplicate rate and
    * batch share, every number an exact integer or a deterministic
    * ratio of exact integers (rounded once), so the card is
    * reproducible bit-for-bit on any engine. One scan + one exact
    * distinct-count; at 100 TB the distinct goes through the same
    * partial-aggregated md5 path as the exact-dedup operator.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    Sources.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        md5(col("text")).as("th"),
        graft.operators.Scale.isBatch(col("doc_id")).cast("long")
          .as("is_batch"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("th")).as("n_unique_texts"),
        sum(col("is_batch")).as("n_batch"))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_sources"), col("n_unique_texts"),
        round(col("n_tokens") / col("n_docs"), 2).as("mean_doc_tokens"),
        round(col("n_unique_texts") / col("n_docs"), 6).as("unique_rate"),
        round(col("n_batch") / col("n_docs"), 6).as("batch_share"))

  val datasetCardSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    md5(text) AS th,
      |    CASE WHEN ${graft.operators.Scale.isBatchSql("doc_id")}
      |         THEN 1 ELSE 0 END AS is_batch
      |  FROM documents
      |)
      |SELECT count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  count(DISTINCT lang) AS n_langs,
      |  count(DISTINCT source) AS n_sources,
      |  count(DISTINCT th) AS n_unique_texts,
      |  round(CAST(sum(n_tok) AS BIGINT) / count(*), 2) AS mean_doc_tokens,
      |  round(count(DISTINCT th) / count(*), 6) AS unique_rate,
      |  round(CAST(sum(is_batch) AS BIGINT) / count(*), 6) AS batch_share
      |FROM d""".stripMargin

  /** Output shard count for the global shuffle. */
  val ShuffleShards = 8

  /** Deterministic global shuffle + sharding — the WRITE step every
    * training pipeline ends with: the corpus in a seeded pseudorandom
    * order, split into a fixed number of output shards. Both
    * decisions are pure functions of the row key (no RNG): shard =
    * md5 bucket of "shard:"+doc_id, within-shard position = rank of
    * md5("shuf:"+doc_id) — so the permutation is reproducible across
    * runs, engines, cluster sizes and repartitionings, and a resumed
    * job rewrites byte-identical shards.
    *
    * Scale shape: ONE shuffle (the per-shard window). Shards are
    * hash-uniform, each ≈ corpus/[[ShuffleShards]]; a deployment
    * raises the shard count with the corpus (shards ARE the
    * parallelism unit downstream), so no single ordering task
    * serializes the way a global orderBy would.
    */
  def globalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val shard = graft.operators.Scale.hashBucket(
      concat(lit("shard:"), col("doc_id").cast("string")), ShuffleShards)
    val ord = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    Sources.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        shard.as("shard"), ord.as("ord"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("ord"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val globalShuffleSql: String = {
    val shardSql = graft.operators.Scale.hashBucketSql(
      "'shard:' || CAST(doc_id AS VARCHAR)", ShuffleShards)
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    $shardSql AS shard,
      |    md5('shuf:' || CAST(doc_id AS VARCHAR)) AS ord
      |  FROM documents
      |)
      |SELECT doc_id, lang, n_tok, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
      |    AS BIGINT) AS pos
      |FROM d
      |ORDER BY shard, pos""".stripMargin
  }

  val registry: Map[String, Query] = Map(
    "q_dataset_card" -> Query(datasetCard, datasetCardSql),
    "q_source_gini" -> Query(sourceGini, sourceGiniSql),
    "q_mix_temperature_curve" -> Query(mixTemperatureCurve, mixTemperatureCurveSql),
    "q_seq_pack" -> Query(seqPack, seqPackSql),
    "q_mix_weights" -> Query(mixWeights, mixWeightsSql),
    "q_doc_chunks" -> Query(docChunks, docChunksSql),
    "q_global_shuffle" -> Query(globalShuffle, globalShuffleSql)
  )
}
