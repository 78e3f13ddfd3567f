package graft.analytics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Sources
import graft.{Query, QueryModule}

/** Multimodal column plumbing (builder mandate: image/audio/video as
  * opaque binary columns with typed metadata).
  *
  * IMAGE, AUDIO and VIDEO decode are REAL: [[decodeImage]] runs the
  * JDK's own image codecs (javax.imageio — PNG/JPEG/GIF/BMP, no
  * external jars) and extracts a grid-pooled luminance feature vector
  * from the actual pixels; [[decodeAudio]] parses PCM audio
  * (javax.sound — WAV/AIFF/AU) and extracts the segmented RMS energy
  * envelope from the actual samples; [[decodeVideo]] parses Y4M
  * (YUV4MPEG2 — text header + raw planar frames, so no codec jars
  * needed) and pools each frame's luminance plane over the same grid.
  * [[decodeStub]] remains only as the deterministic fallback for
  * payloads none of the parsers accept (e.g. compressed video);
  * [[decode]] routes by kind and degrades to it instead of failing.
  * Everything around the decoders is real and tested: the schema, the
  * binaryFile source, the mapPartitions batch shape (one iterator per
  * partition — where codec/model setup amortizes), the partitioning
  * strategy, and the downstream aggregation plan.
  *
  * Scale notes (100 TB of media): records carry bytes, so the governing
  * knob is bytes-per-partition, not rows — repartitionForDecode targets
  * a byte budget; feature extraction is narrow (no shuffle); only the
  * small (media_id, features) projection ever shuffles.
  */
object Multimodal extends QueryModule {

  /** Opaque media payload + typed metadata (binary column contract). */
  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      content: Array[Byte],
      width: Int,          // image/video
      height: Int,         // image/video
      sample_rate: Int,    // audio
      duration_ms: Int)    // audio/video

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      features: Array[Float])

  val FeatureDim = 16

  /** Modulus / seed / multiplier of the stub's rolling hash. The rule
    * is ENGINE-PORTABLE on purpose (the same discipline as the
    * md5-word LSH family): h_i = (31·h_{i−1} + byte_i) mod P from
    * h_0 = [[StubSeed]], lane l = (Σ h_i over i ≡ l mod dim) mod P —
    * every step stays far inside exact BIGINT range, and the closed
    * form h_i = 31^i·(seed + Σ byte_j·31^(−j)) mod P lets a SQL twin
    * rebuild the identical features with a powers table + one modular
    * prefix sum (no per-byte recursion), which is what upgrades
    * q_media_features from rows-only to a full hash gate.
    */
  val StubPrime = 1000000007L
  val StubSeed = 17L

  /** Oracle payload-length cap: the SQL twin expands bytes from a
    * recursive powers table of this depth (DuckDB v1.0 has no lateral
    * series over a column). Part of the ORACLE contract — the spec
    * asserts the fixture stays under it so growth fails loudly there,
    * not as an inscrutable driver hash mismatch.
    */
  val StubOracleMaxLen = 700L

  /** Deterministic stand-in for decode + feature extraction: a modular
    * rolling polynomial hash of the payload bytes folded into
    * [[FeatureDim]] float lanes in [0, 1). A real deployment swaps
    * ONLY this function for a codec + model call; the signature
    * (bytes in, fixed-width float vector out) is the real contract.
    */
  def decodeStub(content: Array[Byte], dim: Int = FeatureDim): Array[Float] = {
    val acc = new Array[Long](dim)
    var h = StubSeed
    var i = 0
    while (i < content.length) {
      h = (h * 31 + (content(i) & 0xff)) % StubPrime
      acc(i % dim) = (acc(i % dim) + h) % StubPrime
      i += 1
    }
    acc.map(a => (a.toDouble / StubPrime).toFloat)
  }

  /** REAL image decode + feature extraction via the JDK's bundled
    * codecs: parse the payload with javax.imageio, then average-pool
    * the luminance channel (Rec. 601 weights) over a √dim × √dim
    * grid — a deterministic, resolution-independent pixel signature
    * in [0, 1] per lane. Returns None when the bytes are not a
    * decodable image (caller falls back to the stub), so a corrupt
    * payload degrades instead of failing the partition.
    */
  def decodeImage(content: Array[Byte],
                  dim: Int = FeatureDim): Option[Array[Float]] = {
    val grid = math.sqrt(dim).toInt
    require(grid * grid == dim, s"decodeImage needs a square dim, got $dim")
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case _: Exception => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val acc = new Array[Double](dim)
      val cnt = new Array[Long](dim)
      var y = 0
      while (y < h) {
        val gy = y * grid / h
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
          val b = gy * grid + x * grid / w
          acc(b) += lum
          cnt(b) += 1
          x += 1
        }
        y += 1
      }
      Some(Array.tabulate(dim)(i =>
        if (cnt(i) == 0) 0.0f else (acc(i) / cnt(i)).toFloat))
    }
  }

  /** REAL audio decode via the JDK's bundled codecs
    * (javax.sound.sampled — WAV/AIFF/AU PCM, no external jars):
    * parse the payload, fold channels, and compute the RMS level of
    * `dim` equal time segments, normalized to [0, 1] — the classic
    * audio energy envelope. The per-segment sum of squares is exact
    * integer arithmetic over the 16-bit samples (one sqrt + divide at
    * the end), so the features are deterministic bit-for-bit. Returns
    * None for payloads the JDK cannot parse or non-16-bit encodings
    * (caller falls back to the stub).
    */
  def decodeAudio(content: Array[Byte],
                  dim: Int = FeatureDim): Option[Array[Float]] = {
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case _: Exception => null }
    if (in == null) None
    else try {
      val fmt = in.getFormat
      val pcm = fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      if (!pcm || fmt.getSampleSizeInBits != 16) None
      else {
        val bytes = in.readAllBytes()
        val ch = fmt.getChannels
        val big = fmt.isBigEndian
        val nFrames = bytes.length / (2 * ch)
        if (nFrames == 0) None
        else {
          val sq = new Array[Long](dim)
          val cnt = new Array[Long](dim)
          var f = 0
          while (f < nFrames) {
            // fold channels by summing (mono downmix up to a constant)
            var acc = 0L
            var c = 0
            while (c < ch) {
              val o = (f * ch + c) * 2
              val s =
                if (big) ((bytes(o) << 8) | (bytes(o + 1) & 0xff)).toShort
                else ((bytes(o + 1) << 8) | (bytes(o) & 0xff)).toShort
              acc += s
              c += 1
            }
            val x = acc / ch
            // long math: f * dim overflows Int past ~134M frames
            // (≈50 min of stereo 44.1 kHz) and would silently divert
            // a decodable file to the stub via the catch-all
            val b = (f.toLong * dim / nFrames).toInt
            sq(b) += x * x
            cnt(b) += 1
            f += 1
          }
          Some(Array.tabulate(dim)(i =>
            if (cnt(i) == 0) 0.0f
            else (math.sqrt(sq(i).toDouble / cnt(i)) / 32768.0).toFloat))
        }
      }
    } catch { case _: Exception => None }
    finally in.close()
  }

  /** REAL video decode via a pure-JVM Y4M (YUV4MPEG2) parser — Y4M is
    * a plain-text header (`YUV4MPEG2 W.. H.. F.. [C..]`) followed by
    * `FRAME\n`-delimited raw planar YUV frames, so it needs NO codec
    * jars: exactly the uncompressed interchange format ffmpeg/x264
    * pipelines move frames through. Supported chroma layouts: C420
    * (+jpeg/mpeg2/paldv tags, the default), C422, C444, Cmono; the
    * luminance plane is what we feature anyway, so chroma is only
    * skipped by its exact plane size.
    *
    * Features reuse [[decodeImage]]'s grid pooling, extended in time:
    * each frame's Y plane average-pools over a √dim × √dim grid and
    * the grid accumulates across frames (exact integer sums of the
    * 8-bit samples, one divide per lane at the end) — the mean
    * luminance signature of the whole clip in [0, 1] per lane.
    *
    * A payload truncated mid-frame decodes its complete frames (a
    * partially-fetched clip still features); no complete frame, a bad
    * header, or an unsupported layout returns None (caller falls back
    * to the stub), so corrupt payloads degrade instead of failing the
    * partition.
    */
  def decodeVideo(content: Array[Byte],
                  dim: Int = FeatureDim): Option[Array[Float]] = {
    val grid = math.sqrt(dim).toInt
    require(grid * grid == dim, s"decodeVideo needs a square dim, got $dim")
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < content.length && content(i) != '\n') i += 1
      i // == length when unterminated
    }
    val hEnd = lineEnd(0)
    if (hEnd >= content.length) return None
    val header = new String(content, 0, hEnd, "US-ASCII")
    val parts = header.split(" ")
    if (parts.isEmpty || parts(0) != "YUV4MPEG2") return None
    var w = -1
    var h = -1
    var cs = "420" // Y4M default colorspace when no C tag is present
    parts.iterator.drop(1).foreach { p =>
      if (p.nonEmpty) p.charAt(0) match {
        case 'W' => w = p.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = p.drop(1).toIntOption.getOrElse(-1)
        case 'C' => cs = p.drop(1)
        case _ => // F (rate), I (interlace), A (aspect), X (comment)
      }
    }
    if (w <= 0 || h <= 0) return None
    val half = ((w + 1) / 2).toLong * ((h + 1) / 2)
    val chromaBytes: Long = cs match {
      case "420" | "420jpeg" | "420mpeg2" | "420paldv" => 2L * half
      case "422" => 2L * ((w + 1) / 2).toLong * h
      case "444" => 2L * w.toLong * h
      case "mono" => 0L
      case _ => return None
    }
    val ySize = w.toLong * h
    val frameBytes = ySize + chromaBytes
    val acc = new Array[Long](dim)
    val cnt = new Array[Long](dim)
    var frames = 0
    var pos = hEnd + 1
    var truncated = false
    while (!truncated && pos < content.length) {
      // each frame: "FRAME[ params]\n" then the raw planes
      val fEnd = lineEnd(pos)
      val marker = new String(content, pos,
        math.min(5, content.length - pos), "US-ASCII")
      // a real Y4M frame header is "FRAME" followed by '\n' or by a
      // space-led parameter list — "FRAMEX..." is malformed, and must
      // take the degrade-to-stub path, not decode as a frame
      if (marker != "FRAME" || pos + 5 >= content.length ||
          (content(pos + 5) != '\n' && content(pos + 5) != ' ') ||
          fEnd >= content.length ||
          content.length - (fEnd + 1) < frameBytes) truncated = true
      else {
        val base = fEnd + 1
        var y = 0
        while (y < h) {
          val gy = y * grid / h
          var x = 0
          while (x < w) {
            val b = gy * grid + x * grid / w
            acc(b) += (content(base + y * w + x) & 0xff)
            cnt(b) += 1
            x += 1
          }
          y += 1
        }
        frames += 1
        pos = base + frameBytes.toInt
      }
    }
    if (frames == 0) None
    else Some(Array.tabulate(dim)(i =>
      if (cnt(i) == 0) 0.0f else (acc(i).toDouble / cnt(i) / 255.0).toFloat))
  }

  /** Kind-routed decode: real pixels for images, real PCM envelope for
    * audio, real Y4M frames for video; the deterministic stub only for
    * payloads none of the parsers accept (and for compressed video —
    * no codec jars ship in this container).
    */
  def decode(kind: String, content: Array[Byte],
             dim: Int = FeatureDim): Array[Float] =
    kind match {
      case "image" =>
        decodeImage(content, dim).getOrElse(decodeStub(content, dim))
      case "audio" =>
        decodeAudio(content, dim).getOrElse(decodeStub(content, dim))
      case "video" =>
        decodeVideo(content, dim).getOrElse(decodeStub(content, dim))
      case _ => decodeStub(content, dim)
    }

  /** "Resize" analog: average-pool a feature vector down to `outDim`
    * lanes — the deterministic twin of image downscaling.
    */
  def pool(features: Array[Float], outDim: Int): Array[Float] = {
    require(outDim > 0 && features.length % outDim == 0,
      s"pool: ${features.length} not divisible by $outDim")
    val stride = features.length / outDim
    Array.tabulate(outDim) { o =>
      var s = 0.0f
      var k = 0
      while (k < stride) { s += features(o * stride + k); k += 1 }
      s / stride
    }
  }

  /** "Frame sample" analog: every `stride`-th lane — the deterministic
    * twin of video frame sampling.
    */
  def frameSample(features: Array[Float], stride: Int): Array[Float] =
    Array.tabulate((features.length + stride - 1) / stride)(k => features(k * stride))

  /** Partition the payload dataset by a byte budget — the decode stage
    * is bytes-bound, not row-bound. One shuffle, after which extraction
    * is narrow.
    */
  def repartitionForDecode(ds: Dataset[MediaRecord],
                           totalBytes: Long,
                           targetBytesPerPartition: Long = 64L << 20): Dataset[MediaRecord] = {
    val parts = math.max(1, (totalBytes / targetBytesPerPartition).toInt)
    ds.repartition(parts, col("media_id"))
  }

  /** Feature extraction with the real batch shape: mapPartitions gives
    * one iterator per partition so a real codec/model loads once per
    * partition, then streams records — the Scala analog of the
    * mapInPandas batch contract.
    */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      // per-partition codec setup: no disk-backed ImageIO cache on
      // executors (decode stays in-memory); model load would go here
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        MediaFeatures(r.media_id, r.kind, r.content.length,
          decode(r.kind, r.content))
      }
    }
  }

  /** Harness query: treat each document's UTF-8 bytes as an opaque
    * payload, run the full decode→feature→aggregate plumbing, and
    * roll up feature norms per source. Exercises the real plan
    * (binary cast, mapPartitions extraction, final aggregation) on
    * driver-shipped data — and since the stub's hash rule is
    * engine-portable, the whole pipeline is DuckDB-hash-gated
    * (norms are averaged over their 6-decimal roundings summed in
    * exact integer micros, so partial-agg order cannot drift the
    * last decimal).
    */
  def mediaFeatureRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // carry the grouping key THROUGH the extraction as the tuple's
    // second element — one scan, no re-join to recover `source`
    // (a second scan + shuffle join would be a full extra pass over
    // the corpus at scale)
    val media = Sources.documents(spark, dir)
      .select(
        struct(col("doc_id").as("media_id"), lit("image").as("kind"),
          col("text").cast("binary").as("content"),
          lit(0).as("width"), lit(0).as("height"),
          lit(0).as("sample_rate"), lit(0).as("duration_ms")).as("_1"),
        col("source").as("_2"))
      .as[(MediaRecord, String)]
    val feats = media.mapPartitions { it =>
      // per-partition setup point (codec init, model load)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (r, source) =>
        (r.media_id, source, r.content.length, decode(r.kind, r.content))
      }
    }.toDF("media_id", "source", "n_bytes", "features")
      .withColumn("norm",
        sqrt(aggregate(transform(col("features"),
          x => x.cast("double") * x), lit(0.0), (a, v) => a + v)))
      .withColumn("norm_e6",
        round(round(col("norm"), 6) * 1e6).cast("long"))
    feats
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes").cast("long")).as("_bytes"),
        sum(col("norm_e6")).as("_ne6"))
      .select(col("source"), col("n_media"),
        round(col("_bytes") / col("n_media"), 2).as("avg_bytes"),
        round(col("_ne6") / (col("n_media") * lit(1000000.0)), 6)
          .as("avg_feat_norm"))
      .orderBy(col("source"))
  }

  /** DuckDB twin of the COMPLETE stub pipeline via the closed form:
    * a recursive powers table (31^k and 31^(−k) mod P), one modular
    * prefix sum per doc, per-lane modular sums, float32 lanes, the
    * same fold-order norm, and exact-micros averaging. The text is
    * ASCII (asserted by spec), so ord(char) == UTF-8 byte.
    */
  val mediaFeatureRollupSql: String = {
    val p = StubPrime
    val inv31 = BigInt(31).modPow(BigInt(p - 2), BigInt(p)).toLong
    s"""WITH RECURSIVE pows(k, p31, pinv) AS (
      |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT k + 1, (p31 * 31) % $p, (pinv * $inv31) % $p
      |  FROM pows WHERE k < $StubOracleMaxLen
      |), d AS (
      |  SELECT doc_id, source, text, length(text) AS n FROM documents
      |), chars AS (
      |  SELECT doc_id, source, n, pw.k AS i,
      |    ord(substr(text, pw.k + 1, 1)) AS b, pw.p31, pw.pinv
      |  FROM d JOIN pows pw ON pw.k < n
      |), cums AS (
      |  SELECT doc_id, source, n, i, p31,
      |    CAST(sum((b * pinv) % $p) OVER (PARTITION BY doc_id ORDER BY i)
      |         % $p AS BIGINT) AS c
      |  FROM chars
      |), hs AS (
      |  -- h_i = 31^(i+1)*seed + SUM_(j<=i) b_j*31^(i-j)
      |  --     = 31^i * (31*seed + Σ b_j*31^(-j))   (all mod P)
      |  SELECT doc_id, source, i % $FeatureDim AS lane,
      |    (((${StubSeed * 31} + c) % $p) * p31) % $p AS h
      |  FROM cums
      |), lanes AS (
      |  SELECT doc_id, source, lane, CAST(sum(h) % $p AS BIGINT) AS acc
      |  FROM hs GROUP BY doc_id, source, lane
      |), feats AS (
      |  SELECT doc_id, source,
      |    list(CAST(CAST(CAST(acc AS DOUBLE) / $p AS REAL) AS DOUBLE)
      |         ORDER BY lane) AS f
      |  FROM lanes GROUP BY doc_id, source
      |), norms AS (
      |  SELECT doc_id, source,
      |    CAST(round(round(sqrt(list_sum(list_transform(f, x -> x * x))), 6)
      |               * 1e6) AS BIGINT) AS norm_e6
      |  FROM feats
      |), sized AS (
      |  SELECT doc_id, source, length(text) AS n_bytes FROM documents
      |)
      |-- LEFT JOIN keeps the twin TOTAL: a zero-length payload has no
      |-- chars rows (and so no norms row) but Spark still emits it
      |-- with a zero feature vector (norm 0)
      |SELECT s.source, count(*) AS n_media,
      |  round(CAST(sum(s.n_bytes) AS BIGINT) / count(*), 2) AS avg_bytes,
      |  round(CAST(sum(COALESCE(norm_e6, 0)) AS BIGINT)
      |        / (count(*) * 1000000.0), 6) AS avg_feat_norm
      |FROM sized s LEFT JOIN norms USING (doc_id, source)
      |GROUP BY s.source
      |ORDER BY s.source""".stripMargin
  }

  /** Modulus of the deterministic re-upload slice: every
    * [[ReuploadMod]]-th payload is re-ingested under a shifted id.
    */
  val ReuploadMod = 17L

  /** Id offset of re-ingested copies (disjoint from original ids). */
  val ReuploadOffset = 1000000000L

  /** Exact multimodal dedup by payload fingerprint — L1 for the
    * binary-column world: md5 over the raw CONTENT BYTES (codec- and
    * metadata-independent, so a re-uploaded copy under a fresh
    * media_id collapses onto its original), one hash shuffle on the
    * 16-byte digest, duplicate groups emitted with keeper = min
    * media_id (the same keep-rule as the text dedup family). The
    * fingerprint, not the payload, is what shuffles — at 100 TB of
    * media the exchange carries 16-byte keys + ids, never bytes.
    *
    * The corpus's payloads are all unique, so the RE-UPLOAD side is
    * modeled in-query: originals ∪ every [[ReuploadMod]]-th payload
    * re-ingested under media_id + [[ReuploadOffset]] — the ingest
    * race this operator exists to catch, deterministic so the oracle
    * replays it. Payloads are the same driver-shipped UTF-8 stand-ins
    * as [[mediaFeatureRollup]] (ASCII, so DuckDB's md5 over the text
    * IS md5 over the bytes — the spec pins hex equality).
    */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val originals = Sources.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"))
    val reuploads = originals
      .filter(col("media_id") % ReuploadMod === 0)
      .select((col("media_id") + ReuploadOffset).as("media_id"),
        col("content"))
    originals.unionByName(reuploads)
      .withColumn("fp", md5(col("content")))
      .withColumn("n_bytes", length(col("content")).cast("long"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("media_id")).as("keeper_id"),
        max(col("media_id")).as("max_dup_id"),
        min(col("n_bytes")).as("n_bytes"))
      .filter(col("n_copies") >= 2)
      .orderBy(col("fp"))
  }

  val mediaDedupSql: String =
    s"""WITH media AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $ReuploadOffset, text FROM documents
      |  WHERE doc_id % $ReuploadMod = 0
      |)
      |SELECT md5(text) AS fp, count(*) AS n_copies,
      |  min(media_id) AS keeper_id, max(media_id) AS max_dup_id,
      |  CAST(min(length(text)) AS BIGINT) AS n_bytes
      |FROM media
      |GROUP BY md5(text)
      |HAVING count(*) >= 2
      |ORDER BY fp""".stripMargin

  val registry: Map[String, Query] = Map(
    "q_media_features" -> Query(mediaFeatureRollup, mediaFeatureRollupSql),
    "q_media_dedup" -> Query(mediaDedup, mediaDedupSql)
  )
}
