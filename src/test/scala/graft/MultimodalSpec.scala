package graft

import org.apache.spark.sql.functions._
import graft.analytics.Multimodal
import graft.analytics.Multimodal.{MediaFeatures, MediaRecord}

class MultimodalSpec extends SparkSpec {

  private def record(id: Long, kind: String, payload: String): MediaRecord =
    MediaRecord(id, kind, payload.getBytes("UTF-8"), 640, 480, 44100, 1000)

  test("decode stub is deterministic, fixed-width, bounded") {
    val a = Multimodal.decodeStub("hello world".getBytes)
    val b = Multimodal.decodeStub("hello world".getBytes)
    val c = Multimodal.decodeStub("hello worlds".getBytes)
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
    assert(a.length == Multimodal.FeatureDim)
    assert(a.forall(x => x >= -1.0f && x <= 1.0f))
  }

  test("pool and frameSample keep shape contracts") {
    val f = Array.tabulate(16)(_.toFloat)
    assert(Multimodal.pool(f, 4).toSeq == Seq(1.5f, 5.5f, 9.5f, 13.5f))
    assert(Multimodal.frameSample(f, 4).toSeq == Seq(0f, 4f, 8f, 12f))
    intercept[IllegalArgumentException](Multimodal.pool(f, 5))
  }

  test("extractFeatures preserves rows, ids and byte counts through mapPartitions") {
    import spark.implicits._
    val recs = (1L to 100L).map(i => record(i, if (i % 2 == 0) "image" else "audio",
      s"payload-$i" * (i.toInt % 7 + 1)))
    val ds = spark.createDataset(recs).repartition(8)
    val out = Multimodal.extractFeatures(ds).collect()
    assert(out.length == 100)
    val byId = out.map(f => f.media_id -> f).toMap
    recs.foreach { r =>
      val f = byId(r.media_id)
      assert(f.n_bytes == r.content.length)
      assert(f.kind == r.kind)
      assert(f.features.toSeq == Multimodal.decodeStub(r.content).toSeq)
    }
  }

  test("extraction plan is narrow: no shuffle between decode repartition and features") {
    import spark.implicits._
    val ds = spark.createDataset((1L to 10L).map(i => record(i, "image", s"p$i")))
    val sized = Multimodal.repartitionForDecode(ds, totalBytes = 1L << 30,
      targetBytesPerPartition = 128L << 20)
    val feats = Multimodal.extractFeatures(sized)
    assert(feats.rdd.getNumPartitions == 8, "byte-budget partitioning not applied")
    val p = feats.queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the decode repartition exchange:\n$p")
  }

  test("binaryFile source reads opaque payload files with metadata") {
    val dir = java.nio.file.Paths.get(tempDir("graft_media"))
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(dir.resolve(s"img_$i.bin"),
        s"fake-image-bytes-$i".getBytes)
    }
    val df = spark.read.format("binaryFile").load(dir.toString)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    assert(df.count() == 3)
    val lens = df.select(col("length")).collect().map(_.getLong(0)).toSet
    assert(lens == Set(18L, 18L, 18L) || lens.forall(_ > 0))
  }

  test("real PNG decode: crafted image yields pinned grid-luminance features") {
    import spark.implicits._
    // 8x8 PNG, left half black, right half white: the 4x4 luminance
    // grid must come out exactly [0,0,1,1] per row (Rec.601 weights
    // sum to 1 at full white)
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val expected = Seq.tabulate(16)(i => if (i % 4 < 2) 0.0f else 1.0f)
    // direct decode
    assert(Multimodal.decodeImage(png).map(_.toSeq).contains(expected),
      "grid-luminance features off the crafted PNG diverge")
    // through the full executor-side extraction path
    val rec = MediaRecord(7L, "image", png, 8, 8, 0, 0)
    val out = Multimodal.extractFeatures(spark.createDataset(Seq(rec))).collect()
    assert(out.head.features.toSeq == expected)
    assert(out.head.n_bytes == png.length)
    // non-image payloads under kind=image fall back to the stub
    // rather than failing the partition
    val junk = "not-a-png".getBytes("UTF-8")
    assert(Multimodal.decode("image", junk).toSeq ==
      Multimodal.decodeStub(junk).toSeq)
    // image bytes under kind=audio are not parseable audio -> stub
    assert(Multimodal.decode("audio", png).toSeq ==
      Multimodal.decodeStub(png).toSeq)
    // PNG bytes under kind=video are not Y4M -> stub
    assert(Multimodal.decode("video", png).toSeq ==
      Multimodal.decodeStub(png).toSeq)
  }

  test("real WAV decode: crafted PCM yields the pinned RMS energy envelope") {
    // 1600 mono 16-bit samples at 8 kHz: first half silence, second
    // half a +/-16384 square wave. Segment RMS is EXACT: 16 segments
    // of 100 samples -> first 8 are 0.0, last 8 are 16384/32768 = 0.5
    // (integer sums of squares, one exact sqrt of a power of two).
    val n = 1600
    val pcm = new Array[Byte](n * 2)
    for (i <- n / 2 until n) {
      val s: Short = if (i % 2 == 0) 16384 else -16384
      pcm(2 * i) = (s & 0xff).toByte            // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val expected = Seq.tabulate(16)(i => if (i < 8) 0.0f else 0.5f)
    assert(Multimodal.decodeAudio(wav).map(_.toSeq).contains(expected),
      "RMS envelope off the crafted WAV diverges")
    // through the full executor-side extraction path
    import spark.implicits._
    val rec = MediaRecord(11L, "audio", wav, 0, 0, 8000, 200)
    val out = Multimodal.extractFeatures(spark.createDataset(Seq(rec))).collect()
    assert(out.head.features.toSeq == expected)
    // WAV bytes under kind=video are not Y4M -> stub
    assert(Multimodal.decode("video", wav).toSeq ==
      Multimodal.decodeStub(wav).toSeq)
  }

  test("real Y4M decode: crafted clip yields pinned time-averaged grid luminance") {
    def y4m(header: String, frames: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write((header + "\n").getBytes("US-ASCII"))
      frames.foreach { f =>
        out.write("FRAME\n".getBytes("US-ASCII"))
        out.write(f)
      }
      out.toByteArray
    }
    // 8x8 mono, 2 frames: frame 1 left half 0 / right half 255,
    // frame 2 uniform 51. Each 4x4 grid cell sees 4 pixels per frame,
    // so left cells average (0*4 + 51*4)/8 and right (255*4 + 51*4)/8
    // -- exact in double, computed here with the decoder's own op order
    val f1 = Array.tabulate(64)(i => if (i % 8 < 4) 0 else 255).map(_.toByte)
    val f2 = Array.fill(64)(51.toByte)
    val clip = y4m("YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono", f1, f2)
    val left = (204.0 / 8 / 255.0).toFloat
    val right = (1224.0 / 8 / 255.0).toFloat
    val expected = Seq.tabulate(16)(i => if (i % 4 < 2) left else right)
    assert(Multimodal.decodeVideo(clip).map(_.toSeq).contains(expected),
      "time-averaged grid luminance off the crafted Y4M diverges")
    // default colorspace (no C tag) is 420: frame = Y + 2 quarter
    // chroma planes; all-white Y must give all-1.0 features with the
    // chroma bytes skipped by exact plane size
    val y420 = Array.fill(64)(255.toByte) ++ Array.fill(32)(7.toByte)
    val clip420 = y4m("YUV4MPEG2 W8 H8 F30:1", y420)
    assert(Multimodal.decodeVideo(clip420).map(_.toSeq)
      .contains(Seq.fill(16)(1.0f)))
    // a clip truncated mid-frame decodes its complete frames only:
    // frame 1 of the mono clip alone gives 0/1 per cell
    val cut = clip.dropRight(40)
    assert(Multimodal.decodeVideo(cut).map(_.toSeq)
      .contains(Seq.tabulate(16)(i => if (i % 4 < 2) 0.0f else 1.0f)))
    // through the full executor-side extraction path under kind=video
    import spark.implicits._
    val rec = MediaRecord(13L, "video", clip, 8, 8, 0, 80)
    val out = Multimodal.extractFeatures(spark.createDataset(Seq(rec))).collect()
    assert(out.head.features.toSeq == expected)
    assert(out.head.n_bytes == clip.length)
    // degradation paths: bad magic, unsupported layout, zero complete
    // frames -> None, and decode() falls back to the stub
    val junk = "YUV4MPEG W8 H8\nFRAME\n".getBytes("US-ASCII")
    assert(Multimodal.decodeVideo(junk).isEmpty)
    assert(Multimodal.decode("video", junk).toSeq ==
      Multimodal.decodeStub(junk).toSeq)
    assert(Multimodal.decodeVideo(
      y4m("YUV4MPEG2 W8 H8 C411", Array.fill(96)(0.toByte))).isEmpty)
    assert(Multimodal.decodeVideo(
      ("YUV4MPEG2 W8 H8 Cmono\nFRAME\n" + "ab").getBytes("US-ASCII")).isEmpty)
  }

  test("media feature rollup query returns one row per source") {
    val out = Multimodal.mediaFeatureRollup(spark, sf)
    assert(out.count() == 20)
    assert(out.filter(col("avg_feat_norm") <= 0).count() == 0)
  }

  test("oracle precondition: fixture text is pure ASCII (char count == byte count)") {
    // the DuckDB twin reads bytes via ord(substr(text, ...)) and sizes
    // via length(text) — both equal the UTF-8 byte view ONLY for
    // ASCII. If the fixture ever grows non-ASCII text this must fail
    // here, not as an inscrutable hash mismatch in the driver gate.
    val nonAscii = graft.ingest.Sources.documents(spark, sf)
      .filter(length(col("text")) =!= octet_length(col("text")))
      .count()
    assert(nonAscii == 0, s"$nonAscii docs with non-ASCII text")
    // the oracle's recursive powers table only reaches
    // StubOracleMaxLen bytes — a longer fixture doc would silently
    // truncate in the twin; fail HERE instead
    val tooLong = graft.ingest.Sources.documents(spark, sf)
      .filter(octet_length(col("text")) >= Multimodal.StubOracleMaxLen)
      .count()
    assert(tooLong == 0,
      s"$tooLong docs at/over the ${Multimodal.StubOracleMaxLen}-byte oracle cap")
  }

  test("stub features: modular closed form matches the iterative loop") {
    // the oracle rebuilds the stub via h_i = 31^i*(31*seed + sum b_j*31^-j)
    // mod P; verify the algebra against the production loop on a
    // random payload, driver-side
    val rng = new scala.util.Random(5)
    val bytes = Array.fill(333)((rng.nextInt(95) + 32).toByte)
    val p = Multimodal.StubPrime
    val inv31 = BigInt(31).modPow(BigInt(p - 2), BigInt(p)).toLong
    val dim = Multimodal.FeatureDim
    val acc = new Array[Long](dim)
    var c = 0L
    var pinv = 1L
    var p31 = 1L
    for (i <- bytes.indices) {
      c = (c + (bytes(i) & 0xff) * pinv) % p
      val h = (((Multimodal.StubSeed * 31 + c) % p) * p31) % p
      acc(i % dim) = (acc(i % dim) + h) % p
      pinv = pinv * inv31 % p
      p31 = p31 * 31 % p
    }
    val closed = acc.map(a => (a.toDouble / p).toFloat).toSeq
    assert(closed == Multimodal.decodeStub(bytes).toSeq,
      "closed-form stub diverges from the iterative loop")
  }

  test("media dedup: md5 fingerprint equals JVM digest, keeper rule holds") {
    import org.apache.spark.sql.functions._
    val base = graft.ingest.Sources.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docs = base ++ base
      .filter(_._1 % graft.analytics.Multimodal.ReuploadMod == 0)
      .map(t => (t._1 + graft.analytics.Multimodal.ReuploadOffset, t._2))
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.groupBy(t => hex(t._2))
      .filter(_._2.length >= 2)
      .map { case (fp, g) =>
        fp -> ((g.length.toLong, g.map(_._1).min, g.map(_._1).max)) }
    val got = graft.analytics.Multimodal.mediaDedup(spark, sf).collect()
      .map(r => r.getAs[String]("fp") ->
        ((r.getAs[Long]("n_copies"), r.getAs[Long]("keeper_id"),
          r.getAs[Long]("max_dup_id")))).toMap
    assert(got == expected, "dup groups do not replay from JVM md5")
    assert(got.nonEmpty, "no duplicate payloads in fixture - vacuous")
  }
}
