package graft

import graft.operators.Multimodal
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def mediaDf(n: Int, parts: Int) = {
    val rows = (0 until n).map { i =>
      Row(i.toLong,
        if (i % 3 == 2) "video" else if (i % 3 == 1) "audio" else "image",
        Array.tabulate[Byte](64 + i)(j => ((i * 31 + j) % 127).toByte),
        Row(640, 480, 2000L))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts), Multimodal.mediaSchema)
  }

  test("extractFeatures: schema, determinism, partition invariance") {
    val out1 = Multimodal.extractFeatures(mediaDf(30, 2), dim = 8)
    val out2 = Multimodal.extractFeatures(mediaDf(30, 7), dim = 8)
    assert(out1.schema.simpleString ==
      "struct<media_id:bigint,modality:string,n_bytes:bigint,features:array<float>>")
    val a = out1.collect().map(r => (r.getLong(0), r.getSeq[Float](3))).toMap
    val b = out2.collect().map(r => (r.getLong(0), r.getSeq[Float](3))).toMap
    assert(a.size == 30 && a == b)
    assert(a.values.forall(_.length == 8))
    // deterministic stub: same bytes -> same features
    assert(Multimodal.decodeStub(Array[Byte](1, 2, 3), 4)
      .sameElements(Multimodal.decodeStub(Array[Byte](1, 2, 3), 4)))
  }

  test("imageFeatures: real ImageIO round-trip equals the pattern math") {
    // 4x2 image, id 5: decode(encode(pattern)) must reproduce the
    // closed-form sums exactly (PNG is lossless)
    val id = 5L; val w = 4; val h = 2
    val png = Multimodal.syntheticPng(id, w, h)
    assert(png.length > 8 &&
      (png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt,
        'G'.toInt))) // real PNG magic, not a stub
    var (rs, gs, bs, rq) = (0L, 0L, 0L, 0L)
    val cells = new Array[Long](4)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (id * 31 + x * 7 + y * 13) % 256
      val g = (id * 17 + x * 3 + y * 5) % 256
      val b = (id * 29 + x * 11 + y * 2) % 256
      rs += r; gs += g; bs += b; rq += r * r
      cells((y * 2 / h) * 2 + x * 2 / w) += r + g + b
    }
    val (dw, dh, sums, sqs, got) = Multimodal.decodeImageStats(png, grid = 2)
    assert((dw, dh) == (w, h))
    assert(sums(0) == rs && sums(1) == gs && sums(2) == bs)
    assert(sqs(0) == rq)
    assert(got.toSeq == cells.toSeq)
    // the DataFrame path binds the same numbers + fails fast on junk
    val spark2 = spark
    import spark2.implicits._
    val media = Seq((id, png), (7L, Multimodal.syntheticPng(7L, 3, 3)))
      .toDF("media_id", "payload")
    val df = Multimodal.imageFeatures(media, grid = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(df(id).getInt(1) == w && df(id).getInt(2) == h &&
      df(id).getLong(3) == rs && df(id).getSeq[Long](9) == cells.toSeq)
    assert(df(7L).getInt(1) == 3)
    val junk = Seq((99L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.imageFeatures(junk).collect()
    }
    assert(ex.getCause.getMessage.contains("media_id=99"))
    // the decode path is format-agnostic: a JPEG (lossy, so only the
    // dimensions are pinned) decodes through the same call
    val img = new java.awt.image.BufferedImage(
      6, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val (jw, jh, _, _, _) = Multimodal.decodeImageStats(bos.toByteArray, 2)
    assert((jw, jh) == (6, 5))
  }

  test("audioFeatures: real WAV round-trip equals the PCM formula") {
    val id = 3L; val n = 100; val rate = 8000
    val wav = Multimodal.syntheticWav(id, n, rate)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF") // real WAV
    var sum = 0L; var sq = 0L; var zc = 0L; var prev = false
    for (i <- 0 until n) {
      val s = ((id * 37 + i * 13) % 4096 - 2048).toInt
      sum += s; sq += s.toLong * s
      val nn = s >= 0
      if (i > 0 && nn != prev) zc += 1
      prev = nn
    }
    assert(Multimodal.decodeAudioStats(wav) ==
      ((rate, 1, n.toLong, sum, sq, zc)))
    // big-endian AIFF decodes through the same call to the same stats
    val pcmBe = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = ((id * 37 + i * 13) % 4096 - 2048).toInt
      pcmBe(2 * i) = ((s >> 8) & 0xff).toByte
      pcmBe(2 * i + 1) = (s & 0xff).toByte
    }
    val beFmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, 1, true, true)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcmBe), beFmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    assert(Multimodal.decodeAudioStats(bos.toByteArray) ==
      ((rate, 1, n.toLong, sum, sq, zc)))
    // DataFrame path binds the same numbers + fails fast on junk
    val spark2 = spark
    import spark2.implicits._
    val media = Seq((id, wav)).toDF("media_id", "payload")
    val row = Multimodal.audioFeatures(media).collect()(0)
    assert(row.getInt(1) == rate && row.getLong(3) == n &&
      row.getLong(4) == sum && row.getLong(5) == sq && row.getLong(6) == zc)
    val junk = Seq((42L, Array[Byte](9, 9, 9))).toDF("media_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFeatures(junk).collect()
    }
    assert(ex.getCause.getMessage.contains("media_id=42"))
    // interleaved stereo would silently mix channels — rejected loudly
    val stFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true,
      false)
    val stBos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](40)), stFmt, 10L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, stBos)
    val sex = intercept[IllegalArgumentException] {
      Multimodal.decodeAudioStats(stBos.toByteArray)
    }
    assert(sex.getMessage.contains("only mono"))
    // a corrupt-BODY image (valid magic, truncated data) still fails
    // with the media_id — IIOException-family errors are wrapped too
    val corrupt = Seq((77L, Multimodal.syntheticPng(1L, 8, 8).take(24)))
      .toDF("media_id", "payload")
    val cex = intercept[org.apache.spark.SparkException] {
      Multimodal.imageFeatures(corrupt).collect()
    }
    assert(cex.getCause.getMessage.contains("media_id=77"))
  }

  test("videoFeatures: animated-GIF round-trip equals the frame math") {
    val id = 4L; val w = 5; val h = 3; val nf = 4
    val gif = Multimodal.syntheticGif(id, w, h, nf)
    assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8"))
    val got = Multimodal.decodeVideoStats(gif)
    assert(got.length == nf)
    for (f <- 0 until nf) {
      var sum = 0L; var sq = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (id * 31 + f * 17 + x * 7 + y * 13) % 256
        sum += v; sq += v * v
      }
      assert(got(f) == ((f, w, h, sum, sq)), s"frame $f: ${got(f)}")
    }
    // DataFrame path explodes one row per frame + fails fast on junk
    val spark2 = spark
    import spark2.implicits._
    val media = Seq((id, gif)).toDF("media_id", "payload")
    val rows = Multimodal.videoFeatures(media).collect()
    assert(rows.length == nf && rows.forall(_.getLong(0) == id))
    val junk = Seq((13L, Array[Byte](1, 2))).toDF("media_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.videoFeatures(junk).collect()
    }
    assert(ex.getCause.getMessage.contains("media_id=13"))
  }

  test("imageHashes: perceptual near-dup recall on perturbed images, " +
      "determinism, and thumbnail rejection") {
    // 40 base images + 40 sparsely-perturbed near-copies (id = base+40)
    val rows = (0 until 80).map { i =>
      val base = i % 40
      Row(i.toLong, "image",
        Multimodal.syntheticPngNear(base, if (i < 40) 0 else 9,
          12 + base % 4 * 4, 9 + base % 3 * 3),
        Row(null, null, null))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5), Multimodal.mediaSchema)
    val hs = Multimodal.imageHashes(media, grid = 8).persist()
    val byId = hs.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId.size == 80)
    // delta=0 IS the base generator: re-hashing the identical bytes is
    // bit-equal (determinism across partitions/runs)
    val again = Multimodal.imageHashes(media, grid = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == byId)
    // RECALL: every planted (base, base+40) pair sits within Hamming 7
    // on BOTH hashes — the sparse +9 perturbation barely moves cell
    // means (and the banded join below must therefore emit all of them)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    (0 until 40).foreach { b =>
      val (a0, d0) = byId(b.toLong)
      val (a1, d1) = byId(b.toLong + 40)
      assert(ham(a0, a1) <= 7, s"aHash drifted for base $b: ${ham(a0, a1)}")
      assert(ham(d0, d1) <= 7, s"dHash drifted for base $b: ${ham(d0, d1)}")
    }
    val pairs = graft.operators.Dedup.simHashJoin(
        hs.select(col("media_id").as("id"), col("dhash").as("simhash")), 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 40).foreach { b =>
      assert(pairs.contains((b.toLong, b.toLong + 40)),
        s"banded join missed planted pair ($b, ${b + 40})")
    }
    // emitted pairs are verified: every one is genuinely within radius
    assert(pairs.forall { case (x, y) => ham(byId(x)._2, byId(y)._2) <= 7 })
    // a thumbnail below the grid floor fails loudly with its media_id
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, "image",
        Multimodal.syntheticPng(1, 4, 4), Row(null, null, null))), 1),
      Multimodal.mediaSchema)
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.imageHashes(tiny, grid = 8).collect()
    }
    assert(e.getMessage.contains("99") || Option(e.getCause).exists(
      _.getMessage.contains("99")))
    hs.unpersist()
  }

  test("videoFrameHashes: per-frame dHash, clip near-dup recall on " +
      "perturbed clips via the banded join") {
    val spark2 = spark
    import spark2.implicits._
    // 20 base clips + 20 sparsely-perturbed near-copies (id = base+20)
    val rows = (0 until 40).map { i =>
      val base = i % 20
      Row(i.toLong, "video",
        Multimodal.syntheticGifNear(base, if (i < 20) 0 else 9,
          12 + base % 3 * 4, 9 + base % 2 * 3, 2 + base % 3),
        Row(null, null, null))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
    val hs = Multimodal.videoFrameHashes(media, grid = 8).persist()
    val byKey = hs.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    // every clip decoded to its declared frame count
    (0 until 40).foreach { i =>
      val nf = 2 + i % 20 % 3
      assert((0 until nf).forall(f => byKey.contains((i.toLong, f))),
        s"clip $i missing frames")
    }
    // planted pairs: every frame of the perturbed clip is within
    // Hamming 7 of its base twin (the sparse bump barely moves cells)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    byKey.keys.filter(_._1 < 20).foreach { case (m, f) =>
      assert(ham(byKey((m, f)), byKey((m + 20, f))) <= 7,
        s"frame dHash drifted for clip $m frame $f")
    }
    // the clip-level aggregate finds every planted pair, with at
    // least the frame-diagonal matching
    val keyed = hs.select(
      (col("media_id") * 1000 + col("frame_idx")).as("id"),
      col("dhash").as("simhash"))
    val clipPairs = graft.operators.Dedup.simHashJoin(keyed, 7)
      .select(expr("a_id DIV 1000").as("am"),
        expr("b_id DIV 1000").as("bm"))
      .filter(col("am") =!= col("bm"))
      .groupBy("am", "bm").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    (0 until 20).foreach { b =>
      val nf = 2 + b % 3
      val got = clipPairs.getOrElse((b.toLong, b.toLong + 20), 0L)
      assert(got >= nf,
        s"clip pair ($b, ${b + 20}): $got matches < $nf diagonal frames")
    }
    hs.unpersist()
  }

  test("audioHashes: energy-profile near-dup recall on perturbed " +
      "clips, determinism, short-clip rejection") {
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 40).map { i =>
      val base = i % 20
      Row(i.toLong, "audio",
        Multimodal.syntheticWavNear(base, if (i < 20) 0 else 25,
          300 + base % 5 * 200, 8000),
        Row(null, null, null))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Multimodal.mediaSchema)
    val hs = Multimodal.audioHashes(media, bits = 64).persist()
    val byId = hs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.size == 40)
    // determinism
    assert(Multimodal.audioHashes(media, bits = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == byId)
    // recall: every planted (base, base+20) pair within Hamming 7 and
    // emitted by the banded join
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    (0 until 20).foreach { b =>
      assert(ham(byId(b.toLong), byId(b.toLong + 20)) <= 7,
        s"energy hash drifted for base $b")
    }
    val pairs = graft.operators.Dedup.simHashJoin(
        hs.select(col("media_id").as("id"), col("ehash").as("simhash")), 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { b =>
      assert(pairs.contains((b.toLong, b.toLong + 20)),
        s"banded join missed planted pair ($b, ${b + 20})")
    }
    // a clip shorter than bits+1 samples fails loudly with its id
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, "audio",
        Multimodal.syntheticWav(1, 40, 8000), Row(null, null, null))), 1),
      Multimodal.mediaSchema)
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.audioHashes(tiny, bits = 64).collect()
    }
    assert(e.getMessage.contains("99") || Option(e.getCause).exists(
      _.getMessage.contains("99")))
    hs.unpersist()
  }

  test("sampleFrames explodes videos by stride") {
    val out = Multimodal.sampleFrames(mediaDf(9, 3), stride = 10)
    val rows = out.collect()
    // only videos (ids 2,5,8); 2000ms/40 = 50 frames, stride 10 -> 5 frames
    assert(rows.map(_.getLong(0)).distinct.sorted.sameElements(Array(2L, 5L, 8L)))
    assert(rows.length == 15)
    assert(rows.forall(_.getAs[Array[Byte]]("frame_bytes").nonEmpty))
  }

  test("MP4 box parser: closed-form fixtures parse exactly; truncated " +
      "and non-BMFF payloads rejected with diagnostics") {
    for (id <- 0L until 20L) {
      val info = Multimodal.parseMp4(Multimodal.syntheticMp4(id))
      assert(info.major_brand == "isom")
      assert(info.timescale == 1000 + (id % 3) * 500)
      assert(info.duration_ticks == 2000 + (id % 7) * 300)
      val v = info.tracks.find(_.handler == "vide").get
      val n = 24 + (id % 5) * 6
      val k = 3 + id % 4
      assert(v.track_id == 1)
      assert(v.codec == Seq("avc1", "hev1", "vp09")((id % 3).toInt))
      assert(v.n_samples == n)
      assert(v.n_keyframes == (n + k - 1) / k)
      assert(v.width == 320 + (id % 4) * 16)
      assert(v.height == 240 + (id % 3) * 16)
      if (id % 2 == 1) {
        val a = info.tracks.find(_.handler == "soun").get
        assert(a.track_id == 2 && a.codec == "mp4a")
        assert(a.n_samples == 40 + (id % 6) * 5)
        assert(a.n_keyframes == a.n_samples) // no stss ⇒ all sync
        assert(a.width == 0 && a.height == 0)
        assert(info.tracks.size == 2)
      } else assert(info.tracks.size == 1)
    }
    // graceful reject: a truncated container fails on the box whose
    // claimed size overruns the bytes, with offsets in the message
    val good = Multimodal.syntheticMp4(5)
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.parseMp4(java.util.Arrays.copyOf(good, good.length / 2))
    }
    assert(e1.getMessage.contains("claims") ||
      e1.getMessage.contains("truncated"), e1.getMessage)
    // arbitrary text: first 4 bytes parse as an absurd box size
    intercept[IllegalArgumentException] {
      Multimodal.parseMp4("not an mp4 file at all........".getBytes("UTF-8"))
    }
    // too short to hold any box at all
    intercept[IllegalArgumentException] {
      Multimodal.parseMp4(Array[Byte](1, 2, 3))
    }
    // well-formed boxes but no ftyp: refused as non-BMFF
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.parseMp4(Array[Byte](0, 0, 0, 16, 'm', 'd', 'a', 't',
        0, 0, 0, 0, 0, 0, 0, 0))
    }
    assert(e2.getMessage.contains("ftyp"), e2.getMessage)
  }

  test("mp4Metadata: one row per track, distributed over the column") {
    val spark2 = spark
    import spark2.implicits._
    val media = spark.range(0, 12)
      .select(col("id").as("media_id"))
      .as[Long].map(id => (id, Multimodal.syntheticMp4(id)))
      .toDF("media_id", "payload")
    val rows = Multimodal.mp4Metadata(media).collect()
    // 12 video tracks + 6 audio tracks (odd ids)
    assert(rows.length == 18)
    assert(rows.count(_.getAs[String]("handler") == "vide") == 12)
    assert(rows.count(_.getAs[String]("handler") == "soun") == 6)
  }

  test("MP3 frame parser: closed-form fixtures parse exactly; corrupt " +
      "payloads rejected with byte offsets") {
    for (id <- 0L until 20L) {
      val i = Multimodal.parseMp3(Multimodal.syntheticMp3(id))
      val rate = Seq(44100, 48000, 32000)((id % 3).toInt)
      val n = 8 + (id % 5).toInt
      val brs = (0 until n).map { f =>
        val idx = if (id % 3 == 0) 1 + ((id + f) % 14).toInt
          else 1 + (id % 14).toInt
        Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
          320)(idx - 1)
      }
      assert(i.version == "MPEG1" && i.layer == 3)
      assert(i.sample_rate == rate)
      assert(i.channel_mode == Seq("stereo", "joint_stereo",
        "dual_channel", "mono")((id % 4).toInt))
      assert(i.n_frames == n)
      assert(i.duration_ms == n.toLong * 1152 * 1000 / rate)
      assert(i.bitrate_kbps_min == brs.min && i.bitrate_kbps_max == brs.max)
      assert(i.is_vbr == (id % 3 == 0 && brs.distinct.size > 1))
      val total = brs.zipWithIndex
        .map { case (b, f) => 144 * b * 1000 / rate + f % 2 }.sum
      if (id % 2 == 0) {
        assert(i.xing_frames == n && i.xing_bytes == total)
        assert(i.id3v2_size == 0)
      } else {
        assert(i.xing_frames == -1 && i.xing_bytes == -1)
        assert(i.id3v2_size == 10 + 13 + (id % 4).toInt * 7)
      }
    }
    // MPEG2 + CRC-protected hand frame: 24 kbps @ 16000 Hz mono, CRC
    // bit 0 → frame size 72·24000/16000 = 108; Xing probe must shift
    // past the 2 CRC bytes (side info 9 for MPEG2 mono)
    val m2 = new Array[Byte](108)
    val h2 = (0x7ffL << 21) | (2L << 19) | (1L << 17) | (0L << 16) |
      (3L << 12) | (2L << 10) | (0L << 9) | (3L << 6)
    m2(0) = (h2 >> 24).toByte; m2(1) = (h2 >> 16).toByte
    m2(2) = (h2 >> 8).toByte; m2(3) = h2.toByte
    "Info".getBytes("US-ASCII").copyToArray(m2, 4 + 2 + 9)
    m2(4 + 2 + 9 + 7) = 1 // flags = frames only
    m2(4 + 2 + 9 + 11) = 77 // frames = 77
    val i2 = Multimodal.parseMp3(m2)
    assert(i2.version == "MPEG2" && i2.sample_rate == 16000 &&
      i2.channel_mode == "mono" && i2.n_frames == 1 &&
      i2.duration_ms == 576L * 1000 / 16000 &&
      i2.xing_frames == 77 && i2.xing_bytes == -1)
    // corrupt-input rejection, each with a diagnostic offset:
    val good = Multimodal.syntheticMp3(4)
    // (a) truncated mid-frame
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.parseMp3(java.util.Arrays.copyOf(good, good.length - 5))
    }
    assert(e1.getMessage.contains("claims"), e1.getMessage)
    // (b) bad sync where a frame header should be
    val bad = good.clone(); bad(0) = 0x12
    val e2 = intercept[IllegalArgumentException](Multimodal.parseMp3(bad))
    assert(e2.getMessage.contains("sync"), e2.getMessage)
    // (c) ID3v2 size overrunning the payload
    val overrun = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0x7f, 0x7f)
    val e3 = intercept[IllegalArgumentException](Multimodal.parseMp3(overrun))
    assert(e3.getMessage.contains("ID3v2"), e3.getMessage)
    // (d) reserved version bits
    val resv = good.clone()
    resv(1) = ((resv(1) & 0xff) & ~0x18 | 0x08).toByte // verBits = 01
    val e4 = intercept[IllegalArgumentException](Multimodal.parseMp3(resv))
    assert(e4.getMessage.contains("reserved"), e4.getMessage)
    // (e) free-format bitrate index
    val free = good.clone()
    free(2) = (free(2) & 0x0f).toByte // bitrate idx = 0
    val e5 = intercept[IllegalArgumentException](Multimodal.parseMp3(free))
    assert(e5.getMessage.contains("bitrate"), e5.getMessage)
    // (f) empty stream (ID3 only)
    val id3only = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 2, 9, 9)
    val e6 = intercept[IllegalArgumentException](Multimodal.parseMp3(id3only))
    assert(e6.getMessage.contains("no MPEG audio frames"), e6.getMessage)
    // CONFORMANT real-world shapes must parse, not reject:
    // (g) ID3v2.4 FOOTER flag — 10 extra bytes after the counted size
    val plain = Multimodal.syntheticMp3(4) // no ID3, Xing present
    val withFooter = Array[Byte]('I', 'D', '3', 4, 0, 0x10.toByte,
      0, 0, 0, 2) ++ Array[Byte](9, 9) ++ Array.fill[Byte](10)(0) ++ plain
    val gf = Multimodal.parseMp3(withFooter)
    assert(gf.id3v2_size == 10 + 2 + 10 && gf.n_frames ==
      Multimodal.parseMp3(plain).n_frames)
    // (h) trailing 128-byte ID3v1 "TAG" block after the last frame
    val v1 = new Array[Byte](128)
    v1(0) = 'T'; v1(1) = 'A'; v1(2) = 'G'
    val gv1 = Multimodal.parseMp3(plain ++ v1)
    assert(gv1.n_frames == Multimodal.parseMp3(plain).n_frames &&
      gv1.xing_bytes == Multimodal.parseMp3(plain).xing_bytes)
  }

  test("mp3Metadata: one row per file, distributed over the column") {
    val spark2 = spark
    import spark2.implicits._
    val media = spark.range(0, 12)
      .select(col("id").as("media_id"))
      .as[Long].map(id => (id, Multimodal.syntheticMp3(id)))
      .toDF("media_id", "payload")
    val rows = Multimodal.mp3Metadata(media).collect()
    assert(rows.length == 12)
    assert(rows.count(_.getAs[Long]("xing_frames") >= 0) == 6) // even ids
    assert(rows.count(_.getAs[Int]("id3v2_size") > 0) == 6)    // odd ids
    assert(rows.forall(_.getAs[String]("version") == "MPEG1"))
  }

  test("reference output layout projection") {
    val pts = graft.sources.BinaryPoints.read(spark, SparkSpec.T4Bin)
      .limit(100)
    val labels = pts.select(col("id"), (col("id") % 3).cast("int").as("cluster_id"))
    val out = graft.operators.PointSink.toReferenceLayout(
      pts, labels, "id", "features", 2)
    assert(out.columns.toSeq ==
      Seq("position_col_X0", "position_col_X1", "cluster_id"))
    assert(out.count() == 100)
  }

  test("imageEmbedding: REAL decode reproduces the closed-form raster's " +
      "features exactly; corrupt payload rejected with the media_id") {
    val spark2 = spark
    import spark2.implicits._
    val (base, w, h, grid) = (3L, 12, 9, 4)
    val payload = Multimodal.syntheticPngNear(base, 0, w, h)
    // hand-compute from the SAME closed form the PNG encodes (PNG is
    // lossless, so a correct decode must match bit for bit)
    def gray(x: Int, y: Int): Int =
      (((base * 31 + x * 7 + y * 13) % 256) +
        ((base * 17 + x * 3 + y * 5) % 256) +
        ((base * 29 + x * 11 + y * 2) % 256)).toInt
    val cellSum = new Array[Long](grid * grid)
    val cellCnt = new Array[Long](grid * grid)
    val oct = new Array[Long](8)
    var tot = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val c = (y * grid / h) * grid + x * grid / w
      cellSum(c) += gray(x, y); cellCnt(c) += 1
      if (x + 1 < w && y + 1 < h) {
        val dx = gray(x + 1, y) - gray(x, y)
        val dy = gray(x, y + 1) - gray(x, y)
        if (dx != 0 || dy != 0) {
          val b =
            if (dx > 0 && dy >= 0) { if (dx > dy) 0 else 1 }
            else if (dx <= 0 && dy > 0) { if (dy > -dx) 2 else 3 }
            else if (dx < 0) { if (-dx > -dy) 4 else 5 }
            else { if (-dy > dx) 6 else 7 }
          oct(b) += 1; tot += 1
        }
      }
    }
    val exp = (cellSum.indices.map(i =>
      (cellSum(i).toDouble / (cellCnt(i) * 765.0)).toFloat) ++
      oct.indices.map(b =>
        if (tot == 0L) 0f else (oct(b).toDouble / tot).toFloat)).toSeq
    val media = Seq((7L, payload)).toDF("media_id", "payload")
    val got = Multimodal.imageEmbedding(media, grid).collect()
    assert(got.length == 1 && got(0).getLong(0) == 7L)
    assert(got(0).getSeq[Float](1) == exp)
    // the integer stats surface agrees with the same hand computation
    val stats = Multimodal.imageEmbeddingStats(media, grid).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
    cellSum.indices.foreach(i =>
      assert(stats(i) == ((cellSum(i), cellCnt(i))), s"cell $i"))
    oct.indices.foreach(b =>
      assert(stats(grid * grid + b) == ((oct(b), tot)), s"octant $b"))
    // an undecodable payload fails loudly with the offending id
    val bad = Seq((99L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.imageEmbedding(bad, grid).collect()
    }
    assert(ex.getMessage.contains("99") ||
      ex.getCause.getMessage.contains("99"))
  }

  test("audioEmbedding: REAL PCM decode reproduces the closed-form " +
      "sample features exactly; corrupt payload rejected with the id") {
    val spark2 = spark
    import spark2.implicits._
    val (base, n, windows) = (4L, 300, 16)
    val payload = Multimodal.syntheticWavNear(base, 0, n, 8000)
    // hand-compute from the SAME closed form the WAV encodes (PCM is
    // lossless, so a correct decode must match integer for integer)
    def sample(i: Int): Long = {
      val nl = (i.toLong * i * (1 + base % 7)) % 199
      (base * 37 + i.toLong * 13 + nl) % 4096 - 2048
    }
    val sums = new Array[Long](windows)
    val cnts = new Array[Long](windows)
    var nx = 0L
    for (i <- 0 until n) {
      val w = (i.toLong * windows / n).toInt
      sums(w) += sample(i); cnts(w) += 1
      if (i + 1 < n && (sample(i) >= 0) != (sample(i + 1) >= 0)) nx += 1
    }
    val exp = (sums.indices.map(i =>
      (sums(i).toDouble / (cnts(i) * 32768.0)).toFloat) :+
      (nx.toDouble / (n - 1)).toFloat).toSeq
    val media = Seq((11L, payload)).toDF("media_id", "payload")
    val got = Multimodal.audioEmbedding(media, windows).collect()
    assert(got.length == 1 && got(0).getLong(0) == 11L)
    assert(got(0).getSeq[Float](1) == exp)
    // the integer stats surface agrees with the same hand computation
    val stats = Multimodal.audioEmbeddingStats(media, windows).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
    sums.indices.foreach(i =>
      assert(stats(i) == ((sums(i), cnts(i))), s"window $i"))
    assert(stats(windows) == ((nx, n.toLong - 1)), "crossing dim")
    // an undecodable payload fails loudly with the offending id
    val bad = Seq((77L, Array[Byte](9, 9, 9))).toDF("media_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.audioEmbedding(bad, windows).collect()
    }
    assert(ex.getMessage.contains("77") ||
      ex.getCause.getMessage.contains("77"))
  }

  test("videoEmbedding: REAL GIF decode reproduces the closed-form " +
      "raster features exactly across frames") {
    val spark2 = spark
    import spark2.implicits._
    val (base, w, h, nf, grid) = (7L, 12, 9, 3, 4)
    val payload = Multimodal.syntheticGifNear(base, 0, w, h, nf)
    def px(f: Int, x: Int, y: Int): Int =
      ((base * 31 + f * 17 + x * 7 + y * 13 +
        (x * y * (1 + base % 5)) % 23) % 256).toInt
    val g2 = grid * grid
    val cs = new Array[Long](g2); val cc = new Array[Long](g2)
    val oc = new Array[Long](8)
    var (ts, tp, ot, md, mc) = (0L, 0L, 0L, 0L, 0L)
    for (f <- 0 until nf; y <- 0 until h; x <- 0 until w) {
      val v = px(f, x, y)
      val k = (y * grid / h) * grid + x * grid / w
      cs(k) += v; cc(k) += 1; ts += v; tp += 1
      if (x + 1 < w && y + 1 < h) {
        val dx = px(f, x + 1, y) - v; val dy = px(f, x, y + 1) - v
        if (dx != 0 || dy != 0) {
          val b =
            if (dx > 0 && dy >= 0) { if (dx > dy) 0 else 1 }
            else if (dx <= 0 && dy > 0) { if (dy > -dx) 2 else 3 }
            else if (dx < 0) { if (-dx > -dy) 4 else 5 }
            else { if (-dy > dx) 6 else 7 }
          oc(b) += 1; ot += 1
        }
      }
      if (f > 0) { md += math.abs(v - px(f - 1, x, y)); mc += 1 }
    }
    val cm = ts.toDouble / tp
    val exp = (cs.indices.map(i =>
      ((cs(i).toDouble / cc(i) - cm) / 255.0).toFloat) ++
      oc.indices.map(b => (oc(b).toDouble / ot).toFloat) :+
      (md.toDouble / (mc * 255.0)).toFloat).toSeq
    val media = Seq((5L, payload)).toDF("media_id", "payload")
    val got = Multimodal.videoEmbedding(media, grid).collect()
    assert(got.length == 1 && got(0).getLong(0) == 5L)
    assert(got(0).getSeq[Float](1) == exp)
    // the integer stats surface agrees with the same hand computation
    val stats = Multimodal.videoEmbeddingStats(media, grid).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
    cs.indices.foreach(i =>
      assert(stats(i) == ((cs(i), cc(i))), s"cell $i"))
    assert(stats(g2) == ((ts, tp)), "clip total")
    oc.indices.foreach(b =>
      assert(stats(g2 + 1 + b) == ((oc(b), ot)), s"octant $b"))
    assert(stats(g2 + 9) == ((md, mc)), "motion")
  }

  test("contentEmbedding routes each modality to its real decoder and " +
      "only unknown modalities to the documented stub") {
    val spark2 = spark
    import spark2.implicits._
    val img = Multimodal.syntheticPngNear(2L, 0, 12, 9)
    val wav = Multimodal.syntheticWavNear(3L, 0, 300, 8000)
    val gif = Multimodal.syntheticGifNear(4L, 0, 12, 9, 2)
    val mixed = Seq(
      (1L, "image", img), (2L, "audio", wav), (3L, "video", gif),
      (4L, "pointcloud", Array[Byte](1, 2, 3, 4))) // no JDK codec
      .toDF("media_id", "modality", "payload")
    val got = Multimodal.contentEmbedding(mixed).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Float](2)))
      .toMap
    // per-modality routes agree with the standalone extractors
    def solo(df: org.apache.spark.sql.DataFrame) =
      df.collect()(0).getSeq[Float](1)
    assert(got(1L)._2 == solo(Multimodal.imageEmbedding(
      Seq((1L, img)).toDF("media_id", "payload"))))
    assert(got(2L)._2 == solo(Multimodal.audioEmbedding(
      Seq((2L, wav)).toDF("media_id", "payload"))))
    assert(got(3L)._2 == solo(Multimodal.videoEmbedding(
      Seq((3L, gif)).toDF("media_id", "payload"))))
    // unknown modality falls back to the md5 stub at stubDim, labeled
    assert(got(4L)._1 == "pointcloud" && got(4L)._2.length == 16)
    assert(got(1L)._2.length == 24 && got(2L)._2.length == 17 &&
      got(3L)._2.length == 25)
  }
}
