package graft.functions

import graft.SparkSpec

/** Real-codec round trips: images are ENCODED with javax.imageio, then
  * DECODED with javax.imageio, and every decoded value is checked against
  * the fixture's closed form — dims, GIF frame counts, and exact
  * per-channel pixel sums (PNG is lossless, so the sums are bit-exact).
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private implicit val s: org.apache.spark.sql.SparkSession = spark

  private def ids(n: Int) = spark.range(1, n + 1).toDF("id")

  test("PNG round trip: full-pixel decode reproduces the checkerboard closed form") {
    val stats = Multimodal.extractImageStats(
      Multimodal.syntheticImages(ids(40), "id", "png", batchSize = 7), batchSize = 7)
      .collect().sortBy(_.id)
    assert(stats.length == 40)
    stats.foreach { st =>
      val id = st.id
      val (w, h) = (Multimodal.dimW(id), Multimodal.dimH(id))
      assert((st.width, st.height, st.channels) == (w, h, 3), s"dims for id=$id")
      val n0 = (w.toLong * h + (w % 2) * (h % 2)) / 2
      val n1 = w.toLong * h - n0
      val (ar, ag, ab) = Multimodal.colorA(id)
      val (br, bg, bb) = Multimodal.colorB(id)
      assert((st.sum_r, st.sum_g, st.sum_b) ==
        (ar * n0 + br * n1, ag * n0 + bg * n1, ab * n0 + bb * n1), s"sums for id=$id")
    }
  }

  test("aHash: decoded perceptual hash matches an independent closed-form recomputation") {
    val hashes = Multimodal.aHash(
      Multimodal.syntheticImages(ids(30), "id", "png", batchSize = 7), batchSize = 7)
      .collect().sortBy(_.id)
    assert(hashes.length == 30)
    hashes.foreach { ah =>
      val id = ah.id
      val (w, h) = (Multimodal.dimW(id), Multimodal.dimH(id))
      assert((ah.width, ah.height) == (w, h), s"dims for id=$id")
      // recompute from the fixture closed form, not from the codec path
      val (ar, ag, ab) = Multimodal.colorA(id)
      val (br, bg, bb) = Multimodal.colorB(id)
      val (gA, gB) = ((ar + ag + ab) / 3, (br + bg + bb) / 3)
      val cs = new Array[Long](64); val cn = new Array[Long](64); var ts = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val g = if ((x + y) % 2 == 0) gA else gB
        val c = (y * 8 / h) * 8 + (x * 8 / w)
        cs(c) += g; cn(c) += 1; ts += g
      }
      var (hi, lo) = (0L, 0L)
      val nPix = w.toLong * h
      for (c <- 0 until 64 if cs(c) * nPix > ts * cn(c))
        if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
      assert((ah.h_hi, ah.h_lo) == (hi, lo), s"hash for id=$id")
    }
    // halves are 32-bit clean
    hashes.foreach(ah => assert(ah.h_hi >= 0 && ah.h_hi < (1L << 32) &&
      ah.h_lo >= 0 && ah.h_lo < (1L << 32)))
  }

  test("aHash: identical content hashes identically, different content differs somewhere") {
    // two ids with the same dims/colors can only arise from the same id —
    // so fabricate a literal duplicate: same bytes under two ids
    val one = Multimodal.syntheticImages(ids(1), "id", "png")
      .collect().head.getAs[Array[Byte]]("content")
    val dup = spark.createDataFrame(Seq((10L, one), (20L, one))).toDF("id", "content")
    val hs = Multimodal.aHash(dup).collect()
    assert(hs.map(a => (a.h_hi, a.h_lo)).distinct.length == 1)
    val many = Multimodal.aHash(
      Multimodal.syntheticImages(ids(40), "id", "png"))
      .collect().map(a => (a.h_hi, a.h_lo))
    assert(many.distinct.length > 1) // checkerboard family still separates
  }

  test("animated GIF round trip: the reader counts every written frame") {
    val meta = Multimodal.decodeImageMeta(
      Multimodal.syntheticImages(ids(30), "id", "gif", batchSize = 11), batchSize = 11)
      .collect().sortBy(_.id)
    assert(meta.length == 30)
    meta.foreach { m =>
      assert(m.format == "gif")
      assert(m.width == Multimodal.dimW(m.id) && m.height == Multimodal.dimH(m.id))
      assert(m.nFrames == Multimodal.nFramesOf(m.id), s"frames for id=${m.id}")
      assert(m.channels == 1) // GIF palette raster: one band
    }
    // multi-frame fixtures genuinely exist (nFrames spans 1..8)
    assert(meta.map(_.nFrames).distinct.size > 1)
  }

  test("GIF sampled-frame decode: every sampled frame matches the parity-shifted closed form") {
    val stats = Multimodal.extractFrameStats(
      Multimodal.syntheticImages(ids(30), "id", "gif", batchSize = 11),
      maxFrames = 4, batchSize = 11)
      .collect().sortBy(st => (st.id, st.frame_idx))
    val byId = stats.groupBy(_.id)
    assert(byId.keySet == (1L to 30L).toSet)
    byId.foreach { case (id, fs) =>
      val n = Multimodal.nFramesOf(id)
      val step = math.max(1L, math.ceil(n / 4.0).toLong)
      assert(fs.map(_.frame_idx).toSeq == (0L until n.toLong by step).toSeq,
        s"sampled indices for id=$id nFrames=$n")
      val (w, h) = (Multimodal.dimW(id), Multimodal.dimH(id))
      val ne = (w.toLong * h + (w % 2) * (h % 2)) / 2
      val no = w.toLong * h - ne
      val (ar, ag, ab) = Multimodal.colorA(id)
      val (br, bg, bb) = Multimodal.colorB(id)
      fs.foreach { st =>
        assert((st.width, st.height) == (w, h), s"dims id=$id f=${st.frame_idx}")
        // frame f shifts the checkerboard parity: colorA covers the
        // (x+y+f)-even cells — ne of them when f is even, no when odd
        val (n0, n1) = if (st.frame_idx % 2 == 0) (ne, no) else (no, ne)
        assert((st.sum_r, st.sum_g, st.sum_b) ==
          (ar * n0 + br * n1, ag * n0 + bg * n1, ab * n0 + bb * n1),
          s"sums id=$id f=${st.frame_idx}")
      }
    }
  }

  test("unreadable payloads are dropped, valid ones survive (lossy-decode contract)") {
    val junk = Seq((900L, Array[Byte](1, 2, 3)), (901L, Array.emptyByteArray))
      .toDF("id", "content")
    val mixed = Multimodal.syntheticImages(ids(5), "id", "png").unionByName(junk)
    assert(Multimodal.decodeImageMeta(mixed).collect().map(_.id).sorted.toSeq ==
      (1L to 5L).toSeq)
    assert(Multimodal.extractImageStats(mixed).collect().map(_.id).sorted.toSeq ==
      (1L to 5L).toSeq)
  }

  test("resizedDims clamps the long edge, preserves aspect, never upscales") {
    val df = Seq((2048, 1024), (100, 50), (512, 512)).toDF("w", "h")
    val got = df.select(Multimodal.resizedDims($"w", $"h", 512).as("r"))
      .select($"r.width", $"r.height").as[(Int, Int)].collect().toSeq
    assert(got == Seq((512, 256), (100, 50), (512, 512)))
  }

  test("frameSampleIndices bounds the sample count and covers the range") {
    val df = Seq(300, 5, 16).toDF("nFrames")
    val got = df.select(Multimodal.frameSampleIndices($"nFrames", 16).as("idx"))
      .as[Seq[Long]].collect()
    assert(got(0).size <= 16 && got(0).head == 0L && got(0).last < 300)
    assert(got(1) == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("WAV round trip: encode through javax.sound, decode recovers the exact PCM stream") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val ids = Seq(0L, 1L, 7L, 123L).toDF("doc_id")
    val wav = Multimodal.syntheticAudio(ids, "doc_id")
    // container sanity: RIFF/WAVE magic on real bytes
    val bytes = wav.filter($"id" === 7L).select($"content").as[Array[Byte]].head()
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    // a stereo WAV is REJECTED (skipped row), not silently aggregated
    // across interleaved channels
    val stereoFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val stereoPcm = new Array[Byte](400)
    val stereoAis = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(stereoPcm), stereoFmt, 100)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stereoAis,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val stereoDf = Seq((999L, bos.toByteArray)).toDF("id", "content")
    assert(Multimodal.extractAudioFeatures(stereoDf).count() == 0,
      "multi-channel WAV must be skipped")
    val got = Multimodal.extractAudioFeatures(wav).collect()
      .map(f => f.id -> f).toMap
    Seq(0L, 1L, 7L, 123L).foreach { id =>
      val n = Multimodal.nSamplesOf(id)
      val samples = (0 until n).map(i => Multimodal.sampleAt(id, i.toLong).toLong)
      val f = got(id)
      assert(f.n_samples == n && f.sample_rate == Multimodal.sampleRateOf(id)
        && f.channels == 1)
      assert(f.sum_samples == samples.sum)
      assert(f.sum_abs == samples.map(math.abs).sum)
      assert(f.peak_abs == samples.map(math.abs).max)
    }
  }

  test("non-audio payloads drop under the lossy-decode contract") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val junk = Seq((1L, "not audio".getBytes), (2L, Array.empty[Byte]))
      .toDF("id", "content")
    assert(Multimodal.extractAudioFeatures(junk).count() == 0)
  }
}
