package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal plumbing (SURVEY.md §7.5 — decode STUBBED, plumbing real). */
class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("fromText builds binary payloads with correct byte length and sha256") {
    val df = Seq((1L, "hello"), (2L, "héllo")).toDF("doc_id", "text")
    val out = Multimodal.fromText(df, "doc_id", "text")
    val r = out.filter($"asset_id" === 1L)
      .select($"meta.n_bytes", $"meta.digest", $"payload").collect().head
    assert(r.getLong(0) == 5L)
    assert(r.getString(1) == "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824")
    assert(new String(r.getAs[Array[Byte]](2), "UTF-8") == "hello")
    // multi-byte char: é is 2 bytes in UTF-8
    val r2 = out.filter($"asset_id" === 2L).select($"meta.n_bytes").collect().head
    assert(r2.getLong(0) == 6L)
  }

  test("stubDecode is deterministic and emits positive dimensions") {
    val df = Seq((1L, "abc"), (2L, "abc")).toDF("doc_id", "text")
    val out = Multimodal.fromText(df, "doc_id", "text")
      .select($"decoded.width".as("w"), $"decoded.height".as("h")).collect()
    assert(out(0) == out(1))
    assert(out.forall(r => r.getInt(0) > 0 && r.getInt(1) > 0))
  }

  test("decodePartitioned: per-partition codec path decodes every asset deterministically") {
    val df = Seq((1L, "hello"), (2L, "world"), (3L, "")).toDF("doc_id", "text")
    val assets = Multimodal.fromText(df, "doc_id", "text")
    val out1 = Multimodal.decodePartitioned(assets).collect().sortBy(_.asset_id)
    val out2 = Multimodal.decodePartitioned(assets).collect().sortBy(_.asset_id)
    assert(out1.toSeq == out2.toSeq) // deterministic across runs
    assert(out1.map(_.asset_id).toSeq == Seq(1L, 2L, 3L))
    assert(out1(0).n_bytes == 5L && out1(0).width > 0 && out1(0).height > 0)
    assert(out1(2).n_bytes == 0L && out1(2).width == 0) // empty payload
  }

  test("resized preserves aspect ratio and never upscales") {
    val decoded = Seq((1L, 1024, 512), (2L, 100, 50)).toDF("asset_id", "width", "height")
    val out = Multimodal.resized(decoded, maxSide = 256).collect()
      .map(r => r.getAs[Long]("asset_id") -> (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))).toMap
    assert(out(1L) == (256, 128)) // scaled down, ratio kept
    assert(out(2L) == (100, 50))  // already small: untouched
  }

  test("sampleFrames emits every-nth frame byte ranges, none for short payloads") {
    val df = Seq((1L, "x" * 200), (2L, "tiny")).toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(Multimodal.fromText(df, "doc_id", "text"),
      frameBytes = 64, everyNth = 2)
    // 200 bytes → 3 frames (0,1,2) → sampled frames 0 and 2
    val a1 = out.filter($"asset_id" === 1L).collect()
      .map(r => (r.getAs[Int]("frame_idx"), r.getAs[Int]("byte_start"))).sorted
    assert(a1.toSeq == Seq((0, 0), (2, 128)))
    assert(out.filter($"asset_id" === 2L).count() == 0) // 4 bytes < one frame
  }

  test("asset schema matches the declared contract") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val out = Multimodal.fromText(df, "doc_id", "text").drop("decoded")
    assert(out.schema.fieldNames.toSeq == Multimodal.assetSchema.fieldNames.toSeq)
  }

  test("real codec round-trip: synthesized PNG and BMP decode to the id-derived dims and pixel sum") {
    val ids = Seq(0L, 1L, 2L, 13L, 24L, 143L) // even→png, odd→bmp; 143 hits w=1
    val assets = Multimodal.synthImages(ids.toDF("doc_id"), "doc_id")
    // the payloads are genuine codec output, not hand-rolled headers
    val magics = assets.collect().map { r =>
      val p = r.getAs[Array[Byte]]("payload")
      (r.getAs[Long]("asset_id"), (p(0) & 0xff, p(1) & 0xff))
    }.toMap
    ids.foreach { id =>
      val expect = if (id % 2 == 0) (0x89, 'P'.toInt) else ('B'.toInt, 'M'.toInt)
      assert(magics(id) == expect, s"id $id wrong magic: ${magics(id)}")
    }
    val out = Multimodal.decodeImages(assets).collect()
      .map(d => d.asset_id -> d).toMap
    ids.foreach { id =>
      val w = (1 + id % 13).toInt
      val h = (1 + id % 11).toInt
      val sum = (for (x <- 0 until w; y <- 0 until h) yield (id * 31 + 7L * x + 13L * y) % 256).sum
      assert(out(id).width == w && out(id).height == h, s"id $id dims ${out(id)}")
      assert(out(id).pix_sum == sum, s"id $id pix_sum ${out(id).pix_sum} != $sum")
    }
  }

  test("resizeImages resamples nearest-neighbor with the integer-exact contract") {
    // id=12: w=13, h=2 (even → png). maxSide=8: tw = max(1, 13*8/13) = 8,
    // th = max(1, 2*8/13) = 1
    val assets = Multimodal.synthImages(Seq(12L).toDF("doc_id"), "doc_id")
    val out = Multimodal.decodeImages(Multimodal.resizeImages(assets, maxSide = 8)).collect().head
    assert(out.width == 8 && out.height == 1)
    // expected: target (x, 0) samples source (x*13/8, 0*2/1)
    val expected = (0 until 8).map { x =>
      val sx = x * 13 / 8
      (12L * 31 + 7L * sx + 13L * 0) % 256
    }.sum
    assert(out.pix_sum == expected, s"pix_sum ${out.pix_sum} != $expected")
    // identity when both sides already fit
    val small = Multimodal.synthImages(Seq(2L).toDF("doc_id"), "doc_id") // 3x3
    val kept = Multimodal.decodeImages(Multimodal.resizeImages(small, maxSide = 8)).collect().head
    val orig = Multimodal.decodeImages(small).collect().head
    assert((kept.width, kept.height, kept.pix_sum) == ((orig.width, orig.height, orig.pix_sum)))
  }

  test("synthJpegImages: constant-gray JPEG at quality 1.0 round-trips exactly") {
    val ids = Seq(0L, 1L, 7L, 12L, 25L, 142L, 143L)
    val assets = Multimodal.synthJpegImages(ids.toDF("doc_id"), "doc_id")
    // genuine JFIF bytes on the wire
    val magics = assets.collect().map { r =>
      val p = r.getAs[Array[Byte]]("payload")
      (r.getAs[Long]("asset_id"), (p(0) & 0xff, p(1) & 0xff))
    }.toMap
    ids.foreach(id => assert(magics(id) == ((0xff, 0xd8)), s"id $id wrong magic"))
    val out = Multimodal.decodeImages(assets).collect().map(d => d.asset_id -> d).toMap
    ids.foreach { id =>
      val w = (1 + id % 13).toInt
      val h = (1 + id % 11).toInt
      val v = ((id * 31) % 256).toInt
      assert(out(id).width == w && out(id).height == h, s"id $id dims")
      assert(out(id).pix_sum == w.toLong * h * v, s"id $id pix_sum ${out(id).pix_sum}")
    }
  }

  test("synthGifAnimations + decodeFrames: multi-frame GIF round-trips exactly") {
    val ids = Seq(0L, 1L, 2L, 3L, 7L, 15L, 142L)
    val assets = Multimodal.synthGifAnimations(ids.toDF("doc_id"), "doc_id")
    val magics = assets.collect().map { r =>
      val p = r.getAs[Array[Byte]]("payload")
      (r.getAs[Long]("asset_id"), new String(p.take(3), "US-ASCII"))
    }.toMap
    ids.foreach(id => assert(magics(id) == "GIF", s"id $id wrong magic"))
    val out = Multimodal.decodeFrames(assets, everyNth = 2).collect()
      .groupBy(_.asset_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    ids.foreach { id =>
      val w = (1 + id % 13).toInt
      val h = (5 + id % 11).toInt
      val nf = (1 + id % 4).toInt
      val frames = out(id)
      assert(frames.map(_.frame_idx).toSeq == (0 until nf by 2).toSeq, s"id $id frames")
      frames.foreach { fr =>
        assert(fr.n_frames == nf && fr.width == w && fr.height == h, s"id $id dims")
        val want = (for (x <- 0 until w; y <- 0 until h)
          yield (id * 31 + fr.frame_idx * 17 + 7L * x + 13L * y) % 256).sum
        assert(fr.pix_sum == want, s"id $id f=${fr.frame_idx} sum ${fr.pix_sum} != $want")
      }
    }
  }

  test("synthMjpegVideos + demuxVideoFrames: MJPEG/AVI round-trips exactly") {
    val ids = Seq(0L, 1L, 2L, 5L, 14L, 142L)
    val assets = Multimodal.synthMjpegVideos(ids.toDF("doc_id"), "doc_id")
    // genuine RIFF/AVI bytes on the wire
    val magics = assets.collect().map { r =>
      val p = r.getAs[Array[Byte]]("payload")
      (r.getAs[Long]("asset_id"),
        (new String(p.take(4), "US-ASCII"), new String(p.slice(8, 12), "US-ASCII")))
    }.toMap
    ids.foreach(id => assert(magics(id) == (("RIFF", "AVI ")), s"id $id wrong container magic"))
    val out = Multimodal.demuxVideoFrames(assets, everyNth = 2).collect()
      .groupBy(_.asset_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    ids.foreach { id =>
      val w = (1 + id % 13).toInt
      val h = (1 + id % 11).toInt
      val nf = (1 + id % 3).toInt
      val frames = out(id)
      assert(frames.map(_.frame_idx).toSeq == (0 until nf by 2).toSeq, s"id $id frames")
      frames.foreach { fr =>
        val v = ((id * 31 + fr.frame_idx * 17) % 256).toInt
        assert(fr.n_frames == nf && fr.width == w && fr.height == h, s"id $id dims $fr")
        assert(fr.pix_sum == w.toLong * h * v, s"id $id f=${fr.frame_idx} sum ${fr.pix_sum}")
      }
    }
  }

  test("demuxVideoFrames rejects non-AVI payloads and frame-count mismatches") {
    val notAvi = Multimodal.synthWavAudio(Seq(1L).toDF("doc_id"), "doc_id")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.demuxVideoFrames(notAvi, 1).collect()
    }
    assert(e.getMessage.contains("RIFF/AVI") || e.getCause.getMessage.contains("RIFF/AVI"))
  }

  test("demuxVideoFrames fails loudly on truncated containers instead of decoding garbage") {
    val good = Multimodal.synthMjpegVideos(Seq(5L).toDF("doc_id"), "doc_id")
      .collect().head.getAs[Array[Byte]]("payload")
    // cut mid-movi: the frame chunk sizes now overrun the payload
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - good.length / 4)
    val df = Seq((5L, "video/x-msvideo", truncated)).toDF("asset_id", "media_type", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.demuxVideoFrames(df, 1).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("corrupt chunk") || msg.contains("declares"), msg)
  }

  test("image decode fails loudly on truncated payloads") {
    def truncated(synth: (DataFrame, String) => DataFrame, mt: String): DataFrame = {
      val good = synth(Seq(4L).toDF("doc_id"), "doc_id")
        .collect().head.getAs[Array[Byte]]("payload")
      val cut = java.util.Arrays.copyOfRange(good, 0, 8) // magic survives, body gone
      Seq((4L, mt, cut)).toDF("asset_id", "media_type", "payload")
    }
    val png = truncated(Multimodal.synthImages, "image/png")
    val gif = truncated(Multimodal.synthGifAnimations, "image/gif")
    val avi = truncated(Multimodal.synthMjpegVideos, "video/x-msvideo")
    val ops: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("decodePartitioned", png, d => Multimodal.decodePartitioned(d).toDF()),
      ("decodeImages", png, d => Multimodal.decodeImages(d).toDF()),
      ("imageSharpness", png, d => Multimodal.imageSharpness(d).toDF()),
      ("imageExposure", png, d => Multimodal.imageExposure(d).toDF()),
      ("imageHistogram", png, d => Multimodal.imageHistogram(d, 4).toDF()),
      ("resizeImages", png, d => Multimodal.resizeImages(d, 4)),
      ("dHashImages", png, d => Multimodal.dHashImages(d).toDF()),
      ("decodeFrames", gif, d => Multimodal.decodeFrames(d, 1).toDF()),
      ("dHashFrames", gif, d => Multimodal.dHashFrames(d, 1).toDF()),
      ("demuxVideoFrames", avi, d => Multimodal.demuxVideoFrames(d, 1).toDF()))
    for ((name, df, op) <- ops)
      withClue(s"$name: ") {
        intercept[org.apache.spark.SparkException] {
          op(df).collect()
        }
      }
  }

  test("audio operators reject non-WAV, stereo and 8-bit payloads, naming the asset") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wav(bits: Int, channels: Int): Array[Byte] = {
      val fmt = new AudioFormat(8000f, bits, channels, true, false)
      val pcm = new Array[Byte](100 * fmt.getFrameSize)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 100L),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val png = Multimodal.synthImages(Seq(4L).toDF("doc_id"), "doc_id")
      .collect().head.getAs[Array[Byte]]("payload")
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "decodeAudio" -> (d => Multimodal.decodeAudio(d).toDF()),
      "audioSilence" -> (d => Multimodal.audioSilence(d, 100, 30000).toDF()),
      "audioFrameFeatures" -> (d => Multimodal.audioFrameFeatures(d).toDF()),
      "audioFingerprints" -> (d => Multimodal.audioFingerprints(d).toDF()))
    for ((id, payload) <- Seq(71L -> png, 72L -> wav(16, 2), 73L -> wav(8, 1)); (name, op) <- ops) {
      val df = Seq((id, "audio/wav", payload)).toDF("asset_id", "media_type", "payload")
      val e = intercept[org.apache.spark.SparkException](op(df).collect())
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains(s"asset $id:"), s"$name did not name asset $id: $msg")
    }
  }

  test("synthWavAudio + decodeAudio: WAV PCM-16 round-trips exactly") {
    val ids = Seq(0L, 1L, 2L, 99L, 100L, 399L)
    val assets = Multimodal.synthWavAudio(ids.toDF("doc_id"), "doc_id")
    // genuine RIFF bytes on the wire
    val magics = assets.collect().map { r =>
      val p = r.getAs[Array[Byte]]("payload")
      (r.getAs[Long]("asset_id"), new String(p.take(4), "US-ASCII"))
    }.toMap
    ids.foreach(id => assert(magics(id) == "RIFF", s"id $id wrong magic"))
    val out = Multimodal.decodeAudio(assets).collect().map(d => d.asset_id -> d).toMap
    ids.foreach { id =>
      val n = (100 + id % 200).toInt
      val rate = if (id % 2 == 0) 8000 else 16000
      val sum = (0 until n).map(i => (id * 31 + 7L * i) % 2003 - 1001).sum
      val d = out(id)
      assert(d.sample_rate == rate && d.channels == 1 && d.bits == 16, s"id $id format $d")
      assert(d.n_samples == n.toLong, s"id $id n_samples ${d.n_samples}")
      assert(d.amp_sum == sum, s"id $id amp_sum ${d.amp_sum} != $sum")
    }
  }

  test("audioFrameFeatures: frame energy and zero-crossings match the synth formula exactly") {
    val ids = Seq(0L, 1L, 7L, 100L, 399L)
    val assets = Multimodal.synthWavAudio(ids.toDF("doc_id"), "doc_id")
    val out = Multimodal
      .audioFrameFeatures(assets, frameLen = 50)
      .collect()
      .map(f => (f.asset_id, f.frame_idx) -> f)
      .toMap
    ids.foreach { id =>
      val n = (100 + id % 200).toInt
      val samples = (0 until n).map(i => ((id * 31 + 7L * i) % 2003 - 1001).toInt)
      val nFrames = (n + 49) / 50
      assert(out.keys.count(_._1 == id) == nFrames, s"id $id frame count")
      (0 until nFrames).foreach { f =>
        val frame = samples.slice(f * 50, math.min(f * 50 + 50, n))
        val energy = frame.map(s => s.toLong * s).sum
        val zc = frame.sliding(2).count { case Seq(a, b) => a * b < 0; case _ => false }
        val got = out((id, f))
        assert(got.n_samples == frame.length.toLong, s"id $id frame $f n")
        assert(got.energy == energy, s"id $id frame $f energy ${got.energy} != $energy")
        assert(got.zero_crossings == zc.toLong, s"id $id frame $f zc ${got.zero_crossings} != $zc")
      }
    }
    // partial last frame: n=100+199%200=299 → 6 frames, last holds 49 samples
    assert(out((399L, 5)).n_samples == 49L)
  }

  test("audioFrameFeatures plan has no exchange before the decode") {
    val assets = Multimodal.synthWavAudio(Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val plan =
      Multimodal.audioFrameFeatures(assets, 50).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in audio-feature plan:\n$plan")
  }

  test("decodeImages and decodeFrames plans have no exchange before the decode") {
    val assets = Multimodal.synthImages(Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val plan = Multimodal.decodeImages(assets).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in decode plan:\n$plan")
    val gifs = Multimodal.synthGifAnimations(Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val fplan = Multimodal.decodeFrames(gifs, 2).queryExecution.executedPlan.toString
    assert(!fplan.contains("Exchange"), s"unexpected shuffle in frame-decode plan:\n$fplan")
  }

  test("dHashImages: hash replays the id-derived pixel formula on the 9x7 grid") {
    val ids = Seq(0L, 1L, 7L, 42L, 143L)
    val out = Multimodal
      .dHashImages(Multimodal.synthImages(ids.toDF("doc_id"), "doc_id"))
      .collect()
      .map(r => r.asset_id -> r)
      .toMap
    ids.foreach { id =>
      val w = (1 + id % 13).toInt
      val h = (1 + id % 11).toInt
      var expected = 0L
      for (y <- 0 until 7; x <- 0 until 8) {
        def px(gx: Int) = (id * 31 + 7L * (gx * w / 9) + 13L * (y * h / 7)) % 256
        if (px(x + 1) > px(x)) expected |= 1L << (y * 8 + x)
      }
      assert(out(id).width == w && out(id).height == h)
      assert(out(id).dhash == expected, s"id $id: ${out(id).dhash} != $expected")
      assert(out(id).dhash >= 0L, "56-bit hash must never touch the sign bit")
    }
    // ids 143 apart share (w, h) geometry but differ in gray offset — the
    // hashes must still be close (same gradient structure)
    val d = java.lang.Long.bitCount(out(0L).dhash ^ out(143L).dhash)
    assert(d <= 16, s"structurally similar images should be near in Hamming space, got $d")
  }

  test("dhashNearDupPairs: banded LSH finds EVERY pair within Hamming 3 (pigeonhole floor)") {
    val ids = (0L until 200L).toDF("doc_id")
    val hashes = Multimodal.dHashImages(Multimodal.synthImages(ids, "doc_id")).toDF().cache()
    val found = Multimodal
      .dhashNearDupPairs(hashes, maxHamming = 3)
      .select("id_lo", "id_hi")
      .as[(Long, Long)]
      .collect()
      .toSet
    // brute-force ground truth
    val hs = hashes.select($"asset_id", $"dhash").as[(Long, Long)].collect()
    val truth = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "fixture must contain at least one near-dup pair")
    assert(truth.subsetOf(found), s"missed ${(truth -- found).size} pairs within Hamming 3")
    // and nothing above the threshold sneaks in
    assert(found.subsetOf(truth), s"${(found -- truth).size} pairs exceed the threshold")
  }

  test("audioFingerprints: envelope bits replay the id-derived PCM formula") {
    val ids = Seq(0L, 3L, 42L, 199L)
    val out = Multimodal
      .audioFingerprints(Multimodal.synthWavAudio(ids.toDF("doc_id"), "doc_id"))
      .collect()
      .map(r => r.asset_id -> r)
      .toMap
    ids.foreach { id =>
      val n = (100 + id % 200).toInt
      def sample(i: Int): Long = (id * 31 + 7L * i) % 2003 - 1001
      val energy = (0 until 57).map { f =>
        (f * n / 57 until (f + 1) * n / 57).map(i => sample(i) * sample(i)).sum
      }
      var expected = 0L
      for (f <- 0 until 56) if (energy(f + 1) > energy(f)) expected |= 1L << f
      assert(out(id).n_samples == n.toLong)
      assert(out(id).fingerprint == expected, s"id $id: ${out(id).fingerprint} != $expected")
      assert(out(id).fingerprint >= 0L, "56-bit fingerprint must never touch the sign bit")
    }
  }

  test("sceneCuts: the mod-wrap transition flags, the small step doesn't, single frames emit nothing") {
    // id=8 (3 frames): v = 248 → 9 → 26, so f=1 is a wrap cut (|Δ|=239)
    // and f=2 a plain step (17); id=1 (2 frames): 31 → 48, no cut;
    // id=0 has one frame — no transition, no row
    val assets = Multimodal.synthMjpegVideos(Seq(0L, 1L, 8L).toDF("doc_id"), "doc_id")
    val out = Multimodal.sceneCuts(assets, thresholdPerPixel = 100)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out.keySet == Set((1L, 1), (8L, 1), (8L, 2)), s"transition rows: $out")
    val area8 = (1 + 8 % 13).toLong * (1 + 8 % 11)
    assert(out((8L, 1)) == ((239L * area8, true)), s"wrap cut: $out")
    assert(out((8L, 2)) == ((17L * area8, false)), s"plain step: $out")
    assert(!out((1L, 1))._2, s"small step must not cut: $out")
  }

  test("imageSharpness: constant images score 0, gradients positive, sub-3x3 reports NULL") {
    val ids = Seq(0L, 2L, 24L, 50L).toDF("doc_id") // dims (1,1), (3,3), (12,3), (12,7)
    // constant-gray JPEG fixtures decode to flat images → Laplacian 0
    val flat = Multimodal.imageSharpness(Multimodal.synthJpegImages(ids, "doc_id"))
      .collect().map(r => r.asset_id -> r).toMap
    for ((id, r) <- flat if r.n_interior > 0)
      assert(r.lap_sq_sum == 0L && r.lap_mean.contains(0.0), s"flat image $id must score 0: $r")
    // the id-derived images are LINEAR ramps mod 256: the Laplacian is 0
    // wherever no wrap crosses the 5-point stencil (ids 2, 50 — a smooth
    // gradient IS blur-flat, exactly what the detector should say) and
    // positive where the wrap's hard edge passes the interior (id 24:
    // base 232 + 7x wraps within the 12-wide row)
    val grad = Multimodal.imageSharpness(Multimodal.synthImages(ids, "doc_id"))
      .collect().map(r => r.asset_id -> r).toMap
    assert(grad(0L).n_interior == 0L && grad(0L).lap_mean.isEmpty, "1x1 must report NULL")
    for (id <- Seq(2L, 24L, 50L)) {
      val r = grad(id)
      assert(r.n_interior == (r.width - 2).toLong * (r.height - 2), s"interior count: $r")
    }
    assert(grad(2L).lap_sq_sum == 0L && grad(50L).lap_sq_sum == 0L,
      s"pure ramps have zero Laplacian: ${grad(2L)}, ${grad(50L)}")
    assert(grad(24L).lap_sq_sum > 0L && grad(24L).lap_mean.exists(_ > 0.0),
      s"the mod-wrap edge must score sharp: ${grad(24L)}")
  }

  test("imageExposure: flat JPEGs score zero contrast, rails count exactly, 1x1 is sane") {
    // constant-gray JPEG fixtures: v = id*31 % 256 — mean == v, RMS 0,
    // and every pixel sits on a rail iff v does
    val ids = Seq(0L, 2L, 50L).toDF("doc_id") // v = 0, 62, 14; dims (1,1), (3,3), (12,7)
    val flat = Multimodal.imageExposure(Multimodal.synthJpegImages(ids, "doc_id"))
      .collect().map(r => r.asset_id -> r).toMap
    for ((id, r) <- flat) {
      val v = (id * 31 % 256).toDouble
      assert(r.n_px == r.width.toLong * r.height && r.mean_luma == v && r.rms_contrast == 0.0,
        s"flat image $id: $r")
    }
    assert(flat(0L).n_clip_lo == 1L && flat(0L).n_clip_hi == 0L, s"v=0 rails: ${flat(0L)}")
    assert(flat(2L).n_clip_lo == 0L && flat(2L).n_clip_hi == 0L, s"v=62 rails: ${flat(2L)}")
    // a two-valued PNG via the ramp formula: id 1 → 1x2, pixels
    // (31+0, 31+13) = (31, 44): mean 37.5, RMS = half the gap = 6.5
    val two = Multimodal.imageExposure(Multimodal.synthImages(Seq(1L).toDF("doc_id"), "doc_id"))
      .collect().head
    assert(two.width == 2 && two.height == 2 || two.n_px == two.width.toLong * two.height)
    val expMean = (0 until two.width).flatMap(x => (0 until two.height).map(y =>
      (1L * 31 + 7 * x + 13 * y) % 256)).sum.toDouble / two.n_px
    assert(math.abs(two.mean_luma - expMean) < 1e-6, s"ramp mean: $two vs $expMean")
  }

  test("imageHistogram: constant image fills one bin exactly, empty bins absent") {
    // id 2 → 3×3 constant gray v = 62 → bin 62/32 = 1 holds all 9 pixels
    val out = Multimodal
      .imageHistogram(Multimodal.synthJpegImages(Seq(2L).toDF("doc_id"), "doc_id"), bins = 8)
      .collect().map(r => (r.bin, r.cnt)).toSeq
    assert(out == Seq((1, 9L)), s"got $out")
  }

  test("audioSilence: threshold boundaries are strict, runs count consecutively, ppm exact") {
    // hand-built WAV: samples 0, 99, 100, -99, -100, 50, 1000, -1001, 0
    //   silence (|s| < 100): 0, 99, -99, 50, 0 → 5 of 9 → ppm 555555
    //   runs: [0,99] then [-99], [50] … max run = 2 (indices 0-1 and 3? no:
    //   idx 0,1 silent; idx 2 loud; idx 3,4 = -99 silent, -100 loud; 5
    //   silent; 6,7 loud; 8 silent → runs 2,1,1,1 → max 2)
    //   clipped (|s| >= 1000): 1000, -1001 → 2
    val samples = Seq(0, 99, 100, -99, -100, 50, 1000, -1001, 0)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val wav = Multimodal.AudioCodec.encodeWav(pcm, samples.length, 8000)
    val df = Seq((7L, "audio/wav", wav)).toDF("asset_id", "media_type", "payload")
    val out = Multimodal.audioSilence(df, silenceThreshold = 100, clipThreshold = 1000)
      .collect().head
    assert(out.n_samples == 9L && out.n_silent == 5L, s"silent count: $out")
    assert(out.silent_ppm == 5L * 1000000L / 9L, s"exact ppm: $out")
    assert(out.max_silent_run == 2L, s"max run: $out")
    assert(out.n_clipped == 2L, s"clip count (|s|>=1000 strict): $out")
  }

  test("decodePartitioned takes the real branch for image payloads and the byte-dims fallback otherwise") {
    val img = Multimodal.synthImages(Seq(4L).toDF("doc_id"), "doc_id")
    val real = Multimodal.decodePartitioned(img).collect().head
    assert(real.width == (1 + 4 % 13) && real.height == (1 + 4 % 11))
    // non-image media type: byte-derived dims, never the image parser
    val txt = Multimodal.fromText(Seq((9L, "hello")).toDF("doc_id", "text"), "doc_id", "text")
    val fake = Multimodal.decodePartitioned(txt).collect().head
    assert(fake.width % 64 == 0 && fake.height % 64 == 0)
  }

  private def imgHashes = Multimodal
    .dHashImages(Multimodal.synthImages(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id"))
    .toDF()

  test("probeImageIndex equals the cross-side restriction of the self-join pairs") {
    val hashes = imgHashes
    val corpus = hashes.filter(col("asset_id") % 5 =!= 0)
    val incoming = hashes.filter(col("asset_id") % 5 === 0)
    val tbl = s"imgspec_idx_${System.nanoTime()}"
    // explicit uncapped posture: this test pins probe ≡ self-join pair
    // equality, which only holds census-free (the capped DEFAULT's
    // quarantine semantics are pinned separately below and in the
    // cap-scope / capped_ppm tests)
    Multimodal.persistImageIndex(corpus, "asset_id", "dhash", tbl, buckets = 4, maxBucket = 0)
    val probed = Multimodal
      .probeImageIndex(spark, tbl, incoming, "asset_id", "dhash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // the self-join pairs restricted to (incoming, corpus) sides, with the
    // probe's (new, corpus) orientation
    val expected = Multimodal.dhashNearDupPairs(hashes, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMap { case (lo, hi, d) => Seq((lo, hi, d), (hi, lo, d)) }
      .filter { case (n, c, _) => n % 5 == 0 && c % 5 != 0 }
      .sorted.toSeq
    assert(probed.nonEmpty, "fixture too weak — no cross-side image pair")
    assert(probed == expected, s"probe/self-join divergence:\n$probed\nvs\n$expected")
  }

  test("image index lifecycle: delete, re-append, compact all keep the probe contract") {
    val hashes = imgHashes
    val corpus = hashes.filter(col("asset_id") % 5 =!= 0)
    val incoming = hashes.filter(col("asset_id") % 5 === 0)
    def probe(tbl: String) = Multimodal
      .probeImageIndex(spark, tbl, incoming, "asset_id", "dhash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // truth A: rebuild without the %3 takedown stratum
    val truthDel = s"imgspec_tdel_${System.nanoTime()}"
    Multimodal.persistImageIndex(
      corpus.filter(col("asset_id") % 3 =!= 0), "asset_id", "dhash", truthDel, buckets = 4,
      maxBucket = 0)
    // truth B: rebuild with the stratum's re-appended even half
    val truthReapp = s"imgspec_treapp_${System.nanoTime()}"
    Multimodal.persistImageIndex(
      corpus.filter(col("asset_id") % 3 =!= 0 || col("asset_id") % 2 === 0),
      "asset_id", "dhash", truthReapp, buckets = 4, maxBucket = 0)
    // lifecycle: build era 0 + era 1, delete, probe, re-append, compact
    val tbl = s"imgspec_mnt_${System.nanoTime()}"
    // uncapped: delete ≡ rebuild-without-deleted only holds census-free
    Multimodal.persistImageIndex(
      corpus.filter(col("asset_id") % 2 === 0).repartition(3), "asset_id", "dhash", tbl,
      buckets = 4, maxBucket = 0)
    Multimodal.appendImageIndex(
      corpus.filter(col("asset_id") % 2 === 1).repartition(3), "asset_id", "dhash", tbl, buckets = 4)
    Multimodal.deleteFromImageIndex(
      spark, tbl, hashes.filter(col("asset_id") % 3 === 0).select(col("asset_id")), col("asset_id"))
    assert(probe(tbl) == probe(truthDel),
      "delete-then-probe must equal rebuild-without-deleted")
    Multimodal.appendImageIndex(
      corpus.filter(col("asset_id") % 3 === 0 && col("asset_id") % 2 === 0),
      "asset_id", "dhash", tbl, buckets = 4)
    assert(probe(tbl) == probe(truthReapp),
      "era tombstones must serve the re-appended images immediately")
    val pre = probe(tbl)
    val preFiles = graft.sources.Sources.tableFileCount(spark, tbl)
    assert(preFiles > 4, s"multi-era writes must leave multi-file buckets, got $preFiles")
    Multimodal.compactImageIndex(spark, tbl, buckets = 4, maxBucket = 0) // uncapped lifecycle
    assert(probe(tbl) == pre, "compaction changed probe results")
    assert(graft.sources.Sources.tableFileCount(spark, tbl) <= 4)
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)),
      "applied tombstones must be retired by compaction")
  }

  test("rebuildHammingIndex publishes a version: probe equals fresh full-corpus, tombstones clear") {
    val hashes = imgHashes
    val corpus = hashes.filter(col("asset_id") % 5 =!= 0)
    val incoming = hashes.filter(col("asset_id") % 5 === 0)
    def probe(tbl: String) = Multimodal
      .probeImageIndex(spark, tbl, incoming, "asset_id", "dhash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val fresh = s"imgspec_rb_truth_${System.nanoTime()}"
    // uncapped: rebuild ≡ fresh-full-corpus only holds census-free
    Multimodal.persistImageIndex(corpus, "asset_id", "dhash", fresh, buckets = 4, maxBucket = 0)
    val tbl = s"imgspec_rb_${System.nanoTime()}"
    Multimodal.persistImageIndex(
      corpus.filter(col("asset_id") % 2 === 0), "asset_id", "dhash", tbl, buckets = 4,
      maxBucket = 0)
    Multimodal.deleteFromImageIndex(
      spark, tbl, hashes.filter(col("asset_id") % 3 === 0).select(col("asset_id")), col("asset_id"))
    Multimodal.rebuildImageIndex(spark, tbl, corpus, "asset_id", "dhash", buckets = 4,
      maxBucket = 0)
    assert(probe(tbl) == probe(fresh),
      "rebuild-then-probe must equal a fresh full-corpus index")
    assert(spark.catalog.tableExists(s"${tbl}__v1"), "rebuild must publish __v1")
    // the pre-rebuild bare table stays ONE cycle as the reader grace set;
    // serving resolution must already point at the published version
    assert(Similarity.servingTable(spark, tbl) == s"${tbl}__v1")
    assert(!spark.catalog.tableExists(Similarity.tombTable(tbl)))
  }

  test("Hamming maxBucket quarantines the boilerplate bucket, corpus side only") {
    // 30 identical fingerprints — ONE hot (band, bv) bucket per band, the
    // dark-frame/test-card shape; cap 10 quarantines it at layout time
    val boiler = (1L to 30L).map(i => (i, 42L)).toDF("asset_id", "fp")
    val incoming = Seq((100L, 42L)).toDF("asset_id", "fp")
    val capped = s"hamspec_cap_${System.nanoTime()}"
    Multimodal.persistHammingIndex(boiler, "asset_id", "fp", capped, buckets = 4, maxBucket = 10)
    assert(
      Multimodal.probeHammingIndex(spark, capped, incoming, "asset_id", "fp", maxHamming = 8).count() == 0,
      "capped boilerplate bucket must not produce pairs")
    val uncapped = s"hamspec_nocap_${System.nanoTime()}"
    Multimodal.persistHammingIndex(boiler, "asset_id", "fp", uncapped, buckets = 4)
    assert(
      Multimodal.probeHammingIndex(spark, uncapped, incoming, "asset_id", "fp", maxHamming = 8).count() == 30,
      "uncapped probe pairs the dup with every corpus copy")
    // the self-join generator takes the same shared cap
    assert(Multimodal.hammingNearDupPairs(boiler, "fp", maxHamming = 8, maxBucket = 10).count() == 0)
    assert(Multimodal.hammingNearDupPairs(boiler, "fp", maxHamming = 8).count() == 30L * 29 / 2)
    // the quarantine census surfaces exactly what the cap dropped: one
    // 30-member bucket per band
    val over = Multimodal.oversizedHammingBuckets(boiler, "asset_id", "fp", maxBucket = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(over.map(_._1) == Seq(0, 1, 2, 3) && over.forall(_._3 == 30L), s"got $over")
    intercept[IllegalArgumentException](
      Multimodal.oversizedHammingBuckets(boiler, "asset_id", "fp", maxBucket = 0))
  }

  test("compactHammingIndex re-caps: regrown hot buckets quarantine without a rebuild") {
    // capped layout (cap 10 over 8 boilerplate members keeps them), then
    // appends regrow the bucket past the cap; compact-at-cap must equal a
    // fresh capped persist over the union — quarantining the regrown
    // bucket with no re-hash
    val fp0 = (1L to 8L).map(i => (i, 42L))
    val grown = (9L to 30L).map(i => (i, 42L))
    // the 56-bit complement of 42: hamming 56 from the boilerplate and no
    // shared band value, so it can only pair with itself
    val far = (1L << 56) - 1 - 42
    val distinctRow = Seq((99L, far))
    val incoming = Seq((100L, 42L), (101L, far)).toDF("asset_id", "fp")
    def probe(tbl: String) = Multimodal
      .probeHammingIndex(spark, tbl, incoming, "asset_id", "fp", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val tbl = s"hamspec_recap_${System.nanoTime()}"
    Multimodal.persistHammingIndex(
      (fp0 ++ distinctRow).toDF("asset_id", "fp"), "asset_id", "fp", tbl, buckets = 4,
      maxBucket = 10)
    Multimodal.appendHammingIndex(grown.toDF("asset_id", "fp"), "asset_id", "fp", tbl, buckets = 4)
    // regrown: the boilerplate bucket now exceeds the cap but still probes
    assert(probe(tbl).count(_._2 != 99L) == 30, "appends are not re-capped (by contract)")
    Multimodal.compactHammingIndex(spark, tbl, buckets = 4, maxBucket = 10)
    val truth = s"hamspec_recap_truth_${System.nanoTime()}"
    Multimodal.persistHammingIndex(
      (fp0 ++ grown ++ distinctRow).toDF("asset_id", "fp"), "asset_id", "fp", truth, buckets = 4,
      maxBucket = 10)
    assert(probe(tbl) == probe(truth),
      "compact-at-cap must equal a fresh capped persist over the same corpus")
    assert(probe(tbl) == Seq((101L, 99L)),
      "the regrown boilerplate bucket must quarantine; the small bucket must survive")
  }

  test("quarantine sweep: capped-probe ∪ completed sweep equals the uncapped probe, tick-bounded") {
    // two boilerplate clusters of DIFFERENT size (15× fp 42, 12× its
    // 56-bit complement) plus one small stored cluster (3× a fp with bv=1
    // in every band — no band value shared with either hot cluster, so
    // the expected pair sets stay cluster-pure); cap 10 quarantines both
    // hot clusters' buckets (4 band buckets each, the larger cluster
    // ranks first in every sweep order) and keeps the small one
    val far = (1L << 56) - 1 - 42
    val small = (1L << 42) | (1L << 28) | (1L << 14) | 1L
    val corpus = ((1L to 15L).map(i => (i, 42L)) ++ (21L to 32L).map(i => (i, far)) ++
      (41L to 43L).map(i => (i, small))).toDF("asset_id", "fp")
    val incoming = Seq((100L, 42L), (101L, far), (102L, small)).toDF("asset_id", "fp")
    val tbl = s"hamspec_sweep_${System.nanoTime()}"
    Multimodal.persistHammingIndex(corpus, "asset_id", "fp", tbl, buckets = 4, maxBucket = 10)
    Multimodal.quarantineHammingIndex(
      spark, tbl, corpus, "asset_id", "fp", buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 8L)),
      "two 4-band hot clusters quarantine eight buckets")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the sweep now writes its tick to a sink and commits the watermark
    // AFTER the write — each test tick reads its own sink back
    var tickNo = 0
    def sweepTick() = {
      tickNo += 1
      val sink = s"${tempDir("hamspec_sweep")}/t$tickNo"
      Multimodal.sweepHammingQuarantine(
        spark, tbl, incoming, "asset_id", "fp",
        maxHamming = 8, maxBucketsPerTick = 4, sink = sink)
      if (new java.io.File(sink).exists)
        pairsOf(spark.read.parquet(sink).select("new_id", "corpus_id"))
      else Seq.empty[(Long, Long)]
    }
    // capped probe sees only the small stored cluster
    val probed = pairsOf(
      Multimodal.probeHammingIndex(spark, tbl, incoming, "asset_id", "fp", maxHamming = 8))
    assert(probed == (41L to 43L).map((102L, _)), s"got $probed")
    // tick 1 sweeps the LARGER cluster's four buckets only (rank order is
    // membership DESC): pairs touch cluster A alone — the per-tick cost
    // bound is real, not cosmetic
    val t1 = sweepTick()
    assert(t1 == (1L to 15L).map((100L, _)), s"tick 1 must sweep only the 15-member cluster: $t1")
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((4L, 8L)))
    // tick 2 drains the rest; a third tick sweeps nothing and leaves the
    // watermark closed
    val t2 = sweepTick()
    assert(t2 == (21L to 32L).map((101L, _)), s"tick 2 must sweep the 12-member cluster: $t2")
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((8L, 8L)))
    assert(sweepTick().isEmpty, "a closed watermark sweeps nothing")
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((8L, 8L)))
    // the contract the whole mechanism exists for: capped-probe ∪ sweep
    // ≡ uncapped-probe
    val uncapped = s"hamspec_sweep_unc_${System.nanoTime()}"
    Multimodal.persistHammingIndex(corpus, "asset_id", "fp", uncapped, buckets = 4)
    val want = pairsOf(
      Multimodal.probeHammingIndex(spark, uncapped, incoming, "asset_id", "fp", maxHamming = 8))
    assert((probed ++ t1 ++ t2).sorted == want,
      "capped probe plus completed sweep must equal the uncapped probe")
    // a new pass re-opens the same quarantine for the next probe batch
    Multimodal.HammingLayout.resetSweep(spark, tbl)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 8L)))
  }

  test("quarantine sweep respects tombstones; compact capture keeps regrown drops sweepable") {
    // the small cluster's fp has bv=1 in every band: no band value shared
    // with the 42-cluster, so pair sets stay cluster-pure (see above)
    val small = (1L << 42) | (1L << 28) | (1L << 14) | 1L
    val corpus = ((1L to 12L).map(i => (i, 42L)) ++ Seq((41L, small), (42L, small)))
      .toDF("asset_id", "fp")
    val incoming = Seq((100L, 42L), (102L, small)).toDF("asset_id", "fp")
    val tbl = s"hamspec_sweeptomb_${System.nanoTime()}"
    Multimodal.persistHammingIndex(corpus, "asset_id", "fp", tbl, buckets = 4, maxBucket = 10)
    Multimodal.quarantineHammingIndex(
      spark, tbl, corpus, "asset_id", "fp", buckets = 4, maxBucket = 10)
    // a takedown of quarantined ids must hide them from the sweep exactly
    // as the serving scan hides stored rows
    Multimodal.deleteFromHammingIndex(
      spark, tbl, Seq(3L, 7L).toDF("id"), col("id"))
    def sweepAll() = {
      Multimodal.HammingLayout.resetSweep(spark, tbl)
      val (_, total) = BucketedIndex.quarantineWatermark(spark, tbl)
      val sink = tempDir("hamspec_sweeptomb") + "/all"
      (1L to (total + 3) / 4).foreach(_ => Multimodal.sweepHammingQuarantine(
        spark, tbl, incoming, "asset_id", "fp",
        maxHamming = 8, maxBucketsPerTick = 4, sink = sink))
      if (new java.io.File(sink).exists)
        spark.read.parquet(sink)
          .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id")))
          .distinct.sorted.toSeq
      else Seq.empty[(Long, Long)]
    }
    val afterDelete = sweepAll()
    assert(afterDelete == (1L to 12L).filterNot(Set(3L, 7L)).map((100L, _)),
      s"tombstoned quarantine members must not resurrect via the sweep: $afterDelete")
    // regrow the SMALL stored bucket past the cap, then compact-at-cap:
    // the newly dropped rows must land in the quarantine (not vanish),
    // and the watermark must reset for the new content
    Multimodal.appendHammingIndex(
      (51L to 62L).map(i => (i, small)).toDF("asset_id", "fp"), "asset_id", "fp", tbl, buckets = 4)
    Multimodal.compactHammingIndex(spark, tbl, buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl)._1 == 0L,
      "compact capture must reset the sweep watermark")
    assert(
      Multimodal.probeHammingIndex(spark, tbl, incoming, "asset_id", "fp", maxHamming = 8)
        .count() == 0, "the regrown bucket must be re-capped out of the serving path")
    val afterCompact = sweepAll()
    val wantSmall = ((41L to 42L) ++ (51L to 62L)).map((102L, _))
    assert(afterCompact == (afterDelete ++ wantSmall).sorted,
      s"compact-dropped rows must be sweepable: $afterCompact")
  }

  test("quarantine sweep tick commits AFTER the write: a failed tick re-covers its buckets") {
    import spark.implicits._
    val corpus = (1L to 12L).map(i => (i, 42L)).toDF("asset_id", "fp")
    val incoming = Seq((100L, 42L)).toDF("asset_id", "fp")
    val tbl = s"hamspec_sweepfail_${System.nanoTime()}"
    Multimodal.persistHammingIndex(corpus, "asset_id", "fp", tbl, buckets = 4, maxBucket = 10)
    Multimodal.quarantineHammingIndex(
      spark, tbl, corpus, "asset_id", "fp", buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 4L)))
    // a sink path that is an existing FILE: the tick dies mid-write, before
    // its pairs are durable
    val bad = tempDir("hamspec_sweepfail") + "/sink.notadir"
    java.nio.file.Files.createFile(java.nio.file.Paths.get(bad))
    intercept[Exception] {
      Multimodal.sweepHammingQuarantine(
        spark, tbl, incoming, "asset_id", "fp",
        maxHamming = 8, maxBucketsPerTick = 4, sink = bad)
    }
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 4L)),
      "a tick that died before its output was durable must NOT advance the watermark")
    // the retry covers the SAME bucket range and recovers every pair — the
    // at-least-once contract (the old advance-before-execute shape skipped
    // a failed tick's buckets forever)
    val good = tempDir("hamspec_sweepfail") + "/t1"
    Multimodal.sweepHammingQuarantine(
      spark, tbl, incoming, "asset_id", "fp",
      maxHamming = 8, maxBucketsPerTick = 4, sink = good)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((4L, 4L)))
    val got = spark.read.parquet(good)
      .select("corpus_id").as[Long].collect().sorted.toSeq
    assert(got == (1L to 12L), s"the retried tick must recover the full bucket range: $got")
  }

  test("dHashFrames: per-frame hash replays the GIF pixel formula on the shared 9x7 grid") {
    val ids = Seq(0L, 3L, 15L, 142L)
    val fh = Multimodal
      .dHashFrames(Multimodal.synthGifAnimations(ids.toDF("doc_id"), "doc_id"), everyNth = 1)
      .collect().map(f => (f.asset_id, f.frame_idx) -> f).toMap
    ids.foreach { id =>
      val w = (1 + id % 13).toInt
      val h = (5 + id % 11).toInt
      val nf = (1 + id % 4).toInt
      (0 until nf).foreach { f =>
        def v(gx: Int, gy: Int): Long =
          (id * 31 + f * 17 + 7L * (gx * w / 9) + 13L * (gy * h / 7)) % 256
        var expect = 0L
        for (y <- 0 until 7; x <- 0 until 8) if (v(x + 1, y) > v(x, y)) expect |= 1L << (y * 8 + x)
        val got = fh((id, f))
        assert((got.n_frames, got.width, got.height) == ((nf, w, h)), s"id=$id f=$f dims")
        assert(got.dhash == expect, s"id=$id f=$f hash ${got.dhash} != $expect")
      }
    }
    // everyNth sampling drops the in-between frames but keeps their index
    val sampled = Multimodal
      .dHashFrames(Multimodal.synthGifAnimations(Seq(3L).toDF("doc_id"), "doc_id"), everyNth = 2)
      .collect().map(_.frame_idx).sorted.toSeq
    assert(sampled == Seq(0, 2), s"got $sampled") // id 3 → 4 frames → 0 and 2
  }

  test("frame-level Hamming index: probe equals the cross-side self-join over frame keys") {
    val fh = Multimodal
      .dHashFrames(
        Multimodal.synthGifAnimations(
          spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id"),
        everyNth = 1)
      .toDF()
      .withColumn("frame_key", col("asset_id") * 8 + col("frame_idx"))
    val tbl = s"frmspec_idx_${System.nanoTime()}"
    Multimodal.persistHammingIndex(
      fh.filter(col("asset_id") % 5 =!= 0), "frame_key", "dhash", tbl, buckets = 4)
    val probed = Multimodal
      .probeHammingIndex(
        spark, tbl, fh.filter(col("asset_id") % 5 === 0), "frame_key", "dhash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val expected = Multimodal
      .hammingNearDupPairs(
        fh.select(col("frame_key").as("asset_id"), col("dhash").as("fp")), "fp", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMap { case (lo, hi, d) => Seq((lo, hi, d), (hi, lo, d)) }
      .filter { case (n, c, _) => (n / 8) % 5 == 0 && (c / 8) % 5 != 0 }
      .sorted.toSeq
    assert(probed.nonEmpty, "fixture too weak — no cross-side frame pair")
    assert(probed == expected, s"probe/self-join divergence:\n$probed\nvs\n$expected")
  }

  test("audio fingerprints ride the generic Hamming index: probe equals cross-side self-join") {
    val fps = Multimodal
      .audioFingerprints(Multimodal.synthWavAudio(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id"))
      .toDF()
    val tbl = s"audspec_idx_${System.nanoTime()}"
    Multimodal.persistHammingIndex(
      fps.filter(col("asset_id") % 5 =!= 0), "asset_id", "fingerprint", tbl, buckets = 4)
    val probed = Multimodal
      .probeHammingIndex(
        spark, tbl, fps.filter(col("asset_id") % 5 === 0), "asset_id", "fingerprint",
        maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val expected = Multimodal
      .hammingNearDupPairs(fps.withColumnRenamed("fingerprint", "fp"), "fp", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMap { case (lo, hi, d) => Seq((lo, hi, d), (hi, lo, d)) }
      .filter { case (n, c, _) => n % 5 == 0 && c % 5 != 0 }
      .sorted.toSeq
    assert(probed.nonEmpty, "fixture too weak — no cross-side audio pair")
    assert(probed == expected, s"probe/self-join divergence:\n$probed\nvs\n$expected")
  }

  test("compaction preserves a takedown recorded during its rewrite window (era-split)") {
    val tbl = s"mmspec_midtomb_${System.nanoTime()}"
    val rows = Seq((0, 5L, 1L, 11L), (0, 6L, 2L, 12L), (1, 3L, 3L, 13L))
      .toDF("band", "bv", "id", "fp")
    Multimodal.persistHammingIndexRows(rows, tbl, buckets = 2)
    // a normal pre-compact takedown: folded into the rewrite and retired
    Multimodal.deleteFromHammingIndex(spark, tbl, Seq(3L).toDF("id"), col("id"))
    // a takedown stamped at a FUTURE era stands in for one landing while
    // the compact's rewrite is in flight (the rewrite's snapshot predates
    // it, so ONLY the tombstone hides the id) — compaction must keep it,
    // not blanket-drop the tombstone table
    Multimodal.deleteFromHammingIndex(
      spark, tbl, Seq(2L).toDF("id"), col("id"),
      era = BucketedIndex.nextEra() + 10000000L)
    Multimodal.compactHammingIndex(spark, tbl, buckets = 2)
    val stored = spark.table(tbl).select(col("corpus_id")).as[Long].collect().toSet
    assert(stored == Set(1L), s"both takedowns must apply; stored $stored")
    val tomb = Similarity.tombTable(tbl)
    assert(spark.catalog.tableExists(tomb),
      "the mid-rewrite takedown must survive compaction's tombstone retirement")
    val kept = spark.table(tomb).select(col("corpus_id")).as[Long].collect().toSeq
    assert(kept == Seq(2L), s"only the mid-rewrite entry survives retirement; got $kept")
  }

  test("cap scope divergence: compact re-caps STORED content, rebuild re-caps the corpus") {
    // bucket (0,7) holds 3 corpus members — over the cap of 2, so the
    // persist quarantines it and stores NOTHING from it. The append then
    // lands 2 rows there (appends are never re-capped) — under the cap
    // counted ALONE, over it counted with the quarantined originals.
    val n = System.nanoTime()
    val persistRows = Seq(
      (0, 7L, 1L, 11L), (0, 7L, 2L, 12L), (0, 7L, 3L, 13L),
      (0, 5L, 4L, 14L))
      .toDF("band", "bv", "id", "fp")
    val appendRows = Seq((0, 7L, 6L, 16L), (0, 7L, 7L, 17L)).toDF("band", "bv", "id", "fp")
    val cmpTbl = s"mmspec_capscope_c_$n"
    Multimodal.persistHammingIndexRows(persistRows, cmpTbl, buckets = 2, maxBucket = 2)
    Multimodal.appendHammingIndexRows(appendRows, cmpTbl, buckets = 2)
    Multimodal.compactHammingIndex(spark, cmpTbl, buckets = 2, maxBucket = 2)
    val afterCompact = spark.table(cmpTbl)
      .select(col("corpus_id")).as[Long].collect().sorted.toSeq
    // compaction's census sees only the 2 appended rows in (0,7) — they
    // SURVIVE the re-cap (plus the small bucket's id 4)
    assert(afterCompact == Seq(4L, 6L, 7L),
      s"compact re-caps relative to stored content; got $afterCompact")
    // a rebuild at the same cap censuses the FULL corpus: (0,7) counts
    // 3 + 2 = 5 > 2 and is quarantined again — appended rows included
    val rbTbl = s"mmspec_capscope_r_$n"
    Multimodal.persistHammingIndexRows(
      persistRows.unionByName(appendRows), rbTbl, buckets = 2, maxBucket = 2)
    val afterRebuild = spark.table(rbTbl)
      .select(col("corpus_id")).as[Long].collect().sorted.toSeq
    assert(afterRebuild == Seq(4L),
      s"rebuild re-caps relative to the full corpus; got $afterRebuild")
  }
}
