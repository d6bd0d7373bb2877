package graft

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MediaOps

/** Multimodal plumbing: schemas, partitioning, batch shape, real ImageIO
  * decode on PNG fixtures, and deterministic fallback-stub behavior. */
class MediaOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val media = MediaOps.mediaFromDocuments(spark, sfDir)

  /** In-memory PNG fixture: wxh gradient, deterministic bytes. */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / math.max(1, w - 1)) << 16) |
        ((y * 255 / math.max(1, h - 1)) << 8) | 0x33)
    MediaOps.ImageCodec.encodePng(img)
  }

  test("decodeImages reads real PNG dimensions/channels/pixels via ImageIO") {
    import spark.implicits._
    val fixture = Seq(
      MediaOps.MediaFile(1L, "image", pngBytes(5, 3), "image/png", "fixture"),
      MediaOps.MediaFile(2L, "image", "not an image at all".getBytes("UTF-8"),
        "text/plain", "fixture")).toDS()
    val feats = MediaOps.decodeImages(fixture, parallelism = 2)
      .collect().sortBy(_.media_id)
    // real decode: exact fixture dims, RGB raster = 3 bands
    assert(feats(0).width == 5 && feats(0).height == 3 && feats(0).channels == 3,
      s"real PNG decode returned ${feats(0)}")
    assert(feats(0).embedding.length == 64)
    // gradient image: luminance grid must not be constant (real pixels,
    // not a digest artifact) and must increase left-to-right on a row
    assert(feats(0).embedding.distinct.length > 1)
    assert(feats(0).embedding(0) < feats(0).embedding(7))
    // unclaimed payload falls back to the digest stub, same shape
    assert(feats(1).embedding.length == 64)
    // deterministic across runs and partitionings
    val again = MediaOps.decodeImages(fixture, parallelism = 1)
      .collect().sortBy(_.media_id)
    assert(again(0).width == 5 && again(0).embedding.toSeq == feats(0).embedding.toSeq)
  }

  test("resizeImages really rescales decodable images and re-encodes PNG") {
    import spark.implicits._
    val fixture = Seq(
      MediaOps.MediaFile(1L, "image", pngBytes(16, 8), "image/png", "fixture"),
      MediaOps.MediaFile(2L, "image", "plain text".getBytes("UTF-8"),
        "text/plain", "fixture")).toDS()
    val resized = MediaOps.resizeImages(fixture, 4, 2).collect().sortBy(_.media_id)
    val back = MediaOps.ImageCodec.decode(resized(0).content)
    assert(back.isDefined && back.get.getWidth == 4 && back.get.getHeight == 2,
      "resized payload must round-trip through ImageIO at the target size")
    assert(resized(0).mime == "image/png; resized=4x2")
    // undecodable bytes pass through untouched, tag only
    assert(resized(1).content.sameElements("plain text".getBytes("UTF-8")))
    assert(resized(1).mime.contains("resized=4x2"))
  }

  test("media table partitions kinds deterministically") {
    import spark.implicits._
    val kinds = media.groupByKey(_.kind).count().collect().toMap
    assert(kinds.keySet == Set("image", "audio", "video"))
    assert(kinds.values.sum == 500)
  }

  test("decodeImages yields one feature row per image with stable values") {
    val feats = MediaOps.decodeImages(media, parallelism = 4)
    val n = media.filter(_.kind == "image").count()
    assert(feats.count() == n)
    val f = feats.filter(_.media_id == 2L).collect()(0)
    assert(f.embedding.length == 64)
    assert(f.width >= 64 && f.width < 192 && f.channels >= 1 && f.channels <= 4)
    // deterministic across runs
    val again = MediaOps.decodeImages(media, parallelism = 2)
      .filter(_.media_id == 2L).collect()(0)
    assert(again.width == f.width && again.embedding.toSeq == f.embedding.toSeq)
  }

  test("decodeImages runs with the requested partitioning") {
    val feats = MediaOps.decodeImages(media, parallelism = 3)
    assert(feats.rdd.getNumPartitions == 3)
  }

  test("sampleFrames explodes videos into frame rows") {
    val frames = MediaOps.sampleFrames(media, everyN = 2).collect()
    assert(frames.nonEmpty)
    val byId = frames.groupBy(_.media_id)
    // frame numbers are 0,2,4,... and bytes differ per frame
    byId.values.foreach { fs =>
      assert(fs.map(_.frame_no).sorted.toSeq == fs.map(_.frame_no).sorted.distinct.toSeq)
      assert(fs.forall(_.frame_no % 2 == 0))
      assert(fs.map(_.frame_bytes.toSeq).distinct.length == fs.length)
    }
  }

  /** Solid-color frame fixture for the MJPEG AVI tests. */
  private def solidFrame(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  test("VideoCodec round-trips an MJPEG AVI: header dims, frame count, frame pixels") {
    val frames = Seq(
      solidFrame(16, 8, 0x000000), // black
      solidFrame(16, 8, 0xffffff), // white
      solidFrame(16, 8, 0x808080), // mid grey
      solidFrame(16, 8, 0x000000)) // black again
    val avi = MediaOps.VideoCodec.encodeAvi(frames, microSecPerFrame = 50000)
    val v = MediaOps.VideoCodec.decode(avi)
      .getOrElse(fail("writer output must parse"))
    assert(v.width === 16 && v.height === 8)
    assert(v.microSecPerFrame === 50000)
    assert(v.frames.size === 4)
    // every frame payload is a standalone JPEG with the clip dimensions
    // and (JPEG being lossy but tame on solid fills) the right luminance
    val lums = v.frames.map { f =>
      val img = MediaOps.ImageCodec.decode(f).getOrElse(fail("frame must be a JPEG"))
      assert(img.getWidth === 16 && img.getHeight === 8)
      val rgb = img.getRGB(8, 4)
      (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)) / 255.0
    }
    assert(lums(0) < 0.1 && lums(3) < 0.1, s"black frames, got $lums")
    assert(lums(1) > 0.9, s"white frame, got $lums")
    assert(math.abs(lums(2) - 0.5) < 0.1, s"grey frame, got $lums")
  }

  test("decodeVideos extracts real per-clip features from MJPEG AVIs, stub otherwise") {
    import spark.implicits._
    val avi = MediaOps.VideoCodec.encodeAvi(Seq(
      solidFrame(16, 8, 0x000000), solidFrame(16, 8, 0xffffff)))
    val fixture = Seq(
      MediaOps.MediaFile(1L, "video", avi, "video/x-msvideo", "fixture"),
      MediaOps.MediaFile(2L, "video", "not a video".getBytes("UTF-8"),
        "text/plain", "fixture")).toDS()
    val feats = MediaOps.decodeVideos(fixture, parallelism = 2)
      .collect().map(f => f.media_id -> f).toMap
    val real = feats(1L)
    assert(real.width === 16 && real.height === 8 && real.n_frames === 2L)
    assert(real.embedding.length === 64)
    // clip embedding = mean of frame grids: black (~0) and white (~1)
    // average to ~0.5 in every cell
    real.embedding.foreach(v => assert(math.abs(v - 0.5) < 0.1,
      s"expected ~0.5 mean luminance, got $v"))
    val stub = feats(2L)
    val (w, h, _) = MediaOps.FakeCodec.imageDims("not a video".getBytes("UTF-8"))
    assert(stub.width === w && stub.height === h,
      "non-AVI payloads keep the deterministic stub behavior")
  }

  test("sampleFrames on an MJPEG AVI yields the actual JPEG frame payloads") {
    import spark.implicits._
    val frames = Seq(
      solidFrame(16, 8, 0x000000), solidFrame(16, 8, 0xffffff),
      solidFrame(16, 8, 0x808080), solidFrame(16, 8, 0x404040))
    val avi = MediaOps.VideoCodec.encodeAvi(frames)
    val ds = Seq(MediaOps.MediaFile(9L, "video", avi, "video/x-msvideo", "fx")).toDS()
    val out = MediaOps.sampleFrames(ds, everyN = 2).collect().sortBy(_.frame_no)
    assert(out.map(_.frame_no).toSeq === Seq(0, 2), "every 2nd of 4 frames")
    // payloads are the container's own JPEGs: decodable, right luminance
    val lums = out.map { fr =>
      val img = MediaOps.ImageCodec.decode(fr.frame_bytes)
        .getOrElse(fail("sampled frame must be a standalone JPEG"))
      val rgb = img.getRGB(8, 4)
      (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)) / 255.0
    }
    assert(lums(0) < 0.1 && math.abs(lums(1) - 0.5) < 0.1, s"got ${lums.toSeq}")
  }

  test("Y4mCodec round-trips C444 and mono luma-exactly; 4:2:0 within chroma tolerance") {
    // grey gradient: R=G=B, so U=V=128 exactly and every colorspace
    // carries the pixel losslessly through Y
    val grey = {
      val img = new java.awt.image.BufferedImage(
        16, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) {
        val v = x * 17 % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    Seq("444", "mono", "420jpeg").foreach { cs =>
      val y4m = MediaOps.Y4mCodec.encodeY4m(Seq(grey, grey), cs, 30, 1)
      val v = MediaOps.Y4mCodec.decode(y4m)
        .getOrElse(fail(s"writer output must parse ($cs)"))
      assert(v.width === 16 && v.height === 8 && v.frames.size === 2)
      assert(v.fpsNum === 30 && v.fpsDen === 1 && v.colorspace === cs)
      for (y <- 0 until 8; x <- 0 until 16) {
        val want = grey.getRGB(x, y) & 0xff
        val got = v.frames(0).getRGB(x, y)
        Seq((got >> 16) & 0xff, (got >> 8) & 0xff, got & 0xff).foreach { c =>
          // grey survives exactly modulo Y-round-trip rounding (≤1)
          assert(math.abs(c - want) <= 1, s"$cs ($x,$y): $c vs $want")
        }
      }
    }
    // a COLOR image exercises the chroma planes: encode→decode must land
    // within the rounding budget of the BT.601 round trip (≤2 per channel
    // for 444; 4:2:0 averages 2×2 blocks, so compare against block means)
    val color = {
      val img = new java.awt.image.BufferedImage(
        8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 8)
        img.setRGB(x, y, ((x * 30) << 16) | ((y * 60) << 8) | 0x66)
      img
    }
    val v444 = MediaOps.Y4mCodec.decode(
        MediaOps.Y4mCodec.encodeY4m(Seq(color), "444"))
      .getOrElse(fail("C444 color must parse"))
    for (y <- 0 until 4; x <- 0 until 8) {
      val w = color.getRGB(x, y); val g = v444.frames(0).getRGB(x, y)
      Seq(16, 8, 0).foreach { sh =>
        assert(math.abs(((w >> sh) & 0xff) - ((g >> sh) & 0xff)) <= 2,
          f"C444 ($x,$y) channel>>$sh: ${(g >> sh) & 0xff} vs ${(w >> sh) & 0xff}")
      }
    }
    // malformed inputs are None, not exceptions
    assert(MediaOps.Y4mCodec.decode("not a y4m".getBytes("UTF-8")).isEmpty)
    assert(MediaOps.Y4mCodec.decode(
      "YUV4MPEG2 W4 H4 C999weird\nFRAME\n".getBytes("UTF-8")).isEmpty)
    val truncated = MediaOps.Y4mCodec.encodeY4m(Seq(grey), "444").dropRight(7)
    assert(MediaOps.Y4mCodec.decode(truncated).isEmpty)
  }

  test("decodeVideos and sampleFrames handle Y4M clips through the real codec") {
    import spark.implicits._
    val frames = Seq(
      solidFrame(16, 8, 0x000000), solidFrame(16, 8, 0xffffff),
      solidFrame(16, 8, 0x808080), solidFrame(16, 8, 0x404040))
    val y4m = MediaOps.Y4mCodec.encodeY4m(frames, "420jpeg")
    val ds = Seq(MediaOps.MediaFile(7L, "video", y4m, "video/x-yuv4mpeg",
      "fx")).toDS()
    val feats = MediaOps.decodeVideos(ds, parallelism = 2).collect()
    assert(feats.length === 1)
    assert(feats(0).width === 16 && feats(0).height === 8 &&
      feats(0).n_frames === 4L)
    // mean grid luminance of black/white/mid/dark ≈ (0+1+0.5+0.25)/4
    feats(0).embedding.foreach(v => assert(math.abs(v - 0.4375) < 0.05,
      s"expected ~0.44 mean luminance, got $v"))
    val out = MediaOps.sampleFrames(ds, everyN = 2).collect().sortBy(_.frame_no)
    assert(out.map(_.frame_no).toSeq === Seq(0, 2))
    // kept frames are standalone PNGs with the right pixels
    val lums = out.map { fr =>
      val img = MediaOps.ImageCodec.decode(fr.frame_bytes)
        .getOrElse(fail("sampled y4m frame must be a standalone image"))
      val rgb = img.getRGB(8, 4)
      (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)) / 255.0
    }
    assert(lums(0) < 0.05 && math.abs(lums(1) - 0.5) < 0.05, s"got ${lums.toSeq}")
  }

  test("decodeAudio reads real WAV rate/channels/frames and an RMS envelope") {
    import javax.sound.sampled.{AudioFormat, AudioFileFormat, AudioInputStream, AudioSystem}
    def wavBytes(nFrames: Int, amp: Double): Array[Byte] = {
      // 16-bit mono 8 kHz sine at `amp` full-scale, WAV-encoded by the JDK
      val pcm = new Array[Byte](nFrames * 2)
      (0 until nFrames).foreach { i =>
        val s = (math.sin(2 * math.Pi * 440 * i / 8000.0) * amp * 32767).toInt
        pcm(i * 2) = (s & 0xff).toByte; pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    import spark.implicits._
    val rows = Seq(
      MediaOps.MediaFile(1L, "audio", wavBytes(4000, 0.5), "audio/wav", "fx"),
      MediaOps.MediaFile(2L, "audio", wavBytes(800, 0.0), "audio/wav", "fx"),
      MediaOps.MediaFile(3L, "audio", "not audio".getBytes("UTF-8"),
        "application/octet-stream", "fx")).toDS()
    val feats = MediaOps.decodeAudio(rows, parallelism = 2)
      .collect().sortBy(_.media_id)
    val sine = feats(0)
    assert(sine.sample_rate == 8000 && sine.channels == 1 && sine.n_frames == 4000)
    assert(sine.embedding.length == 64)
    // a half-scale sine's RMS is ~0.5/sqrt(2) ≈ 0.35 in every bin
    assert(sine.embedding.forall(v => v > 0.2f && v < 0.5f), sine.embedding.take(4).toSeq)
    val silent = feats(1)
    assert(silent.n_frames == 800 && silent.embedding.forall(_ == 0.0f))
    // unclaimed payload falls back to the digest stand-in, still 64-dim
    assert(feats(2).embedding.length == 64 && feats(2).sample_rate == 8000)
  }

  test("fft matches a naive DFT on a fixed signal") {
    val n = 64
    // deterministic non-trivial signal: two tones + a linear ramp
    val sig = Array.tabulate(n)(i =>
      math.sin(2 * math.Pi * 5 * i / n) + 0.5 * math.cos(2 * math.Pi * 13 * i / n) + i / 100.0)
    val re = sig.clone(); val im = new Array[Double](n)
    MediaOps.AudioCodec.fft(re, im)
    (0 until n).foreach { k =>
      var dr = 0.0; var di = 0.0
      (0 until n).foreach { t =>
        val ang = -2 * math.Pi * k * t / n
        dr += sig(t) * math.cos(ang); di += sig(t) * math.sin(ang)
      }
      assert(math.abs(re(k) - dr) < 1e-9 && math.abs(im(k) - di) < 1e-9,
        s"bin $k: fft (${re(k)}, ${im(k)}) vs dft ($dr, $di)")
    }
  }

  test("spectral features find a pure tone's frequency") {
    import javax.sound.sampled.{AudioFormat, AudioFileFormat, AudioInputStream, AudioSystem}
    def toneWav(hz: Double, nFrames: Int, amp: Double): Array[Byte] = {
      val pcm = new Array[Byte](nFrames * 2)
      (0 until nFrames).foreach { i =>
        val s = (math.sin(2 * math.Pi * hz * i / 8000.0) * amp * 32767).toInt
        pcm(i * 2) = (s & 0xff).toByte; pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    import spark.implicits._
    val rows = Seq(
      MediaOps.MediaFile(1L, "audio", toneWav(1000.0, 4096, 0.5), "audio/wav", "fx"),
      MediaOps.MediaFile(2L, "audio", toneWav(250.0, 4096, 0.5), "audio/wav", "fx"),
      MediaOps.MediaFile(3L, "audio", toneWav(1000.0, 800, 0.0), "audio/wav", "fx"),
      MediaOps.MediaFile(4L, "audio", "not audio".getBytes("UTF-8"),
        "application/octet-stream", "fx")).toDS()
    val feats = MediaOps.decodeAudioSpectral(rows, parallelism = 2)
      .collect().sortBy(_.media_id)
    // 8 kHz / 512-point frames → 15.625 Hz bins; a pure tone's peak lands
    // on the nearest bin and the Hann-smeared centroid stays within ~2 bins
    val binHz = 8000.0 / 512
    assert(math.abs(feats(0).dominant_hz - 1000.0) <= binHz / 2, feats(0).dominant_hz)
    assert(math.abs(feats(0).centroid_hz - 1000.0) <= 2 * binHz, feats(0).centroid_hz)
    assert(math.abs(feats(1).dominant_hz - 250.0) <= binHz / 2, feats(1).dominant_hz)
    // different tones → different cepstra; same clip shape (13 coeffs)
    assert(feats(0).mfcc.length == 13 && feats(1).mfcc.length == 13)
    assert(feats(0).mfcc.toSeq != feats(1).mfcc.toSeq)
    assert(feats(0).mfcc.forall(v => java.lang.Float.isFinite(v)))
    // silence → 0 Hz markers (no division blow-ups)
    assert(feats(2).dominant_hz == 0.0 && feats(2).centroid_hz == 0.0)
    // unclaimed payload → deterministic stand-in, still 13-dim
    assert(feats(3).mfcc.length == 13 && feats(3).sample_rate == 8000)
  }

  test("resize preserves row count and tags metadata") {
    val resized = MediaOps.resizeImages(media, 224, 224)
    assert(resized.count() == media.count())
    assert(resized.filter(_.kind == "image").collect()
      .forall(_.mime.contains("resized=224x224")))
  }

  test("feature table feeds the ANN operator unchanged") {
    val feats = MediaOps.decodeImages(media, parallelism = 4)
    val emb = MediaOps.toEmbeddingTable(feats)
    assert(emb.columns.toSeq == Seq("vec_id", "embedding"))
    // brute-force cosine over the fake 8-dim features runs end-to-end
    // (vec_id 2 is the first image id under the image/audio/video split)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
    val topk = graft.operators.AnnSearch.approxTopK(q, emb, "vec_id", "embedding", 3)
    assert(topk.count() > 0)
  }

  test("mm1: container-decoded luma sums agree bit-for-bit with the text-byte arithmetic") {
    import org.apache.spark.sql.functions.col
    // through the REAL container: render → encodeY4m → decode → sum
    val got = MediaOps.mm1VideoLuma(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // independent of any codec: the pinned byte-tiling arithmetic the
    // oracle replays (16x12 pixels, 3 frames, text bytes in raster order)
    val expected = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 40).select("doc_id", "text").collect()
      .flatMap { r =>
        val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        (0 until 3).map { f =>
          val sum = (0 until 16 * 12).map(i =>
            (bytes((f * 16 * 12 + i) % bytes.length) & 0xff).toLong).sum
          (r.getLong(0), f, 16, 12, sum)
        }
      }
    assert(got.sorted.toSeq == expected.sorted.toSeq)
    assert(got.length == 120)
  }

  test("mm2/mm3: PNG and WAV round-trips agree bit-for-bit with the byte arithmetic") {
    import org.apache.spark.sql.functions.col
    val texts = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 40).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val img = MediaOps.mm2ImageLuma(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val expImg = texts.map { case (id, b) =>
      (id, 24, 16, (0 until 24 * 16).map(i => (b(i % b.length) & 0xff).toLong).sum)
    }
    assert(img.sorted.toSeq == expImg.sorted.toSeq)
    val aud = MediaOps.mm3AudioSum(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val expAud = texts.map { case (id, b) =>
      (id, 8000, 1, 480L, (0 until 480).map(i =>
        math.abs((((b(i % b.length) & 0xff) - 128) * 256).toLong)).sum)
    }
    assert(aud.sorted.toSeq == expAud.sorted.toSeq)
  }

  test("mm4: WAV-decoded features agree bit-for-bit with the byte arithmetic") {
    import org.apache.spark.sql.functions.col
    val texts = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 40).select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val got = MediaOps.mm4AudioFeatures(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = texts.map { case (id, b) =>
      val xs = (0 until 480).map(i => (((b(i % b.length) & 0xff) - 64) * 256).toLong)
      val zcr = xs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong
      val energy = xs.map(x => x * x).sum
      // Goertzel at rate/6: 2cos(2π/6) = 1 → sₙ = xₙ + sₙ₋₁ − sₙ₋₂
      val (s1, s2) = xs.foldLeft((0L, 0L)) { case ((a, b2), x) => (x + a - b2, a) }
      (id, zcr, energy, s1 * s1 + s2 * s2 - s1 * s2)
    }
    assert(got.sorted.toSeq == exp.sorted.toSeq)
    // the features genuinely move: both signs occur, so crossings exist
    assert(got.forall(_._2 > 0) && got.map(_._4).distinct.length > 1)
  }

  /** Independent replay of mm10's dHash bits from text bytes (PNG is
    * lossless, so pre-encode pixels equal decoded pixels). */
  private def mm10Bits(text: String): Array[Int] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val b = (bytes.length + 71) / 72
    val w = 9 * b
    val cells = Array.ofDim[Long](8, 9)
    for (y <- 0 until 8; c <- 0 until 9)
      cells(y)(c) = (0 until b).map { dx =>
        val i = y * w + c * b + dx
        (if (i < bytes.length) bytes(i) & 0xff else 32).toLong
      }.sum / b
    (for (y <- 0 until 8; c <- 0 until 8)
      yield if (cells(y)(c + 1) > cells(y)(c)) 1 else 0).toArray
  }

  /** Independent replay of mm11's energy-contour bits from text bytes
    * (PCM16 → WAV → PCM16 is a bit-exact pass-through). */
  private def mm11Bits(text: String): Array[Int] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val b = (bytes.length + 64) / 65
    val e = (0 until 65).map { f =>
      (0 until b).map { j =>
        val i = f * b + j
        val x = if (i < bytes.length) (((bytes(i) & 0xff) - 64) * 256).toLong else 0L
        x * x
      }.sum
    }
    (0 until 64).map(f => if (e(f + 1) > e(f)) 1 else 0).toArray
  }

  /** Independent replay of mm18's frame-luma-contour bits from text
    * bytes (mono Y4M luma round-trips bit-exactly — the mm1 guarantee). */
  private def mm18Bits(text: String): Array[Int] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val b = (bytes.length + 64) / 65
    val e = (0 until 65).map { f =>
      (0 until b).map { j =>
        val i = f * b + j
        (if (i < bytes.length) bytes(i) & 0xff else 32).toLong
      }.sum
    }
    (0 until 64).map(f => if (e(f + 1) > e(f)) 1 else 0).toArray
  }

  private def bruteForcePairs(bits: Map[Long, Array[Int]]): Set[(Long, Long, Int)] = {
    val ids = bits.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      h = bits(ids(i)).zip(bits(ids(j))).count { case (a, b) => a != b }
      if h <= 4
    } yield (ids(i), ids(j), h)).toSet
  }

  test("mm10/mm11: banded join finds EXACTLY the brute-force Hamming<=4 pairs") {
    val texts = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // image: banded result == all-pairs ground truth (completeness AND
    // precision of the pigeonhole blocking at the chosen radius)
    val gotImg = MediaOps.mm10ImageNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wantImg = bruteForcePairs(texts.map { case (id, t) => id -> mm10Bits(t) })
    assert(gotImg == wantImg, s"image pairs: got ${gotImg.size}, want ${wantImg.size}")
    assert(gotImg.nonEmpty, "fixture must exercise the match path")
    // audio: same contract over the energy-contour fingerprint
    val gotAud = MediaOps.mm11AudioNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wantAud = bruteForcePairs(texts.map { case (id, t) => id -> mm11Bits(t) })
    assert(gotAud == wantAud, s"audio pairs: got ${gotAud.size}, want ${wantAud.size}")
    assert(gotAud.nonEmpty, "fixture must exercise the match path")
    // video: same contract over the frame-luma-contour fingerprint
    val gotVid = MediaOps.mm18VideoNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wantVid = bruteForcePairs(texts.map { case (id, t) => id -> mm18Bits(t) })
    assert(gotVid == wantVid, s"video pairs: got ${gotVid.size}, want ${wantVid.size}")
    assert(gotVid.nonEmpty, "fixture must exercise the match path")
    spark.catalog.clearCache() // release the eagerly-built banded caches
  }

  test("mm13: multimodal clusters equal an independent union-find over the four edge sets") {
    val texts = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent edge replays: image/audio/video from the spec's own
    // bit functions, text from the m1 operator (its own oracle pins it)
    val imgPairs = bruteForcePairs(texts.map { case (id, t) => id -> mm10Bits(t) })
      .map(p => (p._1, p._2))
    val audPairs = bruteForcePairs(texts.map { case (id, t) => id -> mm11Bits(t) })
      .map(p => (p._1, p._2))
    val vidPairs = bruteForcePairs(texts.map { case (id, t) => id -> mm18Bits(t) })
      .map(p => (p._1, p._2))
    val txtPairs = graft.operators.MinHashDedup
      .nearDuplicates(graft.Tables(spark, sfDir, "documents"), "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side union-find ground truth over the union graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val all = txtPairs.toSeq ++ imgPairs.toSeq ++ audPairs.toSeq ++ vidPairs.toSeq
    all.foreach { case (a, b) => union(a, b) }
    val members = all.flatMap(p => Seq(p._1, p._2)).distinct
    val wantSizes = members.groupBy(find).map { case (c, ms) => c -> ms.size.toLong }
    def edgeCount(pairs: Set[(Long, Long)]): Map[Long, Long] =
      pairs.toSeq.groupBy(p => find(p._1)).map { case (c, es) => c -> es.size.toLong }
    val (wt, wi, wa, wv) = (edgeCount(txtPairs), edgeCount(imgPairs),
      edgeCount(audPairs), edgeCount(vidPairs))
    val got = SparkEntry.queries("mm13_multimodal_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == wantSizes.keySet,
      s"components differ: got ${got.keySet.toSeq.sorted}, want ${wantSizes.keySet.toSeq.sorted}")
    got.foreach { case (c, (n, t, i, a, v)) =>
      assert(n == wantSizes(c), s"component $c size: got $n want ${wantSizes(c)}")
      assert(t == wt.getOrElse(c, 0L) && i == wi.getOrElse(c, 0L) &&
        a == wa.getOrElse(c, 0L) && v == wv.getOrElse(c, 0L),
        s"component $c evidence: got ($t,$i,$a,$v), want " +
          s"(${wt.getOrElse(c, 0L)},${wi.getOrElse(c, 0L)},${wa.getOrElse(c, 0L)},${wv.getOrElse(c, 0L)})")
    }
    // the fixture must exercise a genuinely CROSS-MODAL merge: some
    // cluster holds evidence from more than one modality
    assert(got.values.exists { case (_, t, i, a, v) =>
      Seq(t, i, a, v).count(_ > 0) >= 2 }, "no cross-modal cluster in fixture")
    spark.catalog.clearCache()
  }

  test("mm14: at-rest probe equals cross-split brute force; second call builds nothing") {
    import graft.queries.ScaleOps
    val texts = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("mm14_image_neardup_at_rest")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // ground truth: all-pairs Hamming<=4 restricted to (landed, arrival)
    val want = bruteForcePairs(texts.map { case (id, t) => id -> mm10Bits(t) })
      .filter(p => p._1 < 400L && p._2 >= 400L)
    assert(got == want, s"at-rest probe: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty, "fixture must exercise the cross-split match path")
    // reuse: a second call must serve from the landed index untouched
    val root = ScaleOps.artifactRoot("mm14s",
      ScaleOps.dataFingerprint(sfDir, Seq("documents")))
    val marker = root.resolve("_STATE_OK")
    assert(java.nio.file.Files.exists(marker))
    val markerTime = java.nio.file.Files.getLastModifiedTime(marker)
    val again = SparkEntry.queries("mm14_image_neardup_at_rest")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == got)
    assert(java.nio.file.Files.getLastModifiedTime(marker) == markerTime,
      "the marker was rewritten — a second call re-fingerprinted the corpus")
    spark.catalog.clearCache()
  }

  test("mm15: at-rest audio probe equals cross-split brute force; second call builds nothing") {
    import graft.queries.ScaleOps
    val texts = graft.Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("mm15_audio_neardup_at_rest")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // ground truth: all-pairs Hamming<=4 restricted to (landed, arrival)
    val want = bruteForcePairs(texts.map { case (id, t) => id -> mm11Bits(t) })
      .filter(p => p._1 < 400L && p._2 >= 400L)
    assert(got == want, s"at-rest audio probe: got ${got.size}, want ${want.size}")
    assert(got.nonEmpty, "fixture must exercise the cross-split match path")
    // reuse: a second call must serve from the landed index untouched
    val root = ScaleOps.artifactRoot("mm15s",
      ScaleOps.dataFingerprint(sfDir, Seq("documents")))
    val marker = root.resolve("_STATE_OK")
    assert(java.nio.file.Files.exists(marker))
    val markerTime = java.nio.file.Files.getLastModifiedTime(marker)
    val again = SparkEntry.queries("mm15_audio_neardup_at_rest")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == got)
    assert(java.nio.file.Files.getLastModifiedTime(marker) == markerTime,
      "the marker was rewritten — a second call re-fingerprinted the corpus")
    spark.catalog.clearCache()
  }

  test("mm16/imageNdBatch: per-wave logs partition the one-shot answer; as-of reads are prefixes") {
    import graft.streaming.StreamOps
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm16_").toString
    try {
      val docs = graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val perWave = (0 until 3).map { b =>
        StreamOps.imageNdBatch(
          docs.filter(pmod(col("doc_id"), lit(3L)) === b.toLong), tmp, b.toLong)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      }
      // exactly-once: the wave logs are pairwise disjoint...
      for (i <- 0 until 3; j <- i + 1 until 3)
        assert(perWave(i).intersect(perWave(j)).isEmpty,
          s"waves $i/$j both logged a pair")
      // ...and sum to mm10's one-shot answer
      val oneShot = MediaOps.mm10ImageNearDup(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(perWave.reduce(_ ++ _) == oneShot,
        s"rolled ${perWave.map(_.size).sum} pairs != one-shot ${oneShot.size}")
      // every pair lands at its LATER endpoint's wave
      perWave.zipWithIndex.foreach { case (ps, b) =>
        ps.foreach { case (a, c, _) =>
          assert(math.max(a % 3, c % 3) == b, s"pair ($a,$c) logged at wave $b")
        }
      }
      // as-of reads are found_at prefixes
      val asOf1 = StreamOps.imageNdAsOf(spark, tmp, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(asOf1 == perWave(0) ++ perWave(1), "as-of 1 != waves 0+1")
      assert(perWave.exists(_.nonEmpty), "fixture found no pairs")
      spark.catalog.clearCache()
    } finally graft.sources.Sources.deleteRecursively(new java.io.File(tmp))
  }

  test("mm17/audioNdBatch: rolled waves survive interleaved maintain() compaction") {
    import graft.streaming.StreamOps
    val tmp = java.nio.file.Files.createTempDirectory("graft_mm17_").toString
    try {
      val docs = graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val perWave = (0 until 3).map { b =>
        val p = StreamOps.audioNdBatch(
          docs.filter(pmod(col("doc_id"), lit(3L)) === b.toLong), tmp, b.toLong)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        // maintenance BETWEEN waves: compaction of the aud_fp/aud_nd
        // deltas must not change what later waves sweep against or read
        StreamOps.maintain(spark, tmp)
        p
      }
      val oneShot = MediaOps.mm11AudioNearDup(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(perWave.reduce(_ ++ _) == oneShot,
        s"rolled-with-maintain ${perWave.map(_.size).sum} pairs != one-shot ${oneShot.size}")
      val asOf1 = StreamOps.audioNdAsOf(spark, tmp, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(asOf1 == perWave(0) ++ perWave(1), "as-of 1 != waves 0+1 after compaction")
      assert(perWave.exists(_.nonEmpty), "fixture found no pairs")
      spark.catalog.clearCache()
    } finally graft.sources.Sources.deleteRecursively(new java.io.File(tmp))
  }

  test("interleaved banding is pigeonhole-complete at Hamming<=4 (property)") {
    // any pair of 64-bit fingerprints within Hamming 4 shares at least one
    // of the 5 interleaved bands — deterministic sweep over seeded draws
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 0 until 500) {
      val base = Array.fill(64)(rnd.nextInt(2))
      val flipped = base.clone()
      val nFlips = 1 + rnd.nextInt(4) // 1..4 bit flips
      rnd.shuffle((0 until 64).toList).take(nFlips)
        .foreach(j => flipped(j) = 1 - flipped(j))
      val a = MediaOps.ndBands(base)
      val b = MediaOps.ndBands(flipped)
      assert((0 until 5).exists(t => a(t) == b(t)),
        s"no shared band after $nFlips flips: ${a.toSeq} vs ${b.toSeq}")
    }
    // and bands reassemble exactly the 64 input bits (disjoint cover)
    val bits = Array.fill(64)(rnd.nextInt(2))
    val bands = MediaOps.ndBands(bits)
    val back = (0 until 64).map(j => ((bands(j % 5) >> (j / 5)) & 1L).toInt)
    assert(back.toSeq == bits.toSeq)
  }
}
