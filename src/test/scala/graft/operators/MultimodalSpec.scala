package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import Multimodal._

  private lazy val media = fromDocuments(
    Tables.documents(spark, sf).limit(60), spark).cache()

  test("binary payload + typed metadata schema") {
    val s = media.toDF().schema
    assert(s("bytes").dataType.typeName == "binary")
    assert(s("meta").dataType.typeName == "struct")
    assert(media.filter(_.bytes.isEmpty).count() == 0)
  }

  test("feature extraction is deterministic, batch-shaped, fixed-dim") {
    val f1 = extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    val f2 = extractFeatures(media.repartition(7), dim = 16).collect().sortBy(_.media_id)
    assert(f1.length == 60)
    assert(f1.forall(_.features.length == 16))
    // partitioning must not change results (batch shape is an impl detail)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.media_id == b.media_id && a.features.sameElements(b.features))
    }
    // n_bytes matches the utf-8 payload
    val n = media.filter(_.media_id == f1.head.media_id).head().bytes.length
    assert(f1.head.n_bytes == n)
  }

  test("Wav: encode→decode round-trips 16-bit PCM exactly") {
    val samples = Array.tabulate(480)(i => ((i * 131) % 65536 - 32768).toShort)
    val bytes = Wav.encode(samples, 16000)
    assert(bytes.length == 44 + samples.length * 2)
    val pcm = Wav.decode(bytes).getOrElse(fail("decode returned None"))
    assert(pcm.sampleRate == 16000 && pcm.channels == 1)
    assert(pcm.samples.length == samples.length)
    // exact: each decoded float is sample/32768
    samples.indices.foreach { i =>
      assert(pcm.samples(i) == samples(i).toFloat / 32768.0f,
        s"sample $i: ${pcm.samples(i)} vs ${samples(i)}")
    }
  }

  test("Wav: malformed and non-PCM payloads decode to None, never throw") {
    assert(Wav.decode(Array[Byte]()).isEmpty)
    assert(Wav.decode("not a wav at all, just text bytes".getBytes).isEmpty)
    // valid header, truncated data chunk length
    val truncated = Wav.encode(Array.tabulate(100)(_.toShort), 8000).take(80)
    assert(Wav.decode(truncated).isEmpty)
  }

  test("Wav.bandEnergies: zero signal is all-zero; a pure tone peaks in its own band") {
    val dim = 16
    assert(Wav.bandEnergies(Array.fill(1000)(0.0f), dim).forall(_ == 0.0f))
    // cosine exactly at band k's normalized frequency (k+1)/(2(dim+1))
    val k = 5
    val f = (k + 1).toDouble / (2.0 * (dim + 1))
    val tone = Array.tabulate(2000)(j => math.cos(2 * math.Pi * f * j).toFloat)
    val bands = Wav.bandEnergies(tone, dim)
    assert(bands.forall(b => b >= 0.0f && b <= 1.0f), "energies must be in [0,1]")
    assert(bands.indexOf(bands.max) == k,
      s"tone at band $k must peak there, got ${bands.toSeq}")
    assert(bands(k) > 0.2f, s"aligned tone energy should be large: ${bands(k)}")
  }

  test("decode seam routes by modality; misrouted payloads are the zero marker") {
    val wav = Wav.encode(Array.tabulate(200)(i => (i * 300).toShort), 16000)
    val audio = MediaRow(1L, wav, MediaMeta("audio", 0, 0, 16000, 12L))
    // WAV bytes declared as an image are NOT a PPM container →
    // undecodable → the explicit all-zero marker
    val image = MediaRow(2L, wav, MediaMeta("image", 64, 64, 0, 0L))
    val real = Multimodal.decodeFeatures(audio, 16)
    val zero = Multimodal.decodeFeatures(image, 16)
    val expected = Wav.bandEnergies(Wav.decode(wav).get.samples, 16)
    assert(real.sameElements(expected), "audio must take the WAV route")
    assert(zero.forall(_ == 0.0f),
      "a misrouted payload must decode to the all-zero marker")
    // audio bytes that are NOT a WAV container are likewise zeros
    val junk = MediaRow(3L, "junk".getBytes, MediaMeta("audio", 0, 0, 0, 0L))
    assert(Multimodal.decodeFeatures(junk, 16).forall(_ == 0.0f))
  }

  test("fromDocuments audio rows carry decodable WAV payloads sized 44 + 2·text bytes") {
    val audios = media.filter(_.meta.modality == "audio").collect()
    assert(audios.nonEmpty)
    audios.foreach { r =>
      val pcm = Wav.decode(r.bytes).getOrElse(fail(s"row ${r.media_id} not WAV"))
      assert(r.bytes.length == 44 + 2 * pcm.samples.length)
      assert(pcm.sampleRate == 16000)
    }
  }

  test("Ppm: encode→decode round-trips pixels exactly; header variants parse") {
    val px = Array.tabulate(3 * 5 * 2)(i => ((i * 37) % 256).toByte)
    val bytes = Ppm.encode(5, 2, px)
    val img = Ppm.decode(bytes).getOrElse(fail("decode returned None"))
    assert(img.width == 5 && img.height == 2)
    assert(img.pixels.sameElements(px))
    // whitespace runs + comments are legal header separators
    val weird = ("P6 # a comment\n # more\n 5\t2 \n255\n".getBytes("US-ASCII") ++ px)
    val img2 = Ppm.decode(weird).getOrElse(fail("comment header must parse"))
    assert(img2.pixels.sameElements(px))
  }

  test("Ppm: malformed payloads decode to None, never throw") {
    assert(Ppm.decode(Array[Byte]()).isEmpty)
    assert(Ppm.decode("P3\n1 1\n255\n  0 0 0".getBytes).isEmpty) // ascii PPM ≠ P6
    assert(Ppm.decode("not an image".getBytes).isEmpty)
    val truncated = Ppm.encode(4, 4, new Array[Byte](48)).dropRight(5)
    assert(Ppm.decode(truncated).isEmpty)
    // 2-byte-per-sample maxval is out of scope
    assert(Ppm.decode(("P6\n1 1\n65535\n" + "ab").getBytes).isEmpty)
  }

  test("Ppm.luminanceHistogram: exact bin placement, fractions sum to 1") {
    // 4 pixels with luma 0, 64, 128, 255 → bins 0, 4, 8, 15 at dim 16
    val px = Array[Int](0, 0, 0, 64, 64, 64, 128, 128, 128, 255, 255, 255)
      .map(_.toByte)
    val h = Ppm.luminanceHistogram(Ppm.Rgb(4, 1, px), 16)
    assert(h.length == 16)
    assert(h(0) == 0.25f && h(4) == 0.25f && h(8) == 0.25f && h(15) == 0.25f)
    assert(math.abs(h.map(_.toDouble).sum - 1.0) < 1e-9)
  }

  test("image rows route through the real PPM decoder") {
    val images = media.filter(_.meta.modality == "image").collect()
    assert(images.nonEmpty)
    images.foreach { r =>
      val img = Ppm.decode(r.bytes).getOrElse(fail(s"row ${r.media_id} not PPM"))
      assert(img.height == 1 && img.width == r.meta.width)
      // grayscale strip synthesized from the text bytes: r = g = b
      assert(img.pixels.grouped(3).forall(p => p(0) == p(1) && p(1) == p(2)))
      val feats = Multimodal.decodeFeatures(r, 16)
      assert(feats.sameElements(Ppm.luminanceHistogram(img, 16)),
        "image must take the PPM route")
      assert(math.abs(feats.map(_.toDouble).sum - 1.0) < 1e-5)
    }
    // image bytes that are NOT a PPM container are the zero marker
    val junk = MediaRow(4L, "junk".getBytes, MediaMeta("image", 1, 1, 0, 0L))
    assert(Multimodal.decodeFeatures(junk, 16).forall(_ == 0.0f))
  }

  test("Y4m: encode→decode round-trips frames exactly; chroma variants walk") {
    val frames = Array.tabulate(4)(f =>
      Array.tabulate(12)(i => ((i * 17 + f * 31) % 256).toByte))
    val bytes = Y4m.encode(12, 1, 25, frames)
    val vid = Y4m.decode(bytes).getOrElse(fail("decode returned None"))
    assert(vid.width == 12 && vid.height == 1 && vid.fps == 25)
    assert(vid.frames.length == 4)
    vid.frames.zip(frames).foreach { case (a, b) => assert(a.sameElements(b)) }
    // a C444 stream: Y plane kept, full chroma stride walked
    val y = Array.tabulate(4)(i => (i * 9).toByte)
    val c444 = "YUV4MPEG2 W2 H2 F30:1 C444\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes ++ y ++ new Array[Byte](8) ++
      "FRAME\n".getBytes ++ y.map(b => (b + 1).toByte) ++ new Array[Byte](8)
    val v2 = Y4m.decode(c444).getOrElse(fail("C444 must parse"))
    assert(v2.frames.length == 2 && v2.frames(0).sameElements(y))
    // default colorspace (no C tag) is 420: frame = w·h·3/2 bytes
    val c420 = "YUV4MPEG2 W2 H2 F25:1\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes ++ y ++ new Array[Byte](2)
    val v3 = Y4m.decode(c420).getOrElse(fail("default C420 must parse"))
    assert(v3.frames.length == 1 && v3.frames(0).sameElements(y))
  }

  test("Y4m: malformed payloads decode to None, never throw") {
    assert(Y4m.decode(Array[Byte]()).isEmpty)
    assert(Y4m.decode("not a video".getBytes).isEmpty)
    assert(Y4m.decode("YUV4MPEG2 W0 H1 F25:1 Cmono\n".getBytes).isEmpty)
    // truncated last frame
    val ok = Y4m.encode(8, 1, 25, Array.fill(2)(new Array[Byte](8)))
    assert(Y4m.decode(ok.dropRight(3)).isEmpty)
    // garbage between frames
    val bad = Y4m.encode(4, 1, 25, Array(new Array[Byte](4))) ++
      "JUNK\n....".getBytes
    assert(Y4m.decode(bad).isEmpty)
  }

  test("Y4m.temporalLuminance: exact per-bin means, bounded in [0,1]") {
    // 4 frames of constant luma 0 / 51 / 102 / 255 into 4 bins
    val vid = Y4m.Video(2, 1, 25,
      Array(0, 51, 102, 255).map(v => Array.fill(2)(v.toByte)))
    val f = Y4m.temporalLuminance(vid, 4)
    assert(f.length == 4)
    assert(f(0) == 0.0f)
    assert(math.abs(f(1) - 51f / 255f) < 1e-6)
    assert(math.abs(f(2) - 102f / 255f) < 1e-6)
    assert(f(3) == 1.0f)
    // more bins than frames: empty bins stay 0; all bounded
    val g = Y4m.temporalLuminance(vid, 16)
    assert(g.count(_ > 0.0f) == 3 && g.forall(v => v >= 0.0f && v <= 1.0f))
    assert(Y4m.temporalLuminance(Y4m.Video(1, 1, 25, Array.empty), 8)
      .forall(_ == 0.0f))
  }

  test("video rows route through the real Y4M decoder with shifted frames") {
    val vids = media.filter(_.meta.modality == "video").collect()
    assert(vids.nonEmpty)
    vids.foreach { r =>
      val vid = Y4m.decode(r.bytes).getOrElse(fail(s"row ${r.media_id} not Y4M"))
      assert(vid.frames.length == 4 && vid.height == 1)
      assert(vid.width == r.meta.width)
      // frame f is the base shifted by +f mod 256 — unlike a rotation
      // (which preserves each frame's byte multiset and so its mean),
      // the shift makes the per-frame MEANS genuinely differ, so a
      // frame-walk bug that duplicated one frame flattens the
      // temporal bins detectably
      val base = vid.frames(0)
      (1 until 4).foreach { f =>
        base.indices.foreach { i =>
          assert(vid.frames(f)(i) == (((base(i) & 0xFF) + f) & 0xFF).toByte,
            s"frame $f must be the base shifted by +$f")
        }
      }
      val feats = Multimodal.decodeFeatures(r, 16)
      assert(feats.sameElements(Y4m.temporalLuminance(vid, 16)),
        "video must take the Y4M route")
      assert(feats.forall(v => v >= 0.0f && v <= 1.0f))
      assert(feats.map(_.toDouble).sum > 0.0,
        "text bytes are never all-NUL, so decoded luma must be positive")
      // the shift is visible in the features: unless every byte wrapped,
      // consecutive frame means strictly increase
      val perFrame = vid.frames.map(fr =>
        fr.map(b => (b & 0xFF).toDouble).sum / fr.length)
      assert(perFrame.distinct.length > 1,
        "per-frame means must differ — a duplicated frame would hide here")
    }
  }

  test("resizeMeta rewrites metadata only") {
    val r = resizeMeta(media, 224, 224).collect()
    assert(r.forall(x => x.meta.width == 224 && x.meta.height == 224))
    val orig = media.collect().map(x => x.media_id -> x.bytes.length).toMap
    assert(r.forall(x => x.bytes.length == orig(x.media_id)))
  }

  test("sampleFrames yields no frames (not an error) for zero-duration video") {
    val zero = Seq(MediaRow(99L, Array[Byte](), MediaMeta("video", 1, 1, 0, 0L)))
      .toDS()
    assert(sampleFrames(zero.toDF(), 500).count() == 0)
  }

  test("sampleFrames explodes video rows on a time grid") {
    val frames = sampleFrames(media.toDF(), everyMs = 500)
    val vids = media.filter(_.meta.modality == "video").collect()
    val expected = vids.map(v => 1 + (v.meta.durationMs - 1) / 500).sum
    assert(frames.count() == expected)
    assert(frames.groupBy("media_id").agg(min("offset_ms").as("m"))
      .filter($"m" =!= 0L).count() == 0)
  }

  private def grayPpm(w: Int, h: Int, f: Int => Int): Array[Byte] =
    Ppm.encode(w, h, Array.tabulate(3 * w * h) { i =>
      f(i / 3).toByte
    })

  test("dHash64: brightness-shift invariant, content-sensitive, total on 1x1") {
    val base = grayPpm(16, 8, i => (i * 37 + 11) % 200)
    val brighter = grayPpm(16, 8, i => (i * 37 + 11) % 200 + 17)
    // flatten raster row 2 to constant 255: its grid cells all equalize,
    // so every originally-unequal adjacent pair in grid row 2 (cell(2,0)
    // mean 195 vs cell(2,1) mean 50.5 in this pattern) must flip to 0
    val edited = grayPpm(16, 8, i =>
      if (i / 16 == 2) 255 else (i * 37 + 11) % 200)
    def h(b: Array[Byte]) = Ppm.dHash64(Ppm.decode(b).get)
    // +17 to every channel: every cell mean shifts by exactly +17, all
    // cross-multiplied difference bits survive — the re-export channel
    assert(h(base) == h(brighter))
    // one blown-out pixel flips at least one local difference bit
    assert(h(base) != h(edited))
    // degenerate rasters stay total (every grid cell clamps to >= 1 px)
    assert(Ppm.decode(grayPpm(1, 1, _ => 7)).map(Ppm.dHash64).contains(
      Ppm.dHash64(Ppm.decode(grayPpm(1, 1, _ => 123)).get)))
  }

  /** One payload per modality for a content `seed`; `twin` is the copy
    * the modality's fingerprint is invariant to (+40 brightness, ×2
    * gain, +16 brightness), with bytes that differ everywhere. */
  private def payload(m: Modality, seed: Int, twin: Boolean): Array[Byte] =
    m match {
      case Modality.Image =>
        grayPpm(16, 8, i => (i * seed) % 180 + (if (twin) 40 else 0))
      case Modality.Audio =>
        Wav.encode(Array.tabulate(128)(i =>
          ((i * seed + 11) % 1400 * (if (twin) 2 else 1)).toShort), 16000)
      case Modality.Video =>
        Y4m.encode(16, 1, 25, Array.tabulate(64)(f => Array.tabulate(16)(i =>
          (((f * 16 + i) * seed % 120) + (if (twin) 16 else 0)).toByte)))
    }

  Modality.all.foreach { m =>
    test(s"fingerprints + dupGroups ($m): twin groups, junk stays singleton") {
      val media = Seq(
        (1L, payload(m, 53, twin = false)),
        (2L, payload(m, 53, twin = true)), // perceptual twin of 1
        (3L, payload(m, 91, twin = false)), // different content
        (4L, "not a payload".getBytes("US-ASCII"))) // undecodable
        .toDF("media_id", "bytes")
      val fps = fingerprints(media, m)
      assert(fps.columns.toSeq == Seq("media_id", "bytes", m.fpCol))
      assert(fps.filter(col(m.fpCol).isNull)
        .select("media_id").as[Long].collect().toSeq == Seq(4L),
        "only the undecodable payload fingerprints to NULL")
      val out = dupGroups(media, m)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getInt(3)))).toMap
      assert(out(1L) == ((1L, 2L, 1)) && out(2L) == ((1L, 2L, 1)),
        s"twin must join its original's group: $out")
      assert(out(3L) == ((3L, 1L, 0)), s"distinct content must stay apart: $out")
      assert(out(4L) == ((4L, 1L, 0)), s"undecodable must stay singleton: $out")
    }
  }

  test("an unknown modality name fails loudly, naming it") {
    val row = MediaRow(1L, "x".getBytes("US-ASCII"),
      MediaMeta("hologram", 0, 0, 0, 0L))
    val direct = intercept[IllegalArgumentException](decodeFeatures(row, 16))
    assert(direct.getMessage.contains("'hologram'"), direct.getMessage)
    val viaJob = intercept[Exception](
      extractFeatures(Seq(row).toDS(), dim = 16).collect())
    val messages = Iterator.iterate[Throwable](viaJob)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains("'hologram'")), messages.mkString(" | "))
  }

  test("audioFingerprint: power-of-two gain invariant, content-sensitive, all bits live") {
    val base = Array.tabulate(128)(i =>
      (((i * 2654435761L) >> 7).toInt % 1500).toShort)
    def fpOf(samples: Array[Short]) =
      Wav.audioFingerprint(Wav.decode(Wav.encode(samples, 16000)).get)
    def fp(scale: Int) = fpOf(base.map(s => (s * scale).toShort))
    // x2 and x4 gain: the whole Goertzel chain scales EXACTLY in IEEE,
    // every difference sign survives
    assert(fp(1) == fp(2) && fp(1) == fp(4))
    // real content change: zero the second half — energies reshape
    assert(fp(1) != fpOf(base.zipWithIndex.map { case (s, i) =>
      if (i >= 64) 0.toShort else s
    }))
    // the fingerprint is not degenerate: both bit values present
    val h = fp(1)
    assert(h != 0L && java.lang.Long.bitCount(h) < 63)
  }

  test("videoFingerprint: brightness-shift invariant, content-sensitive, short-clip total") {
    def clip(shift: Int, frames: Int = 64, tweak: (Int, Int) => Int = (_, v) => v) =
      Y4m.decode(Y4m.encode(16, 1, 25, Array.tabulate(frames)(f =>
        Array.tabulate(16)(i =>
          ((tweak(f, (f * 16 + i) * 37 % 120) & 0x7F) + shift).toByte)))).get
    // +16 on every Y byte: each bin's integer sum shifts by exactly
    // 16·count, every cross-multiplied comparison survives
    assert(Y4m.videoFingerprint(clip(0)) == Y4m.videoFingerprint(clip(16)))
    // blank frame 7 (one bin's mean collapses): the fingerprint moves
    assert(Y4m.videoFingerprint(clip(0)) !=
      Y4m.videoFingerprint(clip(0, tweak = (f, v) => if (f == 7) 0 else v)))
    // clips shorter than the bin count stay total (empty bins = mean 0)
    val short = Y4m.videoFingerprint(clip(0, frames = 3))
    assert(short == Y4m.videoFingerprint(clip(16, frames = 3)))
  }

  Modality.all.foreach { m =>
    test(s"fp store ($m): twin drops, novel keeps, min id wins, junk out") {
      val dir = java.nio.file.Files.createTempDirectory(s"${m}fpstore").toString
      writeFingerprintStore(
        Seq((100L, payload(m, 53, twin = false))).toDF("media_id", "bytes"),
        m, dir, expectedTotal = 1000L)
      val batch = Seq(
        (1L, payload(m, 53, twin = true)), // perceptual twin of stored 100
        (3L, payload(m, 91, twin = false)), // novel
        (2L, payload(m, 91, twin = false)), // within-batch dup of 3
        (4L, "junk".getBytes("US-ASCII"))) // undecodable: no perceptual identity
        .toDF("media_id", "bytes")
      val kept = dedupFromStore(batch, m, dir)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L),
        s"only the novel item's smallest-id carrier survives: $kept")
    }
  }

  test("incrementalImageNearDup: batch x store banded pairs == brute force; appends land") {
    val dir = java.nio.file.Files.createTempDirectory("imgndstore").toString
    def img(seed: Int) = grayPpm(16, 8, i => (i * seed + 5) % 200)
    // store: two images; batch: a brightness twin of stored 100 (hamming
    // 0), a near-twin of stored 101 (one raster row flattened -> small
    // but nonzero hamming, may or may not clear 3), and a novel image
    writeImageNearDupStore(
      Seq((100L, img(53)), (101L, img(91))).toDF("media_id", "bytes"), dir)
    val batch = Seq(
      (1L, grayPpm(16, 8, i => (i * 53 + 5) % 200 + 30)),
      (2L, grayPpm(16, 8, i => if (i / 16 == 5) 40 else (i * 91 + 5) % 200)),
      (3L, img(197))).toDF("media_id", "bytes")
    val got = incrementalImageNearDup(batch, dir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same hashes
    def h(b: Array[Byte]) = Ppm.dHash64(Ppm.decode(b).get)
    val storeH = Seq(100L -> h(img(53)), 101L -> h(img(91)))
    val batchH = batch.collect().map(r =>
      r.getLong(0) -> h(r.getAs[Array[Byte]]("bytes")))
    val brute = (for {
      (bi, bh) <- batchH; (si, sh) <- storeH
      d = java.lang.Long.bitCount(bh ^ sh).toLong if d <= 3
    } yield (bi, si, d)).toSet
    assert(got.contains((1L, 100L, 0L)), s"brightness twin must pair at 0: $got")
    assert(got == brute, s"banded must equal brute: got $got vs $brute")
    // append batch as a landed generation; a re-probe of image 1 now
    // also pairs with itself landed under a different id namespace
    appendToImageNearDupStore(
      batch.select((col("media_id") + 1000L).as("media_id"), col("bytes")),
      dir, batchId = 1L)
    val after = incrementalImageNearDup(batch, dir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.contains((1L, 1001L)) && after.contains((3L, 1003L)),
      s"appended generation must be probe-visible: $after")
    // maintenance: folding install + append into one batch=0 changes
    // no answer, and the store keeps growing afterwards
    compactImageNearDupStore(spark, dir)
    val gens = new java.io.File(s"$dir/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(gens == Set("batch=0"), s"fold must leave one generation: $gens")
    val folded = incrementalImageNearDup(batch, dir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == after, "fold must not change any probe answer")
    appendToImageNearDupStore(
      batch.select((col("media_id") + 2000L).as("media_id"), col("bytes")),
      dir, batchId = 2L)
    val grown = incrementalImageNearDup(batch, dir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grown.contains((1L, 2001L)),
      s"post-fold appends must stay probe-visible: $grown")
  }

  test("image near-dup store lands a generation as a few flat files") {
    // a (band, pfx) directory tree per generation buys a prefix prune
    // that never fires on a batch of more than a few images (it hits
    // every prefix of every band) while costing every install, append
    // and fold bands · 2^pfxBits directories; a generation is a flat
    // file set
    val dir = java.nio.file.Files.createTempDirectory("imgndflat").toString
    def img(seed: Int) = grayPpm(16, 8, i => (i * seed + 5) % 200)
    writeImageNearDupStore(
      (100L to 131L).map(i => (i, img(i.toInt))).toDF("media_id", "bytes"), dir)
    val batch = (1L to 32L).map(i => (i, img(i.toInt + 200)))
      .toDF("media_id", "bytes")
    appendToImageNearDupStore(batch, dir, batchId = 1L)
    val entries = new java.io.File(s"$dir/bands/batch=1").listFiles().toSeq
    assert(!entries.exists(_.isDirectory),
      s"flat generation expected, got dirs ${entries.filter(_.isDirectory).map(_.getName)}")
    val files = entries.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.size <= spark.sparkContext.defaultParallelism,
      s"a 32-image generation must be a few files, got ${files.size}")
    // one (band, bk, id, h) row per decodable image per band (4 bands)
    assert(spark.read.parquet(s"$dir/bands/batch=1").count() == 4L * 32L)
  }

  test("imageNearDupPairs: banded candidates reproduce brute-force hamming pairs") {
    // 40 hashed images: pairs planted at hamming 1-3 (bit flips of a
    // base hash), the rest md5-spread
    val base = 0x5a3c96e1b4d27f08L
    val rows = (0L until 40L).map { id =>
      val h =
        if (id % 10 == 1) base ^ (1L << (id % 63).toInt) // hamming 1 from base
        else if (id % 10 == 0) base
        else scala.util.hashing.MurmurHash3.stringHash(s"img$id").toLong * 2654435761L
      (id, h)
    }.toDF("media_id", "dhash")
    val banded = imageNearDupPairs(rows, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = rows.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture must plant at least one close pair")
    assert(banded == brute,
      s"banded pairs must equal brute force: missing ${brute -- banded}, extra ${banded -- brute}")
  }
}
