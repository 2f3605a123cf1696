package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Multimodal column handling: image/audio/video as opaque binary
  * columns + typed metadata, with decode / feature-extraction /
  * resize / frame-sampling plumbing.
  *
  * Decode is MODALITY-ROUTED through one table ([[Multimodal.Modality]])
  * of REAL pure-JVM decoders for all three modalities: audio = RIFF/WAVE PCM ([[Wav]] — header parse +
  * PCM samples → fixed-dim band-energy features), image = binary PPM
  * ([[Ppm]] — pixels → luminance histogram fractions), video =
  * uncompressed Y4M ([[Y4m]] — stream-header walk + per-frame Y
  * planes → fixed-dim temporal luminance features). A payload that is
  * not its modality's container decodes to the ALL-ZERO feature
  * vector — the explicit "undecodable" marker (total, deterministic,
  * inside every route's feature bounds); a modality name the table
  * does not own fails loudly. Everything around the seam —
  * schema, batch-per-partition processing shape, partitioning, output
  * contract — is identical across routes, so swapping a decoder for a
  * compressed-codec call is a one-line change per modality: decode
  * cost amortizes per partition, feature vectors stay distributed,
  * nothing collects to the driver.
  */
object Multimodal {

  case class MediaMeta(modality: String, width: Int, height: Int,
                       sampleRate: Int, durationMs: Long)
  case class MediaRow(media_id: Long, bytes: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, modality: String, n_bytes: Int,
                           features: Array[Float])

  /** The modality table: one entry per perceptual modality, owning its
    * [[MediaMeta.modality]] name, its pure-JVM decoder, its 64-bit
    * fingerprint and the fingerprint's column, and its feature
    * extractor. Every per-modality operator in this object routes
    * through an entry; a modality name no entry owns fails loudly
    * ([[Modality.named]]) rather than falling to some decoder. */
  sealed abstract class Modality(val name: String, val fpCol: String)
      extends Serializable {
    type Decoded
    def decode(bytes: Array[Byte]): Option[Decoded]
    def fingerprint(d: Decoded): Long
    def features(d: Decoded, dim: Int): Array[Float]

    /** The payload's fingerprint; None when the bytes are not this
      * modality's container (no perceptual identity). */
    final def fingerprintOf(bytes: Array[Byte]): Option[Long] =
      decode(bytes).map(fingerprint)

    /** The payload's `dim` features; bytes that are not this modality's
      * container get the all-zero vector — the explicit undecodable
      * marker, which still satisfies every route's bound invariants, so
      * a misrouted payload is never silently wrong-dim or unbounded (it
      * shows up as zeros, and in the mm2 gate as a flipped sum-≈-1 flag
      * on the image route). */
    final def featuresOf(bytes: Array[Byte], dim: Int): Array[Float] =
      decode(bytes).fold(new Array[Float](dim))(features(_, dim))

    override def toString: String = name
  }

  object Modality {
    /** Binary PPM ([[Ppm]]): the brightness-shift-invariant dHash
      * ([[Ppm.dHash64]]), luminance-histogram fractions summing to 1. */
    case object Image extends Modality("image", "dhash") {
      type Decoded = Ppm.Rgb
      def decode(bytes: Array[Byte]): Option[Ppm.Rgb] = Ppm.decode(bytes)
      def fingerprint(d: Ppm.Rgb): Long = Ppm.dHash64(d)
      def features(d: Ppm.Rgb, dim: Int): Array[Float] =
        Ppm.luminanceHistogram(d, dim)
    }

    /** RIFF/WAVE PCM ([[Wav]]): the volume-invariant Goertzel sign
      * pattern ([[Wav.audioFingerprint]]), band energies in [0, 1]. */
    case object Audio extends Modality("audio", "afp") {
      type Decoded = Wav.Pcm
      def decode(bytes: Array[Byte]): Option[Wav.Pcm] = Wav.decode(bytes)
      def fingerprint(d: Wav.Pcm): Long = Wav.audioFingerprint(d)
      def features(d: Wav.Pcm, dim: Int): Array[Float] =
        Wav.bandEnergies(d.samples, dim)
    }

    /** Uncompressed Y4M ([[Y4m]]): the brightness-invariant luma-bin
      * pattern ([[Y4m.videoFingerprint]]), per-time-bin mean luma in
      * [0, 1]. */
    case object Video extends Modality("video", "vfp") {
      type Decoded = Y4m.Video
      def decode(bytes: Array[Byte]): Option[Y4m.Video] = Y4m.decode(bytes)
      def fingerprint(d: Y4m.Video): Long = Y4m.videoFingerprint(d)
      def features(d: Y4m.Video, dim: Int): Array[Float] =
        Y4m.temporalLuminance(d, dim)
    }

    val all: Seq[Modality] = Seq(Image, Audio, Video)

    /** The entry owning `name`; an unknown name throws, naming it. */
    def named(name: String): Modality =
      all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"unknown modality '$name' (known: ${all.mkString(", ")})"))
  }

  /** The decode seam: the row's modality entry decodes and featurizes
    * its payload ([[Modality.featuresOf]]). */
  private[operators] def decodeFeatures(row: MediaRow, dim: Int): Array[Float] =
    Modality.named(row.meta.modality).featuresOf(row.bytes, dim)

  /** Batch feature extraction: one partition = one batch, mirroring the
    * mapInPandas/Arrow-batch shape. The iterator is processed lazily —
    * constant memory per partition regardless of partition size. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { row =>
        MediaFeatures(row.media_id, row.meta.modality, row.bytes.length,
          decodeFeatures(row, dim))
      }
    }
  }

  /** Metadata-level resize: contract-checked without touching pixels
    * (a real impl would re-encode bytes per batch in the same place). */
  def resizeMeta(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map(r => r.copy(meta = r.meta.copy(width = w, height = h)))
  }

  /** Frame sampling for video-shaped rows: every `everyMs` milliseconds
    * of duration yields one (media_id, sample_idx, offset_ms) row —
    * a generator (explode) over the metadata, no decode needed to plan.
    * `sample_idx` is the SAMPLE ordinal (offset_ms ÷ everyMs), NOT a
    * source frame number. When the container frame rate is known, pass
    * `fps` to also emit `src_frame_idx` = ⌊offset_ms · fps / 1000⌋ —
    * the frame a decoder should fetch at that timestamp (offset 80 ms
    * of a 25 fps stream is source frame 2, not sample 1; a consumer
    * grabbing decoded frames by the sample ordinal would fetch the
    * wrong frame). */
  def sampleFrames(media: DataFrame, everyMs: Long,
                   fps: Option[Double] = None): DataFrame = {
    val base = media
      // zero-duration media yields no frames; sequence(0, -1, step) would
      // throw on descending bounds (same guard as Dedup.shingles)
      .filter(col("meta.modality") === Modality.Video.name &&
        col("meta.durationMs") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.durationMs") - 1, lit(everyMs)))
          .as("offset_ms"))
      .withColumn("sample_idx", (col("offset_ms") / everyMs).cast("long"))
    fps.map(f => base.withColumn("src_frame_idx",
        floor(col("offset_ms") * f / 1000.0).cast("long")))
      .getOrElse(base)
  }

  /** Wrap a text corpus as media rows — the test/demo entry path.
    * AUDIO rows carry a REAL synthesized WAV container — 16-bit PCM
    * mono at 16 kHz, one sample per text byte (sample =
    * (byte − 128) << 8, content-derived and RNG-free); IMAGE rows carry
    * a REAL binary-PPM container — a textBytes×1 grayscale strip with
    * r = g = b = byte; VIDEO rows carry a REAL Y4M container — 4
    * mono frames of an L×1 strip, frame f pixel i = (byte_i + f)
    * mod 256 (a per-frame BRIGHTNESS shift: a rotation would preserve
    * each frame's byte multiset and so its mean — the shift makes the
    * temporal luminance means genuinely differ across frames, so a
    * decoder that duplicated one frame into every slot flattens them
    * detectably) — so all three real decoders run end-to-end.
    * Payload sizes stay SQL-recomputable for the mm1/mm2 oracles:
    * audio = 44 + 2·L; image = 10 + digits(L) + 3·L (header
    * "P6\nL 1\n255\n"); video = 59 + digits(L) + 4·L (header
    * "YUV4MPEG2 W<L> H1 F25:1 Ip A1:1 Cmono\n" = 35 + digits(L), plus
    * 4 × ("FRAME\n" + L)), where L = max(utf-8 byte length, 1). */
  def fromDocuments(docs: DataFrame, spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        // empty-text guard: a 0-byte payload would synthesize a
        // width-0 PPM / 0-sample WAV / 0-frame video that the decoders
        // reject, silently re-routing the row to the fallback and
        // breaking the mm2 per-modality invariants. One space byte
        // keeps every container well-formed; the mm1/mm2 oracles use
        // greatest(octet_length, 1) to mirror it.
        val raw0 = text.getBytes("UTF-8")
        val raw = if (raw0.isEmpty) Array(' '.toByte) else raw0
        val m = id % 3 match {
          case 0 => Modality.Image; case 1 => Modality.Audio
          case _ => Modality.Video
        }
        val nFrames = 4
        // (payload, width, height, duration in ms)
        val (bytes, w, h, durMs) = m match {
          case Modality.Audio =>
            (Wav.encode(raw.map(b => (((b & 0xFF) - 128) << 8).toShort), 16000),
              64, 64, raw.length.toLong * 1000L / 16000L)
          case Modality.Image =>
            (Ppm.encode(raw.length, 1, raw.flatMap(b => Array(b, b, b))),
              raw.length, 1, raw.length.toLong * 10)
          case Modality.Video =>
            (Y4m.encode(raw.length, 1, 25,
              Array.tabulate(nFrames)(f =>
                Array.tabulate(raw.length)(i => ((raw(i) + f) & 0xFF).toByte))),
              raw.length, 1, nFrames * 40L) // 4 frames at 25 fps
        }
        MediaRow(id, bytes, MediaMeta(m.name, w, h, 16000, durMs))
    }
  }

  /** The trio's fingerprint projection: (media_id, bytes) rows →
    * (media_id, bytes, `m.fpCol`), the modality's 64-bit fingerprint
    * computed map-side (decode + hash amortize per partition). The
    * payload rides only this id-local map — the streaming ingest
    * publishes it with the kept rows; callers that need (media_id, fp)
    * select those two columns before any exchange, and Spark prunes the
    * bytes out of the map's serializer, so the multi-TB binary payload
    * never reaches a shuffle. Undecodable payloads fingerprint to NULL
    * (the all-zero feature marker's scalar twin), so they never merge
    * into a dup group. */
  def fingerprints(media: DataFrame, m: Modality): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id").cast("long"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, bytes, m.fingerprintOf(bytes))
      })
      .toDF("media_id", "bytes", m.fpCol)
  }

  /** [[fingerprints]] as `Dedup`'s fp-store rows: undecodable payloads
    * are EXCLUDED — they have no perceptual identity and must never
    * merge (route them to a quarantine table upstream) — and `_dh`, the
    * fingerprint's string form, is the store's text column (an injective
    * key, so the store's md5 keeps exact-dedup semantics). The payload
    * is still carried for the ingest loop's kept publish. */
  private[graft] def fpStoreRows(media: DataFrame, m: Modality): DataFrame =
    fingerprints(media, m).filter(col(m.fpCol).isNotNull)
      .withColumn("_dh", col(m.fpCol).cast("string"))

  /** At-rest perceptual dedup store: the modality's fingerprint AS the
    * fingerprint, riding [[Dedup.writeFpStore]]'s Bloom-fronted
    * machinery unchanged (capacity, lanes, meta). A store written for
    * one modality must only ever be probed with the same modality (the
    * fingerprint namespaces are disjoint only within one decoder). */
  def writeFingerprintStore(media: DataFrame, m: Modality, dir: String,
                            expectedTotal: Long): Unit =
    Dedup.writeFpStore(fpStoreRows(media, m).select("media_id", "_dh"),
      "media_id", "_dh", dir, expectedTotal)

  /** Batch perceptual dedup against the at-rest store — the weekly-crawl
    * read path: (id, fp) keepers per [[Dedup
    * .incrementalExactDedupFromFpStore]]'s contract (one row per
    * distinct batch fingerprint absent from the store, smallest id wins
    * within the batch; Bloom-routed so a mostly-novel batch pays map
    * work + an anti join over the suspect sliver only). A re-graded /
    * remastered copy of a stored item carries the stored fingerprint
    * and drops here even though its bytes match nothing. */
  def dedupFromStore(batch: DataFrame, m: Modality, dir: String): DataFrame =
    Dedup.incrementalExactDedupFromFpStore(
      fpStoreRows(batch, m).select("media_id", "_dh"), dir, "media_id", "_dh")

  /** Fingerprint-equality dup groups: every row gets its group's minimum
    * id (`group_id`), member count (`n_in_group`) and an `is_dup` flag.
    * One aggregate of skinny (fp → min-id, count) rows — map-side
    * combinable — plus one id-keyed join back; no window, so a viral
    * item with millions of copies is one combiner cell, not one task's
    * sort. NULL fingerprints (undecodable) stay singleton by
    * definition. */
  def dupGroups(media: DataFrame, m: Modality): DataFrame = {
    val hashed = fingerprints(media, m).select("media_id", m.fpCol)
    val groups = hashed.filter(col(m.fpCol).isNotNull)
      .groupBy(m.fpCol)
      .agg(min(col("media_id")).as("group_id"), count(lit(1)).as("n_in_group"))
    hashed.join(groups, Seq(m.fpCol), "left")
      .select(col("media_id"),
        coalesce(col("group_id"), col("media_id")).as("group_id"),
        coalesce(col("n_in_group"), lit(1L)).as("n_in_group"),
        (coalesce(col("n_in_group"), lit(1L)) > 1).cast("int").as("is_dup"))
  }

  /** NEAR-duplicate image pairs at Hamming distance ≤ `maxHamming`
    * over the dHash — banded exactly like SimHash text near-dup: the
    * 64-bit hash splits into `bands` sub-keys, a pair at distance
    * ≤ bands−1 must agree on ≥ 1 whole band (pigeonhole — recall 1.0
    * for maxHamming ≤ bands−1, the regime perceptual dedup runs at),
    * so candidates come from band-key equi-joins of skinny (id, band,
    * key) rows, then exact popcount verifies. Emits (id_a < id_b,
    * hamming). Never pairs the corpus against itself unbucketed. */
  private def requireBandedExact(maxHamming: Int, bands: Int): Unit = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming <= bands - 1,
      s"banded recall is exact only for maxHamming <= bands-1 " +
        s"($maxHamming vs $bands); raise bands")
  }

  /** Explode a (id, hash) frame into per-band sub-keys — the SimHash
    * banding on an arbitrary 64-bit perceptual hash. */
  private def bandedHashes(hashed: DataFrame, hashCol: String,
                           bands: Int, idCol: String): DataFrame = {
    val r = 64 / bands
    val mask = lit((if (r == 64) -1L else (1L << r) - 1L))
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), b * r).bitwiseAND(mask).as("bk")))
    hashed.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).as("_h"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("_h"),
        col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  def imageNearDupPairs(hashed: DataFrame, maxHamming: Int = 3,
                        bands: Int = 4,
                        idCol: String = "media_id"): DataFrame = {
    requireBandedExact(maxHamming, bands)
    val banded = bandedHashes(hashed, "dhash", bands, idCol)
    val a = banded.select(col(idCol).as("id_a"), col("_h").as("h_a"),
      col("band"), col("bk"))
    val b = banded.select(col(idCol).as("id_b"), col("_h").as("h_b"),
      col("band"), col("bk"))
    a.join(b, Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long")
          .as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // dedup is semantically identical — and every band-colliding FAR
      // pair (hamming up to 64) dies map-side instead of riding the
      // distinct's exchange
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** NEAR-dup image store at rest: the store lands ALREADY BANDED —
    * (band, bk, id, h) rows, one flat file set per generation under
    * `$dir/bands/batch=<i>` — and a batch probe joins its own band keys
    * against it on (band, bk). Banding geometry (bands) is pinned in
    * `_meta.json` (formatVersion 3): band keys only align when writer
    * and reader agree, the near-dup-store sidecar convention. Rows
    * carry the full hash `h`, so the popcount verify needs no second
    * store read. The earlier (band, pfx) partition tree is gone for the
    * text store's reason (`Dedup.writeNearDupStore`): a batch of more
    * than a few images hits every prefix of every band, so its prune
    * read the whole store anyway while every write paid a shuffle and
    * a directory per band and prefix. The install rebalances (the decode
    * runs at input parallelism); appends land as they are, like the
    * text store's. Batch-keyed overwrites keep appends idempotent; the
    * store carries hashes only, never bytes (~24 bytes × bands per
    * image at rest). */
  def writeImageNearDupStore(images: DataFrame, dir: String,
                             idCol: String = "media_id",
                             bytesCol: String = "bytes",
                             bands: Int = 4): Unit = {
    require(64 % bands == 0, "bands must divide 64")
    bandRows(images, idCol, bytesCol, bands).hint("rebalance")
      .write.mode("overwrite").parquet(s"$dir/bands/batch=0")
    StoreMaintenance.publishMeta(images.sparkSession, dir, imageStoreVersion,
      Map("bands" -> bands.toString))
  }

  /** Layout version of the perceptual banded store, shared by
    * [[writeImageNearDupStore]] and every reader through
    * [[openImageStore]]. */
  private val imageStoreVersion = "3"

  private def openImageStore(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, imageStoreVersion,
      "writeImageNearDupStore")

  /** Grow the near-dup store: batch band rows land under their own
    * batch subdir — idempotent per batchId by overwrite. Geometry comes
    * FROM the store's sidecar (a mismatched appender would land band
    * keys no probe can collide with). */
  def appendToImageNearDupStore(batch: DataFrame, dir: String,
                                batchId: Long,
                                idCol: String = "media_id",
                                bytesCol: String = "bytes"): Unit = {
    require(batchId > 0, "batchId 0 is the base install")
    val spark = batch.sparkSession
    val meta = openImageStore(spark, dir)
    bandRows(batch, idCol, bytesCol, meta("bands").toInt)
      .write.mode("overwrite").parquet(s"$dir/bands/batch=$batchId")
    spark.catalog.refreshByPath(dir)
  }

  /** The banded store's (band, bk, id, h) rows for a batch of images —
    * what a generation lands and what a probe joins. */
  private def bandRows(images: DataFrame, idCol: String, bytesCol: String,
                       bands: Int): DataFrame = {
    val hashed = fingerprints(
        images.select(col(idCol).as("media_id"), col(bytesCol).as("bytes")),
        Modality.Image)
      .select("media_id", "dhash")
    bandedHashes(hashed, "dhash", bands, "media_id")
      .select(col("band"), col("bk"), col("media_id").as("id"), col("_h").as("h"))
  }

  /** Fold every committed generation of the perceptual banded store
    * into one `batch=0` — [[graft.operators.StoreMaintenance]]'s
    * crash-safe three-phase protocol applied to the image near-dup
    * store. Same contract as `Dedup.compactNearDupStore`: single
    * writer, fold only generations the ingest checkpoint has committed
    * (`maxBatchId`), probes and appends fail loudly on a crashed swap
    * until a re-run finishes it. */
  def compactImageNearDupStore(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               maxBatchId: Long = Long.MaxValue): Unit =
    StoreMaintenance.compactStore(spark, dir, imageStoreVersion,
        "writeImageNearDupStore", maxBatchId) { _ =>
      Seq(StoreMaintenance.TableSpec("bands",
        _.select("band", "bk", "id", "h")))
    }

  /** Batch × store NEAR-dup pairs at Hamming ≤ `maxHamming` — the
    * incremental fuzzy-image-dedup read path (d10's shape on the
    * pixel channel): the batch bands its hashes with the STORE's
    * pinned geometry, candidates come from ONE band-key equi-join
    * against the store read with a pinned schema (pigeonhole recall
    * 1.0 at maxHamming ≤ bands−1 — deterministic, not probabilistic),
    * a popcount verifies — BEFORE the pair dedup, so far collisions
    * never ride the exchange. The batch never pairs against itself and
    * the store never re-pairs its landed corpus. CONTRACT: batch and
    * store ids disjoint. Output (batch_id, store_id, hamming). */
  def incrementalImageNearDup(batch: DataFrame, dir: String,
                              maxHamming: Int = 3,
                              idCol: String = "media_id",
                              bytesCol: String = "bytes"): DataFrame = {
    val spark = batch.sparkSession
    val meta = openImageStore(spark, dir)
    val bands = meta("bands").toInt
    requireBandedExact(maxHamming, bands)
    val qb = bandRows(batch, idCol, bytesCol, bands)
    val sb = StoreMaintenance.storeTable(spark, dir, "bands",
      "band" -> IntegerType, "bk" -> LongType,
      "id" -> qb.schema("id").dataType, "h" -> LongType)
    qb.select(col("id").as("batch_id"), col("h").as("h_a"),
        col("band"), col("bk"))
      .join(sb.select(col("id").as("store_id"), col("h").as("h_b"),
        col("band"), col("bk")), Seq("band", "bk"))
      .select(col("batch_id"), col("store_id"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}

/** Minimal pure-JVM binary-PPM (P6, Netpbm) codec — the image half of
  * the real-decoder pair ([[Wav]] is the audio half). Parses the
  * text header per the Netpbm spec: "P6", then width / height / maxval
  * tokens separated by whitespace runs, '#' comments swallowed to end
  * of line, exactly ONE whitespace byte after maxval, then 3·w·h raw
  * RGB bytes (maxval ≤ 255 — the 2-byte-per-sample variant is out of
  * scope). Decode is total: malformed input yields None, never a
  * throw — the router marks the row undecodable (all-zero features).
  */
object Ppm {

  case class Rgb(width: Int, height: Int, pixels: Array[Byte])

  def decode(bytes: Array[Byte]): Option[Rgb] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var o = 2
    // read the next header int, skipping whitespace and # comments
    def nextInt(): Option[Int] = {
      var skipping = true
      while (skipping && o < bytes.length) {
        val c = bytes(o)
        if (c == '#') { while (o < bytes.length && bytes(o) != '\n') o += 1 }
        else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') o += 1
        else skipping = false
      }
      val start = o
      var v = 0L
      while (o < bytes.length && bytes(o) >= '0' && bytes(o) <= '9') {
        v = v * 10 + (bytes(o) - '0')
        if (v > Int.MaxValue) return None
        o += 1
      }
      if (o == start) None else Some(v.toInt)
    }
    for {
      w <- nextInt()
      h <- nextInt()
      maxval <- nextInt()
      if w > 0 && h > 0 && maxval > 0 && maxval <= 255
      // exactly one whitespace byte separates maxval from the raster
      if o < bytes.length && (bytes(o) == ' ' || bytes(o) == '\t' ||
        bytes(o) == '\r' || bytes(o) == '\n')
      n = 3L * w * h
      if o + 1 + n <= bytes.length && n <= Int.MaxValue
    } yield Rgb(w, h, java.util.Arrays.copyOfRange(bytes, o + 1, o + 1 + n.toInt))
  }

  /** Canonical "P6\n<w> <h>\n255\n" writer — the synthesis half
    * ([[Multimodal.fromDocuments]]) and decode's round-trip oracle. */
  def encode(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == 3 * width * height,
      s"need ${3 * width * height} RGB bytes, got ${pixels.length}")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** `dim`-bin luminance histogram as fractions-of-pixels: luma =
    * (r + g + b) / 3 (integer mean — deterministic, no Rec.709 float
    * weights), bin = luma · dim / 256. Fractions sum to 1 (± float
    * accumulation), each in [0, 1] — the bounds the mm2 gate pins.
    * Deterministic; the canonical cheap image feature. */
  def luminanceHistogram(img: Rgb, dim: Int): Array[Float] = {
    val counts = new Array[Long](dim)
    val n = img.pixels.length / 3
    var i = 0
    while (i < n) {
      val luma = ((img.pixels(3 * i) & 0xFF) + (img.pixels(3 * i + 1) & 0xFF) +
        (img.pixels(3 * i + 2) & 0xFF)) / 3
      counts(luma * dim / 256) += 1
      i += 1
    }
    counts.map(c => if (n == 0) 0.0f else (c.toDouble / n).toFloat)
  }

  /** 64-bit difference hash (dHash — Krawetz's public perceptual-hash
    * recipe: resize to a 9×8 luma grid, bit = "is this cell brighter
    * than its right neighbour"). Block-mean downsample with ceil-span
    * guards so every grid cell covers ≥ 1 pixel for ANY w×h ≥ 1×1;
    * cell means are compared CROSS-MULTIPLIED as exact integer sums
    * (sumA·nB > sumB·nA), so the bit pattern is deterministic — no
    * float accumulation anywhere. Luma is the same integer (r+g+b)/3
    * as [[luminanceHistogram]].
    *
    * The property that makes this a DEDUP key rather than a checksum:
    * a constant brightness shift adds exactly +s to every cell's mean
    * (sum' = sum + s·n preserves every cross-multiplied inequality),
    * so re-exported/re-graded copies of one image collide on the hash
    * while their bytes differ everywhere — the channel exact binary
    * dedup misses. Bits pack row-major, MSB first. */
  def dHash64(img: Rgb): Long = {
    val gw = 9; val gh = 8
    val w = img.width; val h = img.height
    // per-cell (lumaSum, pixelCount) over the block-mean grid
    val sums = Array.ofDim[Long](gh, gw)
    val cnts = Array.ofDim[Long](gh, gw)
    var r = 0
    while (r < gh) {
      val y0 = r * h / gh
      val y1 = math.max(y0 + 1, (r + 1) * h / gh)
      var c = 0
      while (c < gw) {
        val x0 = c * w / gw
        val x1 = math.max(x0 + 1, (c + 1) * w / gw)
        // spans never escape the raster: x0 = c·w/gw < w for every
        // c < gw (integer division), and the ceil guard caps y1/x1 at
        // y0+1/x0+1 ≤ h/w — every cell covers ≥ 1 real pixel
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = 3 * (y * w + x)
            s += ((img.pixels(i) & 0xFF) + (img.pixels(i + 1) & 0xFF) +
              (img.pixels(i + 2) & 0xFF)) / 3
            x += 1
          }
          y += 1
        }
        sums(r)(c) = s
        cnts(r)(c) = (y1 - y0).toLong * (x1 - x0)
        c += 1
      }
      r += 1
    }
    var hash = 0L
    r = 0
    while (r < gh) {
      var c = 0
      while (c < gw - 1) {
        hash <<= 1
        if (sums(r)(c) * cnts(r)(c + 1) > sums(r)(c + 1) * cnts(r)(c))
          hash |= 1L
        c += 1
      }
      r += 1
    }
    hash
  }
}

/** Minimal pure-JVM WAV (RIFF/WAVE) codec — the one real decoder a
  * codec-less sandbox can carry. Supports canonical PCM: 8-bit
  * unsigned / 16-bit signed little-endian, any channel count (mixed
  * down to mono), walking the chunk list for `fmt ` and `data` (extra
  * chunks like LIST/fact are skipped, as the spec requires). Decode is
  * total: malformed or non-PCM input yields None, never a throw — the
  * router marks the row undecodable (all-zero features).
  */
object Wav {

  case class Pcm(sampleRate: Int, channels: Int, samples: Array[Float])

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Parse a RIFF/WAVE PCM container to normalized mono samples in
    * [−1, 1]. None on anything that is not canonical PCM WAV. */
  def decode(bytes: Array[Byte]): Option[Pcm] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var fmt: Option[(Int, Int, Int, Int)] = None // (format, channels, rate, bits)
    var data: Option[(Int, Int)] = None          // (offset, length)
    var o = 12
    while (o + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(bytes, o)
      val len = le32(bytes, o + 4).toInt
      if (len < 0 || o + 8 + len > bytes.length) return None
      if (id == "fmt " && len >= 16)
        fmt = Some((le16(bytes, o + 8), le16(bytes, o + 10),
          le32(bytes, o + 12).toInt, le16(bytes, o + 22)))
      else if (id == "data") data = Some((o + 8, len))
      o += 8 + len + (len & 1) // chunks are word-aligned; odd sizes pad
    }
    (fmt, data) match {
      case (Some((1, ch, rate, bits)), Some((off, len)))
          if ch >= 1 && rate > 0 && (bits == 8 || bits == 16) =>
        val bytesPerFrame = ch * bits / 8
        val n = len / bytesPerFrame
        val out = new Array[Float](n)
        var i = 0
        while (i < n) {
          var acc = 0.0f
          var c = 0
          while (c < ch) {
            val p = off + i * bytesPerFrame + c * bits / 8
            acc +=
              (if (bits == 16) (le16(bytes, p).toShort).toFloat / 32768.0f
               else ((bytes(p) & 0xFF) - 128).toFloat / 128.0f)
            c += 1
          }
          out(i) = acc / ch
          i += 1
        }
        Some(Pcm(rate, ch, out))
      case _ => None
    }
  }

  /** Canonical 44-byte-header mono 16-bit PCM writer — the test/demo
    * synthesis half ([[Multimodal.fromDocuments]]) and the round-trip
    * oracle for [[decode]]. */
  def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  /** Fixed-dim spectral features: mean signal power at `dim` evenly
    * spaced frequencies below Nyquist (normalized frequency
    * f_k = (k+1) / (2·(dim+1)) cycles/sample), each computed by the
    * Goertzel recurrence — O(dim · n) with no FFT dependency. Each
    * band energy is |Σ s_j e^(−i2πf j)|² / n², which for samples in
    * [−1, 1] lies in [0, 1] — the bound the mm2 oracle's invariant
    * leans on. Deterministic; an empty signal yields all-zero bands. */
  def bandEnergies(samples: Array[Float], dim: Int): Array[Float] = {
    val n = samples.length
    val out = new Array[Float](dim)
    if (n == 0) return out
    var k = 0
    while (k < dim) {
      val w = 2.0 * math.Pi * (k + 1).toDouble / (2.0 * (dim + 1))
      val coeff = 2.0 * math.cos(w)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
      var j = 0
      while (j < n) {
        s0 = samples(j) + coeff * s1 - s2
        s2 = s1; s1 = s0
        j += 1
      }
      val power = s1 * s1 + s2 * s2 - coeff * s1 * s2
      out(k) = (power / (n.toDouble * n.toDouble)).toFloat
      k += 1
    }
    out
  }

  /** Volume-invariant audio fingerprint: the sign pattern of adjacent
    * [[bandEnergies]] differences over 64 bands, packed into 63 bits
    * (MSB first) — the audio twin of [[Ppm.dHash64]]. A re-mastered copy at
    * a power-of-two gain carries EXACTLY scaled band energies (IEEE
    * scaling by 2^k is exact through the whole Goertzel recurrence,
    * the power term, and the n² normalization — no epsilon anywhere),
    * so every difference sign survives and the copy collides on the
    * fingerprint while its bytes differ everywhere. Non-power-of-two
    * gains preserve the signs up to float rounding at near-tie bands —
    * the usual perceptual-hash tolerance, not an exactness claim. */
  def audioFingerprint(pcm: Pcm): Long = {
    val e = bandEnergies(pcm.samples, 64)
    var h = 0L
    var i = 0
    while (i < 63) {
      h <<= 1
      if (e(i) > e(i + 1)) h |= 1L
      i += 1
    }
    h
  }
}

/** Minimal pure-JVM Y4M (YUV4MPEG2) codec — the video half of the
  * real-decoder trio ([[Wav]] audio, [[Ppm]] image). Y4M is the
  * uncompressed-video interchange container (the mjpegtools/ffmpeg
  * `yuv4mpegpipe` format): one ASCII stream header
  * "YUV4MPEG2 W<w> H<h> F<num>:<den> [I?] [A?:?] [C<cs>]\n", then per
  * frame an ASCII "FRAME[ params]\n" marker followed by raw planar
  * data. Plane geometry follows the colorspace tag: Cmono = w·h (Y
  * only), C444 = 3·w·h, C422 = 2·w·h, C420 family = w·h·3/2; the tag
  * defaults to C420 when absent, as the format specifies. Only the Y
  * (luminance) plane is retained — it is what the luminance features
  * read — but every frame advances by its full plane size, so chroma
  * variants walk correctly. Decode is total: malformed input (bad
  * magic, unparsable geometry, a truncated frame) yields None, never
  * a throw — the router marks the row undecodable (all-zero features).
  */
object Y4m {

  /** Decoded video: per-frame Y (luminance) planes of w·h bytes. */
  case class Video(width: Int, height: Int, fps: Int,
                   frames: Array[Array[Byte]])

  def decode(bytes: Array[Byte]): Option[Video] = {
    val magic = "YUV4MPEG2"
    if (bytes.length < magic.length + 1) return None
    val hdrEnd = bytes.indexOf('\n'.toByte)
    if (hdrEnd < 0) return None
    val header = new String(bytes, 0, hdrEnd, "US-ASCII")
    val parts = header.split(" ")
    if (parts.isEmpty || parts(0) != magic) return None
    var w = -1; var h = -1; var fps = 25; var cs = "420"
    parts.drop(1).foreach { p =>
      if (p.nonEmpty) p.charAt(0) match {
        case 'W' => w = p.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = p.drop(1).toIntOption.getOrElse(-1)
        case 'F' =>
          val nd = p.drop(1).split(":")
          if (nd.length == 2)
            fps = (for { n <- nd(0).toIntOption; d <- nd(1).toIntOption
                         if d > 0 } yield n / d).getOrElse(25)
        case 'C' => cs = p.drop(1)
        case _ => () // I (interlacing), A (aspect), X (extensions): ignored
      }
    }
    if (w <= 0 || h <= 0) return None
    val ySize = w.toLong * h
    val frameSize: Long = cs match {
      case "mono" => ySize
      case "444" => 3 * ySize
      case "422" => 2 * ySize
      case c if c.startsWith("420") => ySize * 3 / 2
      case _ => return None
    }
    if (frameSize > Int.MaxValue) return None
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var o = hdrEnd + 1
    while (o < bytes.length) {
      // "FRAME" + optional space-prefixed params, terminated by '\n'
      if (o + 5 > bytes.length ||
        new String(bytes, o, 5, "US-ASCII") != "FRAME") return None
      var e = o + 5
      while (e < bytes.length && bytes(e) != '\n') e += 1
      if (e >= bytes.length) return None
      val dataStart = e + 1
      if (dataStart + frameSize > bytes.length) return None
      frames += java.util.Arrays.copyOfRange(
        bytes, dataStart, dataStart + ySize.toInt)
      o = dataStart + frameSize.toInt
    }
    Some(Video(w, h, fps, frames.toArray))
  }

  /** Canonical Cmono writer — the synthesis half
    * ([[Multimodal.fromDocuments]]) and decode's round-trip oracle.
    * Header "YUV4MPEG2 W<w> H<h> F<fps>:1 Ip A1:1 Cmono\n", each frame
    * "FRAME\n" + w·h luminance bytes. */
  def encode(width: Int, height: Int, fps: Int,
             frames: Array[Array[Byte]]): Array[Byte] = {
    require(frames.forall(_.length == width * height),
      s"each frame needs ${width * height} Y bytes")
    val header =
      s"YUV4MPEG2 W$width H$height F$fps:1 Ip A1:1 Cmono\n"
        .getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = java.nio.ByteBuffer.allocate(
      header.length + frames.map(f => marker.length + f.length).sum)
    out.put(header)
    frames.foreach { f => out.put(marker); out.put(f) }
    out.array()
  }

  /** Fixed-dim TEMPORAL luminance features: frame f lands in time bin
    * ⌊f·dim/nFrames⌋ and feature k is the mean luminance (byte/255,
    * so each lies in [0, 1]) over all pixels of all frames in bin k —
    * the cheap motion/brightness-profile signal (a per-frame [[Ppm]]-
    * style histogram would lose the time axis this keeps). Bins with
    * no frames (nFrames < dim) stay 0. Deterministic; an empty video
    * yields all zeros. */
  def temporalLuminance(vid: Video, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val nf = vid.frames.length
    if (nf == 0) return out
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var f = 0
    while (f < nf) {
      val bin = (f.toLong * dim / nf).toInt
      val plane = vid.frames(f)
      var i = 0
      var s = 0.0
      while (i < plane.length) { s += (plane(i) & 0xFF); i += 1 }
      sums(bin) += s
      counts(bin) += plane.length
      f += 1
    }
    var k = 0
    while (k < dim) {
      if (counts(k) > 0) out(k) = (sums(k) / counts(k) / 255.0).toFloat
      k += 1
    }
    out
  }

  /** Brightness-shift-invariant video fingerprint — [[Ppm.dHash64]]'s
    * temporal sibling: per-time-bin INTEGER luma sums compared
    * cross-multiplied (sumᵢ·countⱼ vs sumⱼ·countᵢ — the dHash
    * discipline: no float anywhere, so a constant +s on every Y byte
    * shifts each bin's sum by exactly s·count and provably preserves
    * every bit), over 64 time bins packed MSB-first into 63 bits. A
    * re-graded / re-exported copy of a clip collides on the fingerprint
    * while its bytes differ everywhere. Bins that received no frame
    * (clips shorter than 64 frames) read as mean 0 — deterministic and
    * total.
    * Exactness bound: cross-products stay below 2⁵³ for up to ~2³²
    * luma-pixels per bin — far past any clip this decoder holds in
    * memory. */
  def videoFingerprint(vid: Video): Long = {
    val bins = 64
    val nf = vid.frames.length
    if (nf == 0) return 0L
    val sums = new Array[Long](bins)
    val cnts = new Array[Long](bins)
    var f = 0
    while (f < nf) {
      val bin = (f.toLong * bins / nf).toInt
      val p = vid.frames(f)
      var i = 0
      var s = 0L
      while (i < p.length) { s += (p(i) & 0xFF); i += 1 }
      sums(bin) += s
      cnts(bin) += p.length
      f += 1
    }
    var h = 0L
    var i = 0
    while (i < bins - 1) {
      h <<= 1
      val (l, cl) = if (cnts(i) == 0) (0L, 1L) else (sums(i), cnts(i))
      val (r, cr) =
        if (cnts(i + 1) == 0) (0L, 1L) else (sums(i + 1), cnts(i + 1))
      if (l * cr > r * cl) h |= 1L
      i += 1
    }
    h
  }
}
