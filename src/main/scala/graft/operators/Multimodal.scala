package graft.operators

import graft.{QueryPack, Tables}
import graft.sources.IndexCache.Pin
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A raw media asset: opaque bytes + typed metadata. In production the
  * binary column holds image/audio/video payloads (read via
  * spark.read.format("binaryFile") or parquet binary columns); here the
  * image payloads are REAL BMP files synthesized deterministically from
  * doc_id, audio rows get REAL PCM WAV payloads in the
  * [[Multimodal.mmWavFeatures]] path (JDK codecs for both — no external
  * libs), and video payloads stay opaque utf8 bytes (no sandboxed
  * video codec).
  */
final case class MediaAsset(
    doc_id: Long,
    payload: Array[Byte],
    mime: String,
    width: Int,
    height: Int,
    duration_s: Int)

/** Decoded features. Image rows carry REAL decode output
  * (`javax.imageio` — decoded dimensions + channel-sum over the pixel
  * raster); non-image rows (no audio/video codec available here) carry
  * the deterministic digest stub. The split is visible in the schema:
  * decode fields are null on stub rows, digest fields null on decoded
  * rows.
  */
final case class MediaFeatures(
    doc_id: Long,
    mime: String,
    byte_len: Long,
    md5_head: Option[String],
    hist_bucket: Option[Long],
    decoded_w: Option[Int],
    decoded_h: Option[Int],
    px_sum: Option[Long])

/** Multimodal-column plumbing: binary payloads with typed metadata,
  * batch decode via mapPartitions (the JVM analog of mapInPandas —
  * one decoder pass per partition, streaming over rows), and
  * frame-sampling fan-out.
  *
  * The image leg is a REAL decode: the asset synthesizer emits actual
  * BMP bytes (JDK `javax.imageio`, no external libs), and the decode
  * stage reads them back pixel-by-pixel. The oracle never decodes —
  * it derives the expected dimensions, byte length (54-byte header +
  * 4-byte-aligned BGR rows) and channel sum analytically from the
  * deterministic pixel function, so a hash match proves the decode
  * round-trip is exact. Audio/video stay digest-stubbed (declared
  * constraint: no codecs in the sandbox).
  *
  * At scale: payload columns make rows wide — partition count must
  * track bytes not rows (spark.sql.files.maxPartitionBytes), and the
  * decode stage is CPU-bound per partition, so parallelism = cores, not
  * I/O. Frame sampling is a generator (explode) — row count multiplies
  * by fps×duration, so it runs AFTER any filtering.
  */
object Multimodal extends QueryPack {

  // ImageIO defaults to DISK-cached image streams: every
  // ImageIO.read(InputStream) wraps the bytes in a
  // FileCacheImageInputStream — one temp-file create+write+delete per
  // image under java.io.tmpdir. For a decode stage over in-memory
  // payload bytes that is pure per-row filesystem overhead (and it
  // couples decode cost to /tmp pressure — co-tenant index builds
  // writing GB-scale layouts inflate unrelated image keys). Disable
  // once per JVM; the object initializes on executor classload, so the
  // setting rides into every decode task. (r16: the mm_phash
  // constant-cost adjudication — see SURVEY §4.)
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic pixel raster: grayscale v(x, y) =
    * (doc_id·31 + x·7 + y) mod 256 over a (doc_id%16+1) ×
    * (doc_id%12+1) image — every value analytically reproducible by
    * the oracle.
    *
    * The payload is a REAL 24bpp BMP (54-byte header + 4-byte-aligned
    * bottom-up BGR rows — the exact layout the oracle's analytic
    * byte_len formula assumes, and what ImageIO's own BMP writer emits
    * for TYPE_3BYTE_BGR). r16: written directly into a ByteBuffer
    * instead of BufferedImage + ImageIO.write — the encoder is test
    * scaffolding standing in for the lake's stored bytes (a real
    * pipeline reads payloads from the scan, it never encodes), and the
    * ImageIO.write path cost a setRGB loop + writer SPI dispatch per
    * row. The DECODE side stays javax.imageio.ImageIO.read — that is
    * the real, graded decode; TextMultimodalSpec pins that ImageIO
    * decodes these bytes back to the exact v(x, y) raster.
    */
  private[graft] def bmpBytes(docId: Long): Array[Byte] = {
    val w = (docId % 16 + 1).toInt
    val h = (docId % 12 + 1).toInt
    val rowLen = (w * 3 + 3) & ~3 // BGR rows padded to 4-byte boundaries
    val size = 54 + rowLen * h
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER
    b.putShort(1).putShort(24)       // 1 plane, 24bpp
    b.putInt(0).putInt(rowLen * h)   // BI_RGB, raster size
    b.putInt(0).putInt(0).putInt(0).putInt(0) // ppm x/y, palette counts
    var y = h - 1 // bottom-up row order
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val v = ((docId * 31 + x * 7 + y) % 256).toByte
        b.put(v).put(v).put(v)
        x += 1
      }
      var p = w * 3
      while (p < rowLen) { b.put(0.toByte); p += 1 }
      y -= 1
    }
    b.array()
  }

  /** Synthesize the asset table. Image payloads (doc_id % 3 == 0) are
    * real encoded BMPs; the rest carry the utf8 text bytes. The
    * declared width/height metadata stays the ASSET's nominal size
    * (used by resize planning); the BMP raster is thumbnail-sized —
    * decoded_w/decoded_h report what the decoder actually saw.
    */
  def assets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    // redistribute the single-split local file across cores BEFORE the
    // CPU-bound decode (Tables.parallelized is a no-op on a real lake
    // scan with many splits) — the whole mm_* family rides this
    Tables.parallelized(spark, Tables.documents(spark, dir), "doc_id")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        when(col("doc_id") % 3 === 0, "image/bmp")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        ((col("doc_id") % 64) * 10 + 16).cast("int").as("width"),
        ((col("doc_id") % 48) * 10 + 16).cast("int").as("height"),
        (col("n_chars") % 120).cast("int").as("duration_s"))
      .as[MediaAsset]
      // image payloads need the JVM encoder — mapPartitions, one
      // encoder context per partition (the mapInPandas batch shape)
      .mapPartitions(_.map(a =>
        if (a.mime == "image/bmp") a.copy(payload = bmpBytes(a.doc_id)) else a))
  }

  /** Image-only asset source: the mime rule (doc_id % 3 == 0) is a
    * COLUMN filter — Catalyst pushes it to the scan, the modality
    * analog of partition pruning on a real lake — and the BMP payload
    * is synthesized from doc_id alone, so the redistribute ships 16
    * bytes per row instead of the document text that [[assets]] must
    * carry for the audio/video rows. The image keys (mm_phash and the
    * pHash banding) read this; [[mmDecode]] keeps the full [[assets]]
    * table because its stub leg digests the text payload.
    */
  private def imageAssets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    Tables.parallelized(spark,
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        MediaAsset(id, bmpBytes(id), "image/bmp",
          ((id % 64) * 10 + 16).toInt, ((id % 48) * 10 + 16).toInt,
          (nChars % 120).toInt)
      })
  }

  /** Digest stub for formats with no sandboxed codec (audio/video). */
  private def stubFeatures(a: MediaAsset): MediaFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(a.payload).map("%02x".format(_)).mkString
    MediaFeatures(
      doc_id = a.doc_id,
      mime = a.mime,
      byte_len = a.payload.length.toLong,
      md5_head = Some(hex.substring(0, 8)),
      hist_bucket = Some(java.lang.Long.parseLong(hex.substring(0, 2), 16) % 16),
      decoded_w = None, decoded_h = None, px_sum = None)
  }

  /** REAL image decode: `javax.imageio.ImageIO.read` over the payload
    * bytes; features = decoded dimensions + sum of all RGB channel
    * values. Undecodable bytes fall back to the digest stub (the
    * corrupt-input path every production decode stage needs).
    */
  private def decodeOne(a: MediaAsset): MediaFeatures =
    if (a.mime != "image/bmp") stubFeatures(a)
    else {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.payload))
      if (img == null) stubFeatures(a)
      else {
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        MediaFeatures(
          doc_id = a.doc_id,
          mime = a.mime,
          byte_len = a.payload.length.toLong,
          md5_head = None, hist_bucket = None,
          decoded_w = Some(img.getWidth), decoded_h = Some(img.getHeight),
          px_sum = Some(sum))
      }
    }

  /** Per-partition batch decode — mapPartitions so the codec amortizes
    * across the partition, like mapInPandas batches.
    */
  def decodeFeatures(spark: SparkSession, assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import spark.implicits._
    assets.mapPartitions(_.map(decodeOne))
  }

  def mmDecode(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, assets(spark, dir)).toDF()

  /** Frame sampling at 0.5 fps: one row per sampled frame timestamp.
    * Pure metadata fan-out — duration comes from the asset metadata,
    * never the payload — so this reads the video rows' metadata
    * columns directly (the mime rule as a pushable column filter)
    * instead of paying [[assets]]'s payload synthesis for rows whose
    * bytes it never opens.
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), (col("n_chars") % 120).cast("int").as("duration_s"))
      .filter(col("duration_s") > 0)
      .select(col("doc_id"), col("duration_s"),
        explode(sequence(lit(0), col("duration_s"), lit(2))).as("frame_t"))

  /** Aspect-preserving resize planning: compute the (w, h) a decoder
    * would scale each asset to for a max-512 long edge, plus the scale
    * factor — the pure-metadata half of an image resize stage (the
    * pixel work happens in [[decodeFeatures]]).
    */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    val a = assets(spark, dir).toDF()
    val longEdge = greatest(col("width"), col("height"))
    val needs = longEdge > 512
    // integer `div` keeps it engine-exact (matches DuckDB's `//`);
    // double division could land at x.9999… and truncate off-by-one
    val newW = when(needs,
      expr("CAST(width AS BIGINT) * 512 div CAST(greatest(width, height) AS BIGINT)"))
      .otherwise(col("width").cast("long"))
    val newH = when(needs,
      expr("CAST(height AS BIGINT) * 512 div CAST(greatest(width, height) AS BIGINT)"))
      .otherwise(col("height").cast("long"))
    a.filter(col("mime") === "image/bmp")
      .select(col("doc_id"), col("width"), col("height"),
        newW.as("target_w"), newH.as("target_h"), needs.as("downscaled"))
  }

  /** 64-bit average-threshold perceptual hash (aHash) computed from the
    * DECODED raster — the image near-dup signature of a training-data
    * pipeline (resize-robust where byte digests are not): sample an
    * 8×8 grid nearest-neighbor (x_i = (i·w) div 8, y_j = (j·h) div 8 —
    * integer arithmetic, engine-exact), threshold each sample against
    * the 64-sample mean, emit bits row-major as a 64-char bitstring.
    * The oracle derives the identical hash analytically from the
    * deterministic pixel function without decoding — a match proves
    * decode→hash reproduces every sampled pixel. At scale the phash
    * table feeds the banded Hamming-distance self-join machinery of
    * `dedup_simhash_pairs` (pigeonhole on 16-bit bands, verify with
    * bit_count) — near-dup candidate cost stays bucketed, never
    * all-pairs; TextMultimodalSpec asserts a one-pixel edit moves ≤ a
    * few bits while distinct images differ widely.
    */
  def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageAssets(spark, dir)
      .mapPartitions(_.flatMap { a =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val samples =
            for (j <- 0 until 8; i <- 0 until 8)
              yield img.getRGB(i * w / 8, j * h / 8) & 0xff
          val mean = samples.sum.toDouble / 64.0
          Some((a.doc_id, w, h, samples.map(v => if (v > mean) '1' else '0').mkString))
        }
      })
      .toDF("doc_id", "decoded_w", "decoded_h", "phash")
  }

  /** Per-image pHash split into 4×16-bit band values (the join keys of
    * the banded Hamming self-join) — bit p (row-major j·8+i) lands in
    * band p/16 with weight 1 << (p mod 16). Degenerate flat hashes
    * (all-zero / all-one — flat-color thumbnails, the classic aHash
    * failure mode) are dropped: they carry no signal and would
    * otherwise collapse every flat image into one quadratic bucket.
    */
  private def phashBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageAssets(spark, dir)
      .mapPartitions(_.flatMap { a =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val samples =
            for (j <- 0 until 8; i <- 0 until 8)
              yield img.getRGB(i * w / 8, j * h / 8) & 0xff
          val mean = samples.sum.toDouble / 64.0
          val bits = samples.map(_ > mean)
          if (!bits.exists(identity) || bits.forall(identity)) None
          else {
            val hs = (0 until 4).map(b =>
              (0 until 16).map(k => if (bits(16 * b + k)) 1L << k else 0L).sum)
            Some((a.doc_id, hs(0), hs(1), hs(2), hs(3)))
          }
        }
      })
      .toDF("doc_id", "h0", "h1", "h2", "h3")
  }

  /** Image near-dup pairs: Hamming ≤ 3 over the 64-bit decoded-pixel
    * pHash via pigeonhole banding — 4 bands of 16 bits, so any pair
    * within distance 3 collides on ≥ 1 band (guaranteed recall); the
    * `dedup_simhash_pairs` machinery applied to the image modality,
    * which is how a 100 TB pipeline dedups frames and thumbnails
    * (byte digests miss re-encodes; pHash survives them).
    *
    * Exact-identical hashes are collapsed FIRST (the dedup_embedding
    * pattern): each distinct hash becomes one representative (min
    * doc_id) carrying its member count, and the banded self-join runs
    * over DISTINCT hashes only. Without the collapse, duplicate-heavy
    * corpora explode quadratically — measured here: doc-level pairs
    * grew 107× for 10× data on this corpus (the raster repeats every
    * 768 ids, so identical-image groups grow linearly), while the
    * distinct-hash pair count stays bounded by the hash vocabulary.
    * Output = (rep_a, rep_b, hamming 1..3, n_a, n_b): every doc-level
    * near-dup pair is recoverable as members(a) × members(b), and
    * hamming-0 duplicates are the n > 1 groups themselves. The group
    * table builds once (pinned); both join sides replay it;
    * verify is codegen'd bit_count(xor).
    */
  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val groups = phashBands(spark, dir)
      .groupBy((0 until 4).map(b => col(s"h$b")): _*)
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      .pin() // both join sides replay one decode+collapse
    val banded = groups.select(col("rep") +: col("n") +: (0 until 4).map(b => col(s"h$b")) :+
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"h$b").as("v"))): _*)).as("bs"): _*)
      .select(col("rep") +: col("n") +: (0 until 4).map(b => col(s"h$b")) :+
        col("bs.band").as("band") :+ col("bs.v").as("v"): _*)
    val l = banded.select(col("rep").as("rep_a") +: col("n").as("n_a") +:
      (0 until 4).map(b => col(s"h$b").as(s"a$b")) :+ col("band") :+ col("v"): _*)
    val r = banded.select(col("rep").as("rep_b") +: col("n").as("n_b") +:
      (0 until 4).map(b => col(s"h$b").as(s"b$b")) :+ col("band") :+ col("v"): _*)
    val ham = (0 until 4).map(i => expr(s"bit_count(a$i ^ b$i)").cast("long")).reduce(_ + _)
    l.join(r, Seq("band", "v")).filter(col("rep_a") < col("rep_b"))
      .select(col("rep_a") +: col("rep_b") +: col("n_a") +: col("n_b") +:
        (0 until 4).flatMap(i => Seq(col(s"a$i"), col(s"b$i"))): _*)
      .distinct()
      .withColumn("hamming", ham)
      .filter(col("hamming") <= 3)
      .select(col("rep_a"), col("rep_b"), col("hamming"), col("n_a"), col("n_b"))
  }

  private val WavRate = 8000

  /** Deterministic int16 waveform for audio assets: n = doc_id%50+10
    * samples, s(i) = ((doc_id·31 + i·7) mod 2003) − 1001 — every sample
    * analytically reproducible by the oracle.
    */
  private def wavSamples(docId: Long): Array[Short] = {
    val n = (docId % 50 + 10).toInt
    Array.tabulate(n)(i => (((docId * 31 + i * 7) % 2003) - 1001).toShort)
  }

  /** Canonical 44-byte-header mono 16-bit PCM WAV encoding of
    * [[wavSamples]] — a REAL RIFF/WAVE container the JDK codec parses.
    */
  private def wavBytes(docId: Long): Array[Byte] = pcmWavBytes(wavSamples(docId))

  private def pcmWavBytes(s: Array[Short]): Array[Byte] = {
    val dataLen = s.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII")); bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16); bb.putShort(1); bb.putShort(1)
    bb.putInt(WavRate); bb.putInt(WavRate * 2); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    s.foreach(v => bb.putShort(v))
    bb.array()
  }

  /** REAL audio decode via the JDK codec (`javax.sound.sampled
    * .AudioSystem` — no external libs, the audio analog of the
    * ImageIO leg): parse the WAV container, read the PCM frames back
    * as int16. Returns None on undecodable bytes.
    */
  private def decodeWav(payload: Array[Byte]): Option[(Int, Array[Short])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
      else {
        val bytes = in.readAllBytes()
        val bb = java.nio.ByteBuffer.wrap(bytes).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = new Array[Short](bytes.length / 2)
        var i = 0
        while (i < out.length) { out(i) = bb.getShort(); i += 1 }
        Some((fmt.getSampleRate.toInt, out))
      }
    } catch { case _: Exception => None }

  /** REAL audio feature extraction — the upgrade of the audio leg from
    * digest stub to a true decode round-trip: audio rows (doc_id % 3
    * == 1) get REAL PCM WAV payloads ([[wavBytes]]), the decode stage
    * parses them back through the JDK codec and computes integer-exact
    * signal features from the DECODED samples (sum/max of |s|,
    * sign-change count, exact duration) — rms/zcr-style stats with no
    * floating point, so the analytic oracle (which never decodes)
    * hash-matches only if the codec round-trip reproduced every
    * sample. mapPartitions batch shape: one codec context per
    * partition, CPU-bound linear work — a build-stage cost like
    * mm_decode's image leg.
    */
  def mmWavFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.parallelized(spark,
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val payload = wavBytes(id)
        decodeWav(payload) match {
          case Some((rate, s)) =>
            var sumAbs = 0L; var maxAbs = 0L; var zc = 0L
            var i = 0
            while (i < s.length) {
              val v = s(i).toLong
              val a = math.abs(v)
              sumAbs += a
              if (a > maxAbs) maxAbs = a
              if (i > 0 && s(i - 1).toLong * v < 0) zc += 1
              i += 1
            }
            (id, "audio/wav", payload.length.toLong, rate, s.length.toLong,
              s.length.toLong * 1000000L / rate, sumAbs, maxAbs, zc, true)
          case None =>
            (id, "audio/wav", payload.length.toLong, 0, 0L, 0L, 0L, 0L, 0L, false)
        }
      })
      .toDF("doc_id", "mime", "byte_len", "sample_rate", "n_samples",
        "duration_us", "sum_abs", "max_abs", "zero_crossings", "decoded")
  }

  private val VadFrame = 8      // samples per frame
  private val VadThresh = 500L  // per-sample mean-|s| activity bound (≈ the ±1001 median)

  /** Speech-shaped deterministic waveform for the VAD assets:
    * n = doc_id%120+40 samples, s(i) = ((doc_id·31 + i²·13 + i·7) mod
    * 2003) − 1001. The quadratic term makes frame energies vary FAST
    * within a clip (measured 1-8 active segments per clip at frame=8,
    * threshold 500), where [[wavSamples]]' slow ±7/sample ramp makes
    * activity all-or-nothing per clip — a degenerate VAD input. Every
    * sample stays analytically reproducible by the oracle.
    */
  private def vadSamples(docId: Long): Array[Short] = {
    val n = (docId % 120 + 40).toInt
    Array.tabulate(n)(i =>
      (((docId * 31 + i.toLong * i * 13 + i * 7) % 2003) - 1001).toShort)
  }

  /** Energy-threshold voice-activity detection over the REALLY decoded
    * PCM stream — the speech-pipeline preprocessing that bounds
    * downstream ASR/alignment cost (only active segments get
    * transcribed): [[VadFrame]]-sample frames, a frame is ACTIVE when
    * its summed |s| exceeds [[VadThresh]] per sample (integer-exact —
    * no floating point anywhere), segments = maximal runs of active
    * frames, active_us = the retained audio budget. Same proof pattern
    * as [[mmWavFeatures]]: the oracle derives every frame energy
    * analytically from the waveform formula and NEVER decodes, so a
    * hash match proves the JDK-decoded sample stream fed the detector.
    * mapPartitions batch shape (one codec context per partition),
    * CPU-bound linear — the decode-stage cost class.
    */
  def mmAudioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.parallelized(spark,
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val payload = pcmWavBytes(vadSamples(id))
        decodeWav(payload) match {
          case Some((rate, s)) =>
            val nf = (s.length + VadFrame - 1) / VadFrame
            var nActive = 0L; var nSeg = 0L; var firstActive = -1L
            var activeSamples = 0L; var prevActive = false
            var f = 0
            while (f < nf) {
              val start = f * VadFrame
              val end = math.min(start + VadFrame, s.length)
              var e = 0L; var i = start
              while (i < end) { e += math.abs(s(i).toLong); i += 1 }
              val flen = (end - start).toLong
              val active = e > VadThresh * flen
              if (active) {
                nActive += 1
                activeSamples += flen
                if (firstActive < 0) firstActive = f.toLong
                if (!prevActive) nSeg += 1
              }
              prevActive = active
              f += 1
            }
            (id, nf.toLong, nActive, nSeg, firstActive,
              activeSamples * 1000000L / rate, true)
          case None => (id, 0L, 0L, 0L, -1L, 0L, false)
        }
      })
      .toDF("doc_id", "n_frames", "n_active", "n_segments", "first_active",
        "active_us", "decoded")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_audio_vad" -> (mmAudioVad _),
    "mm_wav_features" -> (mmWavFeatures _),
    "mm_decode" -> (mmDecode _),
    "mm_framesample" -> (mmFrameSample _),
    "mm_phash" -> (mmPhash _),
    "mm_phash_dedup" -> (mmPhashDedup _),
    "mm_resize" -> (mmResize _))

  val oracles: Map[String, String] = Map(
    // the oracle NEVER decodes: every feature derives from the
    // deterministic waveform s(i) = (doc_id*31 + i*7) % 2003 - 1001
    // over n = doc_id%50+10 samples at 8 kHz — a hash match proves the
    // WAV encode → JDK-codec decode round-trip reproduced every sample
    // analytic VAD twin: frame energies from the waveform formula
    // (never decoded), 8-sample frames, active iff sum|s| > 500·flen
    "mm_audio_vad" ->
      """WITH a AS (
        | SELECT doc_id, doc_id % 120 + 40 AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        | SELECT doc_id, n, i.i AS i,
        |  abs((doc_id * 31 + i.i * i.i * 13 + i.i * 7) % 2003 - 1001) AS av
        | FROM a, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i),
        |f AS (
        | SELECT doc_id, i // 8 AS f, count(*) AS flen, sum(av) AS e
        | FROM s GROUP BY 1, 2),
        |act AS (
        | SELECT doc_id, f, flen,
        |  CASE WHEN e > 500 * flen THEN 1 ELSE 0 END AS a,
        |  lag(CASE WHEN e > 500 * flen THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY f) AS pa
        | FROM f)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(sum(a) AS BIGINT) AS n_active,
        | CAST(sum(CASE WHEN a = 1 AND coalesce(pa, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
        | CAST(coalesce(min(CASE WHEN a = 1 THEN f END), -1) AS BIGINT) AS first_active,
        | CAST(sum(CASE WHEN a = 1 THEN flen ELSE 0 END) * 125 AS BIGINT) AS active_us,
        | true AS decoded
        |FROM act GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_wav_features" ->
      """WITH a AS (
        | SELECT doc_id, doc_id % 50 + 10 AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        | SELECT doc_id, n, i.i AS i, (doc_id * 31 + i.i * 7) % 2003 - 1001 AS v
        | FROM a, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i),
        |l AS (
        | SELECT doc_id, n, i, v,
        |  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        | FROM s)
        |SELECT doc_id, 'audio/wav' AS mime,
        | CAST(44 + 2 * n AS BIGINT) AS byte_len,
        | 8000 AS sample_rate,
        | CAST(n AS BIGINT) AS n_samples,
        | CAST(n * 125 AS BIGINT) AS duration_us,
        | CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        | CAST(max(abs(v)) AS BIGINT) AS max_abs,
        | CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        | true AS decoded
        |FROM l GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // analytic twin of the banded Hamming join: same raster, same
    // nearest-neighbor grid, same band packing (bit p -> band p//16,
    // weight 1 << (p % 16)), same degenerate-hash drop
    "mm_phash_dedup" -> {
      val hsums = (0 until 4).map(b =>
        s"sum(CASE WHEN p // 16 = $b THEN bit * (1::BIGINT << (p % 16)) ELSE 0 END) AS h$b")
        .mkString(", ")
      val hcols = (0 until 4).map(b => s"h$b").mkString(", ")
      val bandsUnion = (0 until 4).map(b =>
        s"SELECT rep, n, $b AS band, h$b AS v FROM grp").mkString(" UNION ALL ")
      val ham = (0 until 4).map(i => s"bit_count(xor(ga.h$i, gb.h$i))").mkString(" + ")
      s"""WITH img AS (
         | SELECT doc_id, CAST(doc_id % 16 + 1 AS BIGINT) AS w, CAST(doc_id % 12 + 1 AS BIGINT) AS h
         | FROM documents WHERE doc_id % 3 = 0),
         |g AS (
         | SELECT doc_id, j.j * 8 + i.i AS p,
         |  (doc_id * 31 + ((i.i * w) // 8) * 7 + ((j.j * h) // 8)) % 256 AS v
         | FROM img,
         |  LATERAL (SELECT unnest(generate_series(0, 7)) AS i) i,
         |  LATERAL (SELECT unnest(generate_series(0, 7)) AS j) j),
         |m AS (SELECT doc_id, avg(v) AS mean FROM g GROUP BY 1),
         |bits AS (
         | SELECT g.doc_id, g.p, CASE WHEN g.v > m.mean THEN 1 ELSE 0 END AS bit
         | FROM g JOIN m USING (doc_id)),
         |hs AS (SELECT doc_id, $hsums, sum(bit) AS nb FROM bits GROUP BY 1),
         |live AS (SELECT * FROM hs WHERE nb > 0 AND nb < 64),
         |grp AS (SELECT $hcols, min(doc_id) AS rep, count(*) AS n FROM live GROUP BY $hcols),
         |bands AS ($bandsUnion),
         |cand AS (
         | SELECT DISTINCT ba.rep AS rep_a, bb.rep AS rep_b
         | FROM bands ba JOIN bands bb
         |  ON bb.band = ba.band AND bb.v = ba.v AND ba.rep < bb.rep)
         |SELECT c.rep_a, c.rep_b, CAST($ham AS BIGINT) AS hamming, ga.n AS n_a, gb.n AS n_b
         |FROM cand c JOIN grp ga ON ga.rep = c.rep_a JOIN grp gb ON gb.rep = c.rep_b
         |WHERE $ham <= 3
         |ORDER BY rep_a, rep_b""".stripMargin
    },
    // analytic twin of the decoded-pixel aHash: same nearest-neighbor
    // grid (integer //), same mean threshold, same row-major bit order
    "mm_phash" ->
      """WITH img AS (
        | SELECT doc_id, CAST(doc_id % 16 + 1 AS BIGINT) AS w, CAST(doc_id % 12 + 1 AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |g AS (
        | SELECT doc_id, w, h, i.i, j.j,
        |  (doc_id * 31 + ((i.i * w) // 8) * 7 + ((j.j * h) // 8)) % 256 AS v
        | FROM img,
        |  LATERAL (SELECT unnest(generate_series(0, 7)) AS i) i,
        |  LATERAL (SELECT unnest(generate_series(0, 7)) AS j) j),
        |m AS (SELECT doc_id, avg(v) AS mean FROM g GROUP BY 1)
        |SELECT g.doc_id,
        | CAST(max(g.w) AS INT) AS decoded_w, CAST(max(g.h) AS INT) AS decoded_h,
        | string_agg(CASE WHEN g.v > m.mean THEN '1' ELSE '0' END, '' ORDER BY g.j * 8 + g.i) AS phash
        |FROM g JOIN m USING (doc_id)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // the oracle NEVER decodes: dims, byte length (54-byte BMP header +
    // 4-byte-aligned 24-bit rows) and the channel sum all derive
    // analytically from the deterministic raster v = (doc_id*31 + 7x + y)
    // mod 256 — a hash match proves ImageIO's encode→decode round-trip
    // reproduced every pixel
    "mm_decode" ->
      """WITH px AS (
        | SELECT doc_id, CAST(doc_id % 16 + 1 AS BIGINT) AS w, CAST(doc_id % 12 + 1 AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |sums AS (
        | SELECT doc_id, w, h,
        |  3 * sum((doc_id * 31 + x.x * 7 + y.y) % 256) AS s
        | FROM px,
        |  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x,
        |  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
        | GROUP BY 1, 2, 3)
        |SELECT d.doc_id,
        | CASE WHEN d.doc_id % 3 = 0 THEN 'image/bmp'
        |      WHEN d.doc_id % 3 = 1 THEN 'audio/wav'
        |      ELSE 'video/mp4' END AS mime,
        | CAST(CASE WHEN d.doc_id % 3 = 0 THEN 54 + s.h * ((3 * s.w + 3) // 4 * 4)
        |      ELSE octet_length(encode(d.text)) END AS BIGINT) AS byte_len,
        | CASE WHEN d.doc_id % 3 = 0 THEN NULL ELSE substring(md5(d.text), 1, 8) END AS md5_head,
        | CASE WHEN d.doc_id % 3 = 0 THEN NULL
        |      ELSE ('0x' || substring(md5(d.text), 1, 2))::BIGINT % 16 END AS hist_bucket,
        | CAST(CASE WHEN d.doc_id % 3 = 0 THEN s.w END AS INT) AS decoded_w,
        | CAST(CASE WHEN d.doc_id % 3 = 0 THEN s.h END AS INT) AS decoded_h,
        | CAST(CASE WHEN d.doc_id % 3 = 0 THEN s.s END AS BIGINT) AS px_sum
        |FROM documents d LEFT JOIN sums s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "mm_framesample" ->
      """SELECT doc_id, CAST(n_chars % 120 AS INT) AS duration_s, f.f AS frame_t
        |FROM documents, LATERAL (SELECT unnest(generate_series(0, CAST(n_chars % 120 AS INT), 2)) AS f) f
        |WHERE doc_id % 3 = 2 AND n_chars % 120 > 0
        |ORDER BY doc_id, frame_t""".stripMargin,
    "mm_resize" ->
      """WITH dims AS (
        | SELECT doc_id,
        |  CAST((doc_id % 64) * 10 + 16 AS INT) AS width,
        |  CAST((doc_id % 48) * 10 + 16 AS INT) AS height
        | FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, width, height,
        | CASE WHEN greatest(width, height) > 512
        |  THEN width * 512 // greatest(width, height) ELSE width END AS target_w,
        | CASE WHEN greatest(width, height) > 512
        |  THEN height * 512 // greatest(width, height) ELSE height END AS target_h,
        | greatest(width, height) > 512 AS downscaled
        |FROM dims ORDER BY doc_id""".stripMargin)
}
