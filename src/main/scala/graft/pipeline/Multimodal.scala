package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal columns for training-data pipelines: image/audio/video as
 * opaque `binary` payloads plus typed metadata, with decode /
 * feature-extract / resize / frame-sample transforms.
 *
 * The Spark-side plumbing — schemas, typed Datasets, mapPartitions
 * batching (the JVM analogue of `mapInPandas`: one iterator per
 * partition, amortized per-batch setup), partitioning behavior — is
 * real, and so are ALL THREE modality codecs: [[ImageCodec]] decodes
 * PNG/JPEG/BMP/GIF through the JDK's `javax.imageio` (true
 * width/height/channels, mean intensity, grid-thumbnail embedding);
 * [[AudioCodec]] decodes WAV/AIFF PCM through `javax.sound.sampled`
 * (true sample rate/channels/duration, RMS, loudness envelope);
 * [[VideoCodec]] decodes MJPEG-in-AVI by RIFF chunk-walking + per-frame
 * imageio JPEG decode (true dimensions/frame count/fps, real frame
 * payloads) — no external libraries in any. Payloads the JDK cannot
 * decode (H.26x/VP9/MP4, compressed audio, non-media bytes) fall back
 * to [[StubCodec]]'s deterministic byte-derived surrogates so the
 * dataflow contracts hold for every payload.
 *
 * Scale notes: payloads never participate in shuffles here — all
 * transforms are map-side (mapPartitions), metadata-only projections
 * stay columnar, and frame sampling explodes AFTER the per-row decode
 * so the shuffle (if any downstream) moves frames, not videos.
 */
object Multimodal {

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      width: Int, height: Int, channels: Int,
      sample_rate: Int, duration_ms: Int, format: String)

  final case class ImageFeatures(
      media_id: Long, width: Int, height: Int, channels: Int,
      mean_intensity: Double, embedding: Array[Float])

  final case class Frame(
      media_id: Long, frame_idx: Int, ts_ms: Int, payload: Array[Byte])

  final case class AudioFeatures(
      media_id: Long, sample_rate: Int, channels: Int, duration_ms: Int,
      rms: Double, envelope: Array[Float])

  /**
   * Real image codec over the JDK's `javax.imageio` — PNG, JPEG, BMP
   * and GIF decode with zero external dependencies. Executor-safe:
   * everything is per-call local state (ImageIO's reader registry is
   * JVM-global and thread-safe).
   */
  object ImageCodec {

    /** Decode an encoded image; None when the payload is not a
      * decodable image (wrong magic, truncated, or another modality). */
    def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (payload == null || payload.length < 8) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: Throwable => None }

    /** Color components of the decoded image (3 = RGB, 4 = RGBA, 1 =
      * grayscale). */
    def channels(img: java.awt.image.BufferedImage): Int =
      img.getColorModel.getNumComponents

    /** Grayscale view of the image (one byte per pixel) — the shared
      * base for intensity + grid features. Rendering through a
      * TYPE_BYTE_GRAY raster handles every source color model. */
    private def gray(img: java.awt.image.BufferedImage): java.awt.image.Raster = {
      val g = new java.awt.image.BufferedImage(img.getWidth, img.getHeight,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val gr = g.createGraphics()
      try gr.drawImage(img, 0, 0, null) finally gr.dispose()
      g.getRaster
    }

    /** Mean grayscale intensity in [0, 255]. */
    def meanIntensity(img: java.awt.image.BufferedImage): Double = {
      val r = gray(img)
      var s = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { s += r.getSample(x, y, 0); x += 1 }
        y += 1
      }
      s.toDouble / (img.getWidth.toLong * img.getHeight)
    }

    /**
     * Grid-thumbnail feature vector: the image divided into a g×g grid
     * (g = ⌊√dim⌋), each cell's mean grayscale intensity normalized to
     * [0, 1], row-major; positions past g² pad with the global mean.
     * Deterministic, resolution-independent, and comparable under the
     * engine's cosine/L2 vector operators — the classic pre-neural
     * visual descriptor shape.
     */
    def gridFeatures(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
      val g = math.max(1, math.sqrt(dim.toDouble).toInt)
      val r = gray(img)
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](g * g)
      val counts = new Array[Long](g * g)
      var y = 0
      while (y < h) {
        val cy = math.min(g - 1, y * g / h)
        var x = 0
        while (x < w) {
          val cell = cy * g + math.min(g - 1, x * g / w)
          sums(cell) += r.getSample(x, y, 0)
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      val cells = Array.tabulate(g * g)(i =>
        if (counts(i) == 0) 0f else (sums(i).toDouble / counts(i) / 255.0).toFloat)
      val global = if (cells.isEmpty) 0f else cells.sum / cells.length
      Array.tabulate(dim)(i => if (i < g * g) cells(i) else global)
    }

    /**
     * dHash perceptual fingerprint (difference hash — the standard
     * public 64-bit image near-dup signature): grayscale average-pool
     * to a 9×8 grid, then one bit per horizontal neighbor pair
     * (left < right). Average pooling is linear, so uniform
     * brightness/contrast shifts preserve every gradient sign — near-
     * identical images land within a few bits while different content
     * lands ~32 bits apart.
     */
    def dHash(img: java.awt.image.BufferedImage): Long = {
      val gw = 9; val gh = 8
      val r = gray(img)
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](gw * gh)
      val counts = new Array[Long](gw * gh)
      var y = 0
      while (y < h) {
        val cy = math.min(gh - 1, y * gh / h)
        var x = 0
        while (x < w) {
          val cell = cy * gw + math.min(gw - 1, x * gw / w)
          sums(cell) += r.getSample(x, y, 0)
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      def mean(c: Int): Double =
        if (counts(c) == 0) 0.0 else sums(c).toDouble / counts(c)
      var bits = 0L
      var bit = 0
      y = 0
      while (y < gh) {
        var x = 0
        while (x < gw - 1) {
          if (mean(y * gw + x) < mean(y * gw + x + 1)) bits |= (1L << bit)
          bit += 1
          x += 1
        }
        y += 1
      }
      bits
    }
  }

  /**
   * Real audio codec over the JDK's `javax.sound.sampled` — WAV/AIFF
   * PCM decode with zero external dependencies. The decoded stream is
   * converted to 16-bit signed PCM, mono-mixed, and normalized to
   * [-1, 1] floats.
   */
  object AudioCodec {

    final case class Decoded(sampleRate: Int, channels: Int,
                             durationMs: Int, samples: Array[Float])

    /** Decode WAV/AIFF PCM; None for anything the JDK cannot read. */
    def decode(payload: Array[Byte]): Option[Decoded] =
      if (payload == null || payload.length < 44) None // < WAV header
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val src = in.getFormat
          val fmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels,
            src.getChannels * 2, src.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(fmt, in)
          try {
            val bytes = pcm.readAllBytes()
            val ch = fmt.getChannels
            val nFrames = bytes.length / (2 * ch)
            // mono mix: mean over channels per frame, /32768 → [-1, 1]
            val mono = new Array[Float](nFrames)
            var f = 0
            while (f < nFrames) {
              var s = 0.0f; var c = 0
              while (c < ch) {
                val o = (f * ch + c) * 2
                s += ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort / 32768.0f
                c += 1
              }
              mono(f) = s / ch
              f += 1
            }
            Some(Decoded(src.getSampleRate.toInt, src.getChannels,
              math.round(nFrames * 1000.0 / src.getSampleRate).toInt, mono))
          } finally pcm.close()
        } finally in.close()
      } catch { case _: Throwable => None }

    /** RMS amplitude of the whole clip (0 = silence). */
    def rms(samples: Array[Float]): Double =
      if (samples.isEmpty) 0.0
      else math.sqrt(samples.map(s => s.toDouble * s).sum / samples.length)

    /** Loudness envelope: `dim` equal windows, RMS per window — the
      * audio analogue of the image grid thumbnail (deterministic,
      * duration-independent, comparable under the vector operators). */
    def envelope(samples: Array[Float], dim: Int): Array[Float] = {
      if (samples.isEmpty) return new Array[Float](dim)
      Array.tabulate(dim) { w =>
        val from = (w.toLong * samples.length / dim).toInt
        val until = math.max(from + 1, ((w + 1).toLong * samples.length / dim).toInt)
        var s = 0.0
        var i = from
        while (i < until) { s += samples(i).toDouble * samples(i); i += 1 }
        math.sqrt(s / (until - from)).toFloat
      }
    }

    /** 64-bit perceptual fingerprint: sign of each successive
      * difference over the 65-point loudness envelope (the audio
      * dHash). RMS is linear in gain, so uniform volume changes
      * preserve every bit. */
    def envelopeHash(samples: Array[Float]): Long = {
      val e = envelope(samples, 65)
      var bits = 0L
      var i = 0
      while (i < 64) {
        if (e(i) < e(i + 1)) bits |= (1L << i)
        i += 1
      }
      bits
    }
  }

  final case class VideoFeatures(
      media_id: Long, width: Int, height: Int, frame_count: Int,
      duration_ms: Int, fps: Double, embedding: Array[Float])

  /**
   * Real video codec for MJPEG-in-AVI — the one mainstream video
   * container+codec pair decodable with ZERO external dependencies:
   * the AVI container is plain RIFF chunk-walking, and every `00dc`
   * frame chunk is a complete JPEG the JDK's imageio reads. Gives the
   * video path true metadata (dimensions, frame count, frame rate)
   * and REAL per-frame payloads; anything else (H.26x, VP9, MP4 — the
   * JDK ships no decoder for those) still falls back to [[StubCodec]].
   *
   * Layout (all u32 little-endian): `RIFF <size> AVI ` then chunks;
   * `LIST <size> <type>` nests; `avih` carries µs/frame + dimensions
   * (MainAVIHeader); the `movi` LIST carries `00dc`/`00db` frame
   * chunks, byte-padded to even offsets.
   */
  object VideoCodec {

    final case class Decoded(width: Int, height: Int,
                             usPerFrame: Long, frames: IndexedSeq[Array[Byte]]) {
      def frameCount: Int = frames.length
      def frameMs: Double = usPerFrame / 1000.0
      def durationMs: Int = math.round(frameCount * usPerFrame / 1000.0).toInt
      def fps: Double = 1e6 / usPerFrame
    }

    private def u32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | (b(o + 1) & 0xffL) << 8 |
        (b(o + 2) & 0xffL) << 16 | (b(o + 3) & 0xffL) << 24

    private def fourCC(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Decode an AVI payload; None for anything else (wrong magic,
      * truncated container, no video frames). */
    def decode(payload: Array[Byte]): Option[Decoded] = {
      if (payload == null || payload.length < 24 ||
          fourCC(payload, 0) != "RIFF" || fourCC(payload, 8) != "AVI ")
        return None
      try {
        var width = 0; var height = 0; var usPerFrame = 0L
        val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        def walk(from: Int, until: Int): Unit = {
          var o = from
          while (o + 8 <= until) {
            val id = fourCC(payload, o)
            val sz = u32(payload, o + 4).toInt
            val body = o + 8
            if (sz < 0 || body > until) return // torn tail: keep what parsed
            if (id == "LIST" && sz >= 4)
              walk(body + 4, math.min(body + sz, until))
            else id match {
              case "avih" if sz >= 40 =>
                usPerFrame = u32(payload, body)
                width = u32(payload, body + 32).toInt
                height = u32(payload, body + 36).toInt
              case "00dc" | "00db" if sz > 0 =>
                frames += java.util.Arrays.copyOfRange(
                  payload, body, math.min(body + sz, payload.length))
              case _ =>
            }
            o = body + sz + (sz & 1) // chunks pad to even
          }
        }
        walk(12, math.min(payload.length.toLong, 8 + u32(payload, 4)).toInt)
        if (frames.isEmpty || width <= 0 || height <= 0) None
        else Some(Decoded(width, height,
          if (usPerFrame <= 0) 33333 else usPerFrame, frames.toIndexedSeq))
      } catch { case _: Throwable => None }
    }

    /** Encode frames as an MJPEG AVI (fixture writer / re-encode sink;
      * each frame JPEG-compressed via imageio, RIFF assembled here). */
    def encodeMjpegAvi(frames: Seq[java.awt.image.BufferedImage],
                       fps: Int): Array[Byte] = {
      require(frames.nonEmpty && fps > 0, "need frames and fps > 0")
      val (w, h) = (frames.head.getWidth, frames.head.getHeight)
      val jpegs = frames.map { f =>
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(f, "jpg", bos)
        bos.toByteArray
      }
      val out = new java.io.ByteArrayOutputStream()
      def le32(v: Long): Array[Byte] = Array(
        (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def cc(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = if ((body.length & 1) == 1) Array(0.toByte) else Array.emptyByteArray
        cc(id) ++ le32(body.length.toLong) ++ body ++ pad
      }
      def list(tpe: String, body: Array[Byte]): Array[Byte] =
        cc("LIST") ++ le32(body.length + 4L) ++ cc(tpe) ++ body
      val avih = le32(1000000L / fps) ++ le32(0) ++ le32(0) ++ le32(0x10) ++
        le32(jpegs.length.toLong) ++ le32(0) ++ le32(1) ++ le32(0) ++
        le32(w.toLong) ++ le32(h.toLong) ++ Array.fill(16)(0.toByte)
      val strh = cc("vids") ++ cc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(1) ++ le32(fps.toLong) ++ le32(0) ++ le32(jpegs.length.toLong) ++
        le32(0) ++ le32(0xffffffffL) ++ le32(0) ++ Array.fill(8)(0.toByte)
      val strf = le32(40) ++ le32(w.toLong) ++ le32(h.toLong) ++
        Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++ cc("MJPG") ++
        le32(w.toLong * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
      val hdrl = list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val movi = list("movi", jpegs.flatMap(chunk("00dc", _)).toArray)
      val body = cc("AVI ") ++ hdrl ++ movi
      out.write(cc("RIFF")); out.write(le32(body.length.toLong)); out.write(body)
      out.toByteArray
    }
  }

  /**
   * STUB CODEC — deterministic byte-derived surrogates for payloads
   * the JDK cannot decode (H.26x/VP9/MP4 video, compressed audio, or
   * non-media test bytes). Everything derives from payload bytes so
   * results are stable across runs, executors and partitionings; the
   * dataflow contracts (schemas, batching, partitioning) are identical
   * to the real paths.
   */
  object StubCodec {
    /** Deterministic surrogate pixels: k-th "pixel" is a byte-mix of
      * payload at stride. */
    def decodePixels(payload: Array[Byte], n: Int): Array[Int] = {
      if (payload.isEmpty) return Array.fill(n)(0)
      Array.tabulate(n) { i =>
        val b = payload((i * 2654435761L % payload.length).toInt.abs)
        java.lang.Byte.toUnsignedInt(b)
      }
    }

    /** Deterministic fake embedding: dim float32 values from a seeded
      * mix of payload bytes (stands in for a vision encoder). */
    def embed(payload: Array[Byte], dim: Int): Array[Float] = {
      var h = 1125899906842597L
      payload.foreach(b => h = h * 31 + b)
      Array.tabulate(dim) { i =>
        val x = h ^ (i.toLong * 0x9E3779B97F4A7C15L)
        val m = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
        ((m >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
      }
    }
  }

  /** Wrap a text/bytes DataFrame as a media table (test harness for the
    * plumbing; production ingests real files via binaryFile source). */
  def syntheticMedia(df: DataFrame, idCol: String, bytesCol: String,
                     kind: String = "image"): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val len = if (payload == null) 0 else payload.length
        MediaRow(id, kind, if (payload == null) Array.emptyByteArray else payload,
          width = 64, height = 48, channels = 3,
          sample_rate = 16000, duration_ms = math.max(1, len / 4), format = "stub")
      }
  }

  /**
   * Image decode + feature extraction. mapPartitions so per-partition
   * setup amortizes across the batch, then stream rows — the exact
   * shape a Pandas-UDF batch pipeline has. A payload that decodes as a
   * real image ([[ImageCodec]], JDK imageio) yields TRUE dimensions,
   * channel count, mean intensity and grid-thumbnail embedding —
   * overriding the row's declared metadata, which ingestion cannot
   * always trust; anything else falls back to [[StubCodec]]'s
   * deterministic surrogates (metadata passed through).
   */
  def imageFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      rows.map { m =>
        ImageCodec.decode(m.payload) match {
          case Some(img) =>
            ImageFeatures(m.media_id, img.getWidth, img.getHeight,
              ImageCodec.channels(img),
              mean_intensity = ImageCodec.meanIntensity(img),
              embedding = ImageCodec.gridFeatures(img, dim))
          case None =>
            val px = StubCodec.decodePixels(m.payload, n = 256)
            ImageFeatures(m.media_id, m.width, m.height, m.channels,
              mean_intensity = if (px.isEmpty) 0.0 else px.sum.toDouble / px.length,
              embedding = StubCodec.embed(m.payload, dim))
        }
      }
    }
  }

  /**
   * Perceptual image hashes: one 64-bit [[ImageCodec.dHash]] per
   * decodable image ([[StubCodec]] surrogate for anything else, so the
   * plumbing is total). Map-only — the multimodal entry point into the
   * dedup family.
   */
  def imageHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions { rows =>
      rows.map { m =>
        val hv = ImageCodec.decode(m.payload) match {
          case Some(img) => ImageCodec.dHash(img)
          case None =>
            // deterministic surrogate from the raw bytes
            var h = 1125899906842597L
            m.payload.foreach(b => h = h * 31 + b)
            h
        }
        (m.media_id, hv)
      }
    }.toDF("media_id", "dhash")
  }

  /**
   * Image near-duplicate pairs by perceptual hash — the SimHash
   * pigeonhole construction applied to [[imageHashes]]: the 64-bit
   * dHash splits into 4 disjoint 16-bit bands; a pair within Hamming
   * distance ≤ 3 MUST agree on at least one whole band, so candidates
   * come from the 4 band-key cells (one shuffle on (band, key) —
   * never an all-pairs product) and the verified Hamming distance
   * filters exactly. Guaranteed-total recall for maxHamming ≤ 3; above
   * that the band join is a (documented) candidate generator.
   */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    bandedNearDups(imageHashes(media).withColumnRenamed("dhash", "hash"),
      maxHamming)

  /** Guarded banded Hamming join over (media_id, hash) — shared by the
    * image and audio near-dup paths, through
    * [[Dedup.hammingNearDups]]: identical hashes (blank/monochrome
    * images, silent audio — the degenerate mode real corpora are FULL
    * of) group instead of self-joining (exact clique ≤ cliqueCap, star
    * edges above — connectivity-equivalent, documented there), and hot
    * band cells salt/cap instead of collapsing into one straggler
    * task. */
  private def bandedNearDups(hashes: DataFrame, maxHamming: Int): DataFrame =
    Dedup.hammingNearDups(
        hashes.select(col("media_id").as("k"), col("hash")), maxHamming)
      .select(col("key_a").as("a"), col("key_b").as("b"), col("hamming"))

  /**
   * Perceptual audio fingerprints, the audio twin of [[imageHashes]]:
   * one 64-bit envelope-gradient hash per decodable payload — the
   * 65-point loudness envelope's successive-difference signs. The
   * envelope is linear in gain, so uniform volume changes preserve
   * every bit while independent content lands ~32 bits apart.
   */
  def audioHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.map { m =>
        val hv = AudioCodec.decode(m.payload) match {
          case Some(d) => AudioCodec.envelopeHash(d.samples)
          case None =>
            var h = 1125899906842597L
            m.payload.foreach(b => h = h * 31 + b)
            h
        }
        (m.media_id, hv)
      }
    }.toDF("media_id", "hash")
  }

  /** Audio near-duplicate pairs: [[audioHashes]] through the same
    * banded pigeonhole join as [[imageNearDups]] — guaranteed-total
    * recall for maxHamming ≤ 3, band-key shuffle only. */
  def audioNearDups(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    bandedNearDups(audioHashes(media), maxHamming)

  /**
   * Audio decode + feature extraction, the audio twin of
   * [[imageFeatures]]: WAV/AIFF payloads decode through
   * [[AudioCodec]] (JDK sound API) into TRUE sample rate / channels /
   * duration plus RMS loudness and a fixed-dim loudness envelope;
   * undecodable payloads (compressed codecs, test bytes) fall back to
   * [[StubCodec]] surrogates with metadata passed through.
   */
  def audioFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.map { m =>
        AudioCodec.decode(m.payload) match {
          case Some(d) =>
            AudioFeatures(m.media_id, d.sampleRate, d.channels, d.durationMs,
              rms = AudioCodec.rms(d.samples),
              envelope = AudioCodec.envelope(d.samples, dim))
          case None =>
            val px = StubCodec.decodePixels(m.payload, n = 256)
            AudioFeatures(m.media_id, m.sample_rate, 1, m.duration_ms,
              rms = if (px.isEmpty) 0.0 else px.sum.toDouble / px.length / 255.0,
              envelope = StubCodec.embed(m.payload, dim))
        }
      }
    }
  }

  /** Resize: a decodable image payload is REALLY resampled
    * (Graphics2D bilinear) and re-encoded as PNG, so a downstream
    * [[ImageCodec.decode]] sees the new dimensions in the pixels, not
    * just the metadata; an undecodable payload keeps its bytes with
    * declared metadata updated (the standing codec-fallback
    * contract). Pure map — no shuffle, no collect. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val reencoded = ImageCodec.decode(m.payload) match {
        case Some(img) =>
          val out = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Some(bos.toByteArray)
        case None => None
      }
      // a re-encoded payload IS png now — declared format must follow
      // the bytes (a consumer keying on format instead of sniffing
      // would otherwise misread them); untouched payloads keep theirs
      m.copy(width = w, height = h,
        payload = reencoded.getOrElse(m.payload),
        format = reencoded.fold(m.format)(_ => "png"))
    }
  }

  /**
   * Frame sampling: one video row → `everyMs`-spaced frames. The
   * explode happens inside mapPartitions (iterator flatMap), so frames
   * stream out without materializing a per-video frame list. An
   * MJPEG-AVI payload ([[VideoCodec]]) yields REAL frames: each
   * emitted payload is the nearest stored JPEG at the sample
   * timestamp, itself decodable by [[ImageCodec]]; other payloads
   * fall back to the stub slice (schema identical).
   */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Int): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(m => m.kind == "video" || m.kind == "image")
      .mapPartitions { rows =>
        rows.flatMap { m =>
          VideoCodec.decode(m.payload) match {
            case Some(v) =>
              val n = math.max(1, v.durationMs / everyMs)
              (0 until n).iterator.map { i =>
                val ts = i * everyMs
                val idx = math.min(v.frameCount - 1, math.round(ts / v.frameMs).toInt)
                Frame(m.media_id, i, ts, v.frames(idx))
              }
            case None =>
              val n = math.max(1, m.duration_ms / everyMs)
              (0 until n).iterator.map { i =>
                val ts = i * everyMs
                // stub "frame": a deterministic slice of the payload
                val sliceLen = math.min(64, math.max(1, m.payload.length))
                val off = if (m.payload.isEmpty) 0 else (ts * 31) % math.max(1, m.payload.length - sliceLen + 1)
                val bytes =
                  if (m.payload.isEmpty) Array.emptyByteArray
                  else java.util.Arrays.copyOfRange(m.payload, off, off + sliceLen)
                Frame(m.media_id, i, ts, bytes)
              }
          }
        }
      }
  }

  /**
   * Per-frame perceptual hashes for decodable MJPEG-AVI video: one
   * [[ImageCodec.dHash]] per frame (every `stride`-th frame — the
   * frame-sampling knob). Undecodable payloads hash their bytes once
   * at frame 0 so the plumbing is total. Map-only; rows explode per
   * sampled frame, never per pixel.
   */
  def videoFrameHashes(media: Dataset[MediaRow], stride: Int = 1): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    graft.util.Parallelism.ensureDs(media).filter(_.kind == "video").flatMap { m =>
      VideoCodec.decode(m.payload) match {
        case Some(v) =>
          (0 until v.frameCount by math.max(1, stride)).iterator.flatMap { i =>
            ImageCodec.decode(v.frames(i))
              .map(img => (m.media_id, i, ImageCodec.dHash(img)))
          }
        case None =>
          var h = 1125899906842597L
          m.payload.foreach(b => h = h * 31 + b)
          Iterator.single((m.media_id, 0, h))
      }
    }.toDF("media_id", "frame_idx", "hash")
  }

  /**
   * Video near-duplicate pairs by frame-sampled perceptual hashes. The
   * frame match is HASH-level, never frame-level: repeated frames
   * within a video (title cards, black frames — the degenerate mode)
   * collapse to one (video, hash, multiplicity) row before any join,
   * so a million-blank-frame video contributes ONE row per band, and
   * the distinct hash values pair through the guarded
   * [[Dedup.hammingNearDups]] core (identical hashes match trivially
   * by a self edge; near hashes via salted/capped pigeonhole bands). A
   * video pair qualifies when its matched-frame count over the smaller
   * video's sampled-frame count reaches `minSharedFrac`; the matched
   * count is taken on the video that OWNS the denominator (a frame
   * index has exactly one hash, so matched-on-A = Σ multiplicity over
   * distinct matched A-hashes) — counting one side but dividing by the
   * other misstates overlap for unequal-length videos.
   */
  def videoNearDups(media: Dataset[MediaRow], maxHamming: Int = 3,
                    minSharedFrac: Double = 0.5, stride: Int = 1): DataFrame = {
    val fh = videoFrameHashes(media, stride)
    val vh = fh.groupBy(col("media_id"), col("hash"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = vh.groupBy(col("media_id")).agg(sum("cnt").as("n_frames"))
    val dh = vh.select(col("hash")).distinct()
    val near = Dedup.hammingNearDups(
        dh.select(col("hash").as("k"), col("hash")), maxHamming)
      .select(col("key_a").as("ha"), col("key_b").as("hb"))
    val edges = near
      .unionByName(near.select(col("hb").as("ha"), col("ha").as("hb")))
      .unionByName(dh.select(col("hash").as("ha"), col("hash").as("hb")))
    val cand = vh.select(col("media_id").as("va"), col("hash").as("ha"),
        col("cnt").as("ca"))
      .join(edges, Seq("ha"))
      .join(vh.select(col("media_id").as("vb"), col("hash").as("hb"),
        col("cnt").as("cb")), Seq("hb"))
      .filter(col("va") < col("vb"))
    // one aggregation pass: per pair, multiplicities summed over the
    // DISTINCT matched hashes of each side (cnt is a function of
    // (video, hash), so a set of (hash, cnt) structs dedups exactly;
    // set size is bounded by the video's distinct-hash count)
    val matched = cand.groupBy(col("va"), col("vb"))
      .agg(collect_set(struct(col("ha"), col("ca"))).as("sa"),
        collect_set(struct(col("hb"), col("cb"))).as("sb"))
      .select(col("va"), col("vb"),
        aggregate(col("sa"), lit(0L),
          (acc, x) => acc + x.getField("ca")).as("ma"),
        aggregate(col("sb"), lit(0L),
          (acc, x) => acc + x.getField("cb")).as("mb"))
    val result = matched
      .join(counts.select(col("media_id").as("va"), col("n_frames").as("na")),
        Seq("va"))
      .join(counts.select(col("media_id").as("vb"), col("n_frames").as("nb")),
        Seq("vb"))
      .withColumn("shared_frac",
        when(col("na") <= col("nb"), col("ma")).otherwise(col("mb"))
          .cast("double") / least(col("na"), col("nb")))
      .filter(col("shared_frac") >= minSharedFrac)
      .select(col("va").as("a"), col("vb").as("b"), col("shared_frac"))
    val out = result.localCheckpoint(eager = true)
    vh.unpersist(blocking = false)
    out
  }

  /**
   * Video decode + feature extraction, completing the modality set
   * ([[imageFeatures]] / [[audioFeatures]]): an MJPEG-AVI payload
   * yields TRUE dimensions, frame count, duration and frame rate, with
   * the embedding = the middle frame's grid thumbnail (temporal
   * midpoint — the standard one-frame video descriptor); undecodable
   * payloads fall back to [[StubCodec]] surrogates with declared
   * metadata passed through.
   */
  def videoFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[VideoFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").mapPartitions { rows =>
      rows.map { m =>
        val real = for {
          v <- VideoCodec.decode(m.payload)
          mid <- ImageCodec.decode(v.frames(v.frameCount / 2))
        } yield VideoFeatures(m.media_id, v.width, v.height, v.frameCount,
          v.durationMs, v.fps,
          embedding = ImageCodec.gridFeatures(mid, dim))
        real.getOrElse {
          VideoFeatures(m.media_id, m.width, m.height,
            frame_count = math.max(1, m.duration_ms / 33),
            duration_ms = m.duration_ms,
            fps = 30.0,
            embedding = StubCodec.embed(m.payload, dim))
        }
      }
    }
  }
}
