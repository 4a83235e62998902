package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.10): media payloads are
  * opaque `binary` columns travelling next to a typed metadata struct.
  *
  * IMAGE decode is REAL: payloads carrying a known image container
  * (PNG/JPEG/GIF/BMP by magic bytes) are parsed with JDK ImageIO —
  * true width/height, no external dependency (16 reader formats ship
  * with this JDK). Anything else falls back to a clearly-marked
  * deterministic stub, so non-image payloads still flow through the
  * same pipeline shape (audio/video codecs are genuinely absent from
  * the runtime; their decode remains the stub). Everything Spark-side
  * is real either way: the schema shape, the batch-oriented
  * `mapPartitions` decode loop (the Scala analog of `mapInPandas`: one
  * iterator pass per partition, no per-row setup), and the
  * pushdown-friendly metadata projection.
  *
  * At 100 TB: payload bytes dominate, so (a) metadata lives in separate
  * columns for scan pruning — a metadata-only query never touches bytes;
  * (b) decode is per-partition with bounded batch memory; (c) features
  * are written to their own table keyed by media_id, never appended to
  * the payload row.
  */
object Multimodal {

  /** Pack a text/binary source column into the media shape (test stand-in
    * for reading real media files; payload = UTF-8 bytes). */
  def pack(df: DataFrame, idCol: String, srcCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(srcCol).cast("binary").as("payload"),
      struct(
        lit(s"application/x-graft-$kind").as("mime"),
        octet_length(col(srcCol).cast("binary")).cast("long").as("n_bytes"),
        md5(col(srcCol).cast("binary")).as("checksum")).as("meta"))

  case class MediaFeatures(
      media_id: Long, n_bytes: Long, width: Int, height: Int, checksum: String)

  /** Cheap container sniff — decode is only attempted on payloads whose
    * magic bytes name a format ImageIO ships a reader for; everything
    * else skips straight to the stub without paying a reader probe. */
  def looksLikeImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (
      (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' &&
        bytes(3) == 'G') ||                                  // PNG
      (bytes(0) == 0xff.toByte && bytes(1) == 0xd8.toByte) || // JPEG
      (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') || // GIF
      (bytes(0) == 'B' && bytes(1) == 'M'))                   // BMP

  /** REAL image decode via JDK ImageIO: (width, height) of the decoded
    * raster, or None when no registered reader claims the bytes (a
    * sniffed-but-corrupt payload — callers fall back to the stub so a
    * poisoned row degrades instead of killing the partition). */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      Option(img).map(i => (i.getWidth, i.getHeight))
    } catch {
      // NonFatal, not just IOException: the JDK readers throw
      // CMMException / IllegalArgumentException / IndexOutOfBounds on
      // crafted or truncated bodies whose magic sniffed fine — any of
      // those escaping here would kill the partition the fallback
      // contract promises to protect
      case scala.util.control.NonFatal(_) => None
    }

  /** STUB decode for payloads with no available codec (audio/video, or
    * the opaque test payloads): deterministic fake dimensions from the
    * byte length so the full pipeline (partition batching, feature
    * schema, downstream joins) is exercised end-to-end regardless. */
  def stubDecode(payload: Array[Byte]): (Int, Int) = {
    val n = payload.length
    (640 + n % 640, 360 + n % 360)
  }

  /** Batch decode via mapPartitions — the Scala analog of a Pandas UDF
    * over mapInPandas: one pass per partition, features out. Image
    * containers decode for real (ImageIO); everything else stubs. */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload", "meta.checksum").as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, payload, checksum) =>
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val (w, h) =
            (if (looksLikeImage(bytes)) decodeImage(bytes) else None)
              .getOrElse(stubDecode(bytes))
          MediaFeatures(id, bytes.length.toLong, w, h, checksum)
        }
      }
  }

  /** Deterministic PNG of the given dimensions — the test/query-side
    * image synthesizer (pixel = a fixed function of position and tone,
    * encoded by the JDK's own PNG writer), so [[decodeFeatures]] can be
    * oracle-gated on TRUE decoded dimensions with zero external data. */
  def syntheticPng(width: Int, height: Int, tone: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, (x * 31 + y * 17 + tone) & 0xffffff)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // NOT `private`: Scala private members compile to private bytecode,
  // which the codegen'd encoder accessors cannot call (janino falls
  // back to interpreted row conversion — silent 10x on the hot path)
  case class MediaMeta(mime: String, n_bytes: Long, checksum: String)
  case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)

  /** Pack one synthetic PNG per input row at (widthCol x heightCol)
    * into the media shape — encode rides the same mapPartitions batch
    * shape as decode (per-partition iterator, bytes out). */
  def packImages(
      df: DataFrame, idCol: String, widthCol: String,
      heightCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(widthCol).cast("int"),
        col(heightCol).cast("int")).as[(Long, Int, Int)]
      .mapPartitions { it =>
        // one digest per partition, not per row (MessageDigest.getInstance
        // is a provider lookup; digest() resets the instance)
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, w, h) =>
          val png = syntheticPng(w, h, tone = (id % 251).toInt)
          MediaRow(id, "image", png,
            MediaMeta("image/png", png.length.toLong,
              md.digest(png).map("%02x".format(_)).mkString))
        }
      }.toDF()
  }

  /** Deterministic 16-bit PCM mono WAV at 8 kHz — the audio-side
    * synthesizer (sample i = ((id*31 + i*7) mod 2001) - 1000, n = 100 +
    * id mod 50 samples), RIFF container hand-rolled so the bytes are
    * bit-stable. [[decodeAudioFeatures]] must parse the container and
    * the samples to reproduce stats an oracle recomputes from the
    * generator formula alone — wrong header math, wrong endianness, or
    * metadata-only shortcuts all hash-mismatch. */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = (100 + id % 50).toInt
    val sampleRate = 8000
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)               // PCM
      .putShort(1)               // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)    // byte rate
      .putShort(2)               // block align
      .putShort(16)              // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      bb.putShort((((id * 31 + i * 7) % 2001) - 1000).toShort)
      i += 1
    }
    bb.array()
  }

  /** Pack one synthetic WAV per input row into the media shape (same
    * batch posture as [[packImages]]). */
  def packWavs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val wav = syntheticWav(id)
          MediaRow(id, "audio", wav,
            MediaMeta("audio/wav", wav.length.toLong,
              md.digest(wav).map("%02x".format(_)).mkString))
        }
      }.toDF()
  }

  case class AudioFeatures(
      media_id: Long, sample_rate: Int, n_samples: Long,
      sum_sq: Long, max_abs: Long)

  /** REAL audio decode via the JDK's javax.sound.sampled: the WAV
    * container is parsed by AudioSystem (format + frame count from the
    * header, PCM frames from the stream), samples are reassembled at
    * the parsed endianness/width, and the features are pure sample
    * statistics — integer-exact, so the oracle can recompute them from
    * the synthesis formula without ever seeing the bytes. Rows whose
    * payload no reader claims fall back to all-zero stats with
    * sample_rate -1 (the poisoned-row degrade contract of
    * [[decodeFeatures]]). */
  def decodeAudioFeatures(media: DataFrame): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          decodeWav(if (payload == null) Array.emptyByteArray else payload)
            .map { case (sr, samples) =>
              var sumSq = 0L
              var maxAbs = 0L
              var i = 0
              while (i < samples.length) {
                val s = samples(i).toLong
                sumSq += s * s
                val a = math.abs(s)
                if (a > maxAbs) maxAbs = a
                i += 1
              }
              AudioFeatures(id, sr, samples.length.toLong, sumSq, maxAbs)
            }
            .getOrElse(AudioFeatures(id, -1, 0L, 0L, 0L))
        }
      }
  }

  /** Parse a WAV payload to (sampleRate, 16-bit samples) with
    * AudioSystem, or None when no reader claims the bytes. */
  private[multimodal] def decodeWav(payload: Array[Byte]): Option[(Int, Array[Short])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
        else {
          val bytes = ais.readAllBytes()
          val bb = java.nio.ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val out = new Array[Short](bytes.length / 2)
          var i = 0
          while (i < out.length) { out(i) = bb.getShort(); i += 1 }
          Some((fmt.getSampleRate.toInt, out))
        }
      } finally ais.close()
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  case class PerceptualHash(
      media_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  /** 8x8 average-hash (aHash, the classic perceptual fingerprint) over
    * the REAL decoded raster: gray = (r+g+b)/3 per pixel, threshold at
    * the integer mean, one bit per pixel packed as FOUR 16-bit band
    * values (not one 64-bit word: bit 63 would need an unsigned type
    * the oracle side lacks, and the bands double as the LSH blocking
    * key). All arithmetic is integer, so an oracle that knows the
    * pixel formula reproduces the hash bit for bit — which is exactly
    * how q145 gates the DECODE fidelity of the ImageIO path: one
    * flipped pixel anywhere flips a hash bit and the hash gate
    * mismatches. Expects 8x8 payloads (the synthesizer's contract);
    * anything else fails loudly rather than hashing garbage. */
  def perceptualHash8(media: DataFrame): Dataset[PerceptualHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        require(img != null && img.getWidth == 8 && img.getHeight == 8,
          s"perceptualHash8 expects a decodable 8x8 image for media $id")
        val g = Array.tabulate(64) { idx =>
          val v = img.getRGB(idx % 8, idx / 8) & 0xffffff
          (((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255)) / 3
        }
        val mean = g.sum / 64
        def band(b: Int): Long = (0 until 16).foldLeft(0L) { (acc, j) =>
          if (g(b * 16 + j) > mean) acc | (1L << j) else acc
        }
        PerceptualHash(id, band(0), band(1), band(2), band(3))
      })
  }

  /** Near-duplicate image pairs by banded hamming distance: candidates
    * share at least one of the four 16-bit hash bands (the LSH
    * blocking), the verify recomputes the exact hamming distance from
    * the full hash. COMPLETE for maxHamming < 4 by pigeonhole — k
    * differing bits touch at most k bands, so some band is identical —
    * which is why the bound is require-asserted: a caller passing 4+
    * would silently lose recall. The hash table is 32 bytes per image;
    * at 100 TB the bytes never join, only hashes do. */
  def perceptualNearDups(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"banding is complete only for maxHamming < 4 bands, got $maxHamming")
    val bands = hashes.select(col("media_id"), posexplode(array(
      col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band", "bv")))
    val cand = bands.select(col("media_id").as("id_a"), col("band"), col("bv"))
      .join(bands.select(col("media_id").as("id_b"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    def side(pfx: String, idName: String) = hashes.select(
      col("media_id").as(idName), col("b0").as(s"${pfx}0"),
      col("b1").as(s"${pfx}1"), col("b2").as(s"${pfx}2"),
      col("b3").as(s"${pfx}3"))
    cand.join(side("l", "id_a"), "id_a").join(side("r", "id_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (bit_count(expr("l0 ^ r0")) + bit_count(expr("l1 ^ r1")) +
          bit_count(expr("l2 ^ r2")) + bit_count(expr("l3 ^ r3")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** STUB resize: a real implementation re-encodes the payload at the
    * target dimensions (for image payloads Java2D + ImageIO could — the
    * byte-budget contract here is deliberately codec-agnostic); the stub
    * deterministically truncates/pads so the batch shape (bytes in,
    * bytes out, metadata recomputed) is real for every media kind. */
  def stubResize(payload: Array[Byte], targetBytes: Int): Array[Byte] = {
    if (payload.length >= targetBytes) payload.take(targetBytes)
    else payload ++ Array.fill[Byte](targetBytes - payload.length)(0)
  }

  case class ResizedMedia(media_id: Long, payload: Array[Byte], n_bytes: Long)

  def resize(media: DataFrame, targetBytes: Int): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val out = stubResize(if (p == null) Array.emptyByteArray else p, targetBytes)
        ResizedMedia(id, out, out.length.toLong)
      })
  }

  case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB frame-sampling: every `stride`-th fixed-size window of the
    * payload stands in for a decoded video frame — the row-explosion
    * shape (1 media row -> N frame rows) and downstream schema are what
    * the real decoder would feed. */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        val bytes = if (p == null) Array.emptyByteArray else p
        // ??? <- real frame decode goes here when decoders ship
        val starts = bytes.indices.by(frameBytes * stride)
        starts.iterator.zipWithIndex.map { case (s, i) =>
          Frame(id, i, bytes.slice(s, math.min(s + frameBytes, bytes.length)))
        }
      }
  }

  /** Deterministic video container ("GVID"): a hand-rolled MJPEG-style
    * layout — magic, version, width, height, frame count, a seekable
    * (offset, length) frame index, then concatenated REAL PNG frames
    * (each frame the q122 pixel synthesizer at a per-frame tone). The
    * container is what a real video pipeline gives Spark: an opaque
    * binary whose STRUCTURE must be parsed before any frame decodes.
    * Frame f of media id has tone (id*7 + f*13) mod 251, dims
    * (16 + id mod 8) x (12 + id mod 6), nFrames = 4 + id mod 5 — all
    * pure functions of id, so an oracle can recompute every sampled
    * frame's pixel statistics without seeing a byte. */
  def syntheticVideo(id: Long): Array[Byte] = {
    val nFrames = (4 + id % 5).toInt
    val w = (16 + id % 8).toInt
    val h = (12 + id % 6).toInt
    val frames = (0 until nFrames).map { f =>
      syntheticPng(w, h, tone = ((id * 7 + f * 13) % 251).toInt)
    }
    val headerLen = 4 + 4 * 4 + nFrames * 8
    val total = headerLen + frames.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GVID".getBytes("US-ASCII")).putInt(1)
      .putInt(w).putInt(h).putInt(nFrames)
    var off = headerLen
    frames.foreach { fb => bb.putInt(off).putInt(fb.length); off += fb.length }
    frames.foreach(bb.put)
    bb.array()
  }

  /** Pack one synthetic GVID per input row into the media shape (same
    * batch posture as [[packImages]]/[[packWavs]]). */
  def packVideos(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val v = syntheticVideo(id)
          MediaRow(id, "video", v,
            MediaMeta("video/x-graft-gvid", v.length.toLong,
              md.digest(v).map("%02x".format(_)).mkString))
        }
      }.toDF()
  }

  case class VideoFrameFeatures(
      media_id: Long, frame_idx: Int, width: Int, height: Int, sum_rgb: Long)

  /** REAL video frame sampling + decode: the GVID container header and
    * frame index are parsed (magic-checked), every `stride`-th frame's
    * byte slice is located through the index — never a linear scan of
    * the payload — and each sampled frame is decoded by ImageIO as the
    * real PNG it is. Features are per-frame integer pixel statistics
    * (sum of packed RGB values over the decoded raster), so a wrong
    * index offset, a truncated frame, or any decode infidelity changes
    * sum_rgb and hash-mismatches the oracle. Unparseable containers —
    * AND containers whose index is fine but whose sampled frame bytes
    * don't decode — degrade to exactly ONE flagged row (frame_idx -1,
    * zero stats): the poisoned-row contract of every decoder here,
    * with no mixed good-frames-plus-duplicate-flag output. One media
    * row fans
    * out to ceil(nFrames/stride) frame rows inside one mapPartitions
    * pass; payload bytes never shuffle. */
  def decodeVideoFrames(media: DataFrame, stride: Int): Dataset[VideoFrameFeatures] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val decoded =
          parseGvid(if (payload == null) Array.emptyByteArray else payload)
            .flatMap { case (w, h, frames) =>
              val out = frames.iterator.zipWithIndex
                .filter { case (_, f) => f % stride == 0 }
                .map { case (bytes, f) =>
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(bytes))
                  if (img == null || img.getWidth != w || img.getHeight != h)
                    None
                  else {
                    var sum = 0L
                    var y = 0
                    while (y < h) {
                      var x = 0
                      while (x < w) {
                        sum += (img.getRGB(x, y) & 0xffffff).toLong
                        x += 1
                      }
                      y += 1
                    }
                    Some(VideoFrameFeatures(id, f, w, h, sum))
                  }
                }.toIndexedSeq
              // ANY undecodable sampled frame poisons the MEDIA: exactly
              // one flagged row, same as a bad container — never a mix of
              // good frames and duplicate (id, -1) rows. A structurally
              // valid container that yields ZERO sampled frames (nFrames
              // = 0) flags too: without this the media would silently
              // vanish from the output, breaking the one-row-per-bad-
              // media contract the flagged row exists to guarantee.
              if (out.contains(None) || out.isEmpty) None else Some(out.flatten)
            }
        decoded.getOrElse(Seq(VideoFrameFeatures(id, -1, 0, 0, 0L))).iterator
      })
  }

  /** Parse a GVID payload to (width, height, frame byte slices), or
    * None when the magic/version/index is malformed or out of bounds. */
  private[multimodal] def parseGvid(
      payload: Array[Byte]): Option[(Int, Int, Array[Array[Byte]])] =
    try {
      if (payload.length < 20 ||
          payload(0) != 'G' || payload(1) != 'V' ||
          payload(2) != 'I' || payload(3) != 'D') None
      else {
        val bb = java.nio.ByteBuffer.wrap(payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.position(4)
        val version = bb.getInt
        val w = bb.getInt
        val h = bb.getInt
        val nFrames = bb.getInt
        if (version != 1 || w <= 0 || h <= 0 || nFrames < 0 ||
            nFrames > (payload.length - 20) / 8) None
        else {
          val frames = new Array[Array[Byte]](nFrames)
          var f = 0
          var ok = true
          while (ok && f < nFrames) {
            val off = bb.getInt
            val len = bb.getInt
            if (off < 0 || len < 0 || off.toLong + len > payload.length) ok = false
            else frames(f) = java.util.Arrays.copyOfRange(payload, off, off + len)
            f += 1
          }
          if (ok) Some((w, h, frames)) else None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Expression-only twin of [[decodeFeatures]]' STUB path — exact for
    * NON-IMAGE payloads (q26 packs text bytes, which never sniff as an
    * image container; true image payloads take the ImageIO branch and
    * are gated by q122 instead). Same arithmetic as the stub, including
    * the null-payload case: mapPartitions substitutes an empty byte
    * array, so the expression form coalesces lengths to 0. Stays in
    * whole-stage codegen. */
  def decodeFeaturesExpr(media: DataFrame): DataFrame = {
    val len = coalesce(octet_length(col("payload")), lit(0))
    media.select(
      col("media_id"),
      coalesce(col("meta.n_bytes"), lit(0L)).as("n_bytes"),
      (lit(640) + pmod(len, lit(640))).as("width"),
      (lit(360) + pmod(len, lit(360))).as("height"),
      col("meta.checksum").as("checksum"))
  }
}
