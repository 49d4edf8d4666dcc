package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.UnaryKernelExpression

/** Multimodal columns: image/audio/video as opaque `binary` payloads with a
  * typed header, processed by Catalyst expressions and per-partition batch
  * decoders.
  *
  * Real IMAGE formats (PNG/JPEG/GIF/BMP) are decoded and resized for real
  * via the JDK's javax.imageio, and real AUDIO containers (WAV/AIFF/AU,
  * 8/16-bit PCM) are parsed and PCM-decoded for real via
  * javax.sound.sampled ([[audioMetaKernel]]/[[audioSamplesKernel]]) — zero
  * extra dependencies either way. VIDEO has no JDK codec, so it rides the
  * deterministic GRFT fixture container ("GRFT" magic + fixed header +
  * payload); that remaining stub point is marked below. Everything else is
  * real Spark architecture and is what matters at 100 TB:
  *
  *  - media stays an opaque `BinaryType` column end-to-end (never hex/base64
  *    strings — 2× smaller and zero re-encode);
  *  - header decode is a codegen'd unary expression ([[MediaMeta]]), so
  *    predicate pushdown on metadata (e.g. `width > 512`) never touches
  *    payload bytes beyond the 28-byte header;
  *  - heavy decode runs per-PARTITION with amortized decoder init
  *    ([[decodePartitions]]) — the Scala analogue of `mapInPandas` batch
  *    shape: one decoder instance per task, streamed rows, no per-row setup;
  *  - frame sampling ([[MediaFrames]]) emits `array<binary>` slices that
  *    `explode` into a frames table without copying payloads row-by-row on
  *    the driver.
  */
object Multimodal {

  val Magic: Array[Byte] = "GRFT".getBytes
  val HeaderLen: Int = 4 + 4 + 4 + 4 + 4 + 4 + 4 // magic + kind + 5 int fields

  final case class MediaRow(doc_id: Long, kind: String, content: Array[Byte])
  final case class DecodedRow(doc_id: Long, kind: String, width: Int, height: Int,
                              feature: Double)

  private def i32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def putI32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** deterministic fake "capture": header fields derived from doc_id,
    * payload = UTF-8 bytes of the text (truncated to 256). */
  def pack(docId: Long, kindCode: Int, textBytes: Array[Byte]): Array[Byte] = {
    val payload = java.util.Arrays.copyOf(textBytes, math.min(textBytes.length, 256))
    val out = new Array[Byte](HeaderLen + payload.length)
    System.arraycopy(Magic, 0, out, 0, 4)
    putI32(out, 4, kindCode)
    putI32(out, 8, 64 + (docId % 32).toInt * 16)                         // width
    putI32(out, 12, 64 + (docId % 24).toInt * 16)                        // height
    putI32(out, 16, 1 + (docId % 2).toInt * 2)                           // channels
    putI32(out, 20, if (kindCode == 1) 8000 + (docId % 5).toInt * 4000 else 0) // sample_rate
    putI32(out, 24, if (kindCode == 2) 8 + (docId % 16).toInt else 1)    // n_frames
    System.arraycopy(payload, 0, out, HeaderLen, payload.length)
    out
  }

  val kindNames: Array[String] = Array("image", "audio", "video")

  /** media table synthesized from `documents` via mapPartitions — the
    * batch-decode execution shape: partition-local, no driver involvement,
    * binary stays binary. */
  def synthesizeMedia(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val kindCode = (id % 3).toInt
          MediaRow(id, kindNames(kindCode), pack(id, kindCode, text.getBytes("UTF-8")))
        }
      }
  }

  /** per-partition heavy decode (the mapInPandas analogue): ONE decoder
    * instance per task, rows streamed through it. Real images (PNG / JPEG /
    * GIF / BMP — everything the JDK's javax.imageio reads with zero extra
    * dependencies) get a REAL pixel decode; the GRFT synthetic container
    * keeps its deterministic fixture decoder (video/audio codecs don't ship
    * in the JDK — that part remains a marked stub). Undecodable rows emit
    * (-1, -1, -1.0) rather than throwing: at 100 TB a corrupt blob must
    * dead-letter, never kill a 4-hour stage. */
  def decodePartitions(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // amortized per-task init (ImageIO plugin scan / codec handles)
      val decoder = new MediaDecoder
      it.map { m =>
        val (w, h, feat) = decoder.decode(m.content)
        DecodedRow(m.doc_id, m.kind, w, h, feat)
      }
    }
  }

  private def isGrft(b: Array[Byte]): Boolean =
    b.length >= HeaderLen && b(0) == 'G' && b(1) == 'R' && b(2) == 'F' && b(3) == 'T'

  /** Per-task decoder. GRFT → deterministic fixture path; real audio
    * containers (RIFF/WAVE, AIFF, AU) → javax.sound.sampled, reported as
    * (frames, channels, mean |amplitude|); real AVI video → container walk
    * + representative-frame pixel decode (MJPEG frames are JPEGs —
    * javax.imageio decodes them; other codecs report container dims with a
    * null statistic); anything else → javax.imageio (returns null for
    * formats it cannot read). */
  final class MediaDecoder {
    def decode(content: Array[Byte]): (Int, Int, Double) = {
      if (isGrft(content)) return decodeGrft(content)
      if (Avi.isAvi(content)) {
        val meta = Avi.metaKernel(content)
        if (meta == null) return (-1, -1, -1.0)
        val frame = Avi.firstFrame(content)
        val img =
          if (frame == null) null
          else
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frame))
            catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) return (meta.getInt(1), meta.getInt(2), -1.0)
        return (meta.getInt(1), meta.getInt(2), meanIntensity(img))
      }
      val audio = audioMetaKernel(content)
      if (audio != null)
        return (audio.getLong(4).toInt, audio.getInt(2),
          if (audio.isNullAt(6)) -1.0 else audio.getDouble(6))
      // NonFatal, not just IOException: the JDK image readers throw
      // ArrayIndexOutOfBounds/IllegalArgument/NegativeArraySize on crafted
      // or truncated headers, and a corrupt blob must dead-letter, never
      // fail the task
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return (-1, -1, -1.0)
      (img.getWidth, img.getHeight, meanIntensity(img))
    }

    /** mean RGB intensity in [0,1] — a real pixel statistic (codec-exact:
      * tests pin it against the known pixel values). */
    def meanIntensity(img: java.awt.image.BufferedImage): Double = {
      val w = img.getWidth
      val h = img.getHeight
      var acc = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          acc += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          x += 1
        }
        y += 1
      }
      acc.toDouble / (w.toLong * h * 3L * 255L)
    }

    /** GRFT fixture decoder (video stand-in — the one remaining codec
      * stub; no JDK video codec exists). Deterministic. */
    def decodeGrft(content: Array[Byte]): (Int, Int, Double) = {
      val w = i32(content, 8)
      val h = i32(content, 12)
      var acc = 0L
      var i = HeaderLen
      while (i < content.length) { acc = acc * 31 + (content(i) & 0xff); i += 1 }
      (w, h, (java.lang.Math.floorMod(acc, 1000000L)).toDouble / 1000000.0)
    }
  }

  // ---- real audio decode (javax.sound.sampled — zero extra deps) ----

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("encoding", StringType),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("mean_abs", DoubleType)))

  /** Real WAV/AIFF/AU header parse + PCM decode through the JDK's
    * `javax.sound.sampled.AudioSystem` (the audio analogue of the imageio
    * path): format metadata plus the mean absolute normalized amplitude —
    * a real sample statistic, like the image path's mean RGB intensity.
    * 8-bit (signed AIFF / unsigned WAV semantics per the reported encoding)
    * and 16-bit PCM at either endianness are decoded; other depths report
    * metadata with a null statistic. Null on undecodable bytes — at 100 TB
    * a corrupt blob dead-letters, never kills the stage. */
  def audioMetaKernel(content: Array[Byte]): InternalRow = {
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => return null }
    try {
      val fmt = ais.getFormat
      var frames = ais.getFrameLength // NOT_SPECIFIED (-1) for AU unknown-size
      val vals = new Array[Any](7)
      vals(0) = UTF8String.fromString(String.valueOf(fmt.getEncoding))
      vals(1) = fmt.getSampleRate.toInt
      vals(2) = fmt.getChannels
      vals(3) = fmt.getSampleSizeInBits
      vals(6) = null
      val pcmSigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val pcmUnsigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      if ((pcmSigned || pcmUnsigned) &&
        (fmt.getSampleSizeInBits == 8 || fmt.getSampleSizeInBits == 16)) {
        val data = ais.readAllBytes()
        // AU's spec-legal unknown data size reports frames = -1; the PCM
        // bytes are in hand, so recover the true count instead of emitting
        // a negative value into a nullable=false field
        if (frames < 0 && fmt.getFrameSize > 0) frames = data.length.toLong / fmt.getFrameSize
        // EXACT integer accumulation, ONE final double division — the sum
        // of raw |sample| is an integer both engines can state, so the
        // DuckDB oracle reproduces the statistic bit-for-bit (a running
        // double sum would be summation-order-sensitive at the e4 grid)
        var acc = 0L
        var n = 0L
        if (fmt.getSampleSizeInBits == 8) {
          var i = 0
          while (i < data.length) {
            val v = if (pcmUnsigned) (data(i) & 0xff) - 128 else data(i).toInt
            acc += math.abs(v)
            i += 1; n += 1
          }
          if (n > 0) vals(6) = acc.toDouble / (n * 128.0)
        } else {
          val be = fmt.isBigEndian
          var i = 0
          while (i + 1 < data.length) {
            val v =
              if (be) (data(i) << 8) | (data(i + 1) & 0xff)
              else (data(i + 1) << 8) | (data(i) & 0xff)
            val s = if (pcmUnsigned) (v & 0xffff) - 32768 else v.toShort.toInt
            acc += math.abs(s)
            i += 2; n += 1
          }
          if (n > 0) vals(6) = acc.toDouble / (n * 32768.0)
        }
      }
      // unknown length on a path we did not decode: dead-letter rather
      // than emit -1 frames / negative duration as valid-looking metadata
      if (frames < 0) return null
      vals(4) = frames
      vals(5) = if (fmt.getSampleRate > 0) frames * 1000L / fmt.getSampleRate.toLong else 0L
      new GenericInternalRow(vals)
    } catch { case scala.util.control.NonFatal(_) => null }
    finally ais.close()
  }

  /** PCM frame extraction: decoded samples as normalized doubles in
    * [-1, 1), channel-interleaved (frame f's channels are adjacent) — the
    * feature-extraction input shape. `maxSamples` bounds row width (a 10-min
    * 48 kHz stereo capture is 57.6 M samples; downstream featurizers want
    * the head or a strided pass, not a half-gigabyte array cell). Null on
    * undecodable bytes or unsupported depth. */
  def audioSamplesKernel(content: Array[Byte], maxSamples: Int): GenericArrayData = {
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => return null }
    try {
      val fmt = ais.getFormat
      val pcmSigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val pcmUnsigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      val bits = fmt.getSampleSizeInBits
      if (!(pcmSigned || pcmUnsigned) || (bits != 8 && bits != 16)) return null
      val bytesPer = bits / 8
      val want = math.min(
        if (ais.getFrameLength >= 0) ais.getFrameLength * fmt.getChannels else maxSamples.toLong,
        maxSamples.toLong).toInt
      val data = ais.readNBytes(want * bytesPer)
      val n = data.length / bytesPer
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val v =
          if (bits == 8) {
            val b = if (pcmUnsigned) (data(i) & 0xff) - 128 else data(i).toInt
            b / 128.0
          } else {
            val off = i * 2
            val raw =
              if (fmt.isBigEndian) (data(off) << 8) | (data(off + 1) & 0xff)
              else (data(off + 1) << 8) | (data(off) & 0xff)
            val s = if (pcmUnsigned) (raw & 0xffff) - 32768 else raw.toShort.toInt
            s / 32768.0
          }
        out(i) = v
        i += 1
      }
      new GenericArrayData(out)
    } catch { case scala.util.control.NonFatal(_) => null }
    finally ais.close()
  }

  /** Linear-interpolation PCM resample through the REAL JDK decode — the
    * audio analogue of [[resizeKernel]] (rate normalization, e.g. to
    * 16 kHz, is the standard audio-training-pipeline step). Output frame k
    * of each channel sits at source position k·srcRate/dstRate; the
    * interpolation runs in EXACT unsigned-integer arithmetic (bias samples
    * to [0, 65535], weight by the rational remainder, ONE floor division
    * of non-negative integers) so any ANSI engine states every output
    * sample bit-for-bit — and dstRate == srcRate reproduces the input
    * exactly. Output frames = ⌊(n−1)·dst/src⌋ + 1 (every output position
    * lies inside the source), `maxFrames`-bounded like
    * [[audioSamplesKernel]]'s row-width cap. Channel-interleaved
    * normalized doubles out. 16-bit PCM at either endianness/signedness;
    * null on undecodable bytes or other depths (dead-letter). */
  def audioResampleKernel(content: Array[Byte], dstRate: Int,
                          maxFrames: Int): GenericArrayData = {
    require(dstRate > 0 && maxFrames > 0)
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => return null }
    try {
      val fmt = ais.getFormat
      val pcmSigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val pcmUnsigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      if (!(pcmSigned || pcmUnsigned) || fmt.getSampleSizeInBits != 16) return null
      val srcRate = fmt.getSampleRate.toInt
      val ch = fmt.getChannels
      if (srcRate <= 0 || ch <= 0) return null
      val data = ais.readAllBytes()
      val n = data.length / (2 * ch)
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      val be = fmt.isBigEndian
      def u(frame: Int, c: Int): Long = {
        val off = (frame * ch + c) * 2
        val raw =
          if (be) (data(off) << 8) | (data(off + 1) & 0xff)
          else (data(off + 1) << 8) | (data(off) & 0xff)
        if (pcmUnsigned) (raw & 0xffff).toLong else raw.toShort.toLong + 32768L
      }
      val m = math.min((n - 1).toLong * dstRate / srcRate + 1L, maxFrames.toLong).toInt
      val out = new Array[Any](m * ch)
      var k = 0
      while (k < m) {
        val num = k.toLong * srcRate
        val j = (num / dstRate).toInt
        val rem = num % dstRate
        val j1 = math.min(j + 1, n - 1)
        var c = 0
        while (c < ch) {
          val uv = (u(j, c) * (dstRate - rem) + u(j1, c) * rem) / dstRate
          out(k * ch + c) = (uv - 32768L) / 32768.0
          c += 1
        }
        k += 1
      }
      new GenericArrayData(out)
    } catch { case scala.util.control.NonFatal(_) => null }
    finally ais.close()
  }

  /** deterministic RIFF/WAVE synthesizer for the oracle path: a HAND-ROLLED
    * canonical 44-byte-header PCM16-LE WAV (independent of AudioSystem, so
    * the [[audioMetaKernel]] decode of it exercises the real JDK parser
    * end-to-end) whose samples follow a closed-form any ANSI engine can
    * state: sample j = ((seed·31 + j·7919) mod 65536) − 32768. */
  def wavPackKernel(seed: Long, sampleRate: Int, channels: Int,
                    frames: Int): Array[Byte] = {
    // guard the Int multiplications (frames·channels·2) before they can
    // wrap into a negative array size — same bound as AudioSamples' cap
    require(frames >= 0 && channels >= 1 && sampleRate >= 1 &&
      frames.toLong * channels <= (1L << 26),
      s"wav_pack: frames=$frames channels=$channels exceeds the 2^26-sample bound")
    val nSamples = frames * channels
    val dataLen = nSamples * 2
    val out = new Array[Byte](44 + dataLen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
      out(off + 2) = (v >>> 16).toByte; out(off + 3) = (v >>> 24).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
    }
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    le32(4, 36 + dataLen)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    le32(16, 16)   // PCM fmt chunk
    le16(20, 1)    // audio format: PCM
    le16(22, channels)
    le32(24, sampleRate)
    le32(28, sampleRate * channels * 2) // byte rate
    le16(32, channels * 2)              // block align
    le16(34, 16)                        // bits
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    le32(40, dataLen)
    var j = 0
    while (j < nSamples) {
      val v = (java.lang.Math.floorMod(seed * 31L + j.toLong * 7919L, 65536L) - 32768L).toInt
      le16(44 + j * 2, v & 0xffff)
      j += 1
    }
    out
  }

  // ---- kernels for the Catalyst expressions ----

  def metaKernel(content: Array[Byte]): InternalRow = {
    if (content.length < HeaderLen ||
      content(0) != 'G' || content(1) != 'R' || content(2) != 'F' || content(3) != 'T')
      return null
    val kindCode = i32(content, 4)
    val vals = new Array[Any](7)
    vals(0) = UTF8String.fromString(
      if (kindCode >= 0 && kindCode < kindNames.length) kindNames(kindCode) else "unknown")
    vals(1) = i32(content, 8)
    vals(2) = i32(content, 12)
    vals(3) = i32(content, 16)
    vals(4) = i32(content, 20)
    vals(5) = i32(content, 24)
    vals(6) = content.length - HeaderLen
    new GenericInternalRow(vals)
  }

  /** resize: REAL nearest-neighbor resample + PNG re-encode for real images
    * (javax.imageio); for the GRFT fixture container it rewrites the header
    * dims and passes the payload through unchanged (visible fixture
    * behavior, pinned by tests). Nearest-neighbor is chosen over Java2D's
    * filtered scalers because it is bit-deterministic across JVMs. */
  def resizeKernel(content: Array[Byte], w: Int, h: Int): Array[Byte] = {
    if (isGrft(content)) {
      val out = content.clone()
      putI32(out, 8, w)
      putI32(out, 12, h)
      return out
    }
    if (content.length < 4) return content
    val img = // NonFatal: JDK readers throw RuntimeExceptions on crafted input
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return content // undecodable → pass through (dead-letter upstream)
    val dst = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val sw = img.getWidth
    val sh = img.getHeight
    var y = 0
    while (y < h) {
      val sy = math.min(sh - 1, y.toLong * sh / h).toInt
      var x = 0
      while (x < w) {
        val sx = math.min(sw - 1, x.toLong * sw / w).toInt
        dst.setRGB(x, y, img.getRGB(sx, sy))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", bos)
    bos.toByteArray
  }

  def framesKernel(content: Array[Byte], everyN: Int): GenericArrayData = {
    if (content.length < HeaderLen) return new GenericArrayData(Array.empty[Any])
    val n = i32(content, 24)
    val payloadLen = content.length - HeaderLen
    if (n <= 0 || payloadLen <= 0) return new GenericArrayData(Array.empty[Any])
    // a crafted header can claim n_frames ≫ payload bytes; at ≥1 byte per
    // frame at most payloadLen frames exist, and every f ≥ payloadLen
    // emits nothing anyway — capping keeps the loop (and f·frameLen)
    // bounded by the payload instead of a hostile header field
    val nEff = math.min(n, payloadLen)
    val frameLen = math.max(1, payloadLen / nEff)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var f = 0
    while (f < nEff) {
      if (f % everyN == 0) {
        val from = HeaderLen + f * frameLen
        val until = math.min(HeaderLen + (f + 1) * frameLen, content.length)
        if (from < content.length)
          out += java.util.Arrays.copyOfRange(content, from, until)
      }
      f += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `media_meta(content)` → struct(kind, width, height, channels,
  * sample_rate, n_frames, payload_len); null on bad magic (dead-letter). */
case class MediaMeta(child: Expression) extends UnaryKernelExpression[Array[Byte]] {
  override def dataType: DataType = StructType(Seq(
    StructField("kind", StringType), StructField("width", IntegerType),
    StructField("height", IntegerType), StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType), StructField("n_frames", IntegerType),
    StructField("payload_len", IntegerType)))
  override def nullable: Boolean = true
  override def prettyName: String = "media_meta"
  def evalInput(input: Array[Byte]): InternalRow = Multimodal.metaKernel(input)
  override protected def withNewChildInternal(newChild: Expression): MediaMeta =
    copy(child = newChild)
}

/** `media_resize(content, w, h)` — real resample for real images, header
  * rewrite for the GRFT fixture (see kernel note). */
case class MediaResize(child: Expression, w: Int, h: Int)
    extends UnaryKernelExpression[Array[Byte]] {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "media_resize"
  def evalInput(input: Array[Byte]): Array[Byte] = Multimodal.resizeKernel(input, w, h)
  override protected def withNewChildInternal(newChild: Expression): MediaResize =
    copy(child = newChild)
}

/** `media_frames(content, everyN)` → array<binary> of every-Nth frame. */
case class MediaFrames(child: Expression, everyN: Int) extends UnaryKernelExpression[Array[Byte]] {
  require(everyN > 0)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "media_frames"
  def evalInput(input: Array[Byte]): ArrayData = Multimodal.framesKernel(input, everyN)
  override protected def withNewChildInternal(newChild: Expression): MediaFrames =
    copy(child = newChild)
}

/** `audio_meta(content)` → struct(encoding, sample_rate, channels, bits,
  * frames, duration_ms, mean_abs) — REAL WAV/AIFF/AU decode via the JDK's
  * javax.sound.sampled; null on undecodable bytes (dead-letter). */
case class AudioMeta(child: Expression) extends UnaryKernelExpression[Array[Byte]] {
  override def dataType: DataType = Multimodal.audioMetaSchema
  override def nullable: Boolean = true
  override def prettyName: String = "audio_meta"
  def evalInput(input: Array[Byte]): InternalRow = Multimodal.audioMetaKernel(input)
  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}

/** `wav_pack(struct(seed, sample_rate, channels, frames))` → binary: the
  * deterministic hand-rolled PCM16-LE WAV of [[Multimodal.wavPackKernel]]
  * (synthesis side of the audio oracle — decoded by the REAL JDK parser). */
case class WavPack(child: Expression) extends UnaryKernelExpression[InternalRow] {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_pack"
  def evalInput(r: InternalRow): Array[Byte] =
    Multimodal.wavPackKernel(r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))
  override protected def withNewChildInternal(newChild: Expression): WavPack =
    copy(child = newChild)
}

/** `audio_samples(content, maxSamples)` → array<double> of normalized
  * PCM samples in [-1, 1), channel-interleaved; null when undecodable. */
case class AudioSamples(child: Expression, maxSamples: Int)
    extends UnaryKernelExpression[Array[Byte]] {
  require(maxSamples > 0 && maxSamples <= (1 << 26),
    s"maxSamples out of range: $maxSamples")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "audio_samples"
  def evalInput(input: Array[Byte]): ArrayData =
    Multimodal.audioSamplesKernel(input, maxSamples)
  override protected def withNewChildInternal(newChild: Expression): AudioSamples =
    copy(child = newChild)
}

/** `audio_resample(content, dstRate)` → array<double> channel-interleaved
  * normalized samples linearly resampled to `dstRate` through the real JDK
  * decode (exact-integer interpolation — see
  * [[Multimodal.audioResampleKernel]]); null on undecodable bytes. */
case class AudioResample(child: Expression, dstRate: Int, maxFrames: Int)
  extends UnaryKernelExpression[Array[Byte]] {
  require(dstRate > 0 && dstRate <= 768000, s"dstRate out of range: $dstRate")
  require(maxFrames > 0 && maxFrames <= (1 << 26),
    s"maxFrames out of range: $maxFrames")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "audio_resample"
  def evalInput(input: Array[Byte]): ArrayData =
    Multimodal.audioResampleKernel(input, dstRate, maxFrames)
  override protected def withNewChildInternal(newChild: Expression): AudioResample =
    copy(child = newChild)
}

object functions {
  import org.apache.spark.sql.graft.{interop => I}
  def media_meta(content: Column): Column = I.column(MediaMeta(I.expression(content)))
  def media_resize(content: Column, w: Int, h: Int): Column =
    I.column(MediaResize(I.expression(content), w, h))
  def media_frames(content: Column, everyN: Int): Column =
    I.column(MediaFrames(I.expression(content), everyN))
  def audio_meta(content: Column): Column = I.column(AudioMeta(I.expression(content)))
  def audio_samples(content: Column, maxSamples: Int = 1 << 20): Column =
    I.column(AudioSamples(I.expression(content), maxSamples))
  def audio_resample(content: Column, dstRate: Int,
                     maxFrames: Int = 1 << 20): Column =
    I.column(AudioResample(I.expression(content), dstRate, maxFrames))
  def wav_pack(seed: Column, sampleRate: Column, channels: Column,
               frames: Column): Column =
    I.column(WavPack(I.expression(org.apache.spark.sql.functions.struct(
      seed.cast("long"), sampleRate.cast("int"), channels.cast("int"),
      frames.cast("int")))))
  def video_meta(content: Column): Column =
    I.column(VideoMeta(I.expression(content)))
  def video_frames(content: Column, everyN: Int = 1): Column =
    I.column(VideoFrames(I.expression(content), everyN))
  def avi_pack(seed: Column, width: Column, height: Column, fps: Column,
               frames: Column): Column =
    I.column(AviPack(I.expression(org.apache.spark.sql.functions.struct(
      seed.cast("long"), width.cast("int"), height.cast("int"),
      fps.cast("int"), frames.cast("int")))))
}
