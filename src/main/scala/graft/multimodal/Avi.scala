package graft.multimodal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.UnaryKernelExpression

/** REAL video container support: a from-scratch RIFF/AVI parser
  * (the standard `RIFF('AVI ') { LIST(hdrl){avih, LIST(strl){strh,strf}},
  * LIST(movi){00dc…} }` layout) plus the MJPEG decode path — AVI/MJPEG
  * frames ARE JPEGs, which `javax.imageio` decodes, so for the one video
  * format whose frames ride a JDK-decodable codec the whole chain
  * (container walk → frame extraction → pixel decode) is real with zero
  * extra dependencies. Other codecs (H.264 etc.) have no JDK decoder —
  * those still ride the GRFT fixture (environmental; the stub is now
  * exotic-codec-only).
  *
  * Scale shape mirrors the audio/image paths: the container walk is a
  * bounded header scan (metadata predicates never touch frame bytes), frame
  * extraction emits `array<binary>` slices for `posexplode` into a frames
  * table, and per-frame pixel decode runs in the per-task
  * [[Multimodal.MediaDecoder]]. Malformed bytes → null, never a throw: at
  * 100 TB a corrupt blob dead-letters, it does not kill the stage.
  */
object Avi {

  val metaSchema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("micro_sec_per_frame", IntegerType, nullable = false),
    StructField("total_frames", IntegerType, nullable = false),
    StructField("n_chunks", IntegerType, nullable = false),
    StructField("data_bytes", LongType, nullable = false)))

  def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** is this movi chunk id a video-data chunk (`##dc` compressed / `##db`
    * uncompressed, stream number in the first two chars)? */
  private def isVideoChunk(id: String): Boolean =
    id.length == 4 && id(0).isDigit && id(1).isDigit &&
      (id.endsWith("dc") || id.endsWith("db"))

  /** walk the container once, handing every (id, payloadOff, payloadLen)
    * to the visitors; returns false on any malformed structure. */
  private def walk(b: Array[Byte])(
      onAvih: Int => Unit, onStrh: Int => Unit,
      onMovi: (Int, Int) => Unit): Boolean = {
    if (!isAvi(b)) return false
    val riffEnd = math.min(b.length.toLong, 8L + le32(b, 4)).toInt
    var pos = 12
    while (pos + 8 <= riffEnd) {
      val id = fourcc(b, pos)
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > riffEnd) return false
      if (id == "LIST" && size >= 4) {
        val listType = fourcc(b, pos + 8)
        val inner = pos + 12
        val innerEnd = pos + 8 + size
        if (listType == "hdrl") {
          var p = inner
          while (p + 8 <= innerEnd) {
            val cid = fourcc(b, p)
            val csz = le32(b, p + 4)
            if (csz < 0 || p + 8 + csz > innerEnd) return false
            if (cid == "avih" && csz >= 40) onAvih(p + 8)
            if (cid == "LIST" && csz >= 4 && fourcc(b, p + 8) == "strl") {
              var q = p + 12
              val qEnd = p + 8 + csz
              while (q + 8 <= qEnd) {
                val sid = fourcc(b, q)
                val ssz = le32(b, q + 4)
                if (ssz < 0 || q + 8 + ssz > qEnd) return false
                if (sid == "strh" && ssz >= 8) onStrh(q + 8)
                q += 8 + ssz + (ssz & 1)
              }
            }
            p += 8 + csz + (csz & 1)
          }
        } else if (listType == "movi") {
          // interleaved AVIs group data chunks inside `LIST('rec ')`
          // children of movi (the spec's recommended streaming layout) —
          // descend into those; anything else at this level is a leaf chunk
          def scanMovi(start: Int, end: Int): Boolean = {
            var p = start
            while (p + 8 <= end) {
              val cid = fourcc(b, p)
              val csz = le32(b, p + 4)
              if (csz < 0 || p + 8 + csz > end) return false
              if (cid == "LIST" && csz >= 4 && fourcc(b, p + 8) == "rec ") {
                if (!scanMovi(p + 12, p + 8 + csz)) return false
              } else if (isVideoChunk(cid)) onMovi(p + 8, csz)
              p += 8 + csz + (csz & 1)
            }
            true
          }
          if (!scanMovi(inner, innerEnd)) return false
        }
      }
      pos += 8 + size + (size & 1)
    }
    true
  }

  /** container metadata without touching frame bytes: codec fourcc from the
    * `vids` stream header, dims + timing from `avih`, and the movi chunk
    * census. Null on anything that is not a well-formed AVI. */
  def metaKernel(b: Array[Byte]): InternalRow = {
    var codec: String = null
    var w = -1; var h = -1; var uspf = -1; var total = -1
    var nChunks = 0; var dataBytes = 0L
    val ok =
      try walk(b)(
        onAvih = off => {
          uspf = le32(b, off); total = le32(b, off + 16)
          w = le32(b, off + 32); h = le32(b, off + 36)
        },
        onStrh = off => {
          if (fourcc(b, off) == "vids" && codec == null) codec = fourcc(b, off + 4)
        },
        onMovi = (_, len) => { nChunks += 1; dataBytes += len })
      catch { case scala.util.control.NonFatal(_) => false }
    if (!ok || w < 0) return null
    val vals = new Array[Any](7)
    vals(0) = if (codec == null) null else UTF8String.fromString(codec)
    vals(1) = w; vals(2) = h; vals(3) = uspf; vals(4) = total
    vals(5) = nChunks; vals(6) = dataBytes
    new GenericInternalRow(vals)
  }

  /** every-Nth video chunk payload as array<binary> (for MJPEG each element
    * IS a decodable JPEG). Null when the bytes are not a well-formed AVI. */
  def framesKernel(b: Array[Byte], everyN: Int): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var idx = 0
    val ok =
      try walk(b)(_ => (), _ => (), onMovi = (off, len) => {
        if (idx % everyN == 0)
          out += java.util.Arrays.copyOfRange(b, off, off + len)
        idx += 1
      })
      catch { case scala.util.control.NonFatal(_) => false }
    if (!ok) null else new GenericArrayData(out.toArray)
  }

  /** first video chunk payload, or null — the [[Multimodal.MediaDecoder]]
    * representative-frame hook. */
  def firstFrame(b: Array[Byte]): Array[Byte] = {
    var frame: Array[Byte] = null
    val ok =
      try walk(b)(_ => (), _ => (), onMovi = (off, len) => {
        if (frame == null) frame = java.util.Arrays.copyOfRange(b, off, off + len)
      })
      catch { case scala.util.control.NonFatal(_) => false }
    if (!ok) null else frame
  }

  // ------------------------------------------------------------ synthesis

  private def chunkBytes(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length & 1
    val out = new Array[Byte](8 + body.length + pad)
    id.getBytes(java.nio.charset.StandardCharsets.US_ASCII).copyToArray(out, 0)
    out(4) = body.length.toByte; out(5) = (body.length >>> 8).toByte
    out(6) = (body.length >>> 16).toByte; out(7) = (body.length >>> 24).toByte
    body.copyToArray(out, 8)
    out // pad byte (if any) stays 0
  }

  private def listBytes(typ: String, body: Array[Byte]): Array[Byte] =
    chunkBytes("LIST",
      typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body)

  private def le32Bytes(vs: Int*): Array[Byte] = {
    val out = new Array[Byte](vs.length * 4)
    vs.zipWithIndex.foreach { case (v, i) =>
      out(4 * i) = v.toByte; out(4 * i + 1) = (v >>> 8).toByte
      out(4 * i + 2) = (v >>> 16).toByte; out(4 * i + 3) = (v >>> 24).toByte
    }
    out
  }

  /** assemble a minimal spec-compliant single-video-stream AVI around the
    * given frame payloads (MJPEG when the payloads are JPEGs — the real
    * encoder path used by the spec; arbitrary bytes for the closed-form
    * oracle path). Hand-rolled independently of any media library, so
    * parsing it back exercises [[metaKernel]]'s real container walk. */
  def packFrames(width: Int, height: Int, fps: Int,
                 payloads: Array[Array[Byte]],
                 recGroup: Boolean = false): Array[Byte] = {
    require(fps > 0 && width > 0 && height > 0)
    val n = payloads.length
    val maxLen = if (n == 0) 0 else payloads.map(_.length).max
    val mjpg = "MJPG".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val avih = le32Bytes(1000000 / fps, 0, 0, 0, n, 0, 1, maxLen,
      width, height, 0, 0, 0, 0)
    val strh = "vids".getBytes ++ mjpg ++
      le32Bytes(0, 0, 0, 1, fps, 0, n, maxLen, 0, 0) ++
      Array[Byte](0, 0, 0, 0,
        width.toByte, (width >>> 8).toByte, height.toByte, (height >>> 8).toByte)
    val strf = le32Bytes(40, width, height) ++
      Array[Byte](1, 0, 24, 0) ++ mjpg ++
      le32Bytes(width * height * 3, 0, 0, 0, 0)
    val hdrl = listBytes("hdrl",
      chunkBytes("avih", avih) ++
        listBytes("strl", chunkBytes("strh", strh) ++ chunkBytes("strf", strf)))
    // recGroup exercises the spec's interleaved layout: each data chunk
    // rides inside a `LIST('rec ')` child of movi instead of sitting flat
    val movi = listBytes("movi",
      if (recGroup) payloads.flatMap(p => listBytes("rec ", chunkBytes("00dc", p)))
      else payloads.flatMap(p => chunkBytes("00dc", p)))
    val body = "AVI ".getBytes ++ hdrl ++ movi
    chunkBytes("RIFF", body) // RIFF is itself (id, size, body)
  }

  /** closed-form frame payloads for the oracle path: frame f has
    * 16 + ((seed + f) mod 9) bytes (odd lengths exercise the RIFF pad
    * rule), byte i = (seed·31 + f·131 + i·7) mod 256. Any ANSI engine can
    * state both. */
  def frameLen(seed: Long, f: Int): Int =
    16 + java.lang.Math.floorMod(seed + f, 9L).toInt
  def frameByte(seed: Long, f: Int, i: Int): Int =
    java.lang.Math.floorMod(seed * 31L + f.toLong * 131L + i.toLong * 7L, 256L).toInt

  /** deterministic AVI for the oracle: real container, closed-form frame
    * bytes (decoded by the REAL parser — synthesis is the only fake part,
    * exactly like [[Multimodal.wavPackKernel]]). */
  def packKernel(seed: Long, width: Int, height: Int, fps: Int,
                 frames: Int): Array[Byte] = {
    // bound the synthesized frame count before allocating `frames` arrays
    require(frames >= 0 && frames <= (1 << 20),
      s"avi_pack: frames=$frames exceeds the 2^20-frame bound")
    val payloads = Array.tabulate(frames) { f =>
      Array.tabulate(frameLen(seed, f))(i => frameByte(seed, f, i).toByte)
    }
    packFrames(width, height, fps, payloads)
  }
}

/** `video_meta(content)` → struct(codec, width, height,
  * micro_sec_per_frame, total_frames, n_chunks, data_bytes) via the real
  * RIFF/AVI container walk; null on undecodable bytes (dead-letter). */
case class VideoMeta(child: Expression) extends UnaryKernelExpression[Array[Byte]] {
  override def dataType: DataType = Avi.metaSchema
  override def nullable: Boolean = true
  override def prettyName: String = "video_meta"
  def evalInput(input: Array[Byte]): InternalRow = Avi.metaKernel(input)
  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}

/** `video_frames(content, everyN)` → array<binary> of every-Nth video data
  * chunk (each element is a decodable JPEG for MJPEG streams). */
case class VideoFrames(child: Expression, everyN: Int) extends UnaryKernelExpression[Array[Byte]] {
  require(everyN > 0)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "video_frames"
  def evalInput(input: Array[Byte]): ArrayData = Avi.framesKernel(input, everyN)
  override protected def withNewChildInternal(newChild: Expression): VideoFrames =
    copy(child = newChild)
}

/** `avi_pack(struct(seed, width, height, fps, frames))` → binary: the
  * deterministic hand-rolled AVI of [[Avi.packKernel]] (synthesis side of
  * the video oracle — parsed back by the REAL container walk). */
case class AviPack(child: Expression) extends UnaryKernelExpression[InternalRow] {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "avi_pack"
  def evalInput(r: InternalRow): Array[Byte] =
    Avi.packKernel(r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
  override protected def withNewChildInternal(newChild: Expression): AviPack =
    copy(child = newChild)
}
