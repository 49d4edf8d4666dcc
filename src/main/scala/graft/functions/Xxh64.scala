package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** XXH64 (the 64-bit xxHash), implemented from the published algorithm
  * specification (github.com/Cyan4973/xxHash, doc/xxhash_spec.md), default
  * seed 0.
  *
  * Spark ships `xxhash64(...)` but hardwires seed 42 AND feeds the hash its
  * own type-tagged row encoding; the reference's fingerprint processor uses
  * Go's `cespare/xxhash` (fingerprint/hash.go:28,57) — plain XXH64 over the
  * raw bytes with seed 0. A user migrating from the reference and comparing
  * stored fingerprints needs bit-identical output, so this kernel exists for
  * exactly that parity (golden vectors from fingerprint_test.go:101 pinned in
  * ActionsSpec).
  */
object Xxh64Kernel {
  private final val P1 = 0x9E3779B185EBCA87L
  private final val P2 = 0xC2B2AE3D27D4EB4FL
  private final val P3 = 0x165667B19E3779F9L
  private final val P4 = 0x85EBCA77C2B2AE63L
  private final val P5 = 0x27D4EB2F165667C5L

  @inline private def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))

  @inline private def round(acc: Long, lane: Long): Long =
    rotl(acc + lane * P2, 31) * P1

  @inline private def mergeRound(acc0: Long, lane: Long): Long = {
    val acc = acc0 ^ round(0L, lane)
    acc * P1 + P4
  }

  @inline private def le64(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) | ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) | ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  @inline private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)

  /** XXH64 of `b[0, len)` with `seed`. */
  def hash(b: Array[Byte], len: Int, seed: Long): Long = {
    var i = 0
    var acc =
      if (len >= 32) {
        var a1 = seed + P1 + P2
        var a2 = seed + P2
        var a3 = seed
        var a4 = seed - P1
        while (i + 32 <= len) {
          a1 = round(a1, le64(b, i))
          a2 = round(a2, le64(b, i + 8))
          a3 = round(a3, le64(b, i + 16))
          a4 = round(a4, le64(b, i + 24))
          i += 32
        }
        var acc0 = rotl(a1, 1) + rotl(a2, 7) + rotl(a3, 12) + rotl(a4, 18)
        acc0 = mergeRound(acc0, a1)
        acc0 = mergeRound(acc0, a2)
        acc0 = mergeRound(acc0, a3)
        mergeRound(acc0, a4)
      } else seed + P5
    acc += len
    while (i + 8 <= len) {
      acc = rotl(acc ^ round(0L, le64(b, i)), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      acc = rotl(acc ^ (le32(b, i) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      acc = rotl(acc ^ ((b(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    acc ^= acc >>> 33
    acc *= P2
    acc ^= acc >>> 29
    acc *= P3
    acc ^ (acc >>> 32)
  }

  private val HexChars = "0123456789abcdef".getBytes

  /** fixed-width 16-char lowercase hex of the 8 digest bytes — the
    * reference hex-encodes the digest, never dropping leading zeros. */
  def hashHex(s: UTF8String, seed: Long): UTF8String = {
    val h = hash(s.getBytes, s.numBytes, seed)
    val out = new Array[Byte](16)
    var i = 0
    while (i < 16) {
      out(i) = HexChars(((h >>> ((15 - i) * 4)) & 0xf).toInt)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** `xxh64_hex(s)` → 16-char lowercase hex XXH64 digest, seed 0 — bit-parity
  * with the reference fingerprint processor's xxhash method. */
case class Xxh64Hex(child: Expression, seed: Long = 0L) extends UnaryKernelExpression[UTF8String] {
  override def dataType: DataType = StringType
  override def prettyName: String = "xxh64_hex"
  def evalInput(input: UTF8String): UTF8String = Xxh64Kernel.hashHex(input, seed)

  override protected def withNewChildInternal(newChild: Expression): Xxh64Hex =
    copy(child = newChild)
}
