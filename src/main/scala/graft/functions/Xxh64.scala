package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** XXH64 (the 64-bit xxHash) of a string's UTF-8 bytes at seed 0, as
  * fixed-width hex — Spark's own `XXH64` over the bytes in place.
  *
  * Spark's `xxhash64(...)` expression hardwires seed 42 AND feeds the hash
  * its own type-tagged row encoding; the reference's fingerprint processor
  * uses Go's `cespare/xxhash` (fingerprint/hash.go:28,57) — plain XXH64 over
  * the raw bytes with seed 0. A user migrating from the reference and
  * comparing stored fingerprints needs bit-identical output, so this kernel
  * exists for exactly that parity (golden vectors from fingerprint_test.go:101
  * pinned in ActionsSpec).
  */
object Xxh64Kernel {
  private val HexChars = "0123456789abcdef".getBytes

  /** fixed-width 16-char lowercase hex of the 8 digest bytes — the
    * reference hex-encodes the digest, never dropping leading zeros. */
  def hashHex(s: UTF8String): UTF8String = {
    val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)
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
case class Xxh64Hex(child: Expression) extends UnaryKernelExpression[UTF8String] {
  override def dataType: DataType = StringType
  override def prettyName: String = "xxh64_hex"
  def evalInput(input: UTF8String): UTF8String = Xxh64Kernel.hashHex(input)

  override protected def withNewChildInternal(newChild: Expression): Xxh64Hex =
    copy(child = newChild)
}
