package graft.functions

import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The per-token hash of the sketch kernels ([[SimHash64]],
  * [[MinHashSig]]) — the one place the "fast vs oracle-reproducible"
  * choice is made. A kernel takes its `TokenHash` as a constructor
  * argument; the vote, min, banding and rescore logic around it exists
  * once.
  *
  *   - [[TokenHash.Murmur]]: two Murmur3 passes (seeds `0x9747b28c`,
  *     `0x5bd1e995`) form one 64-bit word — the engine-speed hash.
  *   - [[TokenHash.Md5_60]]: the first 8 md5 digest bytes read
  *     big-endian and shifted right by 4 — the value of
  *     `conv(substr(md5(s), 1, 15), 16, 10)`, which DuckDB replays as
  *     `('0x' || substr(md5(s), 1, 15))::BIGINT`, so a sketch built on
  *     it is checkable against the oracle bit for bit.
  *
  * Sealed with two members: a kernel's per-token call is at most
  * bimorphic, and generated code names the member statically
  * ([[ref]]).
  */
sealed abstract class TokenHash(val bits: Int) extends Serializable {

  /** The `bits`-bit word of one token (the SimHash vote input). */
  def word(s: UTF8String): Long

  /** Member `i` of the k-member MinHash family, for every `i < k`:
    * `out(i) = h_i(s)`. `cs` holds the per-member salts of the seeded
    * family (`splitmix64(seed + i)`); a hash that keys its members by
    * index instead ignores it.
    */
  def family(s: UTF8String, cs: Array[Long], out: Array[Long]): Unit

  /** The Java expression naming this member in generated code. */
  def ref: String = getClass.getName + ".MODULE$"
}

object TokenHash {

  case object Murmur extends TokenHash(64) {
    def word(s: UTF8String): Long =
      (murmur(s, 0x5bd1e995).toLong << 32) |
        (murmur(s, 0x9747b28c) & 0xffffffffL)

    // h_i = mix64(base ^ c_i) over one base per token: the word with
    // its halves swapped (the 0x9747b28c pass in the high half)
    def family(s: UTF8String, cs: Array[Long], out: Array[Long]): Unit = {
      val base = java.lang.Long.rotateLeft(word(s), 32)
      var i = 0
      while (i < out.length) { out(i) = mix64(base ^ cs(i)); i += 1 }
    }

    private def murmur(s: UTF8String, seed: Int): Int =
      Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes(), seed)
  }

  case object Md5_60 extends TokenHash(60) {
    def word(s: UTF8String): Long = of(s.getBytes)

    // h_i = md5_60(i + ":" + token); the seed plays no part
    def family(s: UTF8String, cs: Array[Long], out: Array[Long]): Unit = {
      val bytes = s.getBytes
      val md = digest.get()
      var i = 0
      while (i < out.length) {
        md.update(prefixes(i))
        md.update(bytes)
        out(i) = top60(md.digest())
        i += 1
      }
    }

    /** md5_60 of raw bytes — also the driver-side hash of
      * `cmsEstimates`' query positions. */
    def of(bytes: Array[Byte]): Long = top60(digest.get().digest(bytes))

    // MessageDigest is not thread-safe: one per task thread
    private val digest = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

    // the "i:" member keys, for every k MinHashSig admits
    private lazy val prefixes: Array[Array[Byte]] =
      Array.tabulate(MinHashSig.MaxK)(i =>
        s"$i:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // first 15 hex chars of the digest = first 8 bytes big-endian,
    // low nibble dropped
    private def top60(d: Array[Byte]): Long = {
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      h >>> 4
    }
  }

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  private[functions] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
