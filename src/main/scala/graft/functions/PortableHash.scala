package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** The engine↔oracle PORTABLE hash contract (d02/d03).
  *
  * The xxhash64 dedup family is fast but not DuckDB-expressible, so
  * operators whose OUTPUT depends on hash values (the MinHash
  * signature, the SimHash bits — unlike d01/d04 where hashing is just
  * a grouping key the oracle replaces with strings) were stuck as
  * rows-only. This object pins the portable alternative both engines
  * compute bit-identically:
  *
  *   md5_60(s)  =  conv(substring(md5(s), 1, 15), 16, 10)
  *
  * i.e. the first 15 hex chars (60 bits) of the MD5 digest as a
  * non-negative long — Spark evaluates the right-hand side natively,
  * DuckDB parses the same 15 hex chars with the strpos/powers trick
  * (SparkEntry.h60Sql), and this kernel computes it straight from the
  * digest bytes (chars 0..13 = bytes 0..6, char 14 = the high nibble
  * of byte 7). A parity spec pins kernel ≡ Spark-SQL form.
  *
  * MinHash permutations are universal hashes over the md5_60 value
  * reduced into the t04 modulus M = 1e9+7:
  *
  *   perm_i(x) = (a_i · (x mod M) + b_i) mod M
  *   a_i = md5_60("graft-minhash-a-i") mod (M-1) + 1   (nonzero)
  *   b_i = md5_60("graft-minhash-b-i") mod M
  *
  * All products stay under 2^60 (a_i, x mod M < 2^30·~0.93), so the
  * arithmetic is exact signed-64 in Spark, DuckDB, and here. Reducing
  * x into M before permuting shrinks the shingle universe to ~2^30 —
  * expected spurious shingle merges at 10^6 distinct shingles are
  * ~(10^6)²/2^31 ≈ 250 corpus-WIDE (per-pair unions are far smaller),
  * noise against MinHash's own sampling error.
  */
object PortableHash {

  /** The shared modulus (t04's 1e9+7). */
  final val M: Long = 1000000007L

  private val tlMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** md5_60 over raw bytes [0, len): the first 60 bits of the MD5
    * digest, equal to `conv(substring(md5(s),1,15),16,10)`.
    */
  def md5_60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = tlMd5.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  def md5_60(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    md5_60(b, 0, b.length)
  }

  /** Full 128-bit digest bytes (SimHash reads per-nibble bits). */
  def md5Bytes(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = tlMd5.get()
    md.reset()
    md.update(bytes, off, len)
    md.digest()
  }

  /** Bit j (j = 0..63) of the md5-derived SimHash basis: bit (j mod 4)
    * of hex char (j / 4) — the convention SparkEntry's d03 oracle
    * replays as `(strpos(...h[j/4+1]) >> (j%4)) & 1`.
    */
  def md5Bit(digest: Array[Byte], j: Int): Int = {
    val c = j >> 2 // hex char index, 0-based
    val byte = digest(c >> 1) & 0xff
    val nib = if ((c & 1) == 0) byte >>> 4 else byte & 0xf
    (nib >>> (j & 3)) & 1
  }

  /** MinHash permutation constants — derived via md5_60 so the DuckDB
    * oracle regenerates them from the same strings.
    */
  def permA(i: Int): Long = md5_60(s"graft-minhash-a-$i") % (M - 1) + 1
  def permB(i: Int): Long = md5_60(s"graft-minhash-b-$i") % M
}
