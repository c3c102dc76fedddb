package graft.dedup

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.engine.TextOps

/** Row-local MinHash signing — the per-document computation
  * (tokenize → word 3-gram shingles → per-seed min of
  * md5("h|shingle") → per-band md5 of concatenated minhashes) as pure
  * Scala, byte-identical to the relational form the q21/q22 oracle SQL
  * computes ([[DedupOps.minhashSignaturesSql]],
  * [[DedupOps.lshCandidatesSql]]; StreamingDedupSpec also pins it
  * against a plain md5 reference). [[shingles]] is the engine's only
  * shingler: the native columns (`graft.functions.MinHashExprs`
  * `minhash_sigs` / `band_sigs` / `shingle_keys`, behind q21, q22 and
  * q24) and the streaming dedup operator all split documents here.
  * Signing needs no shuffle at all — the whole corpus is signed
  * map-side and only bucket joins shuffle.
  */
object MinHashLocal {

  private val tokenRe = TextOps.TokenPattern.r

  // one digest per task thread: getInstance does a provider lookup and
  // allocation, and signing calls this millions of times per partition
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  private val HexChars = "0123456789abcdef".toCharArray

  def md5hex(s: String): String = {
    val md = digests.get()
    md.reset()
    hexOf(md.digest(s.getBytes(StandardCharsets.UTF_8)))
  }

  /** Distinct word 3-gram shingles; empty for null docs or docs under
    * 3 tokens (null tolerance matches the oracle's [[DedupOps.shinglesSql]]
    * and the null-safe native expressions — a null text must not kill a
    * streaming query). */
  def shingles(text: String): Set[String] = {
    if (text == null) return Set.empty
    val toks = tokenRe.findAllIn(text.toLowerCase).toArray
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  // "0|".."15|" pre-encoded once: md5(bytes("h|") ++ bytes(shingle))
  // == md5(bytes("h|shingle")) because UTF-8 concatenates byte-wise
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(DedupOps.NumHashes)(h =>
      s"$h|".getBytes(StandardCharsets.UTF_8))

  // unsigned lexicographic byte compare — the same order as comparing
  // the hex encodings as strings (hex is monotone in unsigned bytes)
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hexOf(bytes: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The 16 minhashes, seed order. Empty array for shingle-less docs
    * (mirrors the relational form, where such docs produce no
    * signature rows).
    *
    * r22 per-task-work rewrite (bit-identical output): the per-seed min
    * of `md5hex(s"$h|$s")` hex STRINGS is taken over raw 16-byte
    * digests with an unsigned byte compare — hex encoding is a monotone
    * map of unsigned bytes, so the winner per seed is the same shingle.
    * Per (seed, shingle) this drops the "$h|$s" concat + re-encode (the
    * prefix bytes are cached, the shingle is UTF-8-encoded once per
    * shingle, not once per seed), the 32-char hex alloc, and the string
    * compare; only the 16 winning digests are hex-encoded. Measured
    * ~1.9x on the q22 signing stage; StreamingDedupSpec pins equality
    * with a per-seed min of md5-hex strings. */
  def minhashes(text: String): Array[String] = {
    val sh = shingles(text)
    if (sh.isEmpty) return Array.empty
    val md = digests.get()
    val n = DedupOps.NumHashes
    val mins = new Array[Array[Byte]](n)
    val it = sh.iterator
    while (it.hasNext) {
      val shingleBytes = it.next().getBytes(StandardCharsets.UTF_8)
      var h = 0
      while (h < n) {
        md.reset()
        md.update(seedPrefixes(h))
        md.update(shingleBytes)
        val digest = md.digest()
        if (mins(h) == null || unsignedLess(digest, mins(h))) mins(h) = digest
        h += 1
      }
    }
    mins.map(hexOf)
  }

  /** 60-bit shingle key: the first 15 hex digits of md5(shingle) as a
    * non-negative long — EXACTLY
    * `conv(substr(md5(s), 1, 15), 16, 10) :: long` (the first 15
    * nibbles are the big-endian first 8 bytes shifted right 4), with
    * one thread-local digest call instead of the builtin md5's
    * per-call MessageDigest.getInstance + 32-char hex string +
    * substring + base-16 string parse. */
  private def sk60(shingleUtf8: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val b = md.digest(shingleUtf8)
    val be =
      ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) |
      ((b(2) & 0xffL) << 40) | ((b(3) & 0xffL) << 32) |
      ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    be >>> 4
  }

  /** The doc's distinct 60-bit shingle keys, ascending; empty for
    * shingle-less docs. Distinct on the key, not the shingle: the
    * oracle groups by the 15-hex md5 prefix
    * ([[DedupOps.shingleKeysSql]]), and the hex→long conversion is
    * injective, so two shingles whose prefixes collide count once in
    * both engines. */
  def shingleKeys(text: String): Array[Long] =
    shingles(text).iterator.map(s => sk60(s.getBytes(StandardCharsets.UTF_8)))
      .toArray.distinct.sorted

  /** The 4 band signatures (md5 of each band's concatenated
    * minhashes), band order; empty for shingle-less docs. */
  def bandSigs(text: String): Array[String] = {
    val mh = minhashes(text)
    if (mh.isEmpty) Array.empty
    else {
      val rowsPerBand = DedupOps.NumHashes / DedupOps.Bands
      (0 until DedupOps.Bands).map { b =>
        md5hex(mh.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString)
      }.toArray
    }
  }
}
