package graft.functions

import graft.sketch.Bytes
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenization runtime called from generated code (static forwarders).
  *
  * Reference analogues: k-mer/minimizer/syncmer tokenizers producing a
  * distinct 64-bit hash set per record
  * (/root/reference/src/hashing/syncmer.cpp:80-165,
  * /root/reference/src/hixf/build/compute_hashes.cpp:76-142) and the
  * FracMinHash scaling filter (`hash <= U64_MAX / scaling`,
  * /root/reference/src/main/taxor_build.cpp:335-340). Here a "k-mer" is a
  * UTF-8 byte k-gram of turn/document text.
  */
object TextOps {
  val DefaultSeed: Long = 0x9e3779b97f4a7c15L // golden-ratio constant

  /** FNV-1a over a byte window, then murmur-finalized with the seed. */
  @inline private def hashWindow(
      bytes: Array[Byte], start: Int, k: Int, seed: Long): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    val end = start + k
    while (i < end) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    Bytes.mix64(h ^ seed)
  }

  private def sortedDistinct(hs: Array[Long], len: Int): Array[Long] = {
    if (len == 0) return Array.emptyLongArray
    java.util.Arrays.sort(hs, 0, len)
    var out = 1
    var i = 1
    while (i < len) {
      if (hs(i) != hs(i - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, out)
  }

  /** Distinct hashes of all byte k-grams of `s`, FracMinHash-downsampled by
    * `scale` (keep iff hash <= Long.MaxValue / scale; scale=1 keeps all).
    */
  def shingleHashes(s: UTF8String, k: Int, seed: Long, scale: Long): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val keepBelow = if (scale <= 1L) Long.MaxValue else Long.MaxValue / scale
    val hs = new Array[Long](n)
    var cnt = 0
    var i = 0
    while (i < n) {
      val h = hashWindow(bytes, i, k, seed)
      if ((h & Long.MaxValue) <= keepBelow) { hs(cnt) = h; cnt += 1 }
      i += 1
    }
    new GenericArrayData(sortedDistinct(hs, cnt))
  }

  /** Minimizer scheme: the minimum shingle hash of every window of `w`
    * consecutive k-grams (monotone-deque algorithm), deduplicated.
    * Generalizes the reference's minimizer/syncmer down-selection
    * (/root/reference/src/hixf/build/compute_hashes.cpp:118-138).
    */
  def minimizerHashes(s: UTF8String, k: Int, w: Int, seed: Long): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    if (n <= w) {
      var min = Long.MaxValue
      var i = 0
      while (i < n) {
        val h = hashWindow(bytes, i, k, seed); if (h < min) min = h; i += 1
      }
      return new GenericArrayData(Array(min))
    }
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = hashWindow(bytes, i, k, seed); i += 1 }
    val out = new Array[Long](n - w + 1)
    val dq = new Array[Int](n) // indices, increasing hash values
    var head = 0; var tail = 0 // [head, tail)
    var cnt = 0
    i = 0
    while (i < n) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      // consecutive windows mostly share their minimum: keep a run once,
      // so the sort sees ~(w+1)/2 times fewer values (same distinct set)
      if (i >= w - 1 && (cnt == 0 || out(cnt - 1) != hs(dq(head)))) {
        out(cnt) = hs(dq(head)); cnt += 1
      }
      i += 1
    }
    new GenericArrayData(sortedDistinct(out, cnt))
  }

  /** Open-syncmer scheme — the reference's PRIMARY tokenizer
    * (/root/reference/src/hashing/syncmer.cpp:80-165, default-on in
    * taxor_build.cpp:370,510), re-derived for text: a k-gram starting at
    * position i is kept iff the minimum s-gram hash among its k-s+1 s-grams
    * sits exactly at offset `t` (0-based). Unlike minimizers this is a
    * PER-KMER predicate (context-free), which is what makes the syncmer set
    * mutation-robust. Text differences from the DNA reference, documented:
    * byte k-grams instead of 2-bit packed nucleotides, no reverse-complement
    * canonicalization, and ties pick the LEFTMOST minimal s-gram (the
    * reference is leftmost on the initial window scan and rightmost after a
    * deque pop — an implementation quirk we do not reproduce).
    * Expected density ~1/(k-s+1). Output: distinct k-gram hashes.
    */
  def syncmerHashes(
      str: UTF8String, k: Int, s: Int, t: Int, seed: Long): ArrayData = {
    require(s > 0 && s < k, s"syncmer needs 0 < s < k, got s=$s k=$k")
    require(t >= 0 && t <= k - s, s"offset t must be in [0, k-s], got $t")
    val bytes = str.getBytes
    val nK = bytes.length - k + 1
    if (nK <= 0) return new GenericArrayData(Array.emptyLongArray)
    val nS = bytes.length - s + 1
    val sh = new Array[Long](nS)
    var i = 0
    while (i < nS) { sh(i) = hashWindow(bytes, i, s, seed); i += 1 }
    val w = k - s + 1 // s-grams per k-gram
    // monotone deque over s-gram hashes; STRICT pop (>) keeps the earlier
    // of tied values at the front → leftmost minimum per window
    val dq = new Array[Int](nS)
    var head = 0; var tail = 0 // [head, tail)
    val out = new Array[Long](nK)
    var cnt = 0
    i = 0
    while (i < nS) {
      while (tail > head && sh(dq(tail - 1)) > sh(i)) tail -= 1
      dq(tail) = i; tail += 1
      val winStart = i - w + 1 // k-gram start for the window ending at i
      if (dq(head) < winStart) head += 1
      if (winStart >= 0 && dq(head) == winStart + t) {
        out(cnt) = hashWindow(bytes, winStart, k, seed); cnt += 1
      }
      i += 1
    }
    new GenericArrayData(sortedDistinct(out, cnt))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexDigits = "0123456789abcdef".toCharArray

  /** Engine-portable scaled k-gram fingerprints — the fused runtime of the
    * Column chain
    * `explode(char k-grams) → md5(concat(seed+":", g)) →
    *  substring(gh,1,2) < scaleHex → distinct-within-doc`,
    * value-identical by construction:
    *  - grams are CHARACTER substrings (Column.substr semantics); the
    *    all-ASCII fast path windows raw bytes, the general path uses
    *    UTF8String.substringSQL exactly like the Substring expression;
    *  - md5 hex is lowercase (DigestUtils.md5Hex twin) and the lexicographic
    *    two-hex-char compare equals a strict numeric compare of the first
    *    digest byte against parseInt(scaleHex, 16) — both sides are 2-char
    *    lowercase hex;
    *  - the within-text dedup mirrors the (id, gh) distinct the Column
    *    chain applied per UNIQUE-id input (the fingerprint-index contract:
    *    one row per document id).
    * One reused MessageDigest per thread; dropped grams allocate nothing.
    * Motive (r6, guide §1.2 per-task work): the HOF chain was
    * CodegenFallback and cost 10-15 CPU-s per corpus pass in the dedup
    * index gates. */
  def scaledGramHexes(
      s: UTF8String, k: Int, scaleHex: UTF8String,
      seed: UTF8String): ArrayData = {
    val scaleByte = Integer.parseInt(scaleHex.toString, 16)
    val prefix = (seed.toString + ":").getBytes("UTF-8")
    val md = md5Local.get()
    val bytes = s.getBytes
    val ascii = s.numChars() == bytes.length
    val nChars = if (ascii) bytes.length else s.numChars()
    if (nChars < k) return new GenericArrayData(Array.empty[Any])
    val n = nChars - k + 1
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(prefix)
      if (ascii) md.update(bytes, i, k)
      else md.update(s.substringSQL(i + 1, k).getBytes)
      val digest = md.digest()
      if ((digest(0) & 0xff) < scaleByte) {
        val hex = new Array[Char](32)
        var j = 0
        while (j < 16) {
          hex(2 * j) = HexDigits((digest(j) >> 4) & 0xf)
          hex(2 * j + 1) = HexDigits(digest(j) & 0xf)
          j += 1
        }
        val u = UTF8String.fromString(new String(hex))
        if (seen.add(u)) out.add(u)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Count of whitespace-delimited tokens (cheap token counting). */
  def tokenCount(s: UTF8String): Long = {
    val bytes = s.getBytes
    var count = 0L
    var inTok = false
    var i = 0
    while (i < bytes.length) {
      val ws = bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\n' ||
        bytes(i) == '\r'
      if (!ws && !inTok) count += 1
      inTok = !ws
      i += 1
    }
    count
  }

  /** Polynomial rolling-hash document fingerprint (order-sensitive, unlike
    * the shingle set). Base/modulus public constants. */
  def fingerprint(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L // large prime
    var i = 0
    while (i < bytes.length) {
      h = 31 * h + (bytes(i) & 0xff)
      i += 1
    }
    h
  }
}
