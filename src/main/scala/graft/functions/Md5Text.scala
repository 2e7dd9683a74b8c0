package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** ORACLE-EXACT md5 text kernels behind native functions (Kernels).
  *
  * The oracle-parity dedup pipeline hashes shingles/windows/words with md5
  * so DuckDB reproduces every value bit-for-bit. Its original builtin form
  * composes higher-order functions (`transform`/`aggregate`/`zip_with`),
  * which are CodegenFallback in Spark: every element walks an interpreted
  * expression tree, boxes intermediate structs, and `Md5.eval` calls
  * `MessageDigest.getInstance` per invocation. At sf0.1 that machinery —
  * not the hashing — dominated the md5-path dedup queries (measured in
  * OPTIMIZATION_r06.md).
  *
  * These kernels compute the IDENTICAL values in one fused pass per row
  * (whole-stage codegen static call, thread-local MessageDigest, no
  * intermediate arrays). Bit-parity is pinned by Md5ParitySpec, which
  * property-checks each kernel against the builtin construction it
  * replaces; the DuckDB oracle SQL is untouched.
  *
  * Exactness notes (each mirrors the builtin chain precisely):
  *  - normalization calls the same UTF8String.trim()/toLowerCase() the
  *    Trim/Lower expressions call, then splits on space runs — equivalent
  *    to regexp_replace(' +',' ') + split(' ') on a trimmed string
  *    (including the [""] single-empty-word result for empty input);
  *  - md5 hex is lowercase over UTF-8 bytes, as Spark's `md5(cast(s as
  *    binary))`;
  *  - lane mins compare lexicographically on ASCII hex = UTF8String binary
  *    order, as `least`.
  */
object Md5TextKernel {

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = HexChars(b >>> 4)
      out(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** lowercase hex md5 of the UTF-8 bytes of (prefix ++ parts joined by a
    * single space) — the digest is fed incrementally, no string concat. */
  private def md5HexJoined(md: java.security.MessageDigest,
      prefix: Array[Byte], parts: Array[Array[Byte]], from: Int, n: Int): String = {
    md.reset()
    if (prefix != null) md.update(prefix)
    var k = 0
    while (k < n) {
      if (k > 0) md.update(' '.toByte)
      md.update(parts(from + k))
      k += 1
    }
    hex(md.digest())
  }

  // hoisted: String.split(" +") would Pattern.compile per call (the
  // 2-char pattern misses the single-char fast path) — on the hot path of
  // every fused kernel (round-6 review finding)
  private val SpaceRun = java.util.regex.Pattern.compile(" +")

  /** `split(regexp_replace(lower(trim(s)), " +", " "), " ")` — the dedup
    * pipeline's normalized word list. Returns [""] for empty/all-space
    * input, exactly like the builtin chain. */
  private[functions] def normWords(s: UTF8String): Array[String] = {
    val t = s.trim().toLowerCase().toString
    if (t.isEmpty) return Array("")
    SpaceRun.split(t)
  }

  /** `split(regexp_replace(trim(s), " +", " "), " ")` — same word list
    * WITHOUT lowercasing (line fixtures preserve case). */
  private[functions] def rawWords(s: UTF8String): Array[String] = {
    val t = s.trim().toString
    if (t.isEmpty) return Array("")
    SpaceRun.split(t)
  }

  private def utf8Bytes(words: Array[String]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](words.length)
    var i = 0
    while (i < words.length) {
      out(i) = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    out
  }

  // "k|" prefix byte arrays per hash count — plan-time constants, cached
  // so minhashLanes doesn't re-interpolate/encode them per row (round-6
  // review finding)
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def hashPrefixes(nHash: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(nHash, n => Array.tabulate(n)(k =>
      s"$k|".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))

  /** All `numPerms` md5-lane MinHash signature values of the text's 3-word
    * shingles in one pass — value-identical to `Dedup.minhashSignature`'s
    * builtin construction: shingle k-th hash = md5("k|" ++ shingle), lane i
    * = min over shingles of hex chars [8·(i%4), 8·(i%4)+8) of hash i/4.
    * Null for < 3 words (no shingles → null signature). */
  def minhashLanes(s: UTF8String, numPerms: Int): ArrayData = {
    val words = normWords(s)
    if (words.length < 3) return null
    val wb = utf8Bytes(words)
    val md = digests.get()
    val nHash = (numPerms + 3) / 4
    val prefixes = hashPrefixes(nHash)
    val mins = new Array[String](numPerms)
    var w = 0
    while (w + 2 < words.length) {
      var k = 0
      while (k < nHash) {
        val h = md5HexJoined(md, prefixes(k), wb, w, 3)
        var j = 0
        val laneMax = math.min(4, numPerms - k * 4)
        while (j < laneMax) {
          val lane = k * 4 + j
          val sub = h.substring(8 * j, 8 * j + 8)
          if (mins(lane) == null || sub.compareTo(mins(lane)) < 0) mins(lane) = sub
          j += 1
        }
        k += 1
      }
      w += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromString(_): Any))
  }

  /** md5 hex of every `w`-word window of the normalized text (window j =
    * words j..j+w-1 joined by one space), in order — value-identical to
    * the `transform(sequence(...), i -> md5(array_join(slice(...))))`
    * construction. EMPTY array (not null) for < w words or null input,
    * matching the query's `when(size >= w, ...).otherwise(array())` guard. */
  def windowHashes(s: UTF8String, w: Int): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val words = normWords(s)
    if (words.length < w) return new GenericArrayData(Array.empty[Any])
    val wb = utf8Bytes(words)
    val md = digests.get()
    val n = words.length - w + 1
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      out(j) = UTF8String.fromString(md5HexJoined(md, null, wb, j, w))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The 64-char '0'/'1' SimHash-over-md5 bit string of the text's DISTINCT
    * normalized words — value-identical to the exploded-contributions
    * construction in `Queries.simhashMd5`: token bit b = bit (3 − b%4) of
    * hex digit b/4 of md5(token); sig bit b = 1 iff Σ_tokens (2·bit − 1) ≥ 0. */
  def simhashMd5Bits(s: UTF8String): UTF8String = {
    val words = normWords(s)
    val seen = new java.util.HashSet[String]()
    val md = digests.get()
    val sums = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      if (seen.add(words(i))) {
        md.reset()
        md.update(words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val dig = md.digest()
        // first 16 hex digits = first 8 bytes; hex digit d = nibble d of
        // the digest (high nibble first), bit b reads digit b/4, weight
        // 8 >> (b%4) — integer math identical to the columnar contrib()
        var b = 0
        while (b < 64) {
          val nib = b / 4
          val byte = dig(nib / 2) & 0xff
          val v = if (nib % 2 == 0) byte >>> 4 else byte & 0xf
          val bit = (v / (8 >> (b % 4))) % 2
          sums(b) += 2 * bit - 1
          b += 1
        }
      }
      i += 1
    }
    val out = new Array[Char](64)
    var b = 0
    while (b < 64) {
      out(b) = if (sums(b) >= 0) '1' else '0'
      b += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Sorted DISTINCT 3-word shingle strings — the set representation for
    * exact-Jaccard verification and decontamination. Value-equal AS A SET
    * to `array_distinct(shingles(text))` (every consumer is
    * order-independent: `array_intersect` sizes, explode-then-aggregate);
    * sorted so the representation is deterministic. EMPTY array for < 3
    * words (exactly like the builtin chain's filtered empty shingle
    * list); null only for null input. */
  def shingleStrs(s: UTF8String): ArrayData = {
    val words = normWords(s)
    if (words.length < 3) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.TreeSet[String]()
    val sb = new java.lang.StringBuilder()
    var w = 0
    while (w + 2 < words.length) {
      sb.setLength(0)
      sb.append(words(w)).append(' ').append(words(w + 1)).append(' ').append(words(w + 2))
      set.add(sb.toString)
      w += 1
    }
    val out = new Array[Any](set.size())
    var i = 0
    val it = set.iterator()
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** Content lines of the derived line fixture: the raw (case-preserving)
    * word list wrapped at `lineWords` words per line — value-identical to
    * the `transform(sequence(0, floor((size-1)/w)), i -> array_join(
    * slice(words, i*w+1, w), " "))` construction, including the single
    * empty line for empty input. Empty array for null input (the
    * descending-sequence guard the round-5 advice asked for). */
  def wrapLines(s: UTF8String, lineWords: Int): ArrayData = {
    if (s == null) return new GenericArrayData(Array.empty[Any])
    val words = rawWords(s)
    val nLines = (words.length - 1) / lineWords + 1
    val out = new Array[Any](nLines)
    val sb = new java.lang.StringBuilder()
    var l = 0
    while (l < nLines) {
      sb.setLength(0)
      var k = l * lineWords
      val end = math.min(k + lineWords, words.length)
      while (k < end) {
        if (k > l * lineWords) sb.append(' ')
        sb.append(words(k))
        k += 1
      }
      out(l) = UTF8String.fromString(sb.toString)
      l += 1
    }
    new GenericArrayData(out)
  }
}
