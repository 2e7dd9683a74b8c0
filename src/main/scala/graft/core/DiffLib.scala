package graft.core

import scala.collection.mutable

/** Faithful Scala port of CPython `difflib.SequenceMatcher(None, a, b).ratio()`
  * — the Ratcliff–Obershelp similarity the reference uses for OCR pass
  * confidence (`SequenceMatcher(None, texts[i], texts[j]).ratio()`,
  * reference `main.py:182`).
  *
  * Ported behaviors (from the published CPython difflib source, which is the
  * authoritative public spec of the algorithm):
  *  - `b2j`: map from char → ascending positions in `b`.
  *  - **autojunk** (default on): if `len(b) >= 200`, chars occurring more
  *    than `1 + len(b) // 100` times are "popular" — removed from `b2j` (so
  *    they cannot *seed* a match) but NOT junk (so the non-junk extension
  *    loops may still absorb them). With `isjunk=None` the junk set is empty
  *    and the junk-extension loops are no-ops.
  *  - `find_longest_match`: dynamic-programming sweep keeping, among maximal
  *    blocks, the one starting earliest in `a` then earliest in `b`
  *    (strict `>` update), then the two-sided non-junk extension.
  *  - `get_matching_blocks`: LIFO-free queue recursion, matches accumulated
  *    and summed; `ratio = 2*M / (len(a)+len(b))`, and 1.0 when both empty
  *    (Python returns 1.0 for `2*0/0`? no — `calculate` guards: T==0 → 1.0).
  *
  * Chars are UTF-16 units, matching Python code points for BMP-only OCR text.
  */
object DiffLib {

  final case class Match(a: Int, b: Int, size: Int)

  final class SequenceMatcher(a: String, b: String) {
    // __chain_b: b2j minus popular elements (autojunk), bjunk empty
    // (isjunk=None). ASCII fast path: a 128-slot array instead of a hash
    // map — b2j construction was a top allocation site (boxed chars,
    // buffer churn) in the 32-thread extraction profile.
    private val ntest = if (b.length >= 200) b.length / 100 + 1 else Int.MaxValue

    // null when b holds a char ≥ 128; the count scan doubles as the check
    private val b2jAscii: Array[Array[Int]] = {
      val counts = new Array[Int](128)
      var i = 0
      while (i < b.length && b.charAt(i) < 128) { counts(b.charAt(i)) += 1; i += 1 }
      if (i < b.length) null else {
        val out = new Array[Array[Int]](128)
        var c = 0
        while (c < 128) {
          // autojunk: popular chars (count > ntest) excluded from seeds
          if (counts(c) > 0 && counts(c) <= ntest) out(c) = new Array[Int](counts(c))
          c += 1
        }
        val fill = new Array[Int](128)
        i = 0
        while (i < b.length) {
          val ch = b.charAt(i)
          val arr = out(ch)
          if (arr != null) { arr(fill(ch)) = i; fill(ch) += 1 }
          i += 1
        }
        out
      }
    }
    private val asciiOnly = b2jAscii != null

    private val b2jMap: Map[Char, Array[Int]] = if (asciiOnly) null else {
      val m = mutable.LinkedHashMap.empty[Char, mutable.ArrayBuffer[Int]]
      var i = 0
      while (i < b.length) {
        m.getOrElseUpdate(b.charAt(i), mutable.ArrayBuffer.empty[Int]) += i
        i += 1
      }
      if (b.length >= 200) {                       // autojunk threshold
        m.filterInPlace((_, idxs) => idxs.length <= ntest)
      }
      m.iterator.map { case (c, idxs) => c -> idxs.toArray }.toMap
    }

    @inline private[core] def positionsOf(c: Char): Array[Int] =
      if (asciiOnly) { if (c < 128) b2jAscii(c) else null }
      else b2jMap.getOrElse(c, null)

    // Per-matcher scratch: primitive arrays instead of difflib's dicts —
    // boxed HashMap churn here was the #1 allocation source in the whole
    // pipeline (GC-bound at 32 threads). Same recurrence, same tie-breaks.
    // Each row array is paired with a stamp array: slot j holds a live
    // j2len entry only if its stamp is the generation of the row that
    // wrote it, so no row is ever zero-filled and a row costs only its
    // matches, as with CPython's sparse j2len dict.
    private val j2lenA = new Array[Int](b.length + 1)
    private val j2lenB = new Array[Int](b.length + 1)
    private val stampA = new Array[Int](b.length + 1)
    private val stampB = new Array[Int](b.length + 1)
    private var gen = 0    // stamp of the last row written; stamps start at 0

    def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): Match = {
      var besti = alo
      var bestj = blo
      var bestsize = 0
      if (gen > Int.MaxValue - (ahi - alo) - 2) {                  // stamps would wrap: start over
        java.util.Arrays.fill(stampA, 0); java.util.Arrays.fill(stampB, 0); gen = 0
      }
      // generation of the empty row before alo: one past every written
      // stamp, so no row of an earlier call reads as live
      var g = gen + 1
      var prev = j2lenA; var prevStamp = stampA
      var cur = j2lenB; var curStamp = stampB
      var i = alo
      while (i < ahi) {
        val idxs = positionsOf(a.charAt(i))
        if (idxs != null) {
          var k = 0
          var break = false
          while (k < idxs.length && !break) {
            val j = idxs(k)
            if (j >= bhi) break = true
            else if (j >= blo) {
              // prev(j) holds j2len[j-1] from the previous row (index
              // shifted by +1; this call never writes slot blo, so
              // j-1 = blo-1 reads as 0)
              val len = (if (prevStamp(j) == g) prev(j) else 0) + 1
              cur(j + 1) = len
              curStamp(j + 1) = g + 1
              if (len > bestsize) {                // strict >: earliest (i, j) kept
                besti = i - len + 1
                bestj = j - len + 1
                bestsize = len
              }
            }
            k += 1
          }
        }
        val t = prev; prev = cur; cur = t
        val ts = prevStamp; prevStamp = curStamp; curStamp = ts
        g += 1
        i += 1
      }
      gen = g
      // Non-junk extension (bjunk is empty with isjunk=None, so this is the
      // only live extension; it may absorb autojunk-popular chars).
      while (besti > alo && bestj > blo && a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
             a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      Match(besti, bestj, bestsize)
    }

    /** Sum of matching-block sizes (the M in ratio). Iterative queue exactly
      * as difflib's `get_matching_blocks`. */
    def totalMatched: Int = {
      var matched = 0
      val queue = mutable.Stack((0, a.length, 0, b.length))
      while (queue.nonEmpty) {
        val (alo, ahi, blo, bhi) = queue.pop()
        val m = findLongestMatch(alo, ahi, blo, bhi)
        if (m.size > 0) {
          matched += m.size
          if (alo < m.a && blo < m.b) queue.push((alo, m.a, blo, m.b))
          if (m.a + m.size < ahi && m.b + m.size < bhi)
            queue.push((m.a + m.size, ahi, m.b + m.size, bhi))
        }
      }
      matched
    }

    def ratio(): Double = {
      val t = a.length + b.length
      if (t == 0) 1.0                              // difflib._calculate_ratio
      else 2.0 * totalMatched / t
    }
  }

  /** EQUAL-INPUT fast path (exact): for a == b the DP+extension always
    * recovers the full string as one block — even when autojunk empties
    * b2j entirely, the forward non-junk extension starts at (alo, blo) and
    * absorbs every position — so M = len and ratio = 2·len/2·len = 1.0
    * exactly (and difflib returns 1.0 for two empty strings). The
    * multi-pass OCR pipeline compares byte-identical passes for every
    * non-noisy page, so this skips the whole matcher on the common case;
    * PropertySpec pins fast == slow on equal inputs. */
  def ratio(a: String, b: String): Double =
    if (a == b) 1.0 else new SequenceMatcher(a, b).ratio()
}
