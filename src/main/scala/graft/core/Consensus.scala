package graft.core

/** Exact re-implementation of the reference per-position character vote
  * `get_consensus_text` (reference `main.py:187-205`).
  *
  * For each position i in [0, max(len)): collect the chars of every pass
  * text long enough to have position i (pass order preserved), then take the
  * most common char with **first-seen tie-break** — Python
  * `Counter(chars).most_common(1)` preserves insertion order among equal
  * counts (SURVEY.md §7.5: stable fold, not an order-unstable groupBy).
  *
  * Positions beyond a shorter text simply take votes only from the longer
  * texts; a single pass returns its text unchanged (`main.py:189-190`).
  *
  * Note: operates on UTF-16 chars, matching Python's per-code-point loop for
  * BMP text (all pipeline callers pass raw OCR text which our engines keep
  * in the BMP).
  */
object Consensus {

  def merge(texts: Seq[String]): String = {
    require(texts.nonEmpty, "consensus over zero passes")
    if (texts.length == 1) return texts.head                       // main.py:189-190
    if (texts.length == 2) {
      // TWO-PASS fast path (exact): at every position covered by both
      // texts the vote is either 2-0 (equal chars) or a 1-1 tie — and the
      // first-seen tie-break picks pass 0's char in both cases; positions
      // beyond the shorter text take the longer text's char. So the
      // consensus is pass 0 extended with pass 1's tail. This is the
      // dominant case (level=medium → 2 passes); PropertySpec pins
      // fast == general vote loop.
      val a = texts.head
      val b = texts(1)
      return if (b.length <= a.length) a else a + b.substring(a.length)
    }
    // EQUAL-PASS fast path (exact): identical passes vote their own char at
    // every position, so the consensus is pass 0. At level=ultra this is
    // every page without OCR noise; it skips the vote's per-pass char
    // arrays and builder, the largest allocation left in the kernel there.
    val head = texts.head
    var p = 1
    while (p < texts.length && texts(p) == head) p += 1
    if (p == texts.length) return head
    mergeVote(texts)
  }

  /** The general per-position vote loop, for any pass count. Where every
    * pass covers a run of positions and all agree there (the common case),
    * the run is copied from pass 0 in bulk: `next(p)` is the first position
    * ≥ i where pass p differs from pass 0, found by a vectorized mismatch
    * and kept until i passes it. Every other position takes the first-seen
    * counting vote. */
  private[core] def mergeVote(texts: Seq[String]): String = {
    val cs = texts.iterator.map(_.toCharArray).toArray
    val np = cs.length
    var maxLen = 0                                                 // main.py:193
    var minLen = Int.MaxValue
    var p = 0
    while (p < np) {
      maxLen = math.max(maxLen, cs(p).length)
      minLen = math.min(minLen, cs(p).length)
      p += 1
    }
    val sb = new java.lang.StringBuilder(maxLen)
    val next = Array.fill(np)(-1)
    // counts in first-seen order over the ≤ np pass chars at a position
    val seenChars = new Array[Char](np)
    val seenCounts = new Array[Int](np)
    var i = 0
    while (i < maxLen) {
      if (i < minLen) {
        var run = minLen                                           // [i, run): all passes agree
        p = 1
        while (p < np) {
          if (next(p) < i) {
            val m = java.util.Arrays.mismatch(cs(0), i, minLen, cs(p), i, minLen)
            next(p) = if (m < 0) minLen else i + m
          }
          run = math.min(run, next(p))
          p += 1
        }
        sb.append(cs(0), i, run - i)
        i = run
      }
      if (i < maxLen) {
        var nSeen = 0
        p = 0
        while (p < np) {
          val t = cs(p)
          if (i < t.length) {
            val c = t(i)
            var k = 0
            while (k < nSeen && seenChars(k) != c) k += 1
            if (k < nSeen) seenCounts(k) += 1
            else { seenChars(nSeen) = c; seenCounts(nSeen) = 1; nSeen += 1 }
          }
          p += 1
        }
        var best = 0                                               // main.py:200-201
        var k = 1
        while (k < nSeen) {                                        // strict > keeps first-seen on ties,
          if (seenCounts(k) > seenCounts(best)) best = k           // = Counter.most_common(1) semantics
          k += 1
        }
        sb.append(seenChars(best))
        i += 1
      }
    }
    sb.toString
  }
}
