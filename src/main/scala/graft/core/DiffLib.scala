package graft.core

import java.util.Arrays

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
  *  - `get_matching_blocks`: LIFO queue recursion, matches accumulated and
  *    summed; `ratio = 2*M / T` with `T = len(a) + len(b)`, and
  *    `T == 0 → 1.0` (`_calculate_ratio`).
  *
  * Chars are UTF-16 units, matching Python code points for BMP-only OCR text.
  *
  * '''Diagonal fast path (exact).''' When no char of `b` is popular (always
  * so below 200 chars), `b2j` lists every position of `b`, so the DP's
  * j2len value at (i, j) is the length of the whole diagonal run of equal
  * chars ending there, clipped to the ranges. No popular char also means
  * no extension: a char just before or after the best block that matched
  * would make a longer run, which the DP would have kept. So
  * `find_longest_match` is the longest diagonal run inside the ranges,
  * ties going to the smallest start in `a`, then in `b` (the DP's first
  * strict `>` update). The fast path finds it without the DP:
  *  - L0, the longest run on the two diagonals aligned with the ranges'
  *    starts and ends (`Arrays.mismatch`), is a lower bound on the answer.
  *  - Any run of length ≥ L0 spans L0 consecutive rows of `a`, so it holds
  *    one of the rows `alo + L0 - 1 + k·L0`. Probing every `b2j` position of
  *    those rows and extending each probe to its whole run finds every run
  *    of length ≥ L0, hence every longest one, and the tie-break picks among
  *    them.
  *  - A run is extended once: a probe that falls inside a run already
  *    extended on its diagonal is skipped, so the extensions never visit
  *    more (i, j) pairs than the DP would.
  * With L0 below `MinSeed` or a popular char in `b`, the stamped DP runs.
  * It visits only the rows of `a` whose char seeds a match: with popular
  * chars in `b`, that is a small share of them.
  *
  * '''One matcher per thread.''' A `Matcher` holds one `b` table (set by
  * `setSeq2`, as CPython's `set_seq2` reuse) plus the DP rows, stamps,
  * per-diagonal marks and the block stack, all flat primitive arrays sized
  * once, about 50 bytes per char of capacity. `matcher(len)` hands out the
  * calling thread's matcher, grown up to `WorkspaceCap` chars (about 1 MB);
  * a longer page gets a matcher of its own that is not kept. Every `b` set
  * on a thread's matcher, and every call on it, draws stamps from its one
  * generation counter, which only grows (a wrap resets all stamps to 0 and
  * restarts it): a stamp written under an earlier `b` or call never equals
  * a later generation, so their stamps never collide and no row is ever
  * cleared between them.
  */
object DiffLib {

  /** Longest matcher a thread keeps, in chars of the longer text. */
  private[core] val WorkspaceCap = 1 << 14

  /** Shortest aligned-diagonal run for which the fast path beats the DP. */
  private val MinSeed = 4

  private val local = new ThreadLocal[Matcher]

  /** The calling thread's matcher, for texts of up to `len` chars. */
  private[core] def matcher(len: Int): Matcher = {
    val m = local.get
    if (m != null && m.capacity >= len) m
    else if (len > WorkspaceCap) new Matcher(len)
    else {
      val grown = new Matcher(math.min(WorkspaceCap, math.max(len, if (m == null) 256 else 2 * m.capacity)))
      local.set(grown)
      grown
    }
  }

  private[core] final class Matcher(val capacity: Int) {
    private val a = new Array[Char](capacity)
    private var na = 0
    // the rows of `a` whose char seeds a match in `b` (a non-empty b2j
    // range): the only rows on which the DP does any work
    private val seedRows = new Array[Int](capacity)
    private var nSeedRows = -1                   // -1: not listed yet
    private val b = new Array[Char](capacity)
    private var nb = 0

    // b2j minus popular chars: the positions of slot s are
    // pos(start(s) until start(s + 1)), ascending. An ASCII `b` uses the char
    // as its slot; any other `b` uses the char's index in the sorted `keys`.
    private var asciiB = true
    private var popular = false
    private val start = new Array[Int](math.max(129, math.min(capacity, 65536) + 1))
    private val cursor = new Array[Int](128)
    private val step = new Array[Int](128)
    private val pos = new Array[Int](capacity + 1)   // + the popular chars' spare slot
    private var keys: Array[Char] = null
    private var sorted: Array[Long] = null
    private var nkeys = 0

    // DP rows: slot j holds a live j2len entry only if its stamp is the
    // generation of the row that wrote it, so no row is ever zero-filled and
    // a row costs only its matches, as with CPython's sparse j2len dict.
    private val j2lenA = new Array[Int](capacity + 1)
    private val j2lenB = new Array[Int](capacity + 1)
    private val stampA = new Array[Int](capacity + 1)
    private val stampB = new Array[Int](capacity + 1)
    // fast path: the end row of the run last extended on each diagonal,
    // allocated on first use (a long page has popular chars and never needs it)
    private var diagEnd: Array[Int] = null
    private var diagStamp: Array[Int] = null
    private var gen = 0    // last generation handed out; stamps start at 0

    private var stack = new Array[Int](64)

    /** Start of the block the last `findLongestMatch` returned. */
    private[core] var matchA = 0
    private[core] var matchB = 0

    def setSeq2(s: String): Unit = {
      val b = this.b; val start = this.start
      nb = s.length
      s.getChars(0, nb, b, 0)
      Arrays.fill(start, 0, 129, 0)
      var j = 0
      while (j < nb && b(j) < 128) { start(b(j) + 1) += 1; j += 1 }   // counts, if ASCII
      asciiB = j == nb
      val ntest = if (nb >= 200) nb / 100 + 1 else Int.MaxValue      // autojunk
      popular = if (asciiB) indexAscii(ntest) else indexSorted(ntest)
    }

    /** Counting sort of an ASCII `b` whose counts `start(c + 1)` holds; true
      * if some char is popular. */
    private def indexAscii(ntest: Int): Boolean = {
      val b = this.b; val start = this.start; val cursor = this.cursor; val step = this.step
      val pos = this.pos
      var popular = false
      var c = 0
      while (c < 128) {                          // counts → offsets; a popular
        val n = start(c + 1)                     // char gets an empty range
        if (n > ntest) popular = true
        start(c + 1) = start(c) + (if (n > ntest) 0 else n)
        c += 1
      }
      c = 0
      while (c < 128) {                          // a popular char's positions all
        val keep = start(c) < start(c + 1)       // land in the spare slot after
        cursor(c) = if (keep) start(c) else start(128)   // the kept ones
        step(c) = if (keep) 1 else 0
        c += 1
      }
      var j = 0
      while (j < nb) {                           // branch-free: the popular test
        val c = b(j)                             // mispredicts on every other char
        pos(cursor(c)) = j
        cursor(c) += step(c)
        j += 1
      }
      popular
    }

    /** Sort of any other `b` by (char, position); true if some char is
      * popular. */
    private def indexSorted(ntest: Int): Boolean = {
      if (sorted == null) { sorted = new Array[Long](capacity); keys = new Array[Char](start.length - 1) }
      var j = 0
      while (j < nb) { sorted(j) = (b(j).toLong << 32) | j; j += 1 }
      Arrays.sort(sorted, 0, nb)
      var popular = false
      nkeys = 0
      var p = 0
      var k = 0
      while (k < nb) {
        val c = (sorted(k) >>> 32).toChar
        var e = k
        while (e < nb && (sorted(e) >>> 32).toChar == c) e += 1
        keys(nkeys) = c
        start(nkeys) = p
        if (e - k > ntest) popular = true
        else while (k < e) { pos(p) = sorted(k).toInt; p += 1; k += 1 }
        k = e
        nkeys += 1
      }
      start(nkeys) = p
      popular
    }

    /** The `b2j` slot of char `c`, negative when `c` is not in `b`. */
    @inline private def slotOf(c: Char): Int =
      if (asciiB) { if (c < 128) c else -1 }
      else Arrays.binarySearch(keys, 0, nkeys, c)

    private[core] def setSeq1(s: String): Unit = {
      na = s.length
      s.getChars(0, na, a, 0)
      nSeedRows = -1
    }

    /** Lists the seed rows of `a`, once per `setSeq1`, for the DP. */
    private def findSeedRows(): Unit = {
      val a = this.a; val start = this.start; val step = this.step; val seedRows = this.seedRows
      val ascii = asciiB
      var n = 0
      var i = 0
      while (i < na) {
        val c = a(i)
        seedRows(n) = i                          // kept only if it seeds
        n += (if (ascii) { if (c < 128) step(c) else 0 }
              else { val s = slotOf(c); if (s >= 0 && start(s) < start(s + 1)) 1 else 0 })
        i += 1
      }
      nSeedRows = n
    }

    /** `SequenceMatcher(None, s, b).ratio()` for the `b` of `setSeq2`. */
    def ratio(s: String): Double = {
      setSeq1(s)
      val t = na + nb
      if (t == 0) 1.0                            // difflib._calculate_ratio
      else 2.0 * totalMatched / t
    }

    /** Sum of matching-block sizes (the M in ratio), with the LIFO queue of
      * difflib's `get_matching_blocks`. */
    private def totalMatched: Int = {
      var matched = 0
      var top = push(0, 0, na, 0, nb)
      while (top > 0) {
        top -= 4
        val alo = stack(top); val ahi = stack(top + 1)
        val blo = stack(top + 2); val bhi = stack(top + 3)
        val k = findLongestMatch(alo, ahi, blo, bhi)
        if (k > 0) {
          matched += k
          val i = matchA
          val j = matchB
          if (alo < i && blo < j) top = push(top, alo, i, blo, j)
          if (i + k < ahi && j + k < bhi) top = push(top, i + k, ahi, j + k, bhi)
        }
      }
      matched
    }

    private def push(top: Int, alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
      if (top + 4 > stack.length) stack = Arrays.copyOf(stack, 2 * stack.length)
      stack(top) = alo; stack(top + 1) = ahi; stack(top + 2) = blo; stack(top + 3) = bhi
      top + 4
    }

    /** `find_longest_match(alo, ahi, blo, bhi)` of the texts set last: returns
      * the block's size and leaves its start in `matchA`, `matchB`. */
    private[core] def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
      val k = if (popular) -1 else longestRun(alo, ahi, blo, bhi)
      if (k >= 0) k else longestDp(alo, ahi, blo, bhi)
    }

    /** The first k in [from, to) with pos(k) >= j, or `to`. */
    @inline private def firstAtOrAfter(from: Int, to: Int, j: Int): Int =
      if (from == to || pos(from) >= j) from
      else { val k = Arrays.binarySearch(pos, from, to, j); if (k < 0) -k - 1 else k }

    /** First generation of a call that needs `n` more; resets every stamp
      * before the counter would wrap. */
    private def reserve(n: Int): Int = {
      if (gen > Int.MaxValue - n - 2) {
        Arrays.fill(stampA, 0); Arrays.fill(stampB, 0)
        if (diagStamp != null) Arrays.fill(diagStamp, 0)
        gen = 0
      }
      gen + 1
    }

    /** Length of the common prefix of a(i until i + n) and b(j until j + n). */
    @inline private def common(i: Int, j: Int, n: Int): Int =
      if (n == 0 || a(i) != b(j)) 0                // no call for a lone mismatch
      else {
        val x = Arrays.mismatch(a, i, i + n, b, j, j + n)
        if (x < 0) n else x
      }

    /** Length of the common suffix of a(i - n until i) and b(j - n until j),
      * compared a chunk at a time from the end. */
    private def commonBack(i: Int, j: Int, n: Int): Int = {
      if (n == 0 || a(i - 1) != b(j - 1)) return 0
      var k = 0
      var c = math.min(n, 16)
      while (c > 0 && Arrays.equals(a, i - k - c, i - k, b, j - k - c, j - k)) {
        k += c
        c = math.min(n - k, 16)
      }
      while (k < n && a(i - k - 1) == b(j - k - 1)) k += 1
      k
    }

    /** Longest run of a == b on the diagonal from (i, j), n long, or
      * `floor` if none is longer. */
    private def diagonalRun(i: Int, j: Int, n: Int, floor: Int): Int = {
      var best = floor
      var t = 0
      while (n - t > best) {
        val x = common(i + t, j + t, n - t)
        if (x > best) best = x
        t += x + 1
      }
      best
    }

    /** The diagonal fast path (see the object's doc) for a `b` without
      * popular chars; -1 when L0 is too short for it to pay. */
    private def longestRun(alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
      val n = math.min(ahi - alo, bhi - blo)
      var l0 = diagonalRun(alo, blo, n, MinSeed - 1)   // a shorter L0 is not used
      if (ahi - alo != bhi - blo) l0 = diagonalRun(ahi - n, bhi - n, n, l0)
      if (l0 < MinSeed) return -1
      if (this.diagEnd == null) {
        this.diagEnd = new Array[Int](2 * capacity)
        this.diagStamp = new Array[Int](2 * capacity)
      }
      val diagEnd = this.diagEnd; val diagStamp = this.diagStamp
      val g = reserve(1)
      gen = g
      val dOff = ahi - 1 - blo                   // diagonal of (i, j): j - i + dOff
      var besti = alo
      var bestj = blo
      var bestsize = 0
      var r = alo + l0 - 1
      while (r < ahi) {
        val s = slotOf(a(r))
        if (s >= 0) {
          val e = start(s + 1)
          var k = firstAtOrAfter(start(s), e, blo)
          while (k < e && pos(k) < bhi) {
            val j = pos(k)
            val d = j - r + dOff
            if (diagStamp(d) != g || diagEnd(d) <= r) {   // a run not yet extended
              val back = commonBack(r, j, math.min(r - alo, j - blo))
              val end = r + 1 + common(r + 1, j + 1, math.min(ahi - r, bhi - j) - 1)
              diagStamp(d) = g
              diagEnd(d) = end
              val i0 = r - back
              val j0 = j - back
              val len = end - i0
              if (len > bestsize || (len == bestsize && (i0 < besti || (i0 == besti && j0 < bestj)))) {
                besti = i0; bestj = j0; bestsize = len
              }
            }
            k += 1
          }
        }
        r += l0
      }
      extend(alo, ahi, blo, bhi, besti, bestj, bestsize)
    }

    /** The stamped DP of `find_longest_match`, then the extension. Row i
      * reads j2len entries stamped `base + (i - alo)` (row i - 1) and writes
      * its own stamped one more. Only the seed rows are visited: a skipped
      * row writes nothing, and the next row's reads of an older generation
      * count as 0, as an empty row's would. */
    private[core] def longestDp(alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
      matchA = alo
      matchB = blo
      var size = 0
      // generation of the empty row before alo: one past every written
      // stamp, so no row of an earlier call reads as live
      val base = reserve(ahi - alo)
      var prev = j2lenA; var prevStamp = stampA
      var cur = j2lenB; var curStamp = stampB
      if (nSeedRows < 0) findSeedRows()
      var r = Arrays.binarySearch(seedRows, 0, nSeedRows, alo)
      if (r < 0) r = -r - 1
      while (r < nSeedRows && seedRows(r) < ahi) {
        val i = seedRows(r)
        size = dpRow(i, base + (i - alo), prev, prevStamp, cur, curStamp, blo, bhi, size)
        val t = prev; prev = cur; cur = t
        val ts = prevStamp; prevStamp = curStamp; curStamp = ts
        r += 1
      }
      gen = base + (ahi - alo)
      extend(alo, ahi, blo, bhi, matchA, matchB, size)
    }

    /** One DP row: reads `prev` entries of generation g (row i - 1), writes
      * `cur` entries of generation g + 1; a longer block than `best` goes to
      * `matchA`, `matchB`. Returns the best size. */
    @inline private def dpRow(i: Int, g: Int, prev: Array[Int], prevStamp: Array[Int],
                              cur: Array[Int], curStamp: Array[Int], blo: Int, bhi: Int, best: Int): Int = {
      var bestsize = best
      val s = slotOf(a(i))
      if (s >= 0) {
        val e = start(s + 1)
        var k = firstAtOrAfter(start(s), e, blo)
        while (k < e && pos(k) < bhi) {
          val j = pos(k)
          // prev(j) holds j2len[j-1] from the previous row (index shifted
          // by +1; this call never writes slot blo, so j-1 = blo-1 reads
          // as 0)
          val len = (if (prevStamp(j) == g) prev(j) else 0) + 1
          cur(j + 1) = len
          curStamp(j + 1) = g + 1
          if (len > bestsize) {                  // strict >: earliest (i, j) kept
            matchA = i - len + 1
            matchB = j - len + 1
            bestsize = len
          }
          k += 1
        }
      }
      bestsize
    }

    /** The non-junk extension (bjunk is empty with isjunk=None, so it is the
      * only live one; it may absorb popular chars). Leaves the block's start
      * in `matchA`, `matchB` and returns its size. */
    private def extend(alo: Int, ahi: Int, blo: Int, bhi: Int, i: Int, j: Int, size: Int): Int = {
      var besti = i
      var bestj = j
      var bestsize = size
      while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      bestsize += common(besti + bestsize, bestj + bestsize,
        math.min(ahi - besti - bestsize, bhi - bestj - bestsize))
      matchA = besti
      matchB = bestj
      bestsize
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
    if (a == b) 1.0
    else {
      val m = matcher(math.max(a.length, b.length))
      m.setSeq2(b)
      m.ratio(a)
    }
}
