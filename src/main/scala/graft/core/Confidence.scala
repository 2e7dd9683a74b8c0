package graft.core

/** Exact re-implementation of the reference confidence score
  * `calculate_confidence` (reference `main.py:174-185`): mean over all
  * C(N,2) ordered pairs (i < j) of `SequenceMatcher(None, a, b).ratio() * 100`;
  * a single pass scores 100.0. Pair order matters only for fp summation; we
  * sum in the same (i, j) loop order as the reference so the double result is
  * bit-identical for the ≤4-pass inputs the pipeline produces.
  *
  * The ratios are computed column by column: every pair of column j has
  * `texts(j)` as `b`, so its `b` table is built once on the thread's matcher
  * (3 tables for 4 passes, not 6) and only if some pair of the column is
  * unequal; equal pairs score 1.0 as in `DiffLib.ratio`.
  */
object Confidence {

  def pairwise(texts: Seq[String]): Double = {
    if (texts.length == 1) return 100.0            // main.py:176-177
    val t = texts.toIndexedSeq
    val n = t.length
    var maxLen = 0
    var i = 0
    while (i < n) { maxLen = math.max(maxLen, t(i).length); i += 1 }
    val m = DiffLib.matcher(maxLen)
    val ratios = new Array[Double](n * n)          // pair (i, j) at i * n + j
    var j = 1
    while (j < n) {
      var tableBuilt = false
      i = 0
      while (i < j) {
        ratios(i * n + j) =
          if (t(i) == t(j)) 1.0
          else {
            if (!tableBuilt) { m.setSeq2(t(j)); tableBuilt = true }
            m.ratio(t(i))
          }
        i += 1
      }
      j += 1
    }
    var sum = 0.0
    var pairs = 0
    i = 0
    while (i < n) {
      j = i + 1
      while (j < n) {
        sum += ratios(i * n + j) * 100.0
        pairs += 1
        j += 1
      }
      i += 1
    }
    if (pairs > 0) sum / pairs else 100.0          // main.py:185
  }
}
