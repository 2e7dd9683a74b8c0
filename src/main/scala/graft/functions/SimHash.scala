package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash document fingerprint, the native `simhash64` (Kernels).
  * Near-duplicate texts differ in few bits; pairs are found by comparing
  * fingerprints within LSH bands of the 64 bits.
  *
  * Algorithm (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002; as popularized for web dedup by Manku et al.,
  * WWW 2007): hash each whitespace token to 64 bits; for each bit position
  * sum +1/-1 votes across tokens; fingerprint bit = 1 iff the vote is
  * positive.
  */
object SimHash {

  /** Deterministic (Hash64/fmix); 0 for null. */
  def compute(s: UTF8String): Long = {
    if (s == null) return 0L
    val str = s.toString
    val votes = new Array[Int](64)
    var start = 0
    val n = str.length
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ' || str.charAt(i) == '\t' || str.charAt(i) == '\n') {
        if (i > start) {
          val h = graft.core.Hash64(str.substring(start, i).toLowerCase(java.util.Locale.ROOT))
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}
