package graft.functions

import graft.core.Hash64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** All `numPerms` MinHash signature values of a text's 3-word shingles in
  * ONE native pass — the prod-speed signature path.
  *
  * The oracle-parity path (`Dedup.minhashSignature`) builds shingles with
  * array HOFs and hashes each with md5 so DuckDB can reproduce signatures
  * bit-for-bit; that machinery (per-shingle string concat, per-perm md5,
  * struct fold) dominates its cost — profiling showed the xxhash64 HOF
  * variant ran no faster than md5 because the hash was never the
  * bottleneck. Here the whole signature is a single scan over the string:
  * tokenize in place, roll a 3-word window, one 64-bit base hash per
  * shingle, then `numPerms` cheap seed-mixed finalizations (Hash64.fmix64
  * of base ^ seed — the standard one-hash/many-permutations construction),
  * min-folded on the fly. No intermediate arrays, no boxing.
  *
  * Semantics match `Dedup.minhashSignature`'s shape: normalization =
  * lowercase, whitespace-collapsed words; docs with < 3 words return NULL
  * (dropping them from candidate generation — null never joins); duplicate
  * shingles need no dedup (min is idempotent).
  */
object MinHashKernel {

  private def seed(perm: Int): Long = Hash64(s"mh|$perm")

  /** 64-bit base hash per 3-word shingle of the lowercased, space-split
    * text — one scan, no shingle strings built (FNV-1a over the three word
    * slices with a single space between, then fmix64). Returns null for
    * < 3 words. Deterministic prod-speed hash; deliberately NOT the md5
    * oracle path. */
  private[functions] def shingleBaseHashes(s: UTF8String): Array[Long] = {
    if (s == null) return null
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    // word boundaries: runs of spaces (the HOF form collapses " +" then
    // splits on single space; equivalent token stream)
    val n = str.length
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < n) {
      while (i < n && str.charAt(i) == ' ') i += 1
      if (i < n) {
        starts.add(i)
        while (i < n && str.charAt(i) != ' ') i += 1
        ends.add(i)
      }
    }
    val words = starts.size()
    if (words < 3) return null
    val out = new Array[Long](words - 2)
    var w = 0
    while (w + 2 < words) {
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < 3) {
        if (k > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        var j = starts.get(w + k)
        val e = ends.get(w + k)
        while (j < e) {
          h ^= str.charAt(j).toLong
          h *= 0x100000001b3L
          j += 1
        }
        k += 1
      }
      out(w) = Hash64.fmix64(h)
      w += 1
    }
    out
  }

  def sigs(s: UTF8String, numPerms: Int): ArrayData = {
    val bases = shingleBaseHashes(s)
    if (bases == null) return null
    val mins = Array.fill(numPerms)(Long.MaxValue)
    val seeds = Array.tabulate(numPerms)(seed)
    var w = 0
    while (w < bases.length) {
      val base = bases(w)
      var p = 0
      while (p < numPerms) {
        val hp = Hash64.fmix64(base ^ seeds(p))
        if (hp < mins(p)) mins(p) = hp
        p += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  /** Sorted DISTINCT shingle base hashes — the set representation for exact
    * Jaccard verification (sorted so |A∩B| is a linear merge). */
  def shingleSet(s: UTF8String): ArrayData = {
    val bases = shingleBaseHashes(s)
    if (bases == null) return null
    java.util.Arrays.sort(bases)
    var uniq = 0
    var i = 0
    while (i < bases.length) {
      if (i == 0 || bases(i) != bases(i - 1)) { bases(uniq) = bases(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bases, uniq))
  }

  /** |A∩B| for two SORTED long arrays — linear merge count. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    var i = 0
    var j = 0
    var c = 0L
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
