package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Embedding-vector kernels behind native functions (Kernels) — fused
  * replacements for the interpreted `aggregate(zip_with(...))` HOF folds in
  * `operators.Similarity` (guide §1.2 step 2: those folds walk an
  * interpreted expression tree and box a p/k-field struct PER ELEMENT).
  * Each is VALUE-IDENTICAL to the fold it replaces — same casts, same
  * double accumulation order (per output lane, ascending element order) —
  * pinned by VecParitySpec; the DuckDB oracles are untouched.
  */
object VecOpsKernel {

  /** int8 quantization audit [scale, sum_code, n_saturated] — semantics of
    * the builtin chain in `Similarity.quantizeInt8Audit` including its
    * null/empty edge cases: scale = max |x| over non-null elements (null
    * when none); codes null where the element is null (making sum_code
    * null, as `0L + null` did); scale = 0 short-circuits to all-zero
    * codes; round is Spark's HALF_UP BigDecimal rounding for doubles. */
  def int8Audit(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var scale: java.lang.Double = null
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = Math.abs(v.getFloat(i).toDouble)
        if (scale == null || a > scale.doubleValue()) scale = a
      }
      i += 1
    }
    var sum: java.lang.Long = 0L
    var nSat = 0L
    if (scale == null) {
      // all-null or empty: every code is null → sum null after the first
      // element (aggregate's 0L + null); empty array keeps the init 0L
      if (n > 0) sum = null
    } else if (scale.doubleValue() == 0d) {
      // all-zero vector: codes are literal 0 for every element
      ()
    } else {
      val s = scale.doubleValue()
      i = 0
      while (i < n) {
        if (v.isNullAt(i)) { sum = null; i = n }
        else {
          // Spark Round(double) = BigDecimal HALF_UP, then int cast
          val c = java.math.BigDecimal.valueOf(v.getFloat(i).toDouble / s * 127d)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toInt
          if (sum != null) sum = sum.longValue() + c
          if (Math.abs(c) == 127) nSat += 1
          i += 1
        }
      }
      if (sum == null) {
        // a null element also nulls the running fold — recompute saturation
        // over non-null prefix semantics is NOT needed: filter() skips null
        // elements wherever they sit, so count all non-null saturated codes
        nSat = 0L
        i = 0
        while (i < n) {
          if (!v.isNullAt(i)) {
            val c = java.math.BigDecimal.valueOf(v.getFloat(i).toDouble / s * 127d)
              .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toInt
            if (Math.abs(c) == 127) nSat += 1
          }
          i += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](
      if (scale == null) null else scale.doubleValue(),
      if (sum == null) null else sum.longValue(),
      nSat))
  }

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def signs(p: Int, dims: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((p, dims), _ =>
      Array.tabulate(p, dims)((pl, d) => graft.operators.Similarity.planeSign(pl, d)))

  /** All `p` hyperplane dots of a `dims`-length embedding — the
    * `planeDots` fold: acc_pl += (double)x_d · sign(pl,d) in ascending dim
    * order per plane (bit-exact). Null when the length mismatches `dims`
    * or any element is null (the fold's zip_with padding null-poisons
    * every lane in those cases). */
  def planeDots(v: ArrayData, p: Int, dims: Int): ArrayData = {
    if (v.numElements() != dims) return null
    val sg = signs(p, dims)
    val acc = new Array[Double](p)
    var d = 0
    while (d < dims) {
      if (v.isNullAt(d)) return null
      val x = v.getFloat(d).toDouble
      var pl = 0
      while (pl < p) { acc(pl) += x * sg(pl)(d); pl += 1 }
      d += 1
    }
    new GenericArrayData(acc)
  }

  /** All k squared centroid distances — the `clusterDistances` fold:
    * t = (double)x_d − c_k,d; acc_k += t·t in ascending dim order
    * (bit-exact). Null on length mismatch or null element, as above. */
  def clusterDists(v: ArrayData, cents: Array[Array[Double]]): ArrayData = {
    val k = cents.length
    val dims = cents(0).length
    if (v.numElements() != dims) return null
    val acc = new Array[Double](k)
    var d = 0
    while (d < dims) {
      if (v.isNullAt(d)) return null
      val x = v.getFloat(d).toDouble
      var c = 0
      while (c < k) { val t = x - cents(c)(d); acc(c) += t * t; c += 1 }
      d += 1
    }
    new GenericArrayData(acc)
  }
}

object VecOps {
  def int8Audit(c: Column): Column = Kernels.column("int8_audit", c)
  def planeDots(c: Column, p: Int, dims: Int): Column =
    Kernels.column("plane_dots", c, Kernels.positive("p", p), Kernels.positive("dims", dims))
  /** The centroids are copied into the plan, so the caller may reuse them. */
  def clusterDists(c: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "clusterDists needs at least one centroid")
    Kernels.column("cluster_dists", c, Kernels.constant(centroids.map(_.clone)))
  }
}
