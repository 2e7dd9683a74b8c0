package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Dot product of two `array<float>` columns, the native `dot_f` (Kernels):
  * a tight primitive loop over the ArrayData (`getFloat` — no per-element
  * boxing, no intermediate array). The built-in composition
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0d, +)` is semantically
  * identical but materializes a boxed intermediate array per row and
  * evaluates the lambda through interpreted HOF plumbing — measurably
  * slower on the near-dup verify stage (260k pairs × 64 dims at sf0.1).
  *
  * Parity with the HOF fold it replaces (exactly, including nulls):
  *  - equal-length, null-free arrays: accumulates
  *    `double += (double)a(i) * (double)b(i)` in element order —
  *    bit-identical (same casts, same order), so DuckDB-oracle margins
  *    are unchanged;
  *  - length mismatch (zip_with pads the shorter side with null) or any
  *    null element: result is NULL, as the fold's `acc + null` would be.
  */
object DotKernel {
  /** Boxed so null can signal the zip_with-null cases; JIT unboxes the
    * happy path. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}
