package graft.functions

import graft.core.{DiffLib, LangDetect, TextClean}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The native functions. Each is Spark's `StaticInvoke` of one forwarder
  * below: the generated code is one static call per row into the kernel
  * (inside whole-stage codegen, no UDF boxing), and a null argument gives a
  * null result without a call. A forwarder is named after its function's
  * SQL name, which the plan prints, e.g.
  * `static_invoke(graft.functions.Kernels.simhash64(text#1))`; an unaliased
  * column is named the same way, so callers alias them.
  *
  * The native forms carry the EXACT kernel semantics (incl. astral-char and
  * CJK-branch behavior the regex-chain forms in `operators.TextOps`
  * approximate only for BMP/ASCII input).
  */
object Kernels {
  def qclean(s: UTF8String): UTF8String = UTF8String.fromString(TextClean.clean(s.toString))
  def lang_detect(s: UTF8String): UTF8String = UTF8String.fromString(LangDetect.detect(s.toString))
  def sim_ratio(a: UTF8String, b: UTF8String): Double = DiffLib.ratio(a.toString, b.toString)
  def simhash64(s: UTF8String): Long = SimHash.compute(s)
  def dot_f(a: ArrayData, b: ArrayData): java.lang.Double = DotKernel.dot(a, b)
  def minhash_sigs(s: UTF8String, numPerms: Int): ArrayData = MinHashKernel.sigs(s, numPerms)
  def shingle_set(s: UTF8String): ArrayData = MinHashKernel.shingleSet(s)
  def sorted_intersect_count(a: ArrayData, b: ArrayData): Long =
    MinHashKernel.sortedIntersectCount(a, b)
  def md5_minhash_lanes(s: UTF8String, numPerms: Int): ArrayData =
    Md5TextKernel.minhashLanes(s, numPerms)
  def md5_window_hashes(s: UTF8String, w: Int): ArrayData = Md5TextKernel.windowHashes(s, w)
  def md5_simhash_bits(s: UTF8String): UTF8String = Md5TextKernel.simhashMd5Bits(s)
  def shingle_strs(s: UTF8String): ArrayData = Md5TextKernel.shingleStrs(s)
  def wrap_lines(s: UTF8String, lineWords: Int): ArrayData = Md5TextKernel.wrapLines(s, lineWords)
  def quality_counts(s: UTF8String): ArrayData = TextStatsKernel.qualityCounts(s)
  def token_count(s: UTF8String): Long = TextStatsKernel.tokenCount(s)
  def repetition_counts(s: UTF8String): ArrayData = TextStatsKernel.repetitionCounts(s)
  def int8_audit(v: ArrayData): InternalRow = VecOpsKernel.int8Audit(v)
  def plane_dots(v: ArrayData, p: Int, dims: Int): ArrayData = VecOpsKernel.planeDots(v, p, dims)
  def cluster_dists(v: ArrayData, cents: Array[Array[Double]]): ArrayData =
    VecOpsKernel.clusterDists(v, cents)

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Audit = StructType(Seq(StructField("scale", DoubleType),
    StructField("sum_code", LongType), StructField("n_saturated", LongType, nullable = false)))

  /** Each forwarder's result type, and whether it can return null for
    * non-null arguments. */
  private val results: Map[String, (DataType, Boolean)] = Map(
    "qclean" -> (StringType, false), "lang_detect" -> (StringType, false),
    "sim_ratio" -> (DoubleType, false), "simhash64" -> (LongType, false),
    "dot_f" -> (DoubleType, true), "minhash_sigs" -> (Longs, true),
    "shingle_set" -> (Longs, true), "sorted_intersect_count" -> (LongType, false),
    "md5_minhash_lanes" -> (Strings, true), "md5_window_hashes" -> (Strings, false),
    "md5_simhash_bits" -> (StringType, false), "shingle_strs" -> (Strings, false),
    "wrap_lines" -> (Strings, false), "quality_counts" -> (Longs, false),
    "token_count" -> (LongType, false), "repetition_counts" -> (Longs, false),
    "int8_audit" -> (Audit, false), "plane_dots" -> (Doubles, true),
    "cluster_dists" -> (Doubles, true))

  /** The forwarder `name` applied to `args`; the argument types must match
    * its parameters (the SQL registrations check them first). */
  private[graft] def invoke(name: String, args: Expression*): Expression = {
    val (dataType, nullable) = results(name)
    StaticInvoke(getClass, dataType, name, args, returnNullable = nullable)
  }

  private[functions] def column(name: String, args: Column*): Column =
    bridge.column(invoke(name, args.map(bridge.expression): _*))

  private[functions] def positive(name: String, n: Int): Column = {
    require(n >= 1, s"$name must be >= 1, got $n")
    lit(n)
  }

  /** A driver-side constant the kernel reads as a Java object. */
  private[functions] def constant(v: AnyRef): Column = bridge.column(Literal.fromObject(v))
}

/** Column API for the native functions that main code calls; `qclean` and
  * `sim_ratio` are SQL-only. */
object functions {
  def simhash64(c: Column): Column = Kernels.column("simhash64", c)

  /** Kernel language detector (LangDetect.detect) — ONE static call per
    * row. The pure-builtin column form (the test helper
    * `ColumnarParitySpec.detectLangCol`) expands each of the 90 keyword
    * scores into `greatest`, the zero-sum, and every WHEN, blowing the
    * 64 KB codegen method limit (round-1 bench: 6.5 s + interpreted
    * fallback vs < 1 s here); its shape remains the template for the
    * DuckDB oracle SQL only (`TextOps.detectLangSql`). */
  def langDetect(c: Column): Column = Kernels.column("lang_detect", c)

  /** array<float> dot product as a primitive loop (DotKernel). */
  def dotf(a: Column, b: Column): Column = Kernels.column("dot_f", a, b)

  /** one-pass MinHash signature array (prod-speed variant). */
  def minhashSigs(c: Column, numPerms: Int): Column =
    Kernels.column("minhash_sigs", c, Kernels.positive("numPerms", numPerms))

  /** sorted distinct shingle-hash set (prod-speed Jaccard verify). */
  def shingleSet(c: Column): Column = Kernels.column("shingle_set", c)

  /** |A∩B| of two sorted long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Kernels.column("sorted_intersect_count", a, b)

  /** ORACLE-EXACT md5-lane MinHash signatures in one fused pass (null for
    * < 3 words) — value-identical to the builtin HOF construction it
    * replaces (Md5ParitySpec). */
  def md5MinhashLanes(c: Column, numPerms: Int): Column =
    Kernels.column("md5_minhash_lanes", c, Kernels.positive("numPerms", numPerms))

  /** ORACLE-EXACT md5 token-window hashes in one fused pass (empty array
    * for < w words; null for null input). */
  def md5WindowHashes(c: Column, windowWords: Int): Column =
    Kernels.column("md5_window_hashes", c, Kernels.positive("windowWords", windowWords))

  /** ORACLE-EXACT md5 SimHash bit string in one fused pass. */
  def md5SimhashBits(c: Column): Column = Kernels.column("md5_simhash_bits", c)

  /** Sorted distinct shingle strings (set-equal to
    * array_distinct(shingles(text)); empty array for < 3 words). */
  def shingleStrs(c: Column): Column = Kernels.column("shingle_strs", c)

  /** Case-preserving content lines wrapped at `lineWords` words per line
    * (null for null input). */
  def wrapLines(c: Column, lineWords: Int): Column =
    Kernels.column("wrap_lines", c, Kernels.positive("lineWords", lineWords))
}
