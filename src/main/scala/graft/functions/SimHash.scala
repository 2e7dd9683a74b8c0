package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash document fingerprint as a NATIVE Catalyst expression with
  * whole-stage codegen (`doGenCode` emits a static call — no UDF boxing, no
  * CodegenFallback). Near-duplicate texts differ in few bits; pairs are
  * found by comparing fingerprints within LSH bands of the 64 bits.
  *
  * Algorithm (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002; as popularized for web dedup by Manku et al.,
  * WWW 2007): hash each whitespace token to 64 bits; for each bit position
  * sum +1/-1 votes across tokens; fingerprint bit = 1 iff the vote is
  * positive.
  */
object SimHash {

  /** Static kernel the generated code calls. Deterministic (Hash64/fmix). */
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

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires STRING, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    SimHash.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object functions {
  /** Column API for the native expressions (Spark 4: Column ↔ Expression via
    * the classic ExpressionUtils bridge). */
  def simhash64(c: Column): Column =
    bridge.column(SimHash64(bridge.expression(c)))

  /** Kernel sanitizer as a codegen'd column (TextClean.clean). */
  def qclean(c: Column): Column =
    bridge.column(QClean(bridge.expression(c)))

  /** Kernel language detector as a codegen'd column (LangDetect.detect) —
    * ONE static call per row. The pure-builtin column form (the test
    * helper `ColumnarParitySpec.detectLangCol`) expands each of the 90
    * keyword scores into `greatest`, the zero-sum, and every WHEN, blowing
    * the 64 KB codegen method limit (round-1 bench: 6.5 s + interpreted
    * fallback vs < 1 s here); its shape remains the template for the
    * DuckDB oracle SQL only (`TextOps.detectLangSql`). */
  def langDetect(c: Column): Column =
    bridge.column(LangDetectExpr(bridge.expression(c)))

  /** difflib SequenceMatcher.ratio as a codegen'd column. */
  def simRatio(a: Column, b: Column): Column =
    bridge.column(SimRatio(bridge.expression(a), bridge.expression(b)))

  /** array<float> dot product as a codegen'd primitive loop (DotF). */
  def dotf(a: Column, b: Column): Column =
    bridge.column(DotF(bridge.expression(a), bridge.expression(b)))

  /** one-pass MinHash signature array (prod-speed variant). */
  def minhashSigs(c: Column, numPerms: Int): Column =
    bridge.column(MinHashSigs(bridge.expression(c), numPerms))

  /** sorted distinct shingle-hash set (prod-speed Jaccard verify). */
  def shingleSet(c: Column): Column =
    bridge.column(ShingleSet(bridge.expression(c)))

  /** |A∩B| of two sorted long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    bridge.column(SortedIntersectCount(bridge.expression(a), bridge.expression(b)))

  /** ORACLE-EXACT md5-lane MinHash signatures in one fused pass (null for
    * < 3 words) — value-identical to the builtin HOF construction it
    * replaces (Md5ParitySpec). */
  def md5MinhashLanes(c: Column, numPerms: Int): Column =
    bridge.column(Md5MinHashLanes(bridge.expression(c), numPerms))

  /** ORACLE-EXACT md5 token-window hashes in one fused pass (empty array
    * for < w words; null for null input). */
  def md5WindowHashes(c: Column, windowWords: Int): Column =
    bridge.column(Md5WindowHashes(bridge.expression(c), windowWords))

  /** ORACLE-EXACT md5 SimHash bit string in one fused pass. */
  def md5SimhashBits(c: Column): Column =
    bridge.column(Md5SimHashBits(bridge.expression(c)))

  /** Sorted distinct shingle strings (set-equal to
    * array_distinct(shingles(text)); empty array for < 3 words). */
  def shingleStrs(c: Column): Column =
    bridge.column(ShingleStrs(bridge.expression(c)))

  /** Case-preserving content lines wrapped at `lineWords` words per line. */
  def wrapLines(c: Column, lineWords: Int): Column =
    bridge.column(WrapLines(bridge.expression(c), lineWords))
}
