package graft

import graft.functions.Kernels
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types._

/** SparkSessionExtensions entry point — registers the engine's native
  * functions (`graft.functions.Kernels`) as SQL functions so any session
  * (including plain `spark-submit --conf
  * spark.sql.extensions=graft.GraftExtensions` or a Thrift/Connect gateway)
  * can call them from SQL:
  *
  * {{{
  *   SELECT doc_id, qclean(text), lang_detect(text), simhash64(text)
  *   FROM documents
  *   WHERE sim_ratio(a, b) > 0.9
  * }}}
  *
  * Arguments are checked here, at analysis, against exact types (Spark's
  * implicit casts would turn `simhash64(42)` into the hash of "42"); a
  * mismatch raises an `AnalysisException` naming the call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit =
    sqlFunctions.foreach { case (name, params) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.Kernels", name),
        (args: Seq[Expression]) => build(name, params, args)))
    }
}

object GraftExtensions {
  private val Str = Seq(StringType)
  // qclean, lang_detect and sim_ratio never had a type check: a NULL
  // argument gave NULL, and a non-string failed at run time
  private val StrOrNull = Seq(StringType, NullType)
  private val Floats = Seq(ArrayType(FloatType))
  private val Longs = Seq(ArrayType(LongType))

  /** Each SQL function and the accepted types of its parameters; array
    * element nullability is not checked. */
  private val sqlFunctions: Seq[(String, Seq[Seq[DataType]])] = Seq(
    "qclean" -> Seq(StrOrNull), "lang_detect" -> Seq(StrOrNull),
    "sim_ratio" -> Seq(StrOrNull, StrOrNull), "simhash64" -> Seq(Str),
    "dot_f" -> Seq(Floats, Floats), "minhash_sigs" -> Seq(Str, Seq(IntegerType)),
    "shingle_set" -> Seq(Str), "sorted_intersect_count" -> Seq(Longs, Longs))

  private def build(name: String, params: Seq[Seq[DataType]], args: Seq[Expression]): Expression = {
    val call = s""""$name(${args.map(_.sql).mkString(", ")})""""
    if (args.length != params.length)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> params.length.toString,
        "actualNum" -> args.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
    val checked = (if (name == "minhash_sigs") Seq(args(0), numPerms(call, args(1))) else args)
      .zip(params).zipWithIndex.map { case ((a, ok), i) =>
        if (!ok.exists(accepts(_, a.dataType)))
          throw new AnalysisException("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
            "sqlExpr" -> call, "paramIndex" -> Seq("first", "second")(i),
            "requiredType" -> ok.map(t => s""""${t.sql}"""").mkString(" or "),
            "inputSql" -> s""""${a.sql}"""", "inputType" -> s""""${a.dataType.sql}""""))
        if (a.dataType == NullType) Cast(a, StringType) else a
      }
    Kernels.invoke(name, checked: _*)
  }

  private def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => w == g
    case _ => want == got
  }

  /** `minhash_sigs`' permutation count as an INT literal: a foldable
    * integer of at least 1. A clean analysis error beats the opaque
    * ClassCastException a bare eval().asInstanceOf would throw on a column
    * reference / BIGINT / string argument. */
  private def numPerms(call: String, arg: Expression): Literal = {
    def invalid = new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER",
      Map("parameter" -> "numPerms", "functionName" -> "minhash_sigs", "invalidValue" -> arg.sql))
    // the builder runs BEFORE ConstantFolding, so `2+2` or `CAST(4 AS INT)`
    // arrive as foldable non-Literals — evaluate them rather than rejecting
    // working SQL; eval() of a foldable can itself throw under ANSI (e.g.
    // CAST('abc' AS INT)) — keep the clean analysis error
    val n = if (!arg.foldable) throw invalid
      else (try arg.eval() catch { case _: Exception => null }) match {
        case v: Int if arg.dataType == IntegerType => v
        case v: Short => v.toInt
        case v: Byte => v.toInt
        case _ => throw invalid
      }
    if (n < 1) throw new AnalysisException("DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", Map(
      "sqlExpr" -> call, "exprName" -> "numPerms", "valueRange" -> "[1, 2147483647]",
      "currentValue" -> n.toString))
    Literal(n)
  }
}
