package graft.operators

import graft.SparkTestBase
import graft.core.{LangDetect, TextClean}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The columnar (codegen) forms must agree with the scalar kernel — the
  * kernel is the semantics authority (SURVEY.md §2.3 A6: "kernel is
  * authoritative"); the columnar forms exist for the SQL-expressible oracle
  * surface. Checked over nasty constructed strings + the fixture corpus
  * texts. */
class ColumnarParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val samples: Seq[String] = Seq(
    "",
    "   ",
    "plain ascii text",
    "Amount\tdue:\t\"628\"€  \\path\\to\\file\nlinetwo ​zero​width​ joined 中文 chars and  trailing  ",
    "el contrato de arrendamiento y la fecha",
    "the lease and the landlord with the tenant",
    "qqq zzz 12345",
    "zz contrato zz lease zz",
    "a​b céd",
    "中文 only cjk"
  ) ++ graft.pipeline.Fixtures.testDocs.flatMap(_.spans.map(_.text)).filter(_.nonEmpty)

  /** Pure-builtin column form of `LangDetect.detect`, the Spark twin of
    * `TextOps.detectLangSql`: one containment test per keyword
    * (main.py:106-139), the argmax with insertion-order tie-break
    * (main.py:154-158). CJK/Arabic/Cyrillic branches omitted: ASCII corpus.
    * Its CASE tree blows the 64 KB codegen method limit, so queries use the
    * native `lang_detect` instead. */
  private def detectLangCol(text: Column): Column = {
    val sample = lower(substring(text, 1, 1000))
    val scored = Vector("spanish", "french", "english", "german", "portuguese", "italian")
      .map(l => l -> LangDetect.keywords(l)
        .map(kw => when(sample.contains(kw), 1).otherwise(0))
        .reduce(_ + _))
    val maxScore = greatest(scored.map(_._2): _*)
    val zero = scored.map(_._2).reduce(_ + _) === 0
    // Nested whens with the FIRST language outermost → first maximal wins,
    // replicating Python max() insertion-order tie-break (main.py:154).
    val firstMax = scored.reverse.foldLeft(lit("spanish")) { case (acc, (l, s)) =>
      when(s === maxScore, lit(l)).otherwise(acc)
    }
    when(zero, lit("spanish")).otherwise(firstMax)
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("cleanCol == TextClean.clean on BMP inputs") {
    import spark.implicits._
    val df = samples.toDF("t")
    val got = df.select(TextOps.cleanCol(col("t"))).as[String].collect()
    val exp = samples.map(TextClean.clean)
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"mismatch on sample $i: ${samples(i).take(60)}")
    }
  }

  test("detectLangCol == LangDetect.detect on ASCII inputs") {
    import spark.implicits._
    // columnar form omits the CJK/Arabic/Cyrillic set-10 branches (ASCII
    // corpus); compare on cleaned (ASCII) forms like the pipeline does
    val ascii = samples.map(TextClean.clean)
    val got = ascii.toDF("t")
      .select(detectLangCol(col("t"))).as[String].collect()
    val exp = ascii.map(LangDetect.detect)
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"lang mismatch on '${ascii(i).take(60)}': $g vs $e")
    }
  }

  test("simhash64 native expression: equal texts equal, near texts near") {
    import spark.implicits._
    import graft.functions.functions.simhash64
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "completely different words entirely unrelated content").toDF("t")
    val hs = df.select(simhash64(col("t"))).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hamming(hs(0), hs(2)) <= 16)
    assert(hamming(hs(0), hs(3)) > 16)
  }

  test("simhash64 survives whole-stage codegen (no fallback)") {
    import graft.functions.functions.simhash64
    import spark.implicits._
    // NB: over a literal local Seq, Catalyst CONSTANT-FOLDS the expression at
    // plan time (LocalTableScan of precomputed values) — itself proof eval
    // works. Codegen needs a non-foldable source: read parquet.
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(simhash64(col("text")).as("h"))
    assert(df.as[Long].collect().nonEmpty)
    // the `*(n)` prefix in the compact plan string marks a WholeStageCodegen
    // stage; the Project computing simhash64 must carry it.
    val plan = df.queryExecution.executedPlan.toString
    val projLine = plan.linesIterator.find(_.contains("simhash64")).getOrElse("")
    assert(projLine.trim.startsWith("*("), s"simhash64 outside codegen: $plan")
  }
}
