package graft

import graft.core.{LangDetect, TextClean}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: GraftExtensions must register the native kernel
  * expressions so plain SQL sessions can use them, with EXACT kernel
  * semantics. Needs its own SparkSession (extensions are builder-time). */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // The shared test session (SparkTestBase) may already be the default —
    // getOrCreate would return it WITHOUT extensions. Clear the session
    // registry (the SparkContext itself is reused) so the builder actually
    // constructs a new session with GraftExtensions applied.
    // `spark.sql.extensions` is a STATIC conf — ignored when a SparkContext
    // already exists (spark-submit sets it at launch; the scaladoc example
    // on GraftExtensions covers that path). The programmatic
    // `withExtensions` applies to the new session regardless.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s
  }

  test("qclean / lang_detect / simhash64 / sim_ratio callable from SQL with kernel semantics") {
    val dirty = "say \"hi\"\tworld​joined  café "
    spark.sql("DROP TABLE IF EXISTS ext_docs")
    import spark.implicits._
    Seq((1L, dirty), (2L, "el contrato de la fecha y los meses"))
      .toDF("id", "t").createOrReplaceTempView("ext_docs")
    val rows = spark.sql(
      """SELECT id, qclean(t) AS c, lang_detect(t) AS l,
        |  simhash64(t) AS h, sim_ratio(t, t) AS r
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    assert(rows(0).getString(1) == TextClean.clean(dirty))
    assert(rows(0).getString(2) == LangDetect.detect(dirty))
    assert(rows(0).getLong(3) == graft.functions.SimHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(dirty)))
    assert(rows(0).getDouble(4) == 1.0)
    assert(rows(1).getString(2) == "spanish")
  }

  test("sim_ratio in SQL equals the difflib kernel on asymmetric inputs") {
    val got = spark.sql("SELECT sim_ratio('kitten', 'sitting') AS r").head().getDouble(0)
    assert(got == 0.6153846153846154)
  }

  test("minhash_sigs works with an INT literal and raises a clean analysis error otherwise") {
    val ok = spark.sql("SELECT minhash_sigs('a b c d e', 4) AS s").head().getSeq[Long](0)
    assert(ok.length == 4)
    // non-literal numPerms: clean AnalysisException naming the function,
    // not an opaque ClassCastException at plan time (round-2 advice)
    import spark.implicits._
    Seq(("a b c d", 4)).toDF("t", "n").createOrReplaceTempView("ext_mh")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sigs(t, n) FROM ext_mh").collect()
    }
    assert(e.getMessage.contains("minhash_sigs"))
    // BIGINT literal: same clean error (the eval().asInstanceOf[Int] it
    // replaces would have thrown ClassCastException)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sigs('a b c d', 4L)").collect()
    }
    assert(e2.getMessage.contains("minhash_sigs"))
    // FOLDABLE non-literal INT args are legal SQL and must keep working —
    // the builder runs before ConstantFolding, so `2+2` / `CAST(4 AS INT)`
    // arrive unfolded (round-3 review finding)
    val f1 = spark.sql("SELECT minhash_sigs('a b c d e', 2+2) AS s").head().getSeq[Long](0)
    assert(f1.length == 4)
    val f2 = spark.sql("SELECT minhash_sigs('a b c d e', CAST(4 AS INT)) AS s").head().getSeq[Long](0)
    assert(f2 == f1, "foldable forms must produce the literal form's signatures")
  }

  test("wrong argument types fail analysis with an error naming the function") {
    for (q <- Seq("simhash64(array(1))", "simhash64(42)", "dot_f(array(1d), array(2d))",
        "minhash_sigs('a b c', 0)", "sorted_intersect_count(array(1), array(2L))",
        "qclean(42)", "sim_ratio('a')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $q").collect())
      assert(e.getMessage.contains(q.takeWhile(_ != '(')), e.getMessage)
    }
    // the three functions that never checked types still take a NULL
    val nulls = spark.sql("SELECT qclean(NULL), lang_detect(NULL), sim_ratio(NULL, 'a')").head()
    assert((0 until 3).forall(nulls.isNullAt))
  }
}
