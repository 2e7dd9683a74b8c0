package graft.functions

import graft.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, substring, when}
import org.scalatest.funsuite.AnyFunSuite

/** Every native function through both of Spark's evaluation paths. The
  * interpreted one (`StaticInvoke.eval`) finds its forwarder by reflection
  * on the name, so a misspelt or mistyped forwarder fails only when a plan
  * runs; generated code calls it directly. Both must return the same rows,
  * in the DataFrame form and, for the eight registered ones, in SQL. */
class NativeFunctionsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    // a new session with the extensions applied (see ExtensionsSpec)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-native-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Rows of `df` with whole-stage codegen and no fallback, or with every
    * expression interpreted. */
  private def rows(df: => DataFrame, codegen: Boolean): Seq[Row] = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.collect().toSeq
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  // every 7th input null, from the data rather than a literal Catalyst
  // would fold at plan time
  private def docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"),
    when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("text")).as("t"))
  private def vecs = spark.read.parquet(s"$sf/embeddings.parquet").select(col("vec_id"),
    when(col("vec_id") % 7 === 0, lit(null)).otherwise(col("embedding")).as("e"), col("embedding"))

  private def textCalls(t: Column): Seq[Column] = Seq(
    // the seven text functions registered in SQL, in sqlText's order
    // qclean and sim_ratio have no Column factory (no main code calls them
    // outside SQL), so they are built the way the factories build theirs
    Kernels.column("qclean", t), functions.langDetect(t), functions.simhash64(t),
    Kernels.column("sim_ratio", t, Kernels.column("qclean", t)), functions.minhashSigs(t, 8),
    functions.shingleSet(t),
    functions.sortedIntersectCount(functions.shingleSet(t),
      functions.shingleSet(substring(t, 1, 150))),
    functions.md5MinhashLanes(t, 8), functions.md5WindowHashes(t, 8),
    functions.md5SimhashBits(t), functions.shingleStrs(t), functions.wrapLines(t, 8),
    TextStats.qualityCounts(t), TextStats.tokenCount(t), TextStats.repetitionCounts(t))

  private val sqlText =
    """SELECT doc_id, qclean(t), lang_detect(t), simhash64(t), sim_ratio(t, qclean(t)),
      |  minhash_sigs(t, 8), shingle_set(t),
      |  sorted_intersect_count(shingle_set(t), shingle_set(substring(t, 1, 150)))
      |FROM nf_docs ORDER BY doc_id""".stripMargin

  test("all 19 native functions: generated code and interpreted eval return the same rows") {
    val cents = spark.read.parquet(s"$sf/embeddings.parquet").orderBy("vec_id")
      .select("embedding").head(3).map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def dfText = docs.select(col("doc_id") +: textCalls(col("t")).zipWithIndex
      .map { case (c, i) => c.as(s"f$i") }: _*).orderBy("doc_id")
    def dfVec = vecs.select(col("vec_id"), functions.dotf(col("e"), col("embedding")).as("d"),
      VecOps.int8Audit(col("e")).as("a"), VecOps.planeDots(col("e"), 8, 64).as("p"),
      VecOps.clusterDists(col("e"), cents).as("c")).orderBy("vec_id")
    docs.createOrReplaceTempView("nf_docs")
    vecs.createOrReplaceTempView("nf_vecs")
    def sqlVec = spark.sql("SELECT vec_id, dot_f(e, embedding) FROM nf_vecs ORDER BY vec_id")

    val byForm = Seq[(String, () => DataFrame)]("DataFrame text" -> (() => dfText),
      "DataFrame vector" -> (() => dfVec), "SQL text" -> (() => spark.sql(sqlText)),
      "SQL vector" -> (() => sqlVec)).map { case (form, df) =>
      val generated = rows(df(), codegen = true)
      val interpreted = rows(df(), codegen = false)
      assert(generated.length == 500, form)
      assert(generated == interpreted, s"$form: generated code and interpreted eval differ")
      form -> generated
    }.toMap
    // every function saw null input (giving null) and non-null input
    val text = byForm("DataFrame text")
    assert((1 to 15).forall(i => text.exists(_.isNullAt(i)) && text.exists(!_.isNullAt(i))))
    // SQL and the Column API build the same calls
    assert(byForm("SQL text") == text.map(r => Row(r.toSeq.take(8): _*)))
    assert(byForm("SQL vector") == byForm("DataFrame vector").map(r => Row(r.toSeq.take(2): _*)))
  }

  test("Column factories reject internal constants out of range when they are called") {
    val t = col("t")
    Seq[() => Column](() => functions.minhashSigs(t, 0), () => functions.md5MinhashLanes(t, 0),
      () => functions.md5WindowHashes(t, 0), () => functions.wrapLines(t, -1),
      () => VecOps.planeDots(t, 0, 64), () => VecOps.planeDots(t, 8, 0),
      () => VecOps.clusterDists(t, Array.empty)).foreach { f =>
      intercept[IllegalArgumentException](f())
    }
  }
}
