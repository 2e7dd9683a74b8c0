package graft.pipeline

import graft.SparkTestBase
import graft.media.{DeterministicMediaStore, MediaStore, PageMedia}
import graft.model.{Doc, DocOut, LineageRow, Span}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Fixture pages and page counts. The only non-zero media size estimate is
  * `HugeRef` (mega doc 2000's pdf), large enough for any size guard to
  * reject. */
object HugeMediaStore extends MediaStore {
  val HugeRef = "mem://doc00002000/0"
  override def pageCount(ref: String): Int = DeterministicMediaStore.pageCount(ref)
  override def page(ref: String, p: Int): PageMedia = DeterministicMediaStore.page(ref, p)
  override def byteEstimate(ref: String): Long = if (ref == HugeRef) 1L << 40 else 0L
}

/** North-rule resumability (SURVEY.md §5.5): run the pipeline on half the
  * corpus, then rerun over the full corpus into the same output — only the
  * missing doc_ids may be reprocessed (lineage rows prove it) and the final
  * table equals a fresh full run. A third run must process zero docs
  * (idempotent no-op). */
class ResumeSpec extends AnyFunSuite {

  test("idempotent resume: only missing doc_ids reprocessed; final table complete") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-resume").toFile.getAbsolutePath
    val out = s"$tmp/docs_extracted"

    val all: Seq[Doc] = Fixtures.testDocs
    val (firstHalf, _) = all.splitAt(all.length / 2)
    val conf1 = ExtractConf(level = "medium", numPartitions = 4, runId = "run-1")

    val s1 = Extract.run(spark, spark.createDataset(firstHalf), out, conf1)
    assert(s1.docsProcessed == firstHalf.length)

    val conf2 = conf1.copy(runId = "run-2")
    val s2 = Extract.run(spark, spark.createDataset(all), out, conf2)
    assert(s2.docsProcessed == all.length - firstHalf.length,
      s"resume must process only the missing docs, processed ${s2.docsProcessed}")
    // lineage rows prove which partitions did work in run-2
    assert(s2.lineage.forall(_.run_id == "run-2"))
    assert(s2.lineage.map(_.doc_count).sum == all.length - firstHalf.length)

    val conf3 = conf1.copy(runId = "run-3")
    val s3 = Extract.run(spark, spark.createDataset(all), out, conf3)
    assert(s3.docsProcessed == 0, "third run must be a no-op")

    // final table equals the in-memory sequential golden for every doc
    val finalRows = spark.read.parquet(out).as[graft.model.DocOut]
      .collect().map(d => d.doc_id -> d).toMap
    assert(finalRows.keySet == all.map(_.doc_id).toSet)
    all.foreach { d =>
      val seq = ExtractKernel.extractWhole(d, graft.media.DeterministicMediaStore,
        graft.media.DeterministicOcr, conf1)
      assert(finalRows(d.doc_id).spans == seq.spans, s"spans differ for ${d.doc_id}")
    }

    // lineage table persisted per run
    val lineage = spark.read.parquet(s"${out}_lineage")
    assert(lineage.count() == (s1.lineage.size + s2.lineage.size + s3.lineage.size))
  }

  test("driver-committed lineage reads back as the summary's, with Spark's schema; reruns append; empty runs write nothing") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-lineage").toFile.getAbsolutePath
    val out = s"$tmp/docs"
    val conf = ExtractConf(numPartitions = 4, runId = "lin")
    val dir = s"${out}_lineage/run_id=lin"
    val (firstHalf, _) = Fixtures.testDocs.splitAt(Fixtures.testDocs.length / 2)
    val s1 = Extract.run(spark, spark.createDataset(firstHalf), out, conf)
    val back = spark.read.parquet(dir).as[LineageRow].collect().toSeq
    assert(back.sortBy(r => (r.path, r.partition_id)) == s1.lineage)

    // the same schema as a Spark-written LineageRow dataset, both as read
    // and in the parquet footer, where nullability is kept
    spark.createDataset(s1.lineage).write.parquet(s"$tmp/spark_lineage")
    assert(spark.read.parquet(dir).schema == spark.read.parquet(s"$tmp/spark_lineage").schema)
    def footerSchema(d: String) = {
      val f = new java.io.File(d).listFiles().filter(_.getName.startsWith("part-")).head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    assert(footerSchema(dir) == footerSchema(s"$tmp/spark_lineage"))

    // a rerun of the same run id that does work appends a second file
    val s2 = Extract.run(spark, spark.createDataset(Fixtures.testDocs), out, conf)
    assert(s2.docsProcessed == Fixtures.testDocs.length - firstHalf.length)
    def dataFiles = new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith("."))
    assert(dataFiles.length == 2 && dataFiles.forall(n => n.startsWith("part-") &&
      n.endsWith(".snappy.parquet")), s"lineage files: ${dataFiles.toSeq}")
    val all = spark.read.parquet(s"${out}_lineage")
    assert(all.inputFiles.forall(f => new org.apache.hadoop.fs.Path(f).getName.startsWith("part-")),
      s"a temp file is visible: ${all.inputFiles.toSeq}")
    assert(all.count() == s1.lineage.size + s2.lineage.size)

    // a run without lineage rows commits nothing
    val empty = Extract.run(spark, spark.createDataset(Seq.empty[Doc]), out,
      conf.copy(runId = "empty"))
    assert(empty.lineage.isEmpty, s"premise: an empty input has no lineage rows: ${empty.lineage}")
    assert(!new java.io.File(s"${out}_lineage/run_id=empty").exists)
  }

  test("crash resume: committed files without _SUCCESS converge to the exact golden table") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-crash").toFile.getAbsolutePath
    val out = s"$tmp/docs_extracted"
    val all: Seq[Doc] = Fixtures.testDocs
    val conf1 = ExtractConf(level = "medium", numPartitions = 4, runId = "run-1")
    val (firstHalf, rest) = all.splitAt(all.length / 2)
    Extract.run(spark, spark.createDataset(firstHalf), out, conf1)

    // Simulate a job that DIED mid-write: some of the remaining docs'
    // output files are visible (Spark task-commit renames files whole, so
    // any visible .parquet contains only complete rows) but the job never
    // reached its _SUCCESS job-commit marker. committedIds treats visible
    // files as committed — this pins that the rerun neither duplicates the
    // crashed job's docs nor loses the rest (round-2 verdict item 6).
    val crashed = rest.take(5).map(d => ExtractKernel.extractWhole(d,
      graft.media.DeterministicMediaStore, graft.media.DeterministicOcr, conf1))
    spark.createDataset(crashed).write.mode("append").parquet(out)
    val succ = new java.io.File(out, "_SUCCESS")
    assert(succ.exists, "append should have rewritten the marker")
    assert(succ.delete(), "simulated crash: remove the job-commit marker")

    val s2 = Extract.run(spark, spark.createDataset(all), out,
      conf1.copy(runId = "run-2"))
    assert(s2.docsProcessed == all.length - firstHalf.length - 5,
      s"rerun must skip the crashed job's visible docs, processed ${s2.docsProcessed}")

    val finalRows = spark.read.parquet(out).as[graft.model.DocOut].collect()
    assert(finalRows.length == all.length, "no duplicates, no losses")
    val byId = finalRows.map(d => d.doc_id -> d).toMap
    all.foreach { d =>
      val seq = ExtractKernel.extractWhole(d, graft.media.DeterministicMediaStore,
        graft.media.DeterministicOcr, conf1)
      assert(byId(d.doc_id).spans == seq.spans, s"spans differ for ${d.doc_id}")
    }
  }

  /** doc_id → byte_est of one run's rejected partition (none written → empty). */
  private def rejectedOf(spark: SparkSession, out: String, runId: String): Map[String, Long] = {
    val dir = new java.io.File(s"${out}_rejected/run_id=$runId")
    if (!dir.isDirectory) Map.empty
    else spark.read.parquet(dir.getPath).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private val oversize = Doc("d_oversize", Seq(Span("text", "x" * 100000, "", 0)))

  test("fallback tier (megaInlineCap = 0) writes the same rows, rejects and lineage totals as the inline tier") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-tiers").toFile.getAbsolutePath
    // megas (doc 1000 salted; doc 2000 rejected by its media estimate),
    // an over-size text doc and null spans
    val docs = Fixtures.testDocs ++ Seq(oversize,
      Doc("d_null_spans", null),
      Doc("d_null_span_elem", Seq(null, Span("text", "ok text", "", 1))))
    val conf = ExtractConf(numPartitions = 4, runId = "tiers", maxDocBytes = 64 * 1024)
    def runTier(cap: Int): (Extract.Summary, Map[String, DocOut], Map[String, Long]) = {
      val out = s"$tmp/cap$cap"
      val s = Extract.run(spark, spark.createDataset(docs), out,
        conf.copy(megaInlineCap = cap), HugeMediaStore)
      (s, spark.read.parquet(out).as[DocOut].collect().map(d => d.doc_id -> d).toMap,
        rejectedOf(spark, out, conf.runId))
    }
    val (inlineSum, inlineRows, inlineRejected) = runTier(ExtractConf().megaInlineCap)
    val (fallbackSum, fallbackRows, fallbackRejected) = runTier(0)

    val rejectedIds = Set(oversize.doc_id, Fixtures.docId(2000))
    assert(inlineRejected.keySet == rejectedIds)
    assert(fallbackRejected == inlineRejected)
    assert(inlineRows.keySet == docs.map(_.doc_id).toSet -- rejectedIds)
    assert(fallbackRows == inlineRows, "tiers must write identical rows")
    assert(inlineSum.lineage.exists(_.path == "salted"), "doc 1000 must take the salted path")
    def totals(s: Extract.Summary) = (s.docsProcessed, s.spanCount, s.byteCount)
    assert(totals(fallbackSum) == totals(inlineSum))
    assert(inlineSum.docsProcessed == docs.length - rejectedIds.size)
  }

  test("a failed run releases the persisted metadata pass") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val out = Files.createTempDirectory("graft-fail").toFile.getAbsolutePath + "/docs"
    // page counts work, so the pass succeeds; extraction fails
    val failing = new MediaStore {
      override def pageCount(ref: String): Int = DeterministicMediaStore.pageCount(ref)
      override def page(ref: String, p: Int): PageMedia = throw new RuntimeException("no page")
    }
    spark.catalog.clearCache()
    // cap 0 with salted megas: extraction joins against the cached pass
    intercept[Exception](Extract.run(spark, spark.createDataset(Fixtures.testDocs), out,
      ExtractConf(numPartitions = 4, megaInlineCap = 0), failing))
    assert(spark.sharedState.cacheManager.isEmpty, "the metadata pass is still cached")
  }

  test("rerun of a run_id after the over-size doc is gone leaves no rejected rows for it") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val out = Files.createTempDirectory("graft-rerun").toFile.getAbsolutePath + "/docs"
    val conf = ExtractConf(numPartitions = 4, runId = "same", maxDocBytes = 64 * 1024)
    val small = Fixtures.testDocs.take(8)
    Extract.run(spark, spark.createDataset(small :+ oversize), out, conf)
    assert(rejectedOf(spark, out, conf.runId).keySet == Set(oversize.doc_id))
    val s = Extract.run(spark, spark.createDataset(small), out, conf)
    assert(s.docsProcessed == 0)
    assert(rejectedOf(spark, out, conf.runId).isEmpty, "stale rejected rows survived the rerun")
  }
}
