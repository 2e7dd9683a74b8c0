package graft.sources

import graft.SparkTestBase
import graft.pipeline.Fixtures
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A parquet input's schema is read from one footer on the driver, not
  * inferred by a job; it must be the schema Spark's inference gives. */
class IoSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def assertInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val got = Io().load(spark, path).schema
    assert(got == inferred, s"$path: footer schema $got != inferred $inferred")
  }

  test("footer schema equals Spark's inference: Spark-written, partitioned and single-file inputs") {
    val tmp = Files.createTempDirectory("graft-footer").toString
    val docs = Fixtures.testDocsDS(spark).toDF()
    docs.repartition(3).write.parquet(s"$tmp/plain")
    assertInferred(s"$tmp/plain")
    docs.withColumn("part", pmod(hash(col("doc_id")), lit(3)))
      .write.partitionBy("part").parquet(s"$tmp/parted")
    assertInferred(s"$tmp/parted")
    docs.coalesce(1).write.parquet(s"$tmp/single")
    val file = new java.io.File(s"$tmp/single").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assertInferred(file.getPath)
    // written without Spark's schema in the footer (as pyarrow or duckdb
    // write): the parquet types are converted as inference converts them
    val plain = s"$tmp/plain_writer.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(plain))
      .withType(org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message doc { optional binary doc_id (UTF8); required int64 n; optional int32 k; }"))
      .build()
    w.close()
    // read with, as `load` reads: a file source makes every field nullable
    assert(spark.read.schema(Io().footerSchema(spark, plain)).parquet(plain).schema ==
      spark.read.parquet(plain).schema)
  }

  test("an input directory without data files fails with a clear error") {
    val dir = Files.createTempDirectory("graft-empty")
    Files.createFile(dir.resolve("_SUCCESS"))
    val e = intercept[IllegalArgumentException](Io().readDocs(spark, dir.toString))
    assert(e.getMessage.contains("no parquet files under"), e.getMessage)
  }
}
