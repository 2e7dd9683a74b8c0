package graft.sources

import graft.model.{Doc, Schemas}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructType}

/** Source/sink boundary (SURVEY.md §2.1 S1/S7). Sandbox storage is parquet;
  * production is an Iceberg table — SAME code path behind a format switch,
  * so the pipeline never branches on storage:
  *
  *  - prod:   `Io(format = "iceberg").readDocs(spark, "catalog.db.docs")`
  *            (snapshot commit = the atomic checkpoint the north rule
  *            requires; retention via `expire_snapshots` replaces the
  *            reference's 10-result LRU, main.py:47-48,162-172)
  *  - sandbox: `Io().readDocs(spark, "/path/docs.parquet")`
  *
  * The input schema is pinned to `input_hint`
  * (`doc_id string, spans array<struct<kind,text,media_ref,offset>>`) and
  * validated on read — schema drift fails fast at the boundary, not deep in
  * the kernel.
  *
  * A parquet input starts no Spark job: the driver reads the footer of the
  * one file Spark's schema inference would read (`_common_metadata`, else
  * `_metadata`, else the first data file in path order), converts it as
  * inference does, validates it and reads with it as the user schema.
  * Other formats infer their schema through `DataFrameReader.load`.
  */
final case class Io(format: String = "parquet") {

  def readDocs(spark: SparkSession, location: String): Dataset[Doc] = {
    import spark.implicits._
    load(spark, location).select("doc_id", "spans").as[Doc]
  }

  /** The validated input, with every column of its schema. */
  private[graft] def load(spark: SparkSession, location: String): DataFrame =
    if (format == "parquet" && !spark.sessionState.conf.isParquetSchemaMergingEnabled) {
      val schema = footerSchema(spark, location)
      validate(schema)
      spark.read.schema(schema).parquet(location)
    } else {
      val df = spark.read.format(format).load(location)
      validate(df.schema)
      df
    }

  /** The schema Spark's parquet inference reads for `location`, from the
    * same file, without a job. The listing is Spark's own (hidden files,
    * partition directories); the user schema given for it is never read. */
  private[sources] def footerSchema(spark: SparkSession, location: String): StructType = {
    val files = spark.read.schema(Schemas.doc).parquet(location).inputFiles
      .map(f => new Path(new java.net.URI(f))).sortBy(_.toString)
    def named(n: String) = files.find(_.getName == n)
    val file = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => f.getName != "_metadata" && f.getName != "_common_metadata"))
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet files under $location: cannot read the input schema"))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hadoopConf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def validate(schema: StructType): Unit = {
    val fields = schema.fieldNames.toSet
    require(fields.contains("doc_id") && fields.contains("spans"),
      s"input must have (doc_id, spans); got ${schema.simpleString}")
    // `.as[Doc]` would cast any other type to a string silently, and
    // lineage's doc_id_min/doc_id_max assume the string order
    require(schema("doc_id").dataType == StringType,
      s"doc_id must be a string; got ${schema("doc_id").dataType.simpleString}")
    val spanType = schema("spans").dataType.simpleString
    val want = Schemas.doc("spans").dataType.simpleString
    require(spanType == want, s"spans schema mismatch: $spanType != $want")
  }
}
