package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import java.util.UUID
import scala.reflect.runtime.universe.TypeTag

/** Commits a few rows that are already on the driver (lineage, the
  * rejected side output) as one parquet file, without a Spark job. The
  * schema is the rows' encoder schema, so a new field of `T` needs no
  * change here, and the footer carries it as Spark's own writer does; the
  * file reads back as a Spark-written one. The file is written hidden
  * (`_` prefix, which readers skip) and renamed to a unique
  * `part-<uuid>.snappy.parquet` once it is complete. Only flat rows of
  * string, int and long fields are supported — what these outputs hold.
  */
object DriverParquet {

  /** Adds one file holding `rows` to `dir`; no rows, no file. */
  def append[T <: Product : TypeTag](spark: SparkSession, dir: String, rows: Seq[T]): Unit =
    if (rows.nonEmpty) {
      val schema = Encoders.product[T].schema
      val parquetSchema = new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema)
      val hadoopConf = spark.sessionState.newHadoopConf()
      val id = UUID.randomUUID()
      val tmp = new Path(dir, s"_tmp-$id.parquet")
      val writer = ExampleParquetWriter.builder(tmp)
        .withConf(hadoopConf)
        .withType(parquetSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withExtraMetaData(java.util.Map.of(ParquetReadSupport.SPARK_METADATA_KEY, schema.json))
        .build()
      try rows.foreach { r =>
        val g = new SimpleGroup(parquetSchema)
        schema.fields.iterator.zip(r.productIterator).zipWithIndex.foreach {
          case ((_, null), _) =>
          case ((f, v), i) => f.dataType match {
            case StringType => g.add(i, v.asInstanceOf[String])
            case IntegerType => g.add(i, v.asInstanceOf[Int])
            case LongType => g.add(i, v.asInstanceOf[Long])
            case t => throw new IllegalArgumentException(
              s"driver parquet write: unsupported field ${f.name}: ${t.simpleString}")
          }
        }
        writer.write(g)
      } finally writer.close()
      val fs = tmp.getFileSystem(hadoopConf)
      val dest = new Path(dir, s"part-$id.snappy.parquet")
      if (!fs.rename(tmp, dest)) throw new java.io.IOException(s"could not rename $tmp to $dest")
    }

  /** Replaces `dir` with one file holding `rows`; no rows, no directory. */
  def overwrite[T <: Product : TypeTag](spark: SparkSession, dir: String, rows: Seq[T]): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    append(spark, dir, rows)
  }
}
