package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `entry` is the flagship extraction pipeline on the deterministic fixture
  * corpus; `queries`/`oracleSql` expose the SQL-expressible operators over
  * the driver's parquet tables for the DuckDB differential check.
  */
object SparkEntry {

  /** Flagship: full extraction pipeline (boilerplate strip, XY-cut layout,
    * multi-pass OCR consensus, skew salting) over the 50-doc fixture corpus.
    * Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.pipeline.{Extract, ExtractConf, Fixtures}
    Extract.extractDS(spark, Fixtures.testDocsDS(spark),
      conf = ExtractConf(level = "medium", numPartitions = 8)).toDF()
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ Queries.scala). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Queries declared `RowsOnly` → driver
    * rows-only check; those declared `DataSql` are in
    * `Queries.oracleDynamic`. */
  def oracleSql: Map[String, String] = Queries.oracle
}
