package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Schema-pinned JSONL ingestion — the interchange format most
  * training-data corpora arrive in. Two rules a 100 TB ingest must follow,
  * both enforced here:
  *
  *  1. NEVER infer the schema: inference is a second full pass over the
  *     data, and a drifting input silently changes column types mid-feed.
  *     The caller pins a `StructType`; Spark's json reader then streams
  *     each line against it in one pass.
  *  2. NEVER drop bad lines silently: a corrupt line lands in a
  *     `_corrupt_record` column (PERMISSIVE mode) and is split into a
  *     quarantine output with the raw line preserved — the same
  *     keep/reject pattern as the pipeline's 10 MB size guard (the
  *     metadata pass, `Extract.tailPass`). DROPMALFORMED would make
  *     ingestion row counts unauditable.
  */
object Jsonl {

  final case class ReadResult(good: DataFrame, corrupt: DataFrame)

  /** Read JSONL at `path` against the pinned `schema`. Returns the valid
    * rows and the quarantined corrupt lines separately. The corrupt output
    * carries `raw_line` plus a `partial` struct of whatever fields DID
    * parse — useful for triage, and it keeps a non-corrupt column in the
    * scan's required schema (Spark disallows queries that reference ONLY
    * the internal corrupt-record column,
    * UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). */
  def read(spark: SparkSession, path: String, schema: StructType,
      corruptCol: String = "_corrupt_record"): ReadResult = {
    val withCorrupt = schema.add(corruptCol, StringType, nullable = true)
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
    val good = raw.filter(col(corruptCol).isNull).drop(corruptCol)
    val corrupt = raw.filter(col(corruptCol).isNotNull)
      .select(col(corruptCol).as("raw_line"),
        struct(schema.fieldNames.map(col): _*).as("partial"))
    ReadResult(good, corrupt)
  }
}
