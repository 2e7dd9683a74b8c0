package graft

import graft.pipeline.{Extract, ExtractConf}
import graft.sources.Io
import org.apache.spark.sql.SparkSession

/** spark-submit entry point (north rule: "resumable from checkpoint ...
  * run via spark-submit on a multi-executor cluster"):
  *
  * {{{
  * spark-submit --class graft.Main \
  *   --conf spark.sql.extensions=graft.GraftExtensions \
  *   quanaraocrspark.jar \
  *   --in <path|iceberg-table> --out <path|iceberg-table> \
  *   [--format parquet|iceberg] [--level low|medium|high|ultra] \
  *   [--partitions N] [--run-id id]
  * }}}
  *
  * Rerunning with the same --out is an idempotent resume: committed doc_ids
  * are anti-joined away and only the remainder is processed (lineage rows
  * under `<out>_lineage/run_id=<id>` prove which work each run did).
  *
  * Media: `Extract.run` gets no store here, so pdf/image `media_ref`s
  * resolve through the fixture `DeterministicMediaStore`, which accepts only
  * `mem://doc%08d/<offset>` refs and fails the run naming any other ref.
  * A real corpus needs a production `MediaStore` (open in ROADMAP.md).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val in = opts.getOrElse("--in", sys.error("--in required"))
    val out = opts.getOrElse("--out", sys.error("--out required"))
    val format = opts.getOrElse("--format", "parquet")
    val conf = ExtractConf(
      level = opts.getOrElse("--level", "medium"),
      numPartitions = opts.getOrElse("--partitions", "128").toInt,
      runId = opts.getOrElse("--run-id", s"run-${java.util.UUID.randomUUID}"))

    // on a cluster, spark-submit supplies master/deploy config; local runs
    // fall back to all cores
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val summary = Extract.run(spark, Io(format).readDocs(spark, in), out, conf)
    println(s"run=${summary.runId} docs=${summary.docsProcessed} " +
      s"spans=${summary.spanCount} bytes=${summary.byteCount} " +
      s"partitions=${summary.lineage.size}")
    spark.stop()
  }
}
