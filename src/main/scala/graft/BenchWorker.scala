package graft

import graft.pipeline.{Extract, ExtractConf}
import graft.sources.Io

/** Child JVM for one level of Bench's pair: `Extract.run` — the call `Main`
  * makes — at `local[cores]` over the pre-materialized parquet corpus,
  * into a throwaway output under `outDir`.
  *
  * Launched by `Bench` under `taskset -c 0..cores-1` so the WHOLE JVM —
  * executor threads, GC threads, JIT — is confined to the level's core
  * count, like a real N-core executor host would be.
  *
  * One untimed run over the warm corpus pays the cold JVM's JIT; the timed
  * run is the main corpus. Its rate is the docs the run reports it wrote
  * over the wall: unless that equals `numDocs`, the worker prints no rate
  * and exits 1. The output is deleted after the timed region.
  *
  * Prints exactly one line on success: `RATE <docs/sec>`.
  */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val Array(cores, warmPath, mainPath, numDocs, outDir) = args
    val spark = LocalSession(cores.toInt)
    val conf = ExtractConf(level = "medium", numPartitions = 128)
    def run(in: String, name: String): Extract.Summary =
      Extract.run(spark, Io().readDocs(spark, in), s"$outDir/$name", conf.copy(runId = name))
    val (written, secs) = try {
      run(warmPath, "warm")
      val t0 = System.nanoTime()
      val s = run(mainPath, "main")
      (s.docsProcessed, (System.nanoTime() - t0) / 1e9)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    }
    if (written != numDocs.toLong) {
      System.err.println(s"[bench] the run wrote $written of $numDocs docs")
      sys.exit(1)
    }
    println(f"RATE ${written / secs}%.1f")
    sys.exit(0)
  }
}
