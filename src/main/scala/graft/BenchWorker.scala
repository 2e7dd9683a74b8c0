package graft

import graft.pipeline.{Extract, ExtractConf}
import graft.sources.Io

/** Child JVM for one scaling measurement: read the pre-materialized parquet
  * corpus, run the extraction pipeline at `local[cores]`, print the rate.
  *
  * Launched by `Bench` under `taskset -c 0..cores-1` so the WHOLE JVM —
  * executor threads, GC threads, JIT — is confined to the advertised core
  * count, like a real N-core executor host would be. (Without pinning, a
  * `local[8]` JVM on a 32-core box runs its ~23 GC threads and the JIT on
  * the idle cores, inflating the low-parallelism rate and understating
  * scaling efficiency.)
  *
  * The corpus is parquet on disk (written once by Bench, outside timing):
  * the measurement covers scan → range shuffle → extract → sink, the real
  * pipeline shape — not synthetic-data generation.
  *
  * Prints exactly one line: `RATE <docs/sec>`.
  */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val (coresS, warmPath, mainPath, numDocsS, reps) = args match {
      case Array(c, w, m, n) => (c, w, m, n, 1)
      case Array(c, w, m, n, r) => (c, w, m, n, r.toInt)
    }
    val cores = coresS.toInt
    val numDocs = numDocsS.toInt
    val spark = LocalSession(cores, math.max(cores, 32))
    val conf = ExtractConf(level = "medium", numPartitions = 128)
    def run(path: String): Unit =
      Extract.extractDS(spark, Io().readDocs(spark, path), conf = conf)
        .write.format("noop").mode("overwrite").save()
    run(warmPath) // cold-JVM JIT warmup (every child is a fresh JVM)
    // reps > 1 (the calibration PROBE path): best of `reps` runs — a short
    // probe's single run is scheduler-noise-dominated (±25% measured on a
    // 2 s region); the max over a few runs is a stable entitlement signal
    val rate = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      run(mainPath)
      numDocs / ((System.nanoTime() - t0) / 1e9)
    }.max
    println(f"RATE $rate%.1f")
    spark.stop()
    sys.exit(0)
  }
}
