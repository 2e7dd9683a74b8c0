package perfbench

import graft.Queries
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The `queries_contract` workload: every `Queries.all` query over one
  * table directory, each through a noop sink.
  *
  * Set-up is `Queries.prepareIndexes` plus one untimed execution of every
  * query, which writes its result to `<work>/qout/<name>` with
  * `oracle_sql.json` beside it for the DuckDB check (`scripts/selfcheck.py`).
  * Then whole passes over the queries are timed until `seconds` have passed
  * (at least one); a query's time is its median over the passes. */
object QueryBench {

  final case class Result(metrics: Seq[(String, Main.Metric)], info: Seq[(String, String)],
      attempted: Long, failed: Long)

  private val StreamTrio = Seq("dd_stream_exact", "dd_stream_near", "dd_stream_near_ttl")

  def run(spark: SparkSession, sfDir: String, work: String, seconds: Double, trace: Boolean,
      setupStart: Long): Result = {
    val names = Queries.all.keys.toSeq.sorted
    val failed = mutable.LinkedHashSet.empty[String]
    def attempt(name: String)(body: => Unit): Unit =
      try body catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        failed += name
      }

    Queries.prepareIndexes(spark, sfDir)
    val qout = s"$work/qout"
    Files.delete(qout)
    names.foreach { n =>
      attempt(n)(Queries.all(n)(spark, sfDir).coalesce(1).write.parquet(s"$qout/$n"))
    }
    val oracles = Queries.oracle ++ Queries.oracleDynamic(spark, sfDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$qout/oracle_sql.json"),
      Json.obj(oracles.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))
    val setupS = (System.nanoTime() - setupStart) / 1e9

    val log = new TaskLog
    val sc = spark.sparkContext
    if (trace) sc.addSparkListener(log)
    val times = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passTasks = mutable.ArrayBuffer.empty[Vector[TaskRec]]
    var elapsed = 0.0
    var passes = 0
    while (passes == 0 || elapsed < seconds) {
      if (trace) log.take(sc)
      names.filterNot(failed).foreach { n =>
        val t0 = System.nanoTime()
        attempt(n)(Queries.all(n)(spark, sfDir).write.format("noop").mode("overwrite").save())
        val dt = (System.nanoTime() - t0) / 1e9
        times(n) += dt
        elapsed += dt
      }
      if (trace) passTasks += log.take(sc)
      passes += 1
    }
    if (trace) sc.removeSparkListener(log)

    val ok = names.filterNot(failed)
    val med = ok.map(n => n -> Main.median(times(n).toSeq)).toMap
    val m = mutable.ArrayBuffer.empty[(String, Main.Metric)]
    if (trace) {
      names.foreach(n => m += s"queries.${n}_s" -> Main.Metric(med.getOrElse(n, 0.0), "s"))
      m += "queries.stream_trio_s" -> Main.Metric(StreamTrio.flatMap(med.get).sum, "s")
      def perPass(f: TaskRec => Long): Double = Main.median(passTasks.map(_.map(f).sum.toDouble).toSeq)
      m += "queries.shuffle_bytes" -> Main.Metric(perPass(t => t.shuffleReadBytes + t.shuffleWriteBytes), "bytes")
      m += "queries.spill_bytes" -> Main.Metric(perPass(_.spillBytes), "bytes")
      m += "queries.gc_s" -> Main.Metric(perPass(_.gcMs) / 1e3, "s")
      m += "fail_frac" -> Main.Metric(failed.size.toDouble / names.length, "frac")
    } else {
      m += "query_total_s" -> Main.Metric(med.values.sum, "s")
      m += "query_geomean_s" -> Main.Metric(
        math.exp(med.values.map(math.log).sum / math.max(1, med.size)), "s")
      m += "setup_s" -> Main.Metric(setupS, "s")
    }
    Result(m.toSeq, Seq(
      "passes" -> passes.toString,
      "failed_queries" -> failed.toSeq.map(Json.str).mkString("[", ",", "]"),
      "query_s" -> Json.obj(ok.map(n => n -> Json.arr(times(n).toSeq))),
      "qout" -> Json.str(qout),
      "sf_dir" -> Json.str(sfDir)),
      attempted = names.length.toLong * (passes + 1), failed = failed.size.toLong)
  }
}
