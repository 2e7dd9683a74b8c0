package perfbench

import graft.media.{DeterministicMediaStore, DeterministicOcr, MediaStore, OcrEngine}
import graft.model.{Doc, DocOut}
import graft.pipeline.{Extract, ExtractConf, ExtractKernel, Fixtures}
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom
import scala.collection.mutable

/** Benchmark harness, run in one JVM at `local[nproc]`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --result <file> [--sf-dir <tables>]
  * }}}
  *
  * Extraction workloads (`Workloads`): set-up (session start, corpus materialization, one warm-up
  * `Extract.run`) is repeated and its median reported as `setup_s`. Then
  * `Io.readDocs` + `Extract.run` into a fresh parquet output is timed
  * repeatedly for `seconds`; `docs_per_s` is the median of docs ÷ wall.
  * Every timed output is checked: doc ids unique and equal to input minus
  * rejected; once per run a seeded sample holding every mega doc must equal
  * `ExtractKernel.extractWhole`. With `--trace 1` the per-layer metrics are
  * measured instead (see `traced`). The result is written as JSON to
  * `--result`; any mismatch makes it `correct: false` with no metrics.
  * `queries_contract` is described in `QueryBench`.
  */
object Main {

  final case class Metric(value: Double, unit: String)

  final class Mismatch(msg: String) extends RuntimeException(msg)

  private def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new Mismatch(msg)

  private def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  final case class Ctx(spark: SparkSession, w: Workload, seed: Long, corpus: Corpus.Materialized,
      conf: ExtractConf, work: String, cores: Int) {
    def docs: Int = w.docs
    def input: org.apache.spark.sql.Dataset[Doc] = Io().readDocs(spark, corpus.path)
    lazy val inputIds: Set[String] = {
      import spark.implicits._
      spark.read.parquet(corpus.path).select("doc_id").as[String].collect().toSet
    }
  }

  private var runCounter = 0

  /** One timed `Io.readDocs` + `Extract.run` into a fresh output; returns the
    * wall seconds and the output path (left on disk for the gate). */
  private def timedRun(c: Ctx, store: MediaStore = DeterministicMediaStore,
      engine: OcrEngine = DeterministicOcr): (Double, String, String) = {
    runCounter += 1
    val out = s"${c.work}/out/run$runCounter"
    val runId = s"bench-$runCounter"
    Files.delete(s"${c.work}/out")
    val t0 = System.nanoTime()
    Extract.run(c.spark, Io().readDocs(c.spark, c.corpus.path), out,
      c.conf.copy(runId = runId), store, engine)
    (secondsOf(t0), out, runId)
  }

  private def parquetOrEmpty(spark: SparkSession, path: String, empty: => DataFrame): DataFrame = {
    val d = new java.io.File(path)
    if (d.isDirectory && d.list().exists(_.endsWith(".parquet"))) spark.read.parquet(path)
    else empty
  }

  /** Output doc ids are unique and equal input minus rejected. Returns the
    * number of rejected docs. */
  private def idGate(c: Ctx, out: String, runId: String): Long = {
    import c.spark.implicits._
    val rejected = parquetOrEmpty(c.spark, s"${out}_rejected/run_id=$runId",
      Seq.empty[String].toDF("doc_id")).select("doc_id").as[String].collect().toSet
    val got = c.spark.read.parquet(out).select("doc_id").as[String].collect()
    val gotSet = got.toSet
    check(got.length == gotSet.size, s"$out: ${got.length - gotSet.size} duplicated doc ids")
    check(gotSet == c.inputIds -- rejected, s"$out: ${(c.inputIds -- rejected -- gotSet).size} " +
      s"missing and ${(gotSet -- c.inputIds).size} unexpected doc ids")
    rejected.size
  }

  /** A seeded sample holding every mega doc equals `extractWhole`. */
  private def sampleGate(c: Ctx, out: String): Unit = {
    import c.spark.implicits._
    val rng = new SplittableRandom(c.seed ^ 0x5a17L)
    val others = Array.fill(200)(c.corpus.docIds(rng.nextInt(c.corpus.docIds.length)))
    val ids = (c.corpus.docIds.filter(Workload.isMega) ++ others).distinct.map(Fixtures.docId)
    val inDocs = c.spark.read.parquet(c.corpus.path).as[Doc]
      .filter(col("doc_id").isin(ids.toSeq: _*)).collect()
    val got = c.spark.read.parquet(out).as[DocOut]
      .filter(col("doc_id").isin(ids.toSeq: _*)).collect().map(d => d.doc_id -> d).toMap
    check(inDocs.length == ids.length, s"sample: ${inDocs.length} of ${ids.length} docs in the corpus")
    inDocs.foreach { d =>
      val want = ExtractKernel.extractWhole(d, DeterministicMediaStore, DeterministicOcr, c.conf)
      check(got.get(d.doc_id).contains(want), s"${d.doc_id}: output differs from extractWhole")
    }
  }

  final case class Timed(rates: Seq[Double], walls: Seq[Double], runs: Int, lastTasks: Vector[TaskRec])

  /** What a timed run passes to `Extract.run`; with a task log, the tasks of
    * its last run are kept. */
  final case class Variant(store: MediaStore, engine: OcrEngine, log: Option[TaskLog] = None)

  private val Plain = Variant(DeterministicMediaStore, DeterministicOcr)

  private var gateS = 0.0
  private var attempted = 0L
  private var failed = 0L

  /** The JIT is still settling during the first two runs after set-up
    * (measured: 20-30% slower); they are checked but not reported. */
  private val Settling = 2

  /** Timed runs, alternating over `variants`, until every variant has three
    * reported runs and `seconds` of reported wall have passed. Every output
    * goes through the id gate, the last one also through the sample gate. */
  private def measure(c: Ctx, seconds: Double, variants: Seq[Variant] = Seq(Plain)): Seq[Timed] = {
    val sc = c.spark.sparkContext
    val walls = variants.map(_ => mutable.ArrayBuffer.empty[Double])
    val runs = Array.fill(variants.length)(0)
    val tasks = Array.fill(variants.length)(Vector.empty[TaskRec])
    var i = 0
    var last = ""
    while (walls.exists(_.length < 3) || walls.map(_.sum).sum < seconds) {
      val v = i % variants.length
      val variant = variants(v)
      variant.log.foreach(_.take(sc))
      val (wall, out, runId) = timedRun(c, variant.store, variant.engine)
      variant.log.foreach(l => tasks(v) = l.take(sc))
      val g0 = System.nanoTime()
      val rejected = idGate(c, out, runId)
      gateS += secondsOf(g0)
      if (i >= Settling) walls(v) += wall
      runs(v) += 1
      attempted += c.docs
      failed += rejected
      last = out
      i += 1
    }
    val g0 = System.nanoTime()
    sampleGate(c, last)
    gateS += secondsOf(g0)
    Files.delete(s"${c.work}/out")
    variants.indices.map(v => Timed(walls(v).map(c.docs / _).toSeq, walls(v).toSeq, runs(v),
      tasks(v)))
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  final case class Outcome(metrics: Seq[(String, Metric)], info: Seq[(String, String)])

  private def endToEnd(c: Ctx, seconds: Double, setups: Seq[Double]): Outcome = {
    val t = measure(c, seconds).head
    Outcome(Seq(
      "docs_per_s" -> Metric(median(t.rates), "docs/s"),
      "setup_s" -> Metric(median(setups), "s"),
      "rss_peak_mb" -> Metric(vmHwmMb(), "MB")),
      Seq("docs_per_s_samples" -> Json.arr(t.rates), "run_wall_s_samples" -> Json.arr(t.walls)))
  }

  /** Median wall of `reps` executions of `body`. */
  private def timeMedian(reps: Int)(body: => Unit): Double =
    median((1 to reps).map { _ => val t0 = System.nanoTime(); body; secondsOf(t0) })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-layer metrics (`--trace 1`). Tracing adds work, so none of these
    * numbers is an end-to-end metric:
    *  - untraced and traced `Extract.run` (`MediaStore`/`OcrEngine` call
    *    counters plus a task listener) give the tracing overhead, the media
    *    call counts and the Spark task metrics of each pipeline path;
    *  - the scan, skew probe, size guard and a noop-sink extraction are timed
    *    alone;
    *  - a single-threaded pass runs `extractWhole` and the traced
    *    recomposition on every document, checks they agree, and gives the
    *    kernel's layer times and counts. */
  private def traced(c: Ctx, seconds: Double): Outcome = {
    val sc = c.spark.sparkContext
    val m = mutable.ArrayBuffer.empty[(String, Metric)]
    def put(name: String, v: Double, unit: String): Unit = m += name -> Metric(v, unit)

    val log = new TaskLog
    sc.addSparkListener(log)
    val counters = MediaCounters(sc)
    val countingStore = new CountingStore(DeterministicMediaStore, counters)
    val countingOcr = new CountingOcr(DeterministicOcr, counters)
    // untraced and traced runs alternate, so drift on the host hits both
    val Seq(untraced, tracedRuns) = measure(c, seconds,
      Seq(Plain, Variant(countingStore, countingOcr, Some(log))))
    val tasks = tracedRuns.lastTasks
    val pageCountCalls = counters.pageCount.value / tracedRuns.runs
    val pageCalls = counters.page.value / tracedRuns.runs
    val ocrCalls = counters.ocr.value / tracedRuns.runs
    val tracedWall = median(tracedRuns.walls)
    val untracedRate = median(untraced.rates)
    val tracedRate = median(tracedRuns.rates)
    put("trace.docs_per_s_untraced", untracedRate, "docs/s")
    put("trace.docs_per_s_traced", tracedRate, "docs/s")
    put("trace.overhead_frac", 1.0 - tracedRate / untracedRate, "frac")
    put("fail_frac", failed.toDouble / attempted, "frac")

    // --- pipeline paths, from the tasks of the last traced Extract.run
    def skew(ms: Seq[Long]): Double = {
      val med = median(ms.map(_.toDouble))
      if (ms.isEmpty || med <= 0) 0.0 else ms.max / med
    }
    val shuffled = tasks.filter(t => t.shuffleReadBytes > 0 || t.shuffleWriteBytes > 0)
    val common = tasks.filter(t => t.inputBytes > 0 && t.recordsWritten > 0 &&
      t.shuffleReadBytes == 0 && t.shuffleWriteBytes == 0)
    val salted = tasks.filter(t => t.shuffleReadBytes > 0 && t.shuffleWriteBytes > 0)
    put("pipeline.common_task_s", median(common.map(_.runMs / 1e3)), "s")
    put("pipeline.common_task_skew", skew(common.map(_.runMs)), "ratio")
    put("pipeline.salted_task_s", median(salted.map(_.runMs / 1e3)), "s")
    put("pipeline.salted_task_skew", skew(salted.map(_.runMs)), "ratio")
    put("pipeline.salted_shuffle_bytes", shuffled.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    put("pipeline.cpu_util", tasks.map(_.runMs).sum / 1e3 / (tracedWall * c.cores), "frac")
    put("pipeline.gc_s", tasks.map(_.gcMs).sum / 1e3, "s")
    put("pipeline.spill_bytes", tasks.map(_.spillBytes).sum.toDouble, "bytes")
    put("pipeline.sink_bytes", tasks.map(_.outputBytes).sum.toDouble, "bytes")

    // --- single layers, each timed alone (median of three)
    log.take(sc)
    val scanS = timeMedian(3)(noop(c.input.toDF()))
    val scanBytes = log.take(sc).map(_.inputBytes).sum
    put("sources.scan_s", scanS, "s")
    put("sources.bytes_read", scanBytes.toDouble / 3, "bytes")
    put("pipeline.probe_s", timeMedian(3)(Extract.extractDS(c.spark, c.input,
      countingStore, countingOcr, c.conf)), "s")
    put("pipeline.size_guard_s", timeMedian(3) {
      val (accepted, rejected) = Extract.sizeSplit(c.spark, c.input, c.conf.maxDocBytes)
      noop(accepted.toDF())
      noop(rejected)
    }, "s")
    val noopExtract = timeMedian(3)(noop(Extract.extractDS(c.spark, c.input,
      countingStore, countingOcr, c.conf).toDF()))
    put("pipeline.sink_s", tracedWall - noopExtract, "s")
    sc.removeSparkListener(log)

    // --- single-threaded kernel pass over every document
    val docs = c.input.collect()
    val tr = new Tracer
    val kernel = new TracedKernel(DeterministicMediaStore, DeterministicOcr, c.conf, tr)
    var kernelNs = 0L
    var megas = 0
    var saltedUnits = 0L
    var pdfSpans = 0L
    docs.zipWithIndex.foreach { case (d, i) =>
      val t0 = System.nanoTime()
      val want = ExtractKernel.extractWhole(d, DeterministicMediaStore, DeterministicOcr, c.conf)
      kernelNs += System.nanoTime() - t0
      check(kernel.extract(d, i) == want, s"${d.doc_id}: traced recomposition differs from extractWhole")
      val pages = d.spans.map(ExtractKernel.spanPages(_, DeterministicMediaStore)).sum
      if (pages > c.conf.skewPageThreshold) {
        megas += 1
        saltedUnits += ExtractKernel.plan(d, DeterministicMediaStore, c.conf).length
      }
      pdfSpans += d.spans.count(s => s.kind == "pdf" && s.media_ref != null && s.media_ref.nonEmpty)
    }
    val agg = tr.aggregate()
    def dur(n: String) = agg.get(n).map(_.durS).getOrElse(0.0)
    def self(n: String) = agg.get(n).map(_.selfS).getOrElse(0.0)
    def calls(n: String) = agg.get(n).map(_.count.toDouble).getOrElse(0.0)
    def frac(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val k = kernel.counts
    put("pipeline.mega_docs", megas, "count")
    put("pipeline.salted_units", saltedUnits.toDouble, "count")
    put("pipeline.kernel_s", kernelNs / 1e9, "s")
    put("pipeline.plan_self_s", self("pipeline.plan"), "s")
    put("pipeline.merge_self_s", self("pipeline.merge"), "s")
    put("pipeline.unattributed_frac",
      (self("kernel.doc") + self("pipeline.unit") + self("pipeline.rawpages")) / dur("kernel.doc"), "frac")
    put("media.pagecount_calls", pageCountCalls.toDouble, "count")
    put("media.pagecount_calls_per_pdf_span", frac(pageCountCalls, pdfSpans), "ratio")
    put("media.page_calls", pageCalls.toDouble, "count")
    put("media.page_self_s", self("media.page"), "s")
    put("media.ocr_calls", ocrCalls.toDouble, "count")
    put("media.ocr_s", dur("media.ocr"), "s")
    put("media.pages_kept_frac", frac(k.mediaPagesKept, k.mediaPages), "frac")
    put("core.xycut_calls", calls("core.xycut"), "count")
    put("core.xycut_s", dur("core.xycut"), "s")
    put("core.consensus_s", dur("core.consensus"), "s")
    put("core.consensus_fastpath_frac", frac(k.consensusTwoPass, k.consensusCalls), "frac")
    put("core.confidence_s", dur("core.confidence"), "s")
    put("core.difflib_calls", k.difflibCalls.toDouble, "count")
    put("core.difflib_equal_frac", frac(k.difflibEqual, k.difflibCalls), "frac")
    put("core.textclean_s", dur("core.textclean"), "s")
    put("core.textclean_chars", k.textcleanChars.toDouble, "count")
    put("core.langdetect_s", dur("core.langdetect"), "s")
    put("core.langdetect_chars", k.langdetectChars.toDouble, "count")
    put("core.boilerplate_s", dur("core.boilerplate"), "s")
    put("core.boilerplate_kept_frac", frac(k.boilerplateOut, k.boilerplateIn), "frac")

    val spanFile = s"${c.work}/traces/${c.w.name}-seed${c.seed}.tsv.gz"
    tr.write(spanFile, i => docs(i).doc_id)
    Outcome(m.toSeq, Seq("spans" -> Json.str(spanFile), "span_count" -> tr.size.toString))
  }

  /** Extraction workload: set-up is repeated so its median is steady; the
    * first repetition also materializes the corpus when the cache misses. */
  private def extraction(w: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int): Outcome = {
    val conf = ExtractConf(level = w.level, numPartitions = 4 * cores)
    var spark: SparkSession = null
    var corpus: Corpus.Materialized = null
    val hits = mutable.ArrayBuffer.empty[Boolean]
    val setups = (1 to (if (trace) 1 else 3)).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(work, cores)
      corpus = Corpus.ensure(spark, w, seed, 4 * cores, s"$work/corpus")
      hits += corpus.cacheHit
      timedRun(Ctx(spark, w, seed, corpus, conf, work, cores)) // warm-up
      // collect what the stopped sessions left behind, so the first
      // timed run does not pay for it
      System.gc()
      secondsOf(t0)
    }
    val c = Ctx(spark, w, seed, corpus, conf, work, cores)
    val o = if (trace) traced(c, seconds) else endToEnd(c, seconds, setups)
    stop(spark)
    o.copy(info = o.info ++ Seq(
      "setup_s_samples" -> Json.arr(setups),
      "gate_s" -> Json.num(gateS),
      "corpus_cache_hits" -> hits.mkString("[", ",", "]"),
      "docs" -> w.docs.toString,
      "level" -> Json.str(w.level)))
  }

  /** `queries_contract`: one set-up (index preparation and the untimed
    * execution of all queries take most of a minute at sf0.1). */
  private def queries(sfDir: String, seconds: Double, trace: Boolean, work: String,
      cores: Int): Outcome = {
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val r = QueryBench.run(spark, sfDir, work, seconds, trace, t0)
    stop(spark)
    attempted += r.attempted
    failed += r.failed
    Outcome(if (trace) r.metrics else r.metrics :+ ("rss_peak_mb" -> Metric(vmHwmMb(), "MB")), r.info)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors

    val result = try {
      val o =
        if (name == "queries_contract") queries(opt("sf-dir"), seconds, trace, work, cores)
        else {
          val w = Workloads.byName(name).getOrElse(throw new IllegalArgumentException(
            s"unknown workload $name; known: queries_contract, ${Workloads.all.map(_.name).mkString(", ")}"))
          extraction(w, opt("seed").toLong, seconds, trace, work, cores)
        }
      val info = o.info ++ Seq(
        "cores" -> cores.toString,
        "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
      Json.obj(Seq(
        "correct" -> "true",
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(o.metrics.map { case (k, v) =>
          k -> Json.obj(Seq("value" -> Json.num(v.value), "unit" -> Json.str(v.unit)))
        }),
        "info" -> Json.obj(info)))
    } catch {
      case e: Mismatch =>
        System.err.println(s"[perfbench] correctness mismatch: ${e.getMessage}")
        Json.obj(Seq("correct" -> "false", "attempted" -> "1", "failed" -> "1",
          "metrics" -> "{}", "info" -> Json.obj(Seq("mismatch" -> Json.str(e.getMessage)))))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("result")), result + "\n")
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
