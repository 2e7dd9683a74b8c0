package graft

import graft.pipeline.{Extract, ExtractConf, Fixtures}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fixture store, counting its `pageCount` calls (local mode: one JVM). */
object CountingStore extends graft.media.MediaStore {
  import graft.media.{DeterministicMediaStore, PageMedia}
  val pageCounts = new java.util.concurrent.atomic.AtomicLong
  override def pageCount(ref: String): Int = {
    pageCounts.incrementAndGet()
    DeterministicMediaStore.pageCount(ref)
  }
  override def page(ref: String, p: Int): PageMedia = DeterministicMediaStore.page(ref, p)
  override def byteEstimate(ref: String): Long = DeterministicMediaStore.byteEstimate(ref)
}

/** Physical-plan assertions — the "is this the plan you'd want at 100 TB"
  * checks: predicate pushdown reaches the parquet scan, column pruning
  * shrinks ReadSchema, small dims broadcast, the extraction common path is
  * a SINGLE shuffle-free stage (the skew branch re-reads only the mega tail
  * behind a pushed IN filter and spreads it salted), and the materialized
  * ANN indexes prune partitions instead of scanning.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("predicate pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 100).select(col("doc_id"), col("lang"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)"),
      s"filter not pushed:\n$plan")
  }

  test("column pruning: scan reads only referenced columns") {
    val df = Queries.all("q_filter_nonempty")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("lang") && readSchema.contains("text"))
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("star-join query broadcasts the dimension tables") {
    val df = Queries.all("q2_revenue_by_nation")(spark, sf)
    df.write.format("noop").mode("overwrite").save() // finalize AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("semi/anti joins plan as left_semi / left_anti (no row explosion)") {
    val semi = Queries.all("q3_semi_join")(spark, sf)
    val anti = Queries.all("q4_anti_join")(spark, sf)
    assert(semi.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(anti.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
  }

  test("extraction common path is a single stage: zero shuffles source→sink") {
    // corpus without mega docs → no skew branch at all
    val spark2 = spark
    import spark2.implicits._
    val small = spark.createDataset((0 until 48).map(Fixtures.doc))
    val ds = Extract.extractDS(spark, small, conf = ExtractConf(numPartitions = 4))
    ds.collect()
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"common path must not shuffle:\n$plan")
  }

  test("skew branch: only mega docs shuffle, spread by (doc_id, salt)") {
    val ds = Extract.extractDS(spark, Fixtures.testDocsDS(spark),
      conf = ExtractConf(numPartitions = 4))
    ds.collect()
    val plan = ds.queryExecution.executedPlan.toString
    // exactly the salted-branch exchanges: the (doc_id, salt) spread and
    // the per-doc merge; NO full-corpus exchange
    assert(plan.contains("hashpartitioning(doc_id"), s"no salted spread:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"unexpected full shuffle:\n$plan")
  }

  test("skew probe prunes to doc_id + spans.{kind,media_ref} — text never read") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-probe").toString
    Fixtures.testDocsDS(spark).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
    val docs = graft.sources.Io().readDocs(spark, s"$tmp/docs")
    // the metadata pass extractDS runs (no size term)
    val sc = spark.sparkContext
    val probe = Extract.tailPass(spark, docs, graft.media.DeterministicMediaStore,
      ExtractConf(), maxBytes = None, sc.longAccumulator, sc.longAccumulator)
    val plan = probe.queryExecution.executedPlan.toString
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("spans:array<struct<kind:string,media_ref:string>>"),
      s"nested pruning failed — probe would read the text payload: $rs")
    assert(!rs.contains("text"), s"text column not pruned: $rs")
  }

  /** Runs `body` in its own job group and returns its result with each of
    * its jobs → (the scan it belongs to: its SQL execution, else the job
    * itself; the input records its stages read; the bytes its tasks sent
    * the driver as results). */
  private def jobsOf[T](body: => T): (T, Map[Int, (String, Long, Long)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import java.util.concurrent.ConcurrentHashMap
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = "extract-job-guard"
    val scanOf = new ConcurrentHashMap[Int, String]
    val jobOfStage = new ConcurrentHashMap[Int, Int]
    val recordsRead = new ConcurrentHashMap[Int, Long]
    val resultBytes = new ConcurrentHashMap[Int, Long]
    val drained = scala.concurrent.Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `group` =>
            scanOf.put(e.jobId, Option(e.properties.getProperty("spark.sql.execution.id"))
              .fold(s"job ${e.jobId}")(id => s"execution $id"))
            // a stage belongs to the first job that lists it: AQE's final
            // job lists the shuffle-map stages its earlier jobs ran
            e.stageIds.foreach(jobOfStage.putIfAbsent(_, e.jobId))
          case "drain" => drained.trySuccess(())
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(jobOfStage.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { j =>
          recordsRead.merge(j, e.taskMetrics.inputMetrics.recordsRead, (a: Long, b: Long) => a + b)
          resultBytes.merge(j, e.taskMetrics.resultSize, (a: Long, b: Long) => a + b)
        }
    }
    sc.addSparkListener(listener)
    val result = try {
      sc.setJobGroup(group, "jobsOf")
      val r = body
      // events arrive in order: once the drain job's start is seen, every
      // event of the body's jobs has been delivered
      sc.setJobGroup("drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      scala.concurrent.Await.result(drained.future, scala.concurrent.duration.Duration(60, "s"))
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (result, scanOf.asScala.toMap.map { case (j, scan) =>
      j -> (scan, recordsRead.getOrDefault(j, 0L), resultBytes.getOrDefault(j, 0L)) })
  }

  test("the tail pass ships the driver fewer than megaInlineCap + tasks rows at any tail size") {
    import graft.model.{Doc, LineageRow, Span}
    import org.apache.spark.util.CollectionAccumulator
    import scala.jdk.CollectionConverters._
    val spark2 = spark
    import spark2.implicits._
    // at floor 0 every doc is in the tail; pass partition p holds sizes(p)
    def input(sizes: Seq[Int], idBytes: Int) = spark.sparkContext.parallelize(
      sizes.zipWithIndex.map { case (k, p) =>
        (0 until k).map(i => Doc(f"$p%d-$i%03d-" + "x" * idBytes, Seq(Span("text", "t", "", 0))))
      }, sizes.size).flatMap(identity).toDS()
    val conf = ExtractConf(numPartitions = 4, skewPageThreshold = 0)

    // 80 tail rows over 4 tasks at cap 5: one job, and no task ships rows
    // (20-kB ids, so the rows would dominate the tasks' result bytes)
    val idBytes = 20000
    val (_, jobs) = jobsOf(Extract.extractDS(spark, input(Seq.fill(4)(20), idBytes),
      conf = conf.copy(megaInlineCap = 5)))
    val shipped = jobs.values.map(_._3).sum
    assert(jobs.size == 1, s"the tail pass is one job: $jobs")
    assert(shipped < (5 + 4) * idBytes, s"the driver received $shipped result bytes")
    spark.catalog.clearCache() // above the cap, a heavy partition keeps the pass

    // a tail that fits the cap, crowded into one task (35 rows over its
    // quota of 80 / 4): that task's rows are read back from the cache, and
    // every mega is on the driver (IN filter, no join)
    val sizes = Seq(35, 15, 15, 15)
    val docs = input(sizes, 0)
    val acc = new CollectionAccumulator[LineageRow]
    spark.sparkContext.register(acc, "crowded tail")
    val (ds, readJobs) = jobsOf(Extract.extractDS(spark, docs, conf = conf.copy(megaInlineCap = 80),
      lineageAcc = Some(acc)))
    assert(readJobs.size == 2, s"the tail pass and the read-back of one task: $readJobs")
    val got = ds.collect().map(d => d.doc_id -> d).toMap
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftSemi") && !plan.contains("LeftAnti"), s"the tail was not inline:\n$plan")
    val share = sizes.sum / math.max(sizes.size, spark.sparkContext.defaultParallelism)
    val megas = sizes.filter(_ > share).sum
    val salted = acc.value.asScala.filter(_.path == "salted").map(_.doc_count).sum
    assert(megas > 0 && salted == megas, s"$salted docs salted, the heavy partitions hold $megas")
    docs.collect().foreach(d => assert(got(d.doc_id) ==
      graft.pipeline.ExtractKernel.extractWhole(d, graft.media.DeterministicMediaStore,
        graft.media.DeterministicOcr, conf), s"extractDS differs for ${d.doc_id}"))
  }

  test("one extraction run: at most 6 jobs; only the tail pass and the main write scan the input") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    Fixtures.testDocsDS(spark).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
    val docs = graft.sources.Io().readDocs(spark, s"$tmp/docs")
    val (_, jobs) = jobsOf(Extract.run(spark, docs, s"$tmp/out", ExtractConf(numPartitions = 4)))
    assert(jobs.size <= 6, s"${jobs.size} jobs in one run: $jobs")
    val readByScan = jobs.values.toSeq.groupBy(_._1).map { case (scan, js) => scan -> js.map(_._2).sum }
    val scans = readByScan.filter(_._2 > 0)
    assert(scans.size == 2, s"the input is read by ${scans.size} scans, not 2: $readByScan")
    assert(scans.values.forall(_ >= Fixtures.testDocs.length), s"partial scans: $readByScan")
  }

  test("parquet readDocs starts no Spark job: the schema comes from one footer") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-read").toString
    Fixtures.testDocsDS(spark).toDF().repartition(3).write.parquet(s"$tmp/docs")
    val (_, jobs) = jobsOf(graft.sources.Io().readDocs(spark, s"$tmp/docs"))
    assert(jobs.isEmpty, s"readDocs started ${jobs.size} jobs: $jobs")
  }

  test("megas under one task's page share are not salted: no Exchange, 2 jobs, output == extractWhole") {
    import graft.media.{DeterministicMediaStore, DeterministicOcr}
    import graft.pipeline.ExtractKernel
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-share").toString
    val corpus = (1 to 2000).map(Fixtures.doc)
    spark.createDataset(corpus).toDF().repartition(4).write.parquet(s"$tmp/docs")
    val docs = graft.sources.Io().readDocs(spark, s"$tmp/docs")
    val conf = ExtractConf(numPartitions = 4)
    def pages(d: graft.model.Doc) = d.spans.map(ExtractKernel.spanPages(_, DeterministicMediaStore)).sum
    val share = corpus.map(pages).sum /
      math.max(docs.rdd.getNumPartitions, spark.sparkContext.defaultParallelism)
    val overFloor = corpus.filter(pages(_) > conf.skewPageThreshold)
    assert(docs.inputFiles.length > 1, "premise: a multi-file corpus")
    assert(overFloor.map(_.doc_id).toSet == Set(Fixtures.docId(1000), Fixtures.docId(2000)) &&
      overFloor.forall(pages(_) <= share), s"premise: 256-page megas under the share $share")

    val ds = Extract.extractDS(spark, docs, conf = conf)
    val got = ds.collect().map(d => d.doc_id -> d).toMap
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"no mega over the share, yet a shuffle:\n$plan")
    val want = corpus.map(d =>
      d.doc_id -> ExtractKernel.extractWhole(d, DeterministicMediaStore, DeterministicOcr, conf)).toMap
    assert(got.size == corpus.size)
    corpus.foreach(d => assert(got(d.doc_id) == want(d.doc_id), s"extractDS differs for ${d.doc_id}"))

    // each tier counted: the inline tier (default cap) and the cached tail
    // (cap 0) evaluate the pass once, so they make the same pageCount calls
    val pdfSpans = corpus.flatMap(_.spans).count(s => s.kind == "pdf" && s.media_ref.nonEmpty)
    val calls = Seq(conf, conf.copy(megaInlineCap = 0)).map { c =>
      val out = s"$tmp/out${c.megaInlineCap}"
      CountingStore.pageCounts.set(0)
      val (summary, jobs) = jobsOf(Extract.run(spark, docs, out, c, CountingStore))
      val n = CountingStore.pageCounts.get
      if (c.megaInlineCap == 0) // the tail pass and the write, and no join
        assert(jobs.size <= 3, s"${jobs.size} jobs at megaInlineCap = 0: $jobs")
      else // the driver commits lineage: no job of its own
        assert(jobs.size == 2, s"expected the tail pass and the write: $jobs")
      assert(!summary.lineage.exists(_.path == "salted"), s"salted lineage: ${summary.lineage}")
      val written = spark.read.parquet(out).as[graft.model.DocOut].collect().map(d => d.doc_id -> d).toMap
      assert(written.size == corpus.size)
      corpus.foreach(d => assert(written(d.doc_id) == want(d.doc_id),
        s"Extract.run differs for ${d.doc_id} at megaInlineCap = ${c.megaInlineCap}"))
      n
    }
    assert(calls(1) == calls(0), s"pageCount calls per pdf span: " +
      s"${calls.map(n => f"${n.toDouble / pdfSpans}%.2f").mkString(" inline, ")} at megaInlineCap = 0")
  }

  test("a resumed run starts 4 jobs: no schema-inference job reads the committed ids") {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-jobs").toString
    val corpus = (0 until 48).map(Fixtures.doc) // no megas: a fresh run is 2 jobs
    spark.createDataset(corpus).toDF().write.parquet(s"$tmp/docs")
    val docs = graft.sources.Io().readDocs(spark, s"$tmp/docs")
    val conf = ExtractConf(numPartitions = 4)
    val first = Extract.run(spark, docs.filter(col("doc_id") < Fixtures.docId(10)), s"$tmp/out", conf)
    val (_, pending) = jobsOf(Extract.pending(spark, docs, s"$tmp/out"))
    assert(pending.isEmpty, s"reading the committed ids started ${pending.size} jobs: $pending")
    val (resumed, jobs) = jobsOf(Extract.run(spark, docs, s"$tmp/out", conf.copy(runId = "run-1")))
    // the tail pass and the write, each with its broadcast of the committed ids
    assert(jobs.size == 4, s"${jobs.size} jobs in a resumed run: $jobs")
    assert(first.docsProcessed == 10 && resumed.docsProcessed == corpus.length - 10)
  }

  test("resume anti-join reads the committed ids without an aggregate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pending").toString
    val all = Fixtures.testDocsDS(spark)
    all.limit(10).toDF().write.parquet(s"$tmp/out")
    val todo = Extract.pending(spark, all, s"$tmp/out")
    assert(todo.collect().length == Fixtures.testDocs.length - 10)
    val plan = todo.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"resume is not an anti-join:\n$plan")
    assert(!plan.contains("Aggregate"), s"committed ids are aggregated before the anti-join:\n$plan")
  }

  test("mega re-read pushes the doc_id IN filter to the parquet scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan").toString
    Fixtures.testDocsDS(spark).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
    val docs = graft.sources.Io().readDocs(spark, s"$tmp/docs")
    val ds = Extract.extractDS(spark, docs, conf = ExtractConf(numPartitions = 4))
    ds.collect()
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id"),
      s"mega IN-filter not pushed to scan:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() == Fixtures.testDocs.length)
  }

  test("native expressions stay inside whole-stage codegen (no fallback)") {
    // the round-1 lesson inverted: lang_detect/qclean/simhash64/dot_f are
    // StaticInvoke calls of the forwarders in functions.Kernels, which
    // generate a direct static call — their project stages must carry the
    // WholeStageCodegen marker `*(n)`, and the plan must not show an
    // interpreted-project fallback
    for (q <- Seq("q_lang_detect", "dd_simhash", "q_textclean")) {
      val df = Queries.all(q)(spark, sf)
      df.collect() // finalize the AdaptiveSparkPlan — codegen stages only
      //             appear in the executed plan (same trap as the AQE test)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"$q lost whole-stage codegen:\n$plan")
    }
  }

  test("materialized SRP index: bucket predicate is a PARTITION filter (pruned scan)") {
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft-srpidx").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.buildSrpIndex(emb, "vec_id", "embedding", s"$tmp/srp")
    val q = emb.orderBy(col("vec_id")).select(col("embedding")).head().getSeq[Float](0)
    val df = Similarity.lshIndexedTopK(spark, s"$tmp/srp", "vec_id", "embedding", q, 10)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bucket"), s"bucket not a partition filter:\n$plan")
    // and the data filter side must NOT re-filter bucket (pure pruning)
    assert(df.count() > 0)
  }

  test("materialized IVF index: probed clusters prune partitions") {
    import graft.operators.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 2)
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents, s"$tmp/ivf")
    val q = emb.orderBy(col("vec_id")).select(col("embedding")).head().getSeq[Float](0)
    val df = Similarity.ivfTopKIndexed(spark, s"$tmp/ivf", "vec_id", "embedding",
      q, 10, cents, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("c#") || pf.contains("(c"), s"cluster not a partition filter:\n$plan")
    // indexed result == unindexed result (same semantics, pruned plan)
    val unindexed = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10, cents, nprobe = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val indexed = df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(indexed == unindexed)
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // The 100 TB fact-fact join story: both sides written bucketed by the
    // join key → SortMergeJoin with ZERO Exchange (each bucket pair joins
    // in place). At scale this turns the biggest recurring shuffle into a
    // one-time layout cost.
    val s = spark
    s.sql("DROP TABLE IF EXISTS li_b")
    s.sql("DROP TABLE IF EXISTS ord_b")
    // the in-memory catalog forgets tables between JVMs but their warehouse
    // directories persist — remove the locations or saveAsTable throws
    // LOCATION_ALREADY_EXISTS on the next run
    val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("li_b", "ord_b")) {
      val p = new org.apache.hadoop.fs.Path(s"$wh/$t")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    s.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    s.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    val joined = s.table("li_b").join(s.table("ord_b"),
      col("l_orderkey") === col("o_orderkey"))
    // disable broadcast so the co-location (not a broadcast) removes the
    // exchanges — the configuration a fact-fact join faces at scale
    val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = s.table("li_b").join(s.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert(joined.count() > 0)
  }

  test("as-of join plans as ONE key shuffle + window — no range cross join") {
    val df = Queries.all("q_asof_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the naive formulation would show a Join with a ts range condition
    // (nested-loop / cartesian per key); the operator must instead be
    // union → single hashpartitioning(user_id) exchange → Window
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a cross join:\n$plan")
    assert(plan.contains("Window"), s"expected windowed as-of:\n$plan")
    val keyExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(keyExchanges == 1, s"expected exactly one key shuffle, got $keyExchanges:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the runtime half of the skew story: the PIPELINE pre-splits known
    // mega-docs (salting), and AQE re-plans unforeseen join skew — one hot
    // key owning ~99% of a shuffle partition gets split into parallel
    // sub-partitions instead of serializing one task
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val pad = "x" * 64
      val hot = (0 until 100000).map(i => (1L, s"p$i$pad"))
      val rest = (0 until 2000).map(i => ((i % 50) + 2L, s"p$i"))
      val left = s.createDataset(hot ++ rest).toDF("k", "v")
      val right = s.createDataset((1L to 60L).map(k => (k, s"dim$k"))).toDF("k", "d")
      val j = left.join(right, "k")
      // execute THIS Dataset's own queryExecution so its AdaptiveSparkPlan
      // finalizes (df.write — and even df.count(), which builds a new
      // aggregate Dataset — run a SEPARATE QueryExecution; inspecting
      // j.queryExecution afterwards would show isFinalPlan=false)
      assert(j.collect().length == 102000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark/split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("pipe_dataprep is ONE job: dedup window + output sort are the only exchanges") {
    val df = Queries.all("pipe_dataprep")(spark, sf)
    df.collect() // finalize the AdaptiveSparkPlan
    // a finalized AdaptiveSparkPlan prints BOTH the final and the initial
    // plan — count nodes in the final section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the augmented union reads the source once per branch; everything
    // downstream — window dedup → featurize (lang/tokens/quality) →
    // filters — must fuse onto that single pass: no third scan, exactly
    // one hash exchange (the fp dedup window) and one range exchange
    // (the contract's total output order)
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 2, s"expected 2 scans (the union branches), got $scans:\n$plan")
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning(fp"))
    assert(hashEx == 1, s"expected exactly one dedup exchange, got $hashEx:\n$plan")
    val rangeEx = plan.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(rangeEx <= 1, s"expected at most the output-sort exchange, got $rangeEx:\n$plan")
    val totalEx = plan.linesIterator.count(_.contains("Exchange "))
    assert(totalEx == hashEx + rangeEx,
      s"unexpected extra exchange (a re-scan or re-shuffle between pipeline stages):\n$plan")
    assert(plan.contains("Window"), s"dedup window missing:\n$plan")
  }

  test("dd_incremental probes the MATERIALIZED index: base corpus never re-shingled") {
    val df = Queries.all("dd_incremental")(spark, sf)
    df.collect()
    // base-side state (band rows for candidates, shingle sets for
    // verification) must come from the index files, never from re-deriving
    // the documents table — the whole point of incremental dedup. Inspect
    // the scan RELATIONS (the executed-plan string truncates locations).
    // The candidate probe (batch bands ⋈ index bands) is materialized by
    // verifyAgainstIndex's localCheckpoint, so it appears as a LogicalRDD
    // here and its bands scan ran exactly once in the checkpoint job.
    val plan = df.queryExecution.optimizedPlan
    val roots = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    val idxScans = roots.count(_.contains("bandidx"))
    assert(idxScans == 1, s"expected exactly the sets index scan, got $idxScans: $roots")
    val checkpointed = plan.collect {
      case _: org.apache.spark.sql.execution.LogicalRDD => 1
    }.sum
    assert(checkpointed == 1, s"expected the materialized candidate list, got $checkpointed")
    // the documents table feeds only the batch side: shingle sets, id list
    val docScans = roots.count(_.contains("documents.parquet"))
    assert(docScans <= 2, s"batch side should need <= 2 corpus scans, got $docScans: $roots")
    assert(roots.size == idxScans + docScans, s"unexpected extra relation: $roots")
  }

  test("band-index verification: sets scan is pruned to candidate buckets") {
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    Dedup.buildBandIndex(docs, "doc_id", "text", s"$tmp/idx")
    // a SINGLE-doc batch: candidates touch few of the 64 set buckets, so
    // pruning must leave most directories unread
    val batch = docs.filter(col("doc_id") === 7L)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val cand = Dedup.probeBandIndex(spark, s"$tmp/idx", batch, "doc_id", "text")
    val batchSets = batch.select(col("doc_id").as("id_new"),
      array_distinct(Dedup.shingles(col("text"))).as("shl_n"))
    val ver = Dedup.verifyAgainstIndex(spark, s"$tmp/idx", "doc_id", cand, batchSets)
    assert(ver.count() > 0) // finalize AQE; doc 7 has an exact dup in base
    val plan = ver.queryExecution.executedPlan.toString
    // the sets/ scan must carry a LITERAL bucket IN (...) PARTITION filter
    // — at 10^12 base docs that is the difference between reading
    // candidate-proportional directories and rescanning every stored
    // shingle set per daily batch (round-3 verdict item 4). DPP cannot
    // express this (no literal selective predicate on the probe side), so
    // the operator collects the bounded bucket list itself.
    val setsScanPf = plan.linesIterator
      .filter(_.contains("PartitionFilters"))
      .find(_.contains("bucket"))
      .getOrElse("")
    // Catalyst renders a one-element list as equality (`bucket = N`) and
    // longer lists as `bucket IN (...)` — accept either literal form
    val literal = setsScanPf.contains(" IN (") || setsScanPf.matches(".*\\(bucket#\\d+ = \\d+\\).*")
    assert(literal, s"sets scan has no literal bucket partition filter:\n$plan")
    // and the filter is genuinely selective for this batch: fewer buckets
    // listed than exist (candidate ids for one doc hit ≤ a handful)
    val nListed =
      if (setsScanPf.contains(" IN ("))
        setsScanPf.split(" IN \\(").last.takeWhile(_ != ')').split(",").length
      else 1
    assert(nListed < Dedup.SetsBuckets,
      s"partition filter lists all $nListed buckets — not pruning: $setsScanPf")
  }

  test("dd_decontam: benchmark side broadcasts — corpus n-grams never shuffle into a join") {
    val df = Queries.all("dd_decontam")(spark, sf)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the eval set (small by nature) must be the broadcast build side; a
    // sort-merge join here would shuffle EVERY corpus n-gram at 100 TB
    assert(plan.contains("BroadcastHashJoin"), s"benchmark join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus n-grams must not sort-merge-shuffle:\n$plan")
    // post-join shuffles only: the per-doc aggregate (+ output sort) over
    // the rare contamination HITS, never the full exploded n-gram stream
    val exchanges = plan.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(exchanges.forall(e => !e.contains("(g#") && !e.contains("(g,")),
      s"n-gram column must never be a shuffle key:\n${exchanges.mkString("\n")}")
  }

  test("pipe_pack: packing window is per-shard — never a single-partition sort") {
    val df = Queries.all("pipe_pack")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Window"), s"expected window cumsum:\n$plan")
    // a Window without partitioning plans Exchange SinglePartition — the
    // one-machine sort that cannot exist at 10^12 docs
    assert(!plan.contains("SinglePartition"),
      s"packing must not serialize onto one partition:\n$plan")
    assert(plan.contains("hashpartitioning(source"),
      s"expected per-shard (source) window exchange:\n$plan")
  }

  test("mega fallback tier (set > inline cap): no literal IN, joins planned, output identical") {
    val docs = Fixtures.testDocsDS(spark)
    val inline = Extract.extractDS(spark, docs, conf = ExtractConf(numPartitions = 4))
      .collect().map(d => d.doc_id -> d).toMap
    // cap 0 forces the semi/anti-join tier even for this corpus's tiny mega set
    val ds = Extract.extractDS(spark, docs,
      conf = ExtractConf(numPartitions = 4, megaInlineCap = 0))
    val fallback = ds.collect().map(d => d.doc_id -> d).toMap
    assert(fallback == inline, "fallback tier must produce identical output")
    spark.catalog.clearCache() // the fallback Dataset reads the persisted pass
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [In(doc_id"),
      "fallback tier must not inline a literal IN list")
    assert(plan.contains("LeftSemi") || plan.contains("LeftAnti"),
      s"fallback tier should plan semi/anti joins:\n$plan")
    // the tail side of each join reads the persisted pass, not the input again
    import org.apache.spark.sql.execution.LeafExecNode
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val aqe = new AdaptiveSparkPlanHelper {}
    val tailSides = aqe.collect(ds.queryExecution.executedPlan) { case j: BaseJoinExec => j.right }
    assert(tailSides.nonEmpty, s"no join:\n$plan")
    tailSides.foreach { side =>
      val leaves = aqe.collect(side) { case l: LeafExecNode if !l.isInstanceOf[QueryStageExec] => l }
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[InMemoryTableScanExec]),
        s"the tail side of a join does not read the cached pass:\n$side")
    }
  }
}
