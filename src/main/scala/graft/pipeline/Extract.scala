package graft.pipeline

import graft.media.{DeterministicMediaStore, DeterministicOcr, MediaStore, OcrEngine}
import graft.model._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** The batch extraction pipeline (SURVEY.md §3.4) — the Spark-native
  * replacement for the reference's request loop, designed for a
  * 1000-executor cluster over 10^12 docs:
  *
  * {{{
  * [tail pass]   ONE job over a column-pruned metadata scan (doc_id,
  *               spans.kind, spans.media_ref; spans.text lengths only when
  *               the size guard is on) → per doc byte estimate + page
  *               estimate, Σ pages accumulated → keep only the TAIL
  *               (over-size docs, docs above the skewPageThreshold floor)
  *               → bounded collect (≤ megaInlineCap rows reach the driver)
  * [mega cut]    on the driver: share = max(floor, Σ pages ÷ max(pass
  *               partitions, defaultParallelism)) — one task's fair
  *               share; megas = the tail docs of every pass partition
  *               whose tail docs together hold more pages than it
  * [common path] scan → mapPartitions(skip rejected + mega ids, kernel)
  *               → DocOut — a SINGLE STAGE: no shuffle anywhere between
  *               the source and the sink
  * [skew path]   scan filtered by doc_id IN (megas)   // predicate pushed
  *               → flatMap(salted page-range WorkUnits)   // to row-group
  *               → repartition(doc_id, salt)              // skipping
  *               → mapPartitions(kernel) → groupByKey(doc_id) → merge
  * union → observe(metrics) → idempotent append
  * }}}
  *
  * With no mega the skew path is not planned at all: a run is the tail
  * pass, one zero-shuffle write and the lineage write.
  *
  * Scale properties:
  *  - The expensive extraction runs exactly once per page either way.
  *  - ~99.9% of docs take the common path, which is embarrassingly
  *    parallel: scan → extract → write with ZERO shuffles. (An earlier
  *    design range-shuffled the full input first so both branches could
  *    reuse one exchange; profiling showed that shuffle — a full write+
  *    read of the corpus — was the dominant non-scaling stage once the
  *    kernel was optimized. The metadata pass costs a ~few-% column-pruned
  *    scan instead.)
  *  - The size guard and the skew probe share that one pass: the input is
  *    scanned once before extraction, not once per guard.
  *  - Only the mega-doc slice pays a shuffle, and its input scan prunes to
  *    almost nothing via the pushed `doc_id IN (...)` filter (parquet
  *    row-group stats). Units spread over (doc_id, salt) so no single task
  *    owns a 256-page doc (SURVEY.md §4.2 salting).
  *  - The skew threshold is a TAIL bound: docs above `skewPageThreshold`
  *    are salted only when those one task reads hold, together, more
  *    pages than one task's fair share of the pass's measured page load
  *    (one doc over the share, or many smaller ones clustered in one
  *    input partition). Otherwise they stay in the common path, where
  *    `extractWhole` plans and merges their units inside one task (same
  *    output), and no task carries more than a share of them. Ordinary size
  *    variance is absorbed by tasks; the broadcast tail-id set stays tiny
  *    by construction (guarded: a tail larger than `megaInlineCap` falls
  *    back to distributed writes and semi/anti joins against the floor).
  *  - OCR engine init is amortized once per partition inside
  *    `mapPartitions` (the reference pays a subprocess spawn per page pass,
  *    `main.py:229`).
  *  - Per-partition lineage rows (run_id, path, partition, doc range,
  *    span/byte counts, wall ms) are collected via an accumulator,
  *    cross-checked against the observed output count and persisted next
  *    to the output — the north-rule lineage + resume proof.
  */
object Extract {

  final case class Summary(
      runId: String,
      docsProcessed: Long,
      spanCount: Long,
      byteCount: Long,
      lineage: Seq[LineageRow])

  /** The tail of one metadata pass, small enough for the driver: docs the
    * size guard rejects `(doc_id, byte_est)` and the mega doc ids. */
  private final case class Tail(rejected: Seq[(String, Long)], megas: Seq[String])

  /** Pure transformation: docs → extracted docs. No I/O; callers choose
    * source/sink. `store`/`engine` must be serializable singletons or
    * lightweight factories (shipped to executors). */
  def extractDS(
      spark: SparkSession,
      docs: Dataset[Doc],
      store: MediaStore = DeterministicMediaStore,
      engine: OcrEngine = DeterministicOcr,
      conf: ExtractConf = ExtractConf(),
      lineageAcc: Option[CollectionAccumulator[LineageRow]] = None): Dataset[DocOut] = {
    // no size term: the pass reads only doc_id + spans.{kind,media_ref}
    val pageLoad = spark.sparkContext.longAccumulator("tail pass pages")
    val pass = tailPass(spark, docs, store, conf, maxBytes = None, pageLoad = Some(pageLoad))
    extractTiered(spark, docs, pass, collectTail(spark, pass, pageLoad, conf),
      store, engine, conf, lineageAcc)
  }

  /** Extraction given the metadata pass over `docs` and, when it fit the
    * inline cap, its collected tail. */
  private def extractTiered(
      spark: SparkSession,
      docs: Dataset[Doc],
      pass: DataFrame,
      tail: Option[Tail],
      store: MediaStore,
      engine: OcrEngine,
      conf: ExtractConf,
      lineageAcc: Option[CollectionAccumulator[LineageRow]]): Dataset[DocOut] = {
    import spark.implicits._

    val kconf = conf
    val kstore = store
    val kengine = engine

    // Tiered by tail size: the thresholds are TAIL bounds, so the expected
    // case is a tiny tail → skip it through one broadcast set and re-read
    // the megas behind a pushed-down IN filter (parquet row-group
    // skipping). A degenerate threshold/corpus falls back to semi/anti
    // joins against the pass, which scale to any tail size (AQE picks
    // broadcast vs shuffled by actual size).
    val megas: Seq[String] = tail.map(_.megas).getOrElse(Nil)
    val skipSet = spark.sparkContext.broadcast(
      tail.map(t => t.rejected.iterator.map(_._1).toSet ++ t.megas).getOrElse(Set.empty[String]))

    def withLineage[T](path: String, docIdOf: T => String, spansOf: T => Seq[Span])(
        it: Iterator[T]): Iterator[T] = lineageAcc match {
      case None => it
      case Some(acc) =>
        val t0 = System.nanoTime()
        var minId: String = null
        var maxId: String = null
        var docs = 0L
        var spans = 0L
        var bytes = 0L
        val pid = TaskContext.getPartitionId()
        new Iterator[T] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && docs >= 0) {
              acc.add(LineageRow(kconf.runId, path, pid, Option(minId).getOrElse(""),
                Option(maxId).getOrElse(""), docs, spans, bytes,
                (System.nanoTime() - t0) / 1000000))
              docs = -1 // emit once
            }
            h
          }
          def next(): T = {
            val r = it.next()
            val id = docIdOf(r)
            if (minId == null || id < minId) minId = id
            if (maxId == null || id > maxId) maxId = id
            docs += 1
            val ss = spansOf(r)
            spans += ss.length
            bytes += ss.iterator.map(_.text.length.toLong).sum
            r
          }
        }
    }

    // --- common path: SINGLE STAGE scan → extract → (sink); tail skipped.
    // Inline tier: skip via the broadcast set inside the same stage (zero
    // plan impact). Fallback tier: left_anti join against the pass (no
    // driver materialization; broadcast by AQE when it fits).
    val commonIn: Dataset[Doc] =
      if (tail.isDefined) docs
      else docs.join(pass.select("doc_id"), Seq("doc_id"), "left_anti").as[Doc]
    val wholeOut: Dataset[DocOut] = commonIn
      .mapPartitions { it =>
        val skip = skipSet.value
        val small = it
          .filter(d => skip.isEmpty || !skip.contains(d.doc_id))
          .map(d => ExtractKernel.extractWhole(d, kstore, kengine, kconf))
        withLineage[DocOut]("common", _.doc_id, _.spans)(small)
      }

    if (tail.isDefined && megas.isEmpty) return wholeOut

    // --- skew path: re-read ONLY the mega docs — inline tier: pushed-down
    //     IN filter (parquet row-group skipping makes this scan near-free);
    //     fallback tier: left_semi join (scan not row-group-pruned, the
    //     documented cost of a degenerate tail). Then split into salted
    //     page-range units, spread, extract, reassemble.
    val megaDocs: Dataset[Doc] =
      if (tail.isDefined)
        docs.toDF().filter(col("doc_id").isin(megas.map(x => x: Any): _*)).as[Doc]
      else
        docs.join(pass.filter(!col("rejected")).select("doc_id"), Seq("doc_id"), "left_semi").as[Doc]

    val saltedOut: Dataset[DocOut] = megaDocs
      .flatMap(d => ExtractKernel.plan(d, kstore, kconf))
      .repartition(conf.numPartitions, col("doc_id"), col("salt"))
      .mapPartitions { it =>
        it.map(u => ExtractKernel.extractUnit(u, kstore, kengine, kconf))
      }
      .groupByKey(_.doc_id)
      .mapGroups { (id, us) => ExtractKernel.merge(id, us.toSeq) }
      .mapPartitions(it => withLineage[DocOut]("salted", _.doc_id, _.spans)(it))

    wholeOut.union(saltedOut)
  }

  /** The metadata pass: one row `(doc_id, byte_est, rejected, pages)` per
    * TAIL doc — rejected by the size guard (`maxBytes`), or one whose page
    * estimate exceeds the `skewPageThreshold` floor. Relational column
    * extraction, so a parquet/Iceberg source reads only doc_id + spans.kind
    * + spans.media_ref (+ spans.text lengths with the size term); nested
    * schema pruning skips the text payload when `maxBytes` is None. A
    * rejected doc never reaches the page estimate, exactly as when the
    * size guard ran first. `scanned` counts every doc the pass reads;
    * `pageLoad` sums the page estimates of the docs it does not reject. */
  private[graft] def tailPass(spark: SparkSession, docs: Dataset[Doc], store: MediaStore,
      conf: ExtractConf, maxBytes: Option[Long],
      scanned: Option[LongAccumulator] = None,
      pageLoad: Option[LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    val kstore = store
    val floor = conf.skewPageThreshold
    val limit = maxBytes.getOrElse(Long.MaxValue)
    docs.toDF()
      .select(col("doc_id"), col("spans.kind").as("kinds"), col("spans.media_ref").as("refs"),
        maxBytes.fold(lit(0L))(_ => byteEst(store)))
      .as[(String, Seq[String], Seq[String], Long)]
      .flatMap { case (id, kindsOrNull, refsOrNull, bytes) =>
        scanned.foreach(_.add(1))
        if (bytes > limit) Some((id, bytes, true, 0))
        else {
          val kinds = Option(kindsOrNull).getOrElse(Nil)
          val refs = Option(refsOrNull).getOrElse(Nil)
          val pages = kinds.iterator.zip(refs.iterator).map {
            case ("pdf", r) if r != null && r.nonEmpty => kstore.pageCount(r)
            case _ => 1
          }.sum
          pageLoad.foreach(_.add(pages))
          if (pages > floor) Some((id, bytes, false, pages)) else None
        }
      }
      .toDF("doc_id", "byte_est", "rejected", "pages")
  }

  /** Runs `pass` as ONE Spark job and returns its tail while it has at most
    * `megaInlineCap` rows; None as soon as more arrive (the job is
    * cancelled then). Each partition ships at most `cap + 1` rows, so
    * driver memory and task-result bytes stay O(cap) for any tail size.
    * Of the docs the pass kept for their pages, those of one pass
    * partition are megas when together they hold more than one task's
    * fair share of `pageLoad` (and more than the floor). */
  private def collectTail(spark: SparkSession, pass: DataFrame, pageLoad: LongAccumulator,
      conf: ExtractConf): Option[Tail] = {
    import spark.implicits._
    val cap = conf.megaInlineCap
    val rdd = pass.as[(String, Long, Boolean, Int)].rdd
    val rows = mutable.ArrayBuffer.empty[(Int, (String, Long, Boolean, Int))] // (partition, row)
    val overflow = Promise[Unit]()
    // the handler runs on the scheduler thread, serialized per job
    val job = spark.sparkContext.submitJob[(String, Long, Boolean, Int), Array[(String, Long, Boolean, Int)], Unit](rdd,
      it => it.take(cap + 1).toArray,
      rdd.partitions.indices,
      (index, part) => if (!overflow.isCompleted) {
        rows ++= part.iterator.map(r => (index, r))
        if (rows.length > cap) overflow.trySuccess(())
      },
      ())
    Await.ready(Future.firstCompletedOf(Seq(job, overflow.future))(ExecutionContext.parasitic),
      Duration.Inf)
    if (overflow.isCompleted) {
      job.cancel()
      None
    } else {
      Await.result(job, Duration.Inf) // rethrows a failed pass
      // pageLoad is complete: only a partition that reached cap + 1 tail
      // rows stops reading early, and that overflows
      val share = pageLoad.value /
        math.max(rdd.getNumPartitions, spark.sparkContext.defaultParallelism)
      val threshold = math.max(conf.skewPageThreshold.toLong, share)
      val (rejected, heavy) = rows.toSeq.partition(_._2._3)
      // the docs above the floor that one task reads are salted together
      // once they hold more pages than the share: one such doc, or many
      // small ones clustered in one input partition
      val megas = heavy.groupBy(_._1).values
        .filter(_.map(_._2._4.toLong).sum > threshold)
        .flatMap(_.map(_._2._1)).toSeq
      Some(Tail(rejected.map(r => (r._2._1, r._2._2)), megas))
    }
  }

  /** Per-doc byte estimate of the size guard: span text payload plus the
    * store's media estimate. */
  private def byteEst(store: MediaStore): Column = {
    // outer coalesce: aggregate(NULL spans, ...) is NULL, and a NULL
    // predicate would drop the doc from BOTH branches (silent data loss,
    // NullSafetySpec corpus class) — null spans estimate as 0 bytes
    val textEst = coalesce(
      aggregate(col("spans"), lit(0L),
        (acc, s) => acc + coalesce(octet_length(s.getField("text")).cast("long"), lit(0L))),
      lit(0L))
    // media term: the store's metadata-only byte estimate per media span
    // (the reference's Content-Length / 10 MB mid-download cap) — a giant
    // scanned PDF must be rejected BEFORE page decode, and its bytes are
    // not in the text payload. A UDF is acceptable at this tier: it is a
    // metadata probe over (kind, ref) pairs, the same cost class as the
    // skew probe's pageCount — never inside the extraction hot loop.
    val kstore = store
    val mediaEst = udf { (kinds: Seq[String], refs: Seq[String]) =>
      if (kinds == null || refs == null) 0L
      else kinds.iterator.zip(refs.iterator).map {
        case (k, r) if k != null && k != "text" && r != null && r.nonEmpty =>
          kstore.byteEstimate(r)
        case _ => 0L
      }.sum
    }
    (textEst + coalesce(mediaEst(col("spans.kind"), col("spans.media_ref")), lit(0L)))
      .as("byte_est")
  }

  /** P4 size guard (main.py:51 `MAX_FILE_SIZE`; enforced at
    * main.py:484-485,619-620,743-745): split docs whose span text payload
    * exceeds `maxBytes` into a rejected side output `(doc_id, byte_est,
    * reason)` BEFORE extraction — the reference 413s a too-large upload
    * before OCR ever runs. Column-level: the estimate reads only
    * `spans.text` lengths (stays inside the scan's codegen). `run` does
    * not call it: its metadata pass finds the rejected docs with the same
    * estimate. */
  def sizeSplit(spark: SparkSession, docs: Dataset[Doc], maxBytes: Long,
      store: MediaStore = DeterministicMediaStore)
      : (Dataset[Doc], DataFrame) = {
    import spark.implicits._
    val withEst = docs.toDF().withColumn("byte_est", byteEst(store))
    val accepted = withEst.filter(col("byte_est") <= maxBytes).drop("byte_est").as[Doc]
    val rejected = withEst.filter(col("byte_est") > maxBytes)
      .select(col("doc_id"), col("byte_est"), lit("too_large").as("reason"))
    (accepted, rejected)
  }

  /** Read → resume filter → metadata pass (size guard + skew probe) →
    * extract → observed metrics → idempotent append + lineage + rejected
    * side output. Sandbox storage is parquet; the prod path is the same
    * code with `format("iceberg")` (SURVEY.md §2.1 S1/S7 — snapshot commit
    * as the atomic checkpoint).
    */
  def run(
      spark: SparkSession,
      in: Dataset[Doc],
      outPath: String,
      conf: ExtractConf = ExtractConf(),
      store: MediaStore = DeterministicMediaStore,
      engine: OcrEngine = DeterministicOcr): Summary = {
    import spark.implicits._

    val todo = pending(spark, in, outPath)

    val acc = new CollectionAccumulator[LineageRow]
    spark.sparkContext.register(acc, "lineage")

    // P4 size guard: rejected docs go to an audit side output, never to the
    // kernel (the reference rejects before OCR, main.py:484-485). The
    // run_id partition is replaced, not appended to: rejected docs never
    // reach the committed output, so a resumed run re-detects them —
    // appending would duplicate the audit rows on every retry of the same
    // run. A run that rejects nothing leaves no partition.
    val rejectedPath = s"${outPath}_rejected/run_id=${conf.runId}"
    val scanned = spark.sparkContext.longAccumulator("tail pass docs")
    val pageLoad = spark.sparkContext.longAccumulator("tail pass pages")
    val pass = tailPass(spark, todo, store, conf, Some(conf.maxDocBytes), Some(scanned),
      Some(pageLoad))
    // inline tier: also the number of rejected docs
    val (extracted, rejectedDocs) = collectTail(spark, pass, pageLoad, conf) match {
      case Some(tail) =>
        if (tail.rejected.nonEmpty)
          tail.rejected.toDF("doc_id", "byte_est").withColumn("reason", lit("too_large"))
            .coalesce(1).write.mode(SaveMode.Overwrite).parquet(rejectedPath)
        else deletePath(spark, rejectedPath)
        (extractTiered(spark, todo, pass, Some(tail), store, engine, conf, Some(acc)),
          Some(tail.rejected.length.toLong))
      case None =>
        // the tail outgrew the inline cap: the rejected rows come from the
        // same pass, and extraction skips and salts by joins against it
        pass.filter(col("rejected"))
          .select(col("doc_id"), col("byte_est"), lit("too_large").as("reason"))
          .write.mode(SaveMode.Overwrite).parquet(rejectedPath)
        (extractTiered(spark, todo, pass, None, store, engine, conf, Some(acc)), None)
    }

    val observed = Observation("extract_metrics")
    extracted.observe(observed, count(lit(1)).as("docs"))
      .write.mode(SaveMode.Append).parquet(outPath)

    val lineage = {
      import scala.jdk.CollectionConverters._
      // Retried/speculated tasks can deliver duplicate accumulator updates
      // for shuffle-map stages; dedupe by (path, partition), keeping the
      // update that saw the most docs (a retry that superseded a partial).
      acc.value.asScala.toSeq
        .groupBy(r => (r.path, r.partition_id))
        .values.map(_.maxBy(_.doc_count)).toSeq
        .sortBy(r => (r.path, r.partition_id))
    }
    if (lineage.nonEmpty) {
      spark.createDataset(lineage).coalesce(1)
        .write.mode(SaveMode.Append)
        .parquet(s"${outPath}_lineage/run_id=${conf.runId}")
    }
    // A lost or duplicated lineage update, or (inline tier) a doc the skip
    // set dropped from both paths, fails the run instead of leaving a
    // missing row; the lineage written above is the evidence.
    val observedDocs = observed.get("docs").asInstanceOf[Long]
    val lineageDocs = lineage.map(_.doc_count).sum
    if (observedDocs != lineageDocs)
      throw new IllegalStateException(s"run ${conf.runId}: wrote $observedDocs docs " +
        s"but lineage accounts for $lineageDocs")
    rejectedDocs.foreach { r =>
      if (scanned.value != observedDocs + r)
        throw new IllegalStateException(s"run ${conf.runId}: the metadata pass read " +
          s"${scanned.value} docs, but $observedDocs were written and $r rejected")
    }
    Summary(conf.runId,
      lineageDocs,
      lineage.map(_.span_count).sum,
      lineage.map(_.byte_count).sum,
      lineage)
  }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Resume (north rule: idempotent restart): `in` minus the doc_ids
    * already in the committed output. left_anti scales to any committed
    * size (sort-merge); at small committed sets AQE turns it into a
    * broadcast anti-join. It ignores duplicate keys, so the committed ids
    * are not deduplicated first (that would shuffle every one of them). */
  private[graft] def pending(spark: SparkSession, in: Dataset[Doc], outPath: String): Dataset[Doc] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      in.join(spark.read.parquet(outPath).select("doc_id"), Seq("doc_id"), "left_anti").as[Doc]
    else in
  }
}
