package graft.pipeline

import graft.media.{DeterministicMediaStore, DeterministicOcr, MediaStore, OcrEngine}
import graft.model._
import graft.sources.DriverParquet
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import scala.collection.mutable

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
  *               → persisted; ≤ megaInlineCap rows reach the driver
  * [mega cut]    on the driver: share = max(floor, Σ pages ÷ max(pass
  *               partitions, defaultParallelism)) — one task's fair
  *               share; megas = the tail docs of every pass partition
  *               whose tail docs together hold more pages than it
  * [common path] scan → mapPartitions(skip rejected + megas, kernel)
  *               → DocOut — a SINGLE STAGE: no shuffle anywhere between
  *               the source and the sink
  * [skew path]   scan of the megas → flatMap(salted page-range WorkUnits)
  *               → repartition(doc_id, salt)
  *               → mapPartitions(kernel) → groupByKey(doc_id) → merge
  * union → observe(metrics) → idempotent append
  * [lineage]     on the driver: the deduped rows, one parquet file, no job
  * }}}
  *
  * Where the tail is held depends only on its size: on the driver (a
  * broadcast skip set, a pushed `doc_id IN` filter for the megas), or in
  * the persisted pass (anti- and semi-joins). With nothing to skip, a run
  * is two jobs: the tail pass and one zero-shuffle write.
  *
  * Scale properties:
  *  - The expensive extraction runs exactly once per page either way, and
  *    the metadata pass is evaluated once per run.
  *  - ~99.9% of docs take the common path, which is embarrassingly
  *    parallel: scan → extract → write with ZERO shuffles. (An earlier
  *    design range-shuffled the full input first so both branches could
  *    reuse one exchange; profiling showed that shuffle — a full write+
  *    read of the corpus — was the dominant non-scaling stage once the
  *    kernel was optimized. The metadata pass costs a ~few-% column-pruned
  *    scan instead.)
  *  - The size guard and the skew probe share that one pass: the input is
  *    scanned once before extraction, not once per guard.
  *  - Only the mega-doc slice pays a shuffle. Units spread over
  *    (doc_id, salt) so no single task owns a 256-page doc (SURVEY.md §4.2
  *    salting).
  *  - The skew threshold is a TAIL bound: docs above `skewPageThreshold`
  *    are salted only when those one task reads hold, together, more
  *    pages than one task's fair share of the pass's measured page load
  *    (one doc over the share, or many smaller ones clustered in one
  *    input partition). Otherwise they stay in the common path, where
  *    `extractWhole` plans and merges their units inside one task (same
  *    output), and no task carries more than a share of them.
  *  - OCR engine init is amortized once per partition inside
  *    `mapPartitions` (the reference pays a subprocess spawn per page pass,
  *    `main.py:229`).
  *  - Per-partition lineage rows (run_id, path, partition, doc range,
  *    span/byte counts, wall ms) are collected via an accumulator,
  *    cross-checked against the observed output count and persisted next
  *    to the output by the driver (`DriverParquet`: a few rows need no
  *    job) — the north-rule lineage + resume proof.
  */
object Extract {

  final case class Summary(
      runId: String,
      docsProcessed: Long,
      spanCount: Long,
      byteCount: Long,
      lineage: Seq[LineageRow])

  /** One row of the metadata pass: a doc the size guard rejects, or one
    * whose page estimate exceeds the `skewPageThreshold` floor; `part` is
    * the pass partition that read it. */
  private[graft] final case class TailRow(doc_id: String, byte_est: Long, rejected: Boolean,
      pages: Int, part: Int)

  /** The metadata pass, run once. `rows` are its rows on the driver: all
    * of them when at most `megaInlineCap`, none when it skips no doc; else
    * extraction joins against `pass`, which stays persisted. `heavy` are the
    * pass partitions whose non-rejected rows hold more pages than max(floor,
    * one task's share); `scanned` and `rejected` count the pass's docs. */
  private final case class Tail(pass: Dataset[TailRow], rows: Option[Seq[TailRow]],
      heavy: Set[Int], scanned: Long, rejected: Long)

  /** Pure transformation: docs → extracted docs. No I/O; callers choose
    * source/sink. `store`/`engine` must be serializable singletons or
    * lightweight factories (shipped to executors). When the tail outgrew
    * `megaInlineCap` and holds a mega, the returned Dataset joins against
    * the persisted metadata pass: it reads that cache, which stays until
    * it is unpersisted (`spark.catalog.clearCache()`). */
  def extractDS(
      spark: SparkSession,
      docs: Dataset[Doc],
      store: MediaStore = DeterministicMediaStore,
      engine: OcrEngine = DeterministicOcr,
      conf: ExtractConf = ExtractConf(),
      lineageAcc: Option[CollectionAccumulator[LineageRow]] = None): Dataset[DocOut] =
    // no size term: the pass reads only doc_id + spans.{kind,media_ref}
    extractTiered(spark, docs, readTail(spark, docs, store, conf, maxBytes = None),
      store, engine, conf, lineageAcc)

  /** Extraction given the metadata pass over `docs`. */
  private def extractTiered(
      spark: SparkSession,
      docs: Dataset[Doc],
      tail: Tail,
      store: MediaStore,
      engine: OcrEngine,
      conf: ExtractConf,
      lineageAcc: Option[CollectionAccumulator[LineageRow]]): Dataset[DocOut] = {
    import spark.implicits._

    // the share rule: a mega is a non-rejected tail doc of a heavy partition
    val heavy = tail.heavy
    val mega = (r: TailRow) => !r.rejected && heavy(r.part)
    val skip = (r: TailRow) => r.rejected || mega(r)
    // a tail on the driver is skipped through one broadcast set inside the
    // common path's stage (zero plan impact); a larger one by a left_anti
    // join against the cached pass (broadcast by AQE when it fits)
    val skipSet = spark.sparkContext.broadcast(
      tail.rows.fold(Set.empty[String])(_.iterator.filter(skip).map(_.doc_id).toSet))

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
              acc.add(LineageRow(conf.runId, path, pid, Option(minId).getOrElse(""),
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
    val commonIn: Dataset[Doc] =
      if (tail.rows.isDefined) docs
      else docs.join(tail.pass.filter(skip).select("doc_id"), Seq("doc_id"), "left_anti").as[Doc]
    val wholeOut: Dataset[DocOut] = commonIn
      .mapPartitions { it =>
        val skip = skipSet.value
        val small = it
          .filter(d => skip.isEmpty || !skip.contains(d.doc_id))
          .map(d => ExtractKernel.extractWhole(d, store, engine, conf))
        withLineage[DocOut]("common", _.doc_id, _.spans)(small)
      }

    if (tail.heavy.isEmpty) return wholeOut

    // --- skew path: re-read ONLY the mega docs — behind a pushed-down IN
    //     filter (parquet row-group skipping), or a left_semi join against
    //     the cached pass. Then split into salted page-range units, spread,
    //     extract, reassemble.
    val megaDocs: Dataset[Doc] = tail.rows match {
      case Some(rows) =>
        docs.toDF().filter(col("doc_id").isin(rows.filter(mega).map(r => r.doc_id: Any): _*)).as[Doc]
      case None =>
        docs.join(tail.pass.filter(mega).select("doc_id"), Seq("doc_id"), "left_semi").as[Doc]
    }

    val saltedOut: Dataset[DocOut] = megaDocs
      .flatMap(d => ExtractKernel.plan(d, store, conf))
      .repartition(conf.numPartitions, col("doc_id"), col("salt"))
      .mapPartitions { it =>
        it.map(u => ExtractKernel.extractUnit(u, store, engine, conf))
      }
      .groupByKey(_.doc_id)
      .mapGroups { (id, us) => ExtractKernel.merge(id, us.toSeq) }
      .mapPartitions(it => withLineage[DocOut]("salted", _.doc_id, _.spans)(it))

    wholeOut.union(saltedOut)
  }

  /** The metadata pass: one `TailRow` per TAIL doc — rejected by the size
    * guard (`maxBytes`), or one whose page estimate exceeds the
    * `skewPageThreshold` floor. Relational column extraction, so a
    * parquet/Iceberg source reads only doc_id + spans.kind +
    * spans.media_ref (+ spans.text lengths with the size term); nested
    * schema pruning skips the text payload when `maxBytes` is None. A
    * rejected doc never reaches the page estimate, exactly as when the
    * size guard ran first. `scanned` counts every doc the pass reads;
    * `pageLoad` sums the page estimates of the docs it does not reject. */
  private[graft] def tailPass(spark: SparkSession, docs: Dataset[Doc], store: MediaStore,
      conf: ExtractConf, maxBytes: Option[Long],
      scanned: LongAccumulator, pageLoad: LongAccumulator): Dataset[TailRow] = {
    import spark.implicits._
    val floor = conf.skewPageThreshold
    val limit = maxBytes.getOrElse(Long.MaxValue)
    docs.toDF()
      .select(col("doc_id"), col("spans.kind").as("kinds"), col("spans.media_ref").as("refs"),
        maxBytes.fold(lit(0L))(_ => byteEst(store)))
      .as[(String, Seq[String], Seq[String], Long)]
      .mapPartitions { it =>
        val part = TaskContext.getPartitionId()
        it.flatMap { case (id, kindsOrNull, refsOrNull, bytes) =>
          scanned.add(1)
          if (bytes > limit) Some(TailRow(id, bytes, rejected = true, 0, part))
          else {
            val kinds = Option(kindsOrNull).getOrElse(Nil)
            val refs = Option(refsOrNull).getOrElse(Nil)
            val pages = kinds.iterator.zip(refs.iterator).map {
              case ("pdf", r) if r != null && r.nonEmpty => store.pageCount(r)
              case _ => 1
            }.sum
            pageLoad.add(pages)
            if (pages > floor) Some(TailRow(id, bytes, rejected = false, pages, part)) else None
          }
        }
      }
  }

  /** Runs the metadata pass over `docs` as ONE Spark job that always
    * finishes, and keeps it persisted for the joins. Each task returns its
    * tail count, rejected count and non-rejected pages, and its rows only
    * when they number at most ⌈`megaInlineCap` / tasks⌉: the driver receives
    * fewer than `megaInlineCap` + tasks rows at any tail size. A tail that
    * fits the cap reads the rows of the tasks over that quota back from the
    * cache. The cache is released at once unless a join will read it. */
  private def readTail(spark: SparkSession, docs: Dataset[Doc], store: MediaStore,
      conf: ExtractConf, maxBytes: Option[Long]): Tail = {
    val sc = spark.sparkContext
    val scanned = sc.longAccumulator("tail pass docs")
    val pageLoad = sc.longAccumulator("tail pass pages")
    val pass = tailPass(spark, docs, store, conf, maxBytes, scanned, pageLoad).persist()
    // the jobs read the cache's own rows: a planned read of a cached plan with
    // an exchange (a resumed run's anti-join) builds it in a job of its own
    val cache = spark.sharedState.cacheManager.lookupCachedData(castToImpl(pass)).get
      .cachedRepresentation
    val enc = ExpressionEncoder[TailRow]().resolveAndBind(cache.output)
    val rdd = cache.cacheBuilder.serializer.convertCachedBatchToInternalRow(
      cache.cacheBuilder.cachedColumnBuffers, cache.output, cache.output, spark.sessionState.conf)
      .mapPartitions(it => it.map(enc.createDeserializer()))
    val n = rdd.getNumPartitions
    val quota = ((conf.megaInlineCap.toLong + n - 1) / math.max(n, 1)).toInt
    val counts, pages = new Array[Long](n)
    var rejected = 0L
    val held = mutable.ArrayBuffer.empty[TailRow]
    // the handler runs on the scheduler thread, serialized per job
    try sc.runJob(rdd,
      (it: Iterator[TailRow]) => {
        val kept = mutable.ArrayBuffer.empty[TailRow]
        var count, rej, p = 0L
        it.foreach { r =>
          count += 1
          if (r.rejected) rej += 1 else p += r.pages
          if (count <= quota) kept += r
        }
        (count, rej, p, if (count <= quota) kept.toArray else Array.empty[TailRow])
      },
      (part: Int, res: (Long, Long, Long, Array[TailRow])) => {
        counts(part) = res._1
        rejected += res._2
        pages(part) = res._3
        held ++= res._4
      })
    catch { case e: Throwable => pass.unpersist(); throw e }
    // read once: a cached block that is recomputed later adds to the
    // accumulators again, and must not change a decision
    val share = pageLoad.value / math.max(n, sc.defaultParallelism)
    val heavy = pages.indices.filter(pages(_) > math.max(conf.skewPageThreshold.toLong, share)).toSet
    val over = counts.indices.filter(counts(_) > quota)
    val rows =
      if (counts.sum > conf.megaInlineCap) (if (rejected == 0 && heavy.isEmpty) Some(Nil) else None)
      else if (over.isEmpty) Some(held.toSeq)
      else Some(held.toSeq ++ sc.runJob(rdd, (it: Iterator[TailRow]) => it.toArray, over).flatten.toSeq)
    if (rows.isDefined) pass.unpersist()
    Tail(pass, rows, heavy, scanned.value, rejected)
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
    * main.py:484-485,619-620,743-745): split docs whose byte estimate
    * exceeds `maxBytes` into a rejected side output `(doc_id, byte_est,
    * reason)` BEFORE extraction — the reference 413s a too-large upload
    * before OCR ever runs. Column-level: `spans.text` octet lengths plus a
    * media `ScalaUDF` over `spans.{kind,media_ref}`. `run` does not call
    * it: its metadata pass finds the rejected docs with the same estimate. */
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
    val tail = readTail(spark, todo, store, conf, Some(conf.maxDocBytes))
    val observed = Observation("extract_metrics")
    try {
      tail.rows match {
        case None if tail.rejected > 0 =>
          tail.pass.filter(col("rejected"))
            .select(col("doc_id"), col("byte_est"), lit("too_large").as("reason"))
            .write.mode(SaveMode.Overwrite).parquet(rejectedPath)
        case rows => // on the driver, or none: committed without a job
          DriverParquet.overwrite(spark, rejectedPath, rows.getOrElse(Nil).collect {
            case r if r.rejected => RejectedDoc(r.doc_id, r.byte_est, "too_large")
          })
      }
      extractTiered(spark, todo, tail, store, engine, conf, Some(acc))
        .observe(observed, count(lit(1)).as("docs"))
        .write.mode(SaveMode.Append).parquet(outPath)
    } finally tail.pass.unpersist()

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
    // a few rows, already on the driver: committed without a job
    DriverParquet.append(spark, s"${outPath}_lineage/run_id=${conf.runId}", lineage)
    // A lost or duplicated lineage update, or a doc the skip rule dropped
    // from both paths, fails the run instead of leaving a missing row; the
    // lineage written above is the evidence.
    val observedDocs = observed.get("docs").asInstanceOf[Long]
    val lineageDocs = lineage.map(_.doc_count).sum
    if (observedDocs != lineageDocs)
      throw new IllegalStateException(s"run ${conf.runId}: wrote $observedDocs docs " +
        s"but lineage accounts for $lineageDocs")
    if (tail.scanned != observedDocs + tail.rejected)
      throw new IllegalStateException(s"run ${conf.runId}: the metadata pass read " +
        s"${tail.scanned} docs, but $observedDocs were written and ${tail.rejected} rejected")
    Summary(conf.runId,
      lineageDocs,
      lineage.map(_.span_count).sum,
      lineage.map(_.byte_count).sum,
      lineage)
  }

  /** Resume (north rule: idempotent restart): `in` minus the doc_ids
    * already in the committed output. left_anti scales to any committed
    * size (sort-merge); at small committed sets AQE turns it into a
    * broadcast anti-join. It ignores duplicate keys, so the committed ids
    * are not deduplicated first (that would shuffle every one of them).
    * The ids are read with a user schema, so no schema-inference job runs. */
  private[graft] def pending(spark: SparkSession, in: Dataset[Doc], outPath: String): Dataset[Doc] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      in.join(spark.read.schema("doc_id string").parquet(outPath), Seq("doc_id"), "left_anti").as[Doc]
    else in
  }
}
