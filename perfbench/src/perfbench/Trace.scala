package perfbench

import graft.core.{Boilerplate, Confidence, Consensus, LangDetect, TextClean, XYCut}
import graft.media.{MediaStore, OcrEngine, PageMedia}
import graft.model.{Doc, DocOut, PageOut, UnitOut, WorkUnit}
import graft.pipeline.{ExtractConf, ExtractKernel}

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for one thread. A span is (name, start, end,
  * parent, doc); spans are written out once, at the end of the run.
  *
  * Some layers run inside a program call and cannot be wrapped from
  * outside: XY-cut inside `MediaStore.page`, boilerplate inside
  * `ExtractKernel.rawPages`, language detection inside
  * `ExtractKernel.merge`. Their spans are measured by running the same pure
  * function on the same input again (`defer`), after the document's root
  * span has closed, and are given the enclosing call as parent. Self time is
  * a span's duration minus its children's durations, so that time moves
  * from the enclosing call to the layer, and the root span holds no
  * re-execution time. */
final class Tracer {
  private val names = ArrayBuffer.empty[String]
  private val nameIds = scala.collection.mutable.HashMap.empty[String, Int]
  private val nameOf = ArrayBuffer.empty[Int]
  private val parentOf = ArrayBuffer.empty[Int]
  private val docOf = ArrayBuffer.empty[Int]
  private val startOf = ArrayBuffer.empty[Long]
  private val endOf = ArrayBuffer.empty[Long]
  private val deferred = ArrayBuffer.empty[(String, Int, Int, () => Any, Any => Unit)]

  def size: Int = nameOf.length

  def begin(name: String, parent: Int, doc: Int): Int = {
    nameOf += nameIds.getOrElseUpdate(name, { names += name; names.length - 1 })
    parentOf += parent
    docOf += doc
    endOf += 0L
    startOf += System.nanoTime()
    nameOf.length - 1
  }

  def end(id: Int): Unit = endOf(id) = System.nanoTime()

  /** Queues a re-execution of `body`; only `body` is timed, and `after`
    * then checks or counts its result. */
  def defer[T](name: String, parent: Int, doc: Int)(body: => T)(after: T => Unit): Unit =
    deferred += ((name, parent, doc, () => body, (r: Any) => after(r.asInstanceOf[T])))

  def runDeferred(): Unit = {
    deferred.foreach { case (name, parent, doc, body, after) =>
      val id = begin(name, parent, doc)
      val r = body()
      end(id)
      after(r)
    }
    deferred.clear()
  }

  final case class Agg(count: Long, durNs: Long, selfNs: Long) {
    def durS: Double = durNs / 1e9
    def selfS: Double = selfNs / 1e9
  }

  /** Per span name: count, summed duration and summed self time. */
  def aggregate(): Map[String, Agg] = {
    val childNs = new Array[Long](size)
    var i = 0
    while (i < size) {
      if (parentOf(i) >= 0) childNs(parentOf(i)) += endOf(i) - startOf(i)
      i += 1
    }
    val count = new Array[Long](names.length)
    val dur = new Array[Long](names.length)
    val self = new Array[Long](names.length)
    i = 0
    while (i < size) {
      val n = nameOf(i)
      val d = endOf(i) - startOf(i)
      count(n) += 1
      dur(n) += d
      self(n) += d - childNs(i)
      i += 1
    }
    names.indices.map(n => names(n) -> Agg(count(n), dur(n), self(n))).toMap
  }

  /** Writes every span as a gzipped TSV: id, parent, name, doc, start and
    * end in ns since the first span. */
  def write(path: String, docName: Int => String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8"))
    try {
      val t0 = if (size > 0) startOf(0) else 0L
      w.println("id\tparent\tname\tdoc_id\tstart_ns\tend_ns")
      var i = 0
      while (i < size) {
        w.println(s"$i\t${parentOf(i)}\t${names(nameOf(i))}\t${docName(docOf(i))}\t" +
          s"${startOf(i) - t0}\t${endOf(i) - t0}")
        i += 1
      }
    } finally w.close()
  }
}

/** A `MediaStore`/`OcrEngine` pair that records a span per call under the
  * current `parent`. Single-threaded; never shipped to executors. */
final class TracingMedia(store: MediaStore, engine: OcrEngine, tr: Tracer) {
  var parent: Int = -1
  var doc: Int = -1

  val tracingStore: MediaStore = new MediaStore {
    override def pageCount(mediaRef: String): Int = {
      val s = tr.begin("media.pagecount", parent, doc)
      val n = store.pageCount(mediaRef)
      tr.end(s)
      n
    }
    override def page(mediaRef: String, pageNo: Int): PageMedia = {
      val s = tr.begin("media.page", parent, doc)
      val m = store.page(mediaRef, pageNo)
      tr.end(s)
      if (m.layout.nonEmpty) {
        val d = doc
        tr.defer("core.xycut", s, d)(XYCut.readingOrder(m.layout)) { text =>
          require(text == m.baseText, s"$mediaRef p$pageNo: page text is not the XY-cut order of its layout")
        }
      }
      m
    }
    override def byteEstimate(mediaRef: String): Long = store.byteEstimate(mediaRef)
  }

  val tracingEngine: OcrEngine = new OcrEngine {
    override def recognize(media: PageMedia, passIdx: Int): String = {
      val s = tr.begin("media.ocr", parent, doc)
      val t = engine.recognize(media, passIdx)
      tr.end(s)
      t
    }
  }
}

/** Counts the kernel does not expose, gathered by the traced recomposition. */
final class KernelCounts {
  var mediaPages = 0L
  var mediaPagesKept = 0L
  var consensusCalls = 0L
  var consensusTwoPass = 0L
  var difflibCalls = 0L
  var difflibEqual = 0L
  var textcleanChars = 0L
  var langdetectChars = 0L
  var boilerplateIn = 0L
  var boilerplateOut = 0L
}

/** `ExtractKernel.extractWhole` recomposed from the kernel's public steps
  * (`plan`, `rawPages`, `Consensus.merge`, `Confidence.pairwise`,
  * `TextClean.clean`, `merge`) with a span around each. The benchmark checks
  * that it returns the same `DocOut` as `extractWhole` for every document;
  * otherwise it would time a different program. */
final class TracedKernel(store: MediaStore, engine: OcrEngine, conf: ExtractConf, tr: Tracer) {
  val counts = new KernelCounts
  private val media = new TracingMedia(store, engine, tr)

  def extract(d: Doc, doc: Int): DocOut = {
    media.doc = doc
    val root = tr.begin("kernel.doc", -1, doc)
    val pl = tr.begin("pipeline.plan", root, doc)
    media.parent = pl
    val units = ExtractKernel.plan(d, media.tracingStore, conf)
    tr.end(pl)
    val outs = units.map(unit(_, root, doc))
    val mg = tr.begin("pipeline.merge", root, doc)
    val out = ExtractKernel.merge(d.doc_id, outs)
    tr.end(mg)
    tr.end(root)
    val joined = out.spans.map(_.text).mkString(" ")
    counts.langdetectChars += joined.length
    tr.defer("core.langdetect", mg, doc)(LangDetect.detect(joined)) { lang =>
      require(lang == out.detected_language, s"${d.doc_id}: language re-detection disagrees with merge")
    }
    tr.runDeferred()
    out
  }

  // mirrors ExtractKernel.extractUnit
  private def unit(u: WorkUnit, parent: Int, doc: Int): UnitOut = {
    val us = tr.begin("pipeline.unit", parent, doc)
    val rp = tr.begin("pipeline.rawpages", us, doc)
    media.parent = rp
    val raws = ExtractKernel.rawPages(u, media.tracingStore, media.tracingEngine, conf)
    tr.end(rp)
    u.spans.foreach { s =>
      if (s.kind == "html") {
        val html = if (s.text == null) "" else s.text
        counts.boilerplateIn += html.length
        tr.defer("core.boilerplate", rp, doc)(Boilerplate.extract(html)) { text =>
          counts.boilerplateOut += text.length
        }
      }
    }
    val pages = Seq.newBuilder[PageOut]
    var phys = 0
    var confSum = 0.0
    raws.foreach { r =>
      val (raw, c) =
        if (r.passes.length == 1) (r.passes.head, 100.0)
        else {
          val cs = tr.begin("core.consensus", us, doc)
          val m = Consensus.merge(r.passes)
          tr.end(cs)
          val cf = tr.begin("core.confidence", us, doc)
          val cc = Confidence.pairwise(r.passes)
          tr.end(cf)
          countPasses(r.passes)
          (m, cc)
        }
      val cl = tr.begin("core.textclean", us, doc)
      val cleaned = TextClean.clean(raw)
      tr.end(cl)
      counts.textcleanChars += (if (raw == null) 0 else raw.length)
      phys += 1
      confSum += c
      val kept = r.keepEmpty || cleaned.trim.nonEmpty
      if (kept) pages += PageOut(r.kind, cleaned, r.media_ref, r.in_offset, r.page)
      if (r.kind == "pdf" || r.kind == "image") {
        counts.mediaPages += 1
        if (kept) counts.mediaPagesKept += 1
      }
    }
    tr.end(us)
    UnitOut(u.doc_id, u.salt, u.nsalts, pages.result(), phys, confSum)
  }

  private def countPasses(passes: Seq[String]): Unit = {
    counts.consensusCalls += 1
    if (passes.length == 2) counts.consensusTwoPass += 1
    var i = 0
    while (i < passes.length) {
      var j = i + 1
      while (j < passes.length) {
        counts.difflibCalls += 1
        if (passes(i) == passes(j)) counts.difflibEqual += 1
        j += 1
      }
      i += 1
    }
  }
}
