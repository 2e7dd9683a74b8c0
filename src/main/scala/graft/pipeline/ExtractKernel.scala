package graft.pipeline

import graft.core.{Boilerplate, Confidence, Consensus, TextClean, LangDetect}
import graft.media.{MediaStore, OcrEngine, PageMedia}
import graft.model._

/** Extraction configuration.
  * `level` → OCR pass count exactly as the reference (`main.py:209-216`):
  * low=1, medium=2, high=3, ultra=4, unknown→1.
  * `skewPageThreshold` and `ExtractConf.PagesPerSplit` drive mega-doc
  * salting (SURVEY §4.2): a doc whose total physical page estimate exceeds
  * the threshold is split into per-page-range `WorkUnit`s processed
  * independently and reassembled.
  */
final case class ExtractConf(
    level: String = "medium",
    numPartitions: Int = 32,
    // A floor, not the mega cut: `plan` splits any doc above it, but
    // `Extract` salts the docs above it across tasks only when those of
    // one input partition together hold more pages than one task's fair
    // share of the run (Σ pages of the metadata pass ÷ max(its
    // partitions, defaultParallelism)).
    skewPageThreshold: Int = 32,
    runId: String = "run-0",
    // A metadata-pass tail of up to this many rows is held on the driver
    // (a broadcast skip set + the mega ids as a pushed-down IN filter); a
    // larger one stays in the persisted pass, which extraction semi/anti-
    // joins. ~10k keeps Catalyst IN-list planning cheap (round-1 advice:
    // planning degrades orders of magnitude below the old 10M guard).
    megaInlineCap: Int = 10000,
    // P4 size guard: docs whose span text payload plus media byte estimate
    // exceeds this are rejected to a side output before extraction.
    maxDocBytes: Long = ExtractConf.MaxFileSize)

object ExtractConf {
  /** main.py:51 MAX_FILE_SIZE, the reference's download cap. */
  val MaxFileSize: Long = 10L * 1024 * 1024

  /** Pages per salted unit of a mega-doc's pdf span. */
  val PagesPerSplit: Int = 16

  def passesFor(level: String): Int = level match {
    case "low" => 1
    case "medium" => 2
    case "high" => 3
    case "ultra" => 4
    case _ => 1 // main.py:216 — unknown level falls back to 1 pass
  }
}

/** The pure per-document extraction kernel. Three entry points:
  *
  *  - `plan(doc)`: metadata-only split of a doc into `WorkUnit`s (the
  *    reference's `pdfinfo` probe before rasterizing, `main.py:330-340`).
  *  - `extractUnit(unit)`: run one unit — decode → (boilerplate|XY-cut|OCR
  *    passes) → consensus/confidence → clean → drop-empty — emitting kept
  *    pages plus physical-page/confidence totals.
  *  - `merge(docId, units)`: reassemble unit outputs into the final `DocOut`
  *    (order by (in_offset, page), renumber offsets, language over joined
  *    kept text, confidence ÷ physical pages).
  *
  * `extractWhole = merge(plan → extractUnit*)` is ALSO the sequential golden
  * interpreter used by tests — the distributed pipeline equals it by
  * construction regardless of how units land in partitions.
  *
  * Per-kind semantics (reference citations):
  *  - `text`: raw text → clean; 1 physical page, confidence 100; dropped if
  *    clean is empty (the clean→drop-empty→order tail, SURVEY §7.6).
  *  - `html`: Boilerplate.extract → same tail; 1 physical page, conf 100.
  *  - `pdf`: per page: layout → XY-cut reading order → N OCR passes →
  *    consensus (`main.py:238-243`) → clean → KEPT ONLY IF NON-EMPTY
  *    (`main.py:367,526,658`); confidence accumulates for every physical
  *    page (`main.py:532` is outside the keep-if).
  *  - `image`: single page, N passes; the page is kept EVEN IF EMPTY —
  *    all three reference image paths emit the page unconditionally
  *    (`main.py:414,554,681-684`).
  */
object ExtractKernel {

  /** Estimated physical pages of a span (metadata only). */
  def spanPages(s: Span, store: MediaStore): Int = s.kind match {
    case "pdf" if s.media_ref != null && s.media_ref.nonEmpty =>
      store.pageCount(s.media_ref)
    case _ => 1 // text / html / image (and ref-less pdf) are one "page" each
  }

  def plan(doc: Doc, store: MediaStore, conf: ExtractConf): Seq[WorkUnit] = {
    // Null-tolerant at the boundary: real corpora carry null spans arrays /
    // null span elements; a null-spans doc degrades to an empty DocOut
    // (confidence 0, main.py:546 `else 0` branch) instead of failing a task.
    val ordered = Option(doc.spans).getOrElse(Nil).filter(_ != null).sortBy(_.offset)
    // one page-count probe per span; rawPages probes again only for a
    // unit without a page range
    val pages = ordered.map(spanPages(_, store))
    if (pages.sum <= conf.skewPageThreshold) {
      WorkUnit(doc.doc_id, 0, 1, ordered, -1, -1) :: Nil
    } else {
      // mega-doc: each non-pdf span is its own unit; big pdf spans split
      // into PagesPerSplit ranges. Salt = unit index.
      val units = Seq.newBuilder[(Seq[Span], Int, Int)]
      ordered.lazyZip(pages).foreach { (s, p) =>
        if (s.kind == "pdf" && p > ExtractConf.PagesPerSplit) {
          var from = 1
          while (from <= p) {
            val to = math.min(from + ExtractConf.PagesPerSplit - 1, p)
            units += ((Seq(s), from, to))
            from = to + 1
          }
        } else units += ((Seq(s), -1, -1))
      }
      val us = units.result()
      us.zipWithIndex.map { case ((spans, f, t), i) =>
        WorkUnit(doc.doc_id, i, us.length, spans, f, t)
      }
    }
  }

  /** One physical page's raw (pre-clean) pass texts. `keepEmpty` marks image
    * pages, which the reference emits unconditionally (`main.py:414,554,
    * 681-684`), unlike pdf pages (`main.py:367,526,658`). */
  final case class RawPage(kind: String, media_ref: String, in_offset: Int,
      page: Int, passes: Seq[String], keepEmpty: Boolean)

  /** The decode primitive: every page of a unit, with its per-pass raw OCR
    * texts. `extractUnit` and the differential-test dump both build on this,
    * so they cannot diverge.
    *  - text: raw text, one pass, conf will be 100
    *  - html: Boilerplate.extract (north rule §7.6), one pass
    *  - pdf: XY-cut reading order per page (inside MediaStore.page) → N OCR
    *    passes (`main.py:219-236`)
    *  - image: 1 page, N passes, keepEmpty
    */
  def rawPages(unit: WorkUnit, store: MediaStore, engine: OcrEngine, conf: ExtractConf): Seq[RawPage] = {
    val n = ExtractConf.passesFor(conf.level)
    val out = Seq.newBuilder[RawPage]
    unit.spans.foreach { s =>
      // null-tolerant: null kind → text; media span with null/empty ref →
      // one empty physical page (counted, dropped post-clean)
      val kind = if (s.kind == null) "text" else s.kind
      val noMedia = (kind == "pdf" || kind == "image") &&
        (s.media_ref == null || s.media_ref.isEmpty)
      (if (noMedia) "text" else kind) match {
        case "html" =>
          out += RawPage("html", s.media_ref, s.offset, 1,
            Seq(Boilerplate.extract(if (s.text == null) "" else s.text)), keepEmpty = false)
        case "pdf" =>
          val (from, to) =
            if (unit.pageFrom > 0) (unit.pageFrom, unit.pageTo) else (1, store.pageCount(s.media_ref))
          var p = from
          while (p <= to) {
            val media = store.page(s.media_ref, p)
            val passes = if (n == 1) Seq(engine.recognize(media, 0))
                         else (0 until n).map(engine.recognize(media, _))
            out += RawPage("pdf", s.media_ref, s.offset, p, passes, keepEmpty = false)
            p += 1
          }
        case "image" =>
          val media = store.page(s.media_ref, 1)
          val passes = if (n == 1) Seq(engine.recognize(media, 0))
                       else (0 until n).map(engine.recognize(media, _))
          out += RawPage("image", s.media_ref, s.offset, 1, passes, keepEmpty = true)
        case other => // "text" and forward-compat unknown kinds
          out += RawPage(other, s.media_ref, s.offset, 1, Seq(s.text), keepEmpty = false)
      }
    }
    out.result()
  }

  def extractUnit(unit: WorkUnit, store: MediaStore, engine: OcrEngine, conf: ExtractConf): UnitOut = {
    val pages = Seq.newBuilder[PageOut]
    var phys = 0
    var confSum = 0.0
    rawPages(unit, store, engine, conf).foreach { rp =>
      val (raw, c) =
        if (rp.passes.length == 1) (rp.passes.head, 100.0)               // main.py:238-240
        else (Consensus.merge(rp.passes), Confidence.pairwise(rp.passes)) // main.py:241-243
      val cleaned = TextClean.clean(raw)
      phys += 1
      confSum += c                                       // outside keep-if (main.py:532)
      if (rp.keepEmpty || cleaned.trim.nonEmpty)         // main.py:367,526,658 vs :414,554
        pages += PageOut(rp.kind, cleaned, rp.media_ref, rp.in_offset, rp.page)
    }
    UnitOut(unit.doc_id, unit.salt, unit.nsalts, pages.result(), phys, confSum)
  }

  /** Reassemble unit outputs → final DocOut. Total order: (in_offset, page).
    * Output span offsets renumbered 0..n-1 over the kept sequence
    * (`input_hint` order invariant). */
  def merge(docId: String, unitsIn: Seq[UnitOut]): DocOut = {
    // Sort by salt: units arrive in arbitrary order from the shuffle, and
    // the fp confidence sum must be accumulated in a deterministic order to
    // stay bit-identical with the sequential golden path.
    val units = unitsIn.sortBy(_.salt)
    val pages = units.flatMap(_.pages).sortBy(p => (p.in_offset, p.page))
    val spans = pages.zipWithIndex.map { case (p, i) => Span(p.kind, p.text, p.media_ref, i) }
    val phys = units.map(_.physical_pages).sum
    val confSum = units.map(_.confidence_sum).sum
    val confidence = if (phys > 0) confSum / phys else 0.0 // main.py:546 (`if total_pages > 0 else 0`)
    DocOut(docId, spans, confidence, LangDetect.detect(joinedSample(pages)),
      spans.length, pages.iterator.map(_.text.length.toLong).sum)
  }

  /** The first `LangDetect.SampleChars` chars of the pages' texts joined
    * with " " (main.py:400,561,690) — all of the join that detection reads,
    * without joining every page of a long document. */
  private def joinedSample(pages: Seq[PageOut]): String = {
    if (pages.lengthCompare(1) == 0) return pages.head.text      // nothing to join
    val sb = new java.lang.StringBuilder
    val it = pages.iterator
    var first = true
    while (it.hasNext && sb.length < LangDetect.SampleChars) {
      if (!first) sb.append(' ')
      first = false
      val t = it.next().text
      sb.append(t, 0, math.min(t.length, LangDetect.SampleChars - sb.length))
    }
    sb.toString
  }

  /** Sequential whole-doc extraction — the golden interpreter. */
  def extractWhole(doc: Doc, store: MediaStore, engine: OcrEngine, conf: ExtractConf): DocOut =
    merge(doc.doc_id, plan(doc, store, conf).map(extractUnit(_, store, engine, conf)))
}
