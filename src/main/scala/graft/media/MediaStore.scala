package graft.media

import graft.core.{Hash64, XYCut}

/** Resolved media page: the raw (pre-OCR) content of one page of a pdf/image
  * `media_ref`, plus layout boxes when the media carries layout (pdf).
  * `noisy` marks media whose per-pass OCR decodes differ (drives the
  * consensus/confidence path non-trivially — FIXTURES.md class 7). */
final case class PageMedia(
    media_ref: String,
    page: Int,
    layout: Seq[XYCut.Box],
    baseText: String,
    noisy: Boolean)

/** Media resolution boundary. The reference downloads/spools raw bytes and
  * shells out to poppler/tesseract (`main.py:256-303,315-317,350-355`); at
  * 10^12-doc scale media lives in an object store addressed by `media_ref`
  * (the `input_hint` mandates the pointer column). Implementations must be
  * Serializable — they ship to executors and are used inside
  * `mapPartitions`.
  *
  * `pageCount` is a metadata-only probe (the reference's `pdfinfo_from_path`,
  * `main.py:330-340` — page count without rasterizing); the skew planner
  * calls it per media span before any page is decoded.
  */
trait MediaStore extends Serializable {
  def pageCount(mediaRef: String): Int
  def page(mediaRef: String, pageNo: Int): PageMedia // 1-based pages (main.py:357)

  /** Metadata-only byte-size estimate of a media object — what the
    * reference's mid-download 10 MB cap (`main.py:256-303`) measured, read
    * from store metadata instead of a download. Lets the size guard (the
    * metadata pass, `Extract.tailPass` against `ExtractConf.maxDocBytes`,
    * default `ExtractConf.MaxFileSize`) reject a 2 GB scanned PDF BEFORE
    * any page decodes.
    * Default 0 = unknown (a store without cheap size metadata opts out and
    * the text-payload guard alone applies). */
  def byteEstimate(mediaRef: String): Long = 0L
}

/** Deterministic fixture MediaStore (FIXTURES.md §1): everything — page
  * count, per-page glyph text, layout, noise — derives from the `media_ref`
  * string via `Hash64`; the media bytes never exist. `media_ref` format:
  * `mem://doc%08d/%d` (doc id / span offset).
  *
  * Page-count rules (must match `Fixtures` generation):
  *  - mega-docs (`doc_idx >= 1000 && doc_idx % 1000 == 0`): 256 pages
  *    (FIXTURES.md: skew/salting path)
  *  - bench moderate-skew docs (`doc_idx % 101 == 100`): 32 pages
  *  - class 3 (`doc_idx % 8 == 3`): 4 pages, page 3 decodes whitespace-only
  *  - class 5 interleaved (`doc_idx % 8 == 5`) at offset 3: 2 pages
  *  - otherwise: 1 page
  */
object DeterministicMediaStore extends MediaStore {

  private val words = Array(
    "contract", "lease", "tenant", "landlord", "invoice", "total", "amount",
    "payment", "schedule", "annex", "clause", "party", "signature", "witness",
    "property", "address", "monthly", "deposit", "terms", "notice", "renewal",
    "contrato", "fecha", "importe", "firma", "locataire", "bailleur", "mietvertrag")

  private[graft] def docIdx(mediaRef: String): Int = {
    require(mediaRef.startsWith("mem://doc"),
      s"'$mediaRef' is not a fixture media ref (mem://doc%08d/<offset>): " +
        "the fixture store resolves no real media; pass a production MediaStore")
    val path = mediaRef.stripPrefix("mem://")
    val doc = path.takeWhile(_ != '/')
    doc.stripPrefix("doc").toInt
  }

  private def spanOffset(mediaRef: String): Int =
    mediaRef.substring(mediaRef.lastIndexOf('/') + 1).toInt

  override def pageCount(mediaRef: String): Int = {
    val idx = docIdx(mediaRef)
    if (idx >= 1000 && idx % 1000 == 0) 256
    else if (idx % 101 == 100) 32
    else if (idx % 8 == 3) 4
    else if (idx % 8 == 5 && spanOffset(mediaRef) == 3) 2
    else 1
  }

  /** Deterministic pseudo-size: ~4 KB per page + a hash-derived remainder.
    * Every fixture doc stays far below the 10 MB guard (a 256-page mega ≈
    * 1 MB), so adding the media term to the size guard changes no fixture
    * outcome — the guard's media path is exercised by a spec-local store
    * with an inflated estimate instead. */
  override def byteEstimate(mediaRef: String): Long =
    pageCount(mediaRef).toLong * 4096L + (Hash64(mediaRef) & 0xFFFL)

  /** Deterministic word salad for a page, ~`n` words, seeded by ref+page.
    * Word picks = `Hash64.pick(s"$mediaRef#$pageNo#w$i", ...)` computed
    * incrementally: the shared ASCII key prefix is FNV-folded once and
    * each word extends it with the digits of `i` (bit-identical hashes —
    * KernelSpec pins pickFrom == pick; the golden fixtures pin the texts). */
  private def glyphText(mediaRef: String, pageNo: Int, n: Int): String = {
    val prefix = Hash64.prefixState(s"$mediaRef#$pageNo#w")
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(words(Hash64.pickFrom(prefix, i, words.length)))
      i += 1
    }
    sb.append(" p").append(pageNo).append(" of ").append(mediaRef.drop(6))
    sb.toString
  }

  override def page(mediaRef: String, pageNo: Int): PageMedia = {
    val idx = docIdx(mediaRef)
    val cls = idx % 8
    val noisy = cls == 7
    if (cls == 3 && pageNo == 3) {
      // FIXTURES.md class 3: page 3 decodes to whitespace-only → dropped
      // post-clean while still counting as a physical page (main.py:367,397).
      PageMedia(mediaRef, pageNo, Nil, "  \t ", noisy = false)
    } else {
      val h = Hash64(s"$mediaRef#$pageNo")
      val base = 8 + (((h % 9) + 9) % 9).toInt
      val longCase = cls == 7 && (idx / 8) % 2 == 1
      val nWords = if (longCase) 40 else base // ≥200 chars to lock difflib autojunk
      val twoCol = ((h >>> 17) & 3) == 0
      if (twoCol) {
        // two-column layout: XY-cut must emit left column then right column.
        val mk = (c: Int, r: Int) => XYCut.Box(
          x = 40 + c * 300, y = 60 + r * 120, w = 240, h = 90,
          text = glyphText(s"$mediaRef/c$c", pageNo * 10 + r, math.max(3, nWords / 4)))
        val boxes = Seq(mk(0, 0), mk(1, 0), mk(0, 1), mk(1, 1))
        PageMedia(mediaRef, pageNo, boxes, XYCut.readingOrder(boxes), noisy)
      } else {
        val boxes = Seq(
          XYCut.Box(40, 40, 520, 80, glyphText(mediaRef + "/h", pageNo, math.max(2, nWords / 3))),
          XYCut.Box(40, 160, 520, 300, glyphText(mediaRef + "/b", pageNo, nWords)))
        PageMedia(mediaRef, pageNo, boxes, XYCut.readingOrder(boxes), noisy)
      }
    }
  }
}
