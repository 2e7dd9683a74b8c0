package graft.core

import scala.collection.mutable

/** HTML boilerplate stripping — the north-rule capability beyond the
  * reference surface (SURVEY.md §7.6; the reference never parses HTML).
  * Specified from published public work: Kohlschütter, Fankhauser, Nejdl,
  * "Boilerplate Detection Using Shallow Text Features", WSDM 2010
  * (Boilerpipe), using the densitometric `NumWordsRulesClassifier` decision
  * tree published in the Boilerpipe source.
  *
  * Deterministic pure function: lightweight tag tokenizer → text blocks at
  * block-level tag boundaries → per-block number-of-words, link density
  * (anchor-words / words) and text density (words per 80-char wrapped line)
  * → classify each block CONTENT/BOILERPLATE from (prev, curr, next) block
  * features → concatenate content-block text in document order.
  *
  * No external parser; handles the HTML subset our corpus generator emits
  * plus common real-world structure (scripts/styles/comments skipped,
  * basic entities decoded). Not a full HTML5 tree builder by design — block
  * segmentation only needs tag boundaries, not the DOM.
  */
object Boilerplate {

  private[core] val BlockTags: Set[String] = Set(
    "address", "article", "aside", "blockquote", "body", "br", "dd", "div",
    "dl", "dt", "fieldset", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "html", "li", "main", "nav", "ol", "p",
    "pre", "section", "table", "tbody", "td", "tfoot", "th", "thead", "title",
    "tr", "ul")

  // Content inside these elements is never text.
  private[core] val SkipTags: Set[String] = Set("script", "style", "noscript", "head", "title")

  final case class Block(text: String, numWords: Int, linkDensity: Double, textDensity: Double)

  /** Tokenize and segment into blocks with word/anchor-word counts. */
  private[core] def blocks(html: String): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val text = new java.lang.StringBuilder
    var words = 0
    var anchorWords = 0
    var anchorDepth = 0
    var skipDepth = 0

    def flush(): Unit = {
      val t = text.toString.trim
      if (t.nonEmpty && words > 0) {
        val ld = if (words == 0) 0.0 else anchorWords.toDouble / words
        // Boilerpipe text density: words per line when greedily wrapped at
        // 80 chars; blocks shorter than one line count as one line.
        val lines = math.max(1, wrappedLines(t))
        out += Block(t, words, ld, words.toDouble / lines)
      }
      text.setLength(0); words = 0; anchorWords = 0
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          val e = html.indexOf('>', i + 1)
          if (e < 0) { i = n }
          else {
            // the tag body html[i+1, e), trimmed; its name follows any '/'
            var lo = i + 1
            var hi = e
            while (lo < hi && html.charAt(lo) <= ' ') lo += 1
            while (hi > lo && html.charAt(hi - 1) <= ' ') hi -= 1
            val closing = lo < hi && html.charAt(lo) == '/'
            var nameLo = lo
            while (nameLo < hi && html.charAt(nameLo) == '/') nameLo += 1
            var nameHi = nameLo
            while (nameHi < hi && Character.isLetterOrDigit(html.charAt(nameHi))) nameHi += 1
            val kind = tagKind(html, nameLo, nameHi)
            if (kind == SkipKind) {
              if (closing) skipDepth = math.max(0, skipDepth - 1)
              else if (html.charAt(hi - 1) != '/') skipDepth += 1
            } else if (kind == AnchorKind) {
              if (closing) anchorDepth = math.max(0, anchorDepth - 1) else anchorDepth += 1
            } else if (kind == BlockKind) {
              flush()
            }
            i = e + 1
          }
        }
      } else {
        // text run up to next tag
        val e = html.indexOf('<', i)
        val end = if (e < 0) n else e
        if (skipDepth == 0) {
          var amp = i
          while (amp < end && html.charAt(amp) != '&') amp += 1
          val segWords =
            if (amp == end) appendSegment(html, i, end, text)
            else {
              val seg = decodeEntities(html.substring(i, end))
              appendSegment(seg, 0, seg.length, text)
            }
          words += segWords
          if (anchorDepth > 0) anchorWords += segWords
        }
        i = end
      }
    }
    flush()
    out.result()
  }

  private final val OtherKind = 0
  private final val SkipKind = 1
  private final val AnchorKind = 2
  private final val BlockKind = 3

  private def kindOf(name: String): Int =
    if (SkipTags.contains(name)) SkipKind
    else if (name == "a") AnchorKind
    else if (BlockTags.contains(name)) BlockKind
    else OtherKind

  // the named tags by first char, for an allocation-free lookup of
  // lowercase ASCII names
  private val byFirst: Array[Array[(String, Int)]] = {
    val out = Array.fill(128)(Array.empty[(String, Int)])
    (SkipTags ++ BlockTags + "a").groupBy(_.charAt(0)).foreach { case (c, names) =>
      out(c) = names.toArray.map(nm => (nm, kindOf(nm)))
    }
    out
  }

  /** The kind of the tag named `html[lo, hi)` — that of the name lowercased
    * by `String.toLowerCase`. Names of lowercase ASCII letters and digits
    * are looked up in place; any other name is lowercased as a string, so
    * locale- and Unicode-specific lowering stays exactly `toLowerCase`'s. */
  private def tagKind(html: String, lo: Int, hi: Int): Int = {
    var k = lo
    var plain = true
    while (plain && k < hi) {
      val c = html.charAt(k)
      plain = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      k += 1
    }
    if (!plain) kindOf(html.substring(lo, hi).toLowerCase)
    else if (lo == hi) OtherKind
    else {
      val cands = byFirst(html.charAt(lo))
      val len = hi - lo
      var kind = OtherKind
      var q = 0
      while (kind == OtherKind && q < cands.length) {
        val (nm, kd) = cands(q)
        if (nm.length == len && html.regionMatches(lo, nm, 0, len)) kind = kd
        q += 1
      }
      kind
    }
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B'

  /** Appends the text segment `s[from, until)` to `text` as
    * `seg.trim.replaceAll("[ \t\n\r\f\x0B]+", " ")`, after one separating
    * space when `text` is non-empty, and returns its word count
    * `seg.split("[ \t\n\r\f\x0B]+").count(_.nonEmpty)`. A segment of no
    * words appends nothing. One scan over its words, no regex. The two
    * differ on purpose: `trim` strips every char ≤ U+0020, the split
    * separates only on the six whitespace chars, so "\u0001" counts one word
    * and appends "" (after the separator). */
  private def appendSegment(s: String, from: Int, until: Int,
                            text: java.lang.StringBuilder): Int = {
    val mark = text.length
    if (mark > 0) text.append(' ')
    val body = text.length
    var keep = body          // end of the last char > U+0020: trim's right edge
    var words = 0
    var k = from
    while (k < until) {
      while (k < until && isWs(s.charAt(k))) k += 1
      if (k < until) {
        var w0 = k                                                 // a word s[w0, k)
        while (k < until && !isWs(s.charAt(k))) k += 1
        words += 1
        if (text.length == body) {                                 // trim's left edge not yet passed
          while (w0 < k && s.charAt(w0) <= ' ') w0 += 1
        } else text.append(' ')                                    // a run collapses to one space
        if (w0 < k) {
          text.append(s, w0, k)
          var e = k
          while (e > w0 && s.charAt(e - 1) <= ' ') e -= 1
          if (e > w0) keep = text.length - (k - e)
        }
      }
    }
    text.setLength(if (words == 0) mark else keep)
    words
  }

  /** Lines of `t` greedily wrapped at 80 chars, counting the words of
    * `t.split(' ')`. `t` is trimmed, so no word is cut from either end. */
  private def wrappedLines(t: String): Int = {
    var lines = 1
    var col = 0
    var w0 = 0
    while (w0 <= t.length) {
      val e = t.indexOf(' ', w0)
      val w1 = if (e < 0) t.length else e
      val len = w1 - w0
      val add = if (col == 0) len else len + 1
      if (col + add > 80) { lines += 1; col = len }
      else col += add
      w0 = w1 + 1
    }
    lines
  }

  private[core] def decodeEntities(s: String): String =
    s.replace("&nbsp;", " ").replace("&amp;", "&").replace("&lt;", "<")
      .replace("&gt;", ">").replace("&quot;", "\"").replace("&#39;", "'")

  /** Boilerpipe `NumWordsRulesClassifier` (published decision tree) over
    * (prev, curr, next) blocks. Returns true iff `curr` is content. */
  private[core] def isContent(prev: Option[Block], curr: Block, next: Option[Block]): Boolean = {
    val prevWords = prev.map(_.numWords).getOrElse(0)
    val prevLd    = prev.map(_.linkDensity).getOrElse(0.0)
    val nextWords = next.map(_.numWords).getOrElse(0)
    if (curr.linkDensity > 0.333333) false
    else if (prevLd <= 0.555556) {
      if (curr.numWords <= 16) {
        if (nextWords <= 15) prevWords > 4
        else true
      } else true
    } else {
      if (curr.numWords <= 40) nextWords > 17
      else true
    }
  }

  /** Main-content extraction: content blocks' text in document order, joined
    * with "\n". Downstream `TextClean.clean` flattens the newlines to spaces
    * (reference sanitizer semantics), so block order is the only thing that
    * survives — which is exactly the invariant (span order). */
  def extract(html: String): String = {
    val bs = blocks(html)
    val kept = mutable.ArrayBuffer.empty[String]
    var idx = 0
    while (idx < bs.length) {
      val prev = if (idx > 0) Some(bs(idx - 1)) else None
      val next = if (idx < bs.length - 1) Some(bs(idx + 1)) else None
      if (isContent(prev, bs(idx), next)) kept += bs(idx).text
      idx += 1
    }
    kept.mkString("\n")
  }
}
