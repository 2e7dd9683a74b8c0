package graft.core

import scala.collection.mutable

/** Literal reference forms of the kernel's hot loops. Each is the plain
  * form that the single-pass code in `src/main` replaced, kept here as the
  * differential oracle of PropertySpec; none runs in the pipeline. */

/** The literal port of `detect_language_from_text` (main.py:87-160): 84
  * independent containment tests. */
object LangDetectReference {
  import LangDetect.{keywords, langs}

  private def sampleOf(text: String): String = {
    val t = if (text == null) "" else text
    (if (t.length > 1000) t.substring(0, 1000) else t)
      .toLowerCase(java.util.Locale.ROOT)                          // main.py:90
  }

  def detect(text: String): String = {
    val best = scoresOf(text).maxBy(_._2)                          // Seq.maxBy keeps the first max,
    if (best._2 == 0) "spanish" else best._1                       // matching Python max() (main.py:154-158)
  }

  /** Per-language scores in insertion order. */
  def scoresOf(text: String): Vector[(String, Int)] = {
    val sample = sampleOf(text)
    val base = langs.map { l =>
      l -> keywords.get(l).map(_.count(sample.contains)).getOrElse(0) // main.py:106-139
    }
    base.map {
      case ("chinese", _) if sample.exists(c => c >= '一' && c <= '鿿') => ("chinese", 10) // main.py:141-143
      case ("arabic", _) if sample.exists(c => c >= '؀' && c <= 'ۿ')  => ("arabic", 10)  // main.py:145-147
      case ("russian", _) if sample.exists(c => c >= 'Ѐ' && c <= 'ӿ') => ("russian", 10) // main.py:149-151
      case kv => kv
    }
  }
}

/** The literal step-by-step port of `clean_text_for_json` (main.py:53-85),
  * dead steps included. */
object TextCleanReference {
  private val Ctl     = "[\\x00-\\x1F\\x7F-\\x9F]".r    // main.py:59 and :69
  private val ZeroW   = "[\\u200B-\\u200D\\uFEFF]".r    // main.py:72
  private val ParaNl  = "\\n[ \\t\\n\\x0B\\f\\r]*\\n".r // main.py:78 (\n\s*\n over ASCII-only input)
  private val HorizWs = "[ \\t]+".r                     // main.py:79
  private val ManyNl  = "\\n{3,}".r                     // main.py:80

  def clean(text: String): String = {
    if (text == null || text.isEmpty) return ""                    // main.py:56-57
    var t = text
    t = Ctl.replaceAllIn(t, " ")                                   // main.py:59 (incl. \n \r \t)
    t = t.replace('"', '\'')                                       // main.py:62
    t = t.replace('\\', '/')                                       // main.py:63
    t = t.replace('\b', ' ')                                       // main.py:64 (dead after :59)
    t = t.replace('\f', ' ')                                       // main.py:65 (dead)
    t = t.replace('\u000B', ' ')                                   // main.py:66 (\v; dead)
    t = Ctl.replaceAllIn(t, " ")                                   // main.py:69 (dead duplicate)
    t = ZeroW.replaceAllIn(t, "")                                  // main.py:72 — removed, not spaced
    t = spaceNonPrintable(t)                                       // main.py:75
    t = ParaNl.replaceAllIn(t, "\n\n")                             // main.py:78 (dead: no \n survives :59)
    t = HorizWs.replaceAllIn(t, " ")                               // main.py:79
    t = ManyNl.replaceAllIn(t, "\n\n")                             // main.py:80 (dead)
    t = t.replace("\u0000", "")                                    // main.py:83 (dead)
    t.trim                                                         // main.py:85 (only ' ' can remain at edges)
  }

  /** Step 6 (`main.py:75`): any code point outside `[\x20-\x7E\n\r\t]` → one
    * space. Code-point loop so astral chars map to a single space as in
    * Python. */
  private def spaceNonPrintable(t: String): String = {
    val sb = new java.lang.StringBuilder(t.length)
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      val keep = (cp >= 0x20 && cp <= 0x7E) || cp == '\n' || cp == '\r' || cp == '\t'
      if (keep) sb.appendCodePoint(cp) else sb.append(' ')
      i += Character.charCount(cp)
    }
    sb.toString
  }
}

/** Boilerplate segmentation with the regex text segments, the allocating
  * tag-name parse and the split line wrap; the classifier is
  * `Boilerplate`'s own. */
object BoilerplateReference {
  import Boilerplate.{Block, BlockTags, SkipTags}

  def blocks(html: String): Vector[Block] = {
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
            val raw = html.substring(i + 1, e).trim
            val closing = raw.startsWith("/")
            val name = raw.dropWhile(_ == '/').takeWhile(ch => ch.isLetterOrDigit).toLowerCase
            if (SkipTags.contains(name)) {
              if (closing) skipDepth = math.max(0, skipDepth - 1)
              else if (!raw.endsWith("/")) skipDepth += 1
            } else if (name == "a") {
              if (closing) anchorDepth = math.max(0, anchorDepth - 1) else anchorDepth += 1
            } else if (BlockTags.contains(name)) {
              flush()
            }
            i = e + 1
          }
        }
      } else {
        val e = html.indexOf('<', i)
        val end = if (e < 0) n else e
        if (skipDepth == 0) {
          val seg = Boilerplate.decodeEntities(html.substring(i, end))
          val segWords = seg.split("[ \\t\\n\\r\\f\\x0B]+").count(_.nonEmpty)
          if (segWords > 0) {
            if (text.length() > 0) text.append(' ')
            text.append(seg.trim.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " "))
            words += segWords
            if (anchorDepth > 0) anchorWords += segWords
          }
        }
        i = end
      }
    }
    flush()
    out.result()
  }

  private def wrappedLines(t: String): Int = {
    var lines = 1
    var col = 0
    t.split(' ').foreach { w =>
      val add = if (col == 0) w.length else w.length + 1
      if (col + add > 80) { lines += 1; col = w.length }
      else col += add
    }
    lines
  }

  def extract(html: String): String = {
    val bs = blocks(html)
    bs.indices.filter { idx =>
      Boilerplate.isContent(bs.lift(idx - 1), bs(idx), bs.lift(idx + 1))
    }.map(bs(_).text).mkString("\n")
  }
}

/** The per-position vote of `get_consensus_text` (main.py:187-205) with a
  * closure over the passes at each position. */
object ConsensusReference {
  def mergeVote(texts: Seq[String]): String = {
    val maxLen = texts.iterator.map(_.length).max                  // main.py:193
    val sb = new java.lang.StringBuilder(maxLen)
    val seenChars = new Array[Char](texts.length)
    val seenCounts = new Array[Int](texts.length)
    val arr = texts.toArray
    var i = 0
    while (i < maxLen) {
      var nSeen = 0
      arr.foreach { t =>
        if (i < t.length) {
          val c = t.charAt(i)
          var k = 0
          var found = false
          while (k < nSeen && !found) {
            if (seenChars(k) == c) { seenCounts(k) += 1; found = true }
            k += 1
          }
          if (!found) { seenChars(nSeen) = c; seenCounts(nSeen) = 1; nSeen += 1 }
        }
      }
      if (nSeen > 0) {                                             // main.py:200-201
        var best = 0
        var k = 1
        while (k < nSeen) {                                        // strict > keeps first-seen on ties
          if (seenCounts(k) > seenCounts(best)) best = k
          k += 1
        }
        sb.append(seenChars(best))
      }
      i += 1
    }
    sb.toString
  }
}

object DiffLibReference {

  /** `findLongestMatch` as it was before the generation stamps and the
    * diagonal fast path: the DP over the seeds of `b` minus its popular chars
    * (autojunk), both `j2len` rows zero-filled over [blo, bhi] for every
    * char of `a`, then the non-junk extension. */
  def findLongestMatchZeroFill(a: String, b: String,
                               alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
    val ntest = if (b.length >= 200) b.length / 100 + 1 else Int.MaxValue
    val b2j = b.indices.groupBy(b(_)).filter(_._2.length <= ntest).map { case (c, js) => c -> js.sorted.toArray }
    var besti = alo
    var bestj = blo
    var bestsize = 0
    var prev = new Array[Int](b.length + 1)
    var cur = new Array[Int](b.length + 1)
    java.util.Arrays.fill(prev, blo, bhi + 1, 0)
    var i = alo
    while (i < ahi) {
      java.util.Arrays.fill(cur, blo, bhi + 1, 0)
      val idxs = b2j.getOrElse(a.charAt(i), null)
      if (idxs != null) {
        var k = 0
        var break = false
        while (k < idxs.length && !break) {
          val j = idxs(k)
          if (j >= bhi) break = true
          else if (j >= blo) {
            val len = prev(j) + 1
            cur(j + 1) = len
            if (len > bestsize) { besti = i - len + 1; bestj = j - len + 1; bestsize = len }
          }
          k += 1
        }
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    while (besti > alo && bestj > blo && a.charAt(besti - 1) == b.charAt(bestj - 1)) {
      besti -= 1; bestj -= 1; bestsize += 1
    }
    while (besti + bestsize < ahi && bestj + bestsize < bhi &&
           a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
      bestsize += 1
    }
    (besti, bestj, bestsize)
  }

  /** A literal port of CPython's `SequenceMatcher(None, a, b)`:
    * `__chain_b` with autojunk, `find_longest_match` with its dict `j2len`
    * and both extension pairs, and `get_matching_blocks`' queue. `calls`
    * records every (alo, ahi, blo, bhi) that `find_longest_match` received. */
  final class PySequenceMatcher(a: String, b: String) {
    val calls = mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]

    // __chain_b
    private val b2j = mutable.LinkedHashMap.empty[Char, mutable.ArrayBuffer[Int]]
    b.indices.foreach(i => b2j.getOrElseUpdate(b(i), mutable.ArrayBuffer.empty[Int]) += i)
    private val bjunk = Set.empty[Char]                            // isjunk is None
    val bpopular: Set[Char] = {
      val n = b.length
      if (n >= 200) {
        val ntest = n / 100 + 1
        val popular = b2j.collect { case (elt, idxs) if idxs.length > ntest => elt }.toSet
        popular.foreach(b2j.remove)
        popular
      } else Set.empty
    }
    private def isbjunk(c: Char): Boolean = bjunk.contains(c)

    def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      calls += ((alo, ahi, blo, bhi))
      var besti = alo
      var bestj = blo
      var bestsize = 0
      var j2len = mutable.HashMap.empty[Int, Int]
      for (i <- alo until ahi) {
        val newj2len = mutable.HashMap.empty[Int, Int]
        val js = b2j.getOrElse(a(i), Nil).iterator
        var break = false
        while (!break && js.hasNext) {
          val j = js.next()
          if (j >= bhi) break = true
          else if (j >= blo) {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newj2len(j) = k
            if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
          }
        }
        j2len = newj2len
      }
      while (besti > alo && bestj > blo && !isbjunk(b(bestj - 1)) && a(besti - 1) == b(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
             !isbjunk(b(bestj + bestsize)) && a(besti + bestsize) == b(bestj + bestsize)) {
        bestsize += 1
      }
      while (besti > alo && bestj > blo && isbjunk(b(bestj - 1)) && a(besti - 1) == b(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
             isbjunk(b(bestj + bestsize)) && a(besti + bestsize) == b(bestj + bestsize)) {
        bestsize += 1
      }
      (besti, bestj, bestsize)
    }

    def matchingBlocks: Seq[(Int, Int, Int)] = {
      val queue = mutable.ArrayBuffer((0, a.length, 0, b.length))
      val blocks = mutable.ArrayBuffer.empty[(Int, Int, Int)]
      while (queue.nonEmpty) {
        val (alo, ahi, blo, bhi) = queue.remove(queue.length - 1)   // queue.pop()
        val x @ (i, j, k) = findLongestMatch(alo, ahi, blo, bhi)
        if (k > 0) {
          blocks += x
          if (alo < i && blo < j) queue += ((alo, i, blo, j))
          if (i + k < ahi && j + k < bhi) queue += ((i + k, ahi, j + k, bhi))
        }
      }
      blocks.sorted.toSeq                                          // adjacent-block merge omitted: it keeps the sum
    }

    def ratio(): Double = {
      val matches = matchingBlocks.map(_._3).sum
      val length = a.length + b.length
      if (length > 0) 2.0 * matches / length else 1.0              // _calculate_ratio
    }
  }
}
