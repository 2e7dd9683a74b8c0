package graft.core

import graft.model.{PageOut, UnitOut}
import graft.pipeline.ExtractKernel
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** Property tests per SURVEY.md §5.2. */
object KernelProps extends Properties("kernel") {

  // strings over a char distribution that exercises every sanitizer branch
  private val nastyChar: Gen[Char] = Gen.frequency(
    (10, Gen.alphaNumChar),
    (3, Gen.oneOf(' ', '\t', '\n', '\r')),
    (1, Gen.oneOf('"', '\\', '\u0000', '\u0007', '\u009f')),
    (1, Gen.oneOf('\u200b', '\u200c', '\ufeff')),
    (1, Gen.oneOf('\u00e9', '\u4e2d', '\u0634', '\u0436')))
  private val nastyString: Gen[String] = Gen.listOf(nastyChar).map(_.mkString)

  property("fused clean == literal step-by-step reference port") =
    forAll(nastyString) { s =>
      TextClean.clean(s) == TextCleanReference.clean(s)
    }

  property("clean is idempotent") = forAll(nastyString) { s =>
    val once = TextClean.clean(s)
    TextClean.clean(once) == once
  }

  property("clean output is printable ASCII") = forAll(nastyString) { s =>
    TextClean.clean(s).forall(c => c >= 0x20 && c <= 0x7e)
  }

  property("clean output has no double spaces and is trimmed") = forAll(nastyString) { s =>
    val out = TextClean.clean(s)
    !out.contains("  ") && out == out.trim
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency((8, Gen.alphaNumChar), (2, Gen.const(' ')))).map(_.mkString)

  property("consensus of identical passes is identity") =
    forAll(asciiText, Gen.choose(1, 4)) { (s, n) =>
      Consensus.merge(Seq.fill(n)(s)) == s
    }

  property("consensus equals head when all passes equal") = forAll(asciiText) { s =>
    Consensus.merge(Seq(s, s)) == s
  }

  property("confidence of identical passes is 100") =
    forAll(asciiText, Gen.choose(2, 4)) { (s, n) =>
      Confidence.pairwise(Seq.fill(n)(s)) == 100.0
    }

  property("ratio is in [0,1] and ratio(a,a) == 1") =
    forAll(asciiText, asciiText) { (a, b) =>
      val x = DiffLib.ratio(a, b)
      x >= 0.0 && x <= 1.0 && DiffLib.ratio(a, a) == 1.0
    }

  property("two-pass confidence is the single pair ratio × 100") =
    forAll(asciiText, asciiText) { (a, b) =>
      // NB: SequenceMatcher.ratio is NOT symmetric (verified against CPython:
      // ratio("Y  ", " \x00 Y") = 0.2857 but reversed = 0.5714; the NUL
      // in the second string is written as an escape (plain-ASCII file)) - the
      // pipeline always compares passes in pass order, which this pins.
      Confidence.pairwise(Seq(a, b)) == DiffLib.ratio(a, b) * 100.0
    }

  property("lang detect is total and returns a known language") =
    forAll(nastyString) { s =>
      LangDetect.langs.contains(LangDetect.detect(s))
    }

  // --- round-6 kernel fast paths: each must equal its reference form ---

  private val keywordish: Gen[String] = Gen.listOf(Gen.frequency(
    (6, Gen.alphaNumChar.map(_.toLower)),
    (2, Gen.const(' ')),
    (1, Gen.oneOf("contrato", "lease", "la", "de", "mietvertrag", "année",
      "mês", "el", "the", "und").flatMap(w => Gen.const(w))))).map(_.mkString(" "))


  property("two-pass consensus fast path == general vote loop") =
    forAll(asciiText, asciiText) { (a, b) =>
      Consensus.merge(Seq(a, b)) == Consensus.mergeVote(Seq(a, b))
    }

  property("equal-input ratio fast path == full matcher (exactly 1.0)") =
    forAll(nastyString) { a =>
      val slow = freshRatio(a, new String(a))
      slow == 1.0 && DiffLib.ratio(a, new String(a)) == slow
    }

  // --- single-pass text layers: each equals its literal form in ReferenceForms ---

  // the automaton's edges: keyword chars, overlapping and nested keywords
  // ("contrat" in "contrato", "la" in "locales"), the accented keyword chars,
  // capitals that lower onto them ('İ' lowers to two chars), and the
  // script-range chars
  private val langChar: Gen[Char] = Gen.frequency(
    (8, Gen.oneOf("abcdeilmnoprstuy ")),
    (1, Gen.oneOf('ñ', 'é', 'ü', 'ê', 'á', 'Ñ', 'É', 'İ', 'ı')),
    (1, Gen.oneOf('\u4e2d', '\u0634', '\u0436', '\u00e0', '\u2019')))
  private val langText: Gen[String] = Gen.oneOf(
    Gen.listOf(langChar).map(_.mkString),
    Gen.listOf(Gen.oneOf(LangDetect.keywords.values.flatten.toSeq)).map(_.mkString),
    Gen.choose(990, 1010).flatMap(n => Gen.listOfN(n, langChar)).map(_.mkString))

  property("single-scan lang detect == literal reference port") =
    forAll(Gen.oneOf(nastyString, keywordish, langText)) { s =>
      LangDetect.detect(s) == LangDetectReference.detect(s)
    }

  // 3 and 4 passes of unequal lengths over three chars: 1-1-1 and 2-2 ties,
  // tails covered by some passes only
  private val votePasses: Gen[Seq[String]] = for {
    n <- Gen.choose(3, 4)
    base <- Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    passes <- Gen.listOfN(n, for {
      kept <- Gen.sequence[Seq[Char], Char](base.map(c =>
        Gen.frequency((7, Gen.const(c)), (3, Gen.oneOf('a', 'b', 'c')))))
      cut <- Gen.choose(0, base.length)
      tail <- Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.take(4).mkString)
    } yield kept.mkString.take(cut) + tail)
  } yield passes

  property("3- and 4-pass vote == closure reference vote") = forAllNoShrink(votePasses) { ps =>
    Consensus.merge(ps) == ConsensusReference.mergeVote(ps)
  }

  // the same passes with some or all of them replaced by pass 0: the
  // equal-pass fast path and its near misses
  property("3- and 4-pass merge with repeated passes == closure reference vote") =
    forAllNoShrink(votePasses, Gen.listOfN(4, Gen.prob(0.7))) { (ps, same) =>
      val qs = ps.zipWithIndex.map { case (t, i) => if (same(i)) ps.head else t }
      Prop.classify(qs.forall(_ == qs.head), "all equal") {
        Consensus.merge(qs) == ConsensusReference.mergeVote(qs)
      }
    }

  // OCR-like pairs: b is a mutation of a; long enough for autojunk in half
  // the cases, non-ASCII b (the b2jMap path) in a third
  private val diffPair: Gen[(String, String)] = {
    val common = Gen.frequency((6, Gen.oneOf('a', 'b', ' ')), (4, Gen.alphaNumChar))
    for {
      n <- Gen.oneOf(Gen.choose(1, 60), Gen.choose(200, 400))
      a <- Gen.listOfN(n, common).map(_.mkString)
      nonAscii <- Gen.prob(0.35)
      other = if (nonAscii) Gen.oneOf('é', '\u4e2d', 'ж', 'a') else common
      b <- Gen.sequence[Seq[String], String](a.map(c => Gen.frequency(
        (16, Gen.const(c.toString)), (2, other.map(_.toString)),
        (1, Gen.const("")), (1, other.map(x => s"$c$x")))))
    } yield (a, b.mkString)
  }

  property("ratio == literal CPython port on unequal strings") =
    forAllNoShrink(diffPair) { case (a, b) =>
      val py = new DiffLibReference.PySequenceMatcher(a, b)
      val want = py.ratio()
      Prop.classify(b.length >= 200, "autojunk") {
        Prop.classify(b.exists(_ >= 128), "non-ASCII b") {
          Prop.classify(py.calls.exists(_._3 > 0), "blo > 0") {
            a == b || DiffLib.ratio(a, b) == want
          }
        }
      }
    }

  property("stamped findLongestMatch == zero-filling form, call after call") =
    forAllNoShrink(diffPair, Gen.listOfN(8, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0),
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)))) { case ((a, b), ranges) =>
      // the thread's matcher: its stamps carry over from every earlier call
      val m = DiffLib.matcher(math.max(a.length, b.length))
      m.setSeq2(b)
      m.setSeq1(a)
      ranges.forall { case (x, y, u, v) =>
        val (alo, ahi) = (math.min(x, y) * a.length).toInt -> (math.max(x, y) * a.length).toInt
        val (blo, bhi) = (math.min(u, v) * b.length).toInt -> (math.max(u, v) * b.length).toInt
        val want = DiffLibReference.findLongestMatchZeroFill(a, b, alo, ahi, blo, bhi)
        val dp = m.longestDp(alo, ahi, blo, bhi)
        val dpBlock = (m.matchA, m.matchB, dp)
        val k = m.findLongestMatch(alo, ahi, blo, bhi)
        dpBlock == want && (m.matchA, m.matchB, k) == want
      }
    }

  // --- the diagonal fast path and the reused matcher, against the literal port ---

  /** The full matcher on (a, b) on a matcher of its own: no equal-input
    * shortcut and no state from earlier calls. */
  private def freshRatio(a: String, b: String): Double = {
    val m = new DiffLib.Matcher(math.max(a.length, b.length))
    m.setSeq2(b)
    m.ratio(a)
  }

  private def pyRatio(a: String, b: String): Double =
    new DiffLibReference.PySequenceMatcher(a, b).ratio()

  private def noPopular(b: String): Boolean =
    b.length < 200 || b.groupBy(identity).valuesIterator.forall(_.length <= b.length / 100 + 1)

  /** Up to 5 inserts, deletes or substitutions, each at a random place. */
  private def edited(s: String, alphabet: Gen[Char]): Gen[String] = for {
    n <- Gen.choose(0, 5)
    edits <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 2), Gen.choose(0.0, 1.0), alphabet))
  } yield edits.foldLeft(s) { case (t, (kind, at, c)) =>
    val p = math.min((at * t.length).toInt, t.length)
    if (kind == 0 || p == t.length) t.patch(p, c.toString, 0)
    else t.patch(p, if (kind == 1) "" else c.toString, 1)
  }

  /** A text of repeated blocks from a pool of three, so equal runs recur at
    * several offsets: ties and seeds off the aligned diagonals. */
  private def blocky(alphabet: Gen[Char], maxLen: Int): Gen[String] = for {
    pool <- Gen.listOfN(3, Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString)))
    picks <- Gen.listOf(Gen.oneOf(pool))
  } yield picks.mkString.take(maxLen)

  // b under 200 chars over the alphabets "ab" and "abcd ", a = b edited
  private val nearShort: Gen[(String, String)] = for {
    alphabet <- Gen.oneOf("ab", "abcd ").map(s => Gen.oneOf(s.toSeq))
    b <- blocky(alphabet, 199)
    a <- edited(b, alphabet)
  } yield (a, b)

  // b of 200+ chars with no popular char: two shuffles of the 94 printable
  // ASCII chars and a repeated block of distinct chars (each char ≤ 3 times,
  // ntest = 3 below 300 chars); a = b edited, non-ASCII edits included
  private val printable = ('!' to '~').toList
  private val nearWide: Gen[(String, String)] = for {
    p1 <- Gen.long.map(seed => new scala.util.Random(seed).shuffle(printable).mkString)
    p2 <- Gen.long.map(seed => new scala.util.Random(seed).shuffle(printable).mkString)
    from <- Gen.choose(0, 40)
    len <- Gen.choose(12, 54)
    at <- Gen.choose(0, 188)
    body = p1 + p2
    b = body.patch(at, p1.substring(from, from + len), 0)
    a <- edited(b, Gen.frequency((4, Gen.oneOf(printable)), (1, Gen.oneOf('é', 'ж', '\u4e2d'))))
  } yield (a, b)

  // (ab)^k-style periodic text against a rotated, cut or edited copy
  private val periodic: Gen[(String, String)] = for {
    unit <- Gen.oneOf("ab", "abc", "aab", "ab ")
    reps <- Gen.choose(2, 100)
    a = unit * reps
    shift <- Gen.choose(1, 3 * unit.length)
    cut <- Gen.choose(0, 5)
    rotated = a.drop(shift) + a.take(shift)
    b <- Gen.oneOf(Gen.const(rotated.dropRight(cut)), edited(rotated, Gen.oneOf(unit.toSeq)))
  } yield (a, b)

  private val nearPair: Gen[(String, String)] = Gen.oneOf(nearShort, nearWide, periodic)

  property("near-identical and periodic pairs: ratio == literal CPython port, both ways round") =
    forAllNoShrink(nearPair) { case (a, b) =>
      Prop.classify(noPopular(b), "fast path (no popular char in b)") {
        Prop.classify(b.length >= 200 && noPopular(b), "b of 200+ chars, no popular char") {
          DiffLib.ratio(a, b) == pyRatio(a, b) && DiffLib.ratio(b, a) == pyRatio(b, a) &&
            freshRatio(a, b) == pyRatio(a, b)
        }
      }
    }

  property("findLongestMatch on sub-ranges == literal CPython port, both ways round") =
    forAllNoShrink(nearPair, Gen.listOfN(6, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0),
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)))) { case ((a0, b0), ranges) =>
      Seq((a0, b0), (b0, a0)).forall { case (a, b) =>
        val m = DiffLib.matcher(math.max(a.length, b.length))
        m.setSeq2(b)
        m.setSeq1(a)
        val py = new DiffLibReference.PySequenceMatcher(a, b)
        ranges.forall { case (x, y, u, v) =>
          val (alo, ahi) = (math.min(x, y) * a.length).toInt -> (math.max(x, y) * a.length).toInt
          val (blo, bhi) = (math.min(u, v) * b.length).toInt -> (math.max(u, v) * b.length).toInt
          val k = m.findLongestMatch(alo, ahi, blo, bhi)
          (m.matchA, m.matchB, k) == py.findLongestMatch(alo, ahi, blo, bhi)
        }
      }
    }

  // 2-4 passes: equal to the first, edited from it, non-ASCII edits, and
  // pages of 200+ chars (autojunk)
  private val passes: Gen[Seq[String]] = for {
    alphabet <- Gen.oneOf("ab", "abcd ", "the lease 0123").map(s => Gen.oneOf(s.toSeq))
    base <- Gen.oneOf(blocky(alphabet, 150), blocky(alphabet, 400))
    n <- Gen.choose(2, 4)
    rest <- Gen.listOfN(n - 1, Gen.frequency((1, Gen.const(base)),
      (3, edited(base, Gen.frequency((5, alphabet), (1, Gen.oneOf('é', '\u4e2d')))))))
  } yield base +: rest

  property("pairwise confidence == (i, j) sum of literal CPython ratios") =
    forAllNoShrink(passes) { ps =>
      var sum = 0.0
      var pairs = 0
      for (i <- ps.indices; j <- i + 1 until ps.length) {
        sum += pyRatio(ps(i), ps(j)) * 100.0
        pairs += 1
      }
      Prop.classify(ps.distinct.length < ps.length, "equal passes") {
        Prop.classify(ps.exists(_.exists(_ >= 128)), "non-ASCII pass") {
          Confidence.pairwise(ps) == sum / pairs
        }
      }
    }

  property("a text over the workspace cap: exact, on a matcher the thread does not keep") = {
    // 189 chars, 90 times each in shuffled order: no popular char at 17,010
    val chars = ('!' to '~') ++ ('\u00a1' to '\u00ff')
    val rnd = new scala.util.Random(7)
    val b = (0 until 90).map(_ => rnd.shuffle(chars).mkString).mkString
    val a = b.patch(9000, "x", 1).patch(300, "", 2).patch(16000, "ab", 0)
    val kept = DiffLib.matcher(16)
    Prop(b.length > DiffLib.WorkspaceCap && noPopular(b) &&
      DiffLib.ratio(a, b) == pyRatio(a, b) && DiffLib.ratio(b, a) == pyRatio(b, a) &&
      (DiffLib.matcher(16) eq kept) &&
      (DiffLib.matcher(DiffLib.WorkspaceCap + 1) ne DiffLib.matcher(DiffLib.WorkspaceCap + 1)))
  }

  property("reused thread matchers == fresh matchers: long then short on one thread, and 4 threads") =
    forAllNoShrink(Gen.listOfN(12, Gen.oneOf(nearPair, diffPair))) { pairs =>
      val want = pairs.map { case (a, b) => freshRatio(a, b) }
      val longFirst = pairs.zip(want).sortBy { case ((a, b), _) => -math.max(a.length, b.length) }
      val oneThread = longFirst.forall { case ((a, b), w) => DiffLib.ratio(a, b) == w }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val runs = (0 until 4).map { t =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              val order = new scala.util.Random(t).shuffle(pairs.zip(want))
              order.forall { case ((a, b), w) =>
                DiffLib.ratio(a, b) == w && Confidence.pairwise(Seq(a, b)) == w * 100.0
              }
            }
          })
        }
        oneThread && runs.forall(_.get)
      } finally pool.shutdown()
    }

  // HTML with entities, runs of the six whitespace chars (alone too),
  // U+0001/U+001F at segment edges, nested anchors, skip tags, comments, tag
  // names that prefix a known one ("b", "h") and tag names that only
  // String.toLowerCase lowers (upper case, the Kelvin sign)
  private val htmlDoc: Gen[String] = {
    val ws = Gen.listOf(Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000B")).map(_.take(5).mkString)
    val edge = Gen.oneOf("", "", "\u0001", "\u001F", " \u0001", "\u001F\t", "\u0001 \u001F")
    val word = Gen.oneOf("lease", "tenant", "the", "Fish", "chips", "año", "x1", "&amp;",
      "&nbsp;", "&lt;b&gt;", "&quot;q&quot;", "&#39;", "&", "&amp", "a\u0001b", "\u001F", "ok")
    val text = for {
      lead <- edge; trail <- edge
      n <- Gen.choose(0, 24)
      ws0 <- ws
      body <- Gen.listOfN(n, Gen.zip(word, ws.map(w => if (w.isEmpty) " " else w)))
    } yield lead + ws0 + body.map { case (w, s) => w + s }.mkString + trail
    val tag = Gen.oneOf("<p>", "</p>", "<div class=\"x\">", "</div>", "<br/>", "<li>", "</li>",
      "<h1>", "</h1>", "<a href=\"#\">", "</a>", "<A>", "</A >", "< p >", "<P>", "<//p>", "<>",
      "<script>var x = '<p>';</script>", "<style>p{}</style>", "<script/>", "<SCRIPT>s</SCRIPT>",
      "<title>T</title>", "<noscript>n</noscript>", "<head>", "</head>", "<!-- c <p> -->",
      "<span>", "</span>", "<bloc\u212Aquote>", "<nav>", "</nav>", "<footer>", "<td>", "<h7>",
      "<b>", "</b>", "<h>", "<em>", "<tab>")
    val ending = Gen.oneOf("", "<p", "<!-- open", "&amp")
    for {
      parts <- Gen.listOf(Gen.frequency((3, text), (2, tag), (1, ws), (1, edge)))
      end <- ending
    } yield parts.mkString + end
  }

  property("boilerplate blocks and extract == regex reference form") = forAllNoShrink(htmlDoc) { html =>
    Boilerplate.blocks(html) == BoilerplateReference.blocks(html) &&
      Boilerplate.extract(html) == BoilerplateReference.extract(html)
  }

  property("merge detects on the join's first 1000 chars == on the whole join") =
    forAllNoShrink(Gen.listOf(Gen.oneOf(Gen.choose(0, 40), Gen.choose(300, 700))
      .flatMap(n => Gen.listOfN(n, langChar).map(_.mkString)))) { texts =>
      val pages = texts.zipWithIndex.map { case (t, i) => PageOut("text", t, null, i, 1) }
      val out = ExtractKernel.merge("d", Seq(UnitOut("d", 0, 1, pages, pages.length, 0.0)))
      out.detected_language == LangDetect.detect(texts.mkString(" "))
    }

  property("incremental Hash64.pickFrom == pick on fixture-shaped keys") =
    forAll(Gen.alphaNumStr, Gen.choose(0, 100000), Gen.choose(1, 64)) { (p, i, n) =>
      Hash64.pickFrom(Hash64.prefixState(p + "#w"), i, n) ==
        Hash64.pick(p + "#w" + i, n)
    }
}
