package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Golden unit tests for the pure kernel — expectations computed by
  * executing the reference's own functions (CPython) on the same inputs
  * (see scripts/gen_golden.py for the bulk differential test; these are the
  * hand-picked nasty cases from SURVEY.md §5.1). */
class TextCleanSpec extends AnyFunSuite {

  test("null/empty") {
    assert(TextClean.clean(null) == "")
    assert(TextClean.clean("") == "")
  }

  test("newlines and tabs flatten to single spaces (main.py:59 + :79)") {
    assert(TextClean.clean("a\nb\tc\r\nd") == "a b c d")
  }

  test("paragraph breaks do NOT survive (dead step 7, SURVEY §2.2)") {
    assert(TextClean.clean("para one\n\npara two") == "para one para two")
  }

  test("quotes and backslashes substituted") {
    assert(TextClean.clean("""say "hi" C:\tmp""") == "say 'hi' C:/tmp")
  }

  test("zero-width removed (neighbors join), other non-ASCII spaced") {
    assert(TextClean.clean("a\u200bb") == "ab")
    assert(TextClean.clean("a\u200cb\u200d c\ufeffd") == "ab cd")
    assert(TextClean.clean("caf\u00e9 bar") == "caf bar")  // é → ' ' then collapse+trim? no: "caf  bar"→"caf bar"
    assert(TextClean.clean("\u4e2d\u6587 ok") == "ok")
  }

  test("astral char becomes ONE space (code-point semantics)") {
    // U+1F600 is a surrogate pair in UTF-16; Python re replaces the single
    // code point with one space.
    assert(TextClean.clean("a\ud83d\ude00b") == "a b")
  }

  test("control chars become spaces then collapse") {
    assert(TextClean.clean("a\u0000\u0001\u0007b\u009fc") == "a b c")
  }

  test("idempotent on already-clean text") {
    val s = "Invoice 123 total 45.00 USD"
    assert(TextClean.clean(s) == s)
  }
}

class LangDetectSpec extends AnyFunSuite {

  test("substring matching, not word-boundary ('el' in 'lease', 'de' in 'order')") {
    // "lease" contains 'el'? l-e-a-s-e : no "el". But "the lease" has 'e'...
    // pick explicit: "relay" contains "el", "order" contains "de"
    val s = LangDetectReference.scoresOf("relay order").toMap
    assert(s("spanish") >= 2) // 'el' + 'de' + 'la'? relay has 'la'? r-e-l-a-y → "la" yes
  }

  test("insertion-order tie-break: spanish wins ties (main.py:154)") {
    // craft equal scores for spanish and english only
    val text = "zq el zq the zq" // spanish: el(1). english: the(1). portuguese: o? no 'o'... 'e' yes → pt gets 'e'? 'e' not in pt list; pt has 'o','a','e'! 'e' IS in pt list
    val scores = LangDetectReference.scoresOf(text).toMap
    val det = LangDetect.detect(text)
    // whatever the scores, the detect must equal first maximal in insertion order
    val langsInOrder = LangDetect.langs
    val maxScore = langsInOrder.map(scores).max
    val firstMax = langsInOrder.find(l => scores(l) == maxScore).get
    assert(det == (if (maxScore == 0) "spanish" else firstMax))
  }

  test("all-zero defaults to spanish (main.py:156-158)") {
    assert(LangDetect.detect("zzz qqq 12345") == "spanish")
  }

  test("only first 1000 chars sampled (main.py:90)") {
    val text = ("z" * 1000) + " the lease tenant landlord contract"
    assert(LangDetect.detect(text) == "spanish") // english words beyond sample
  }

  test("CJK/Arabic/Cyrillic set-10 branches") {
    assert(LangDetect.detect("\u4e2d\u6587") == "chinese")
    assert(LangDetect.detect("\u0633\u0644\u0627\u0645") == "arabic")
    assert(LangDetect.detect("\u043f\u0440\u0438\u0432\u0435\u0442") == "russian")
    // CJK beats keyword scores (10 > few keyword hits)
    assert(LangDetect.detect("the lease \u4e2d") == "chinese")
  }
}

class ConsensusSpec extends AnyFunSuite {

  test("single pass returns as-is") {
    assert(Consensus.merge(Seq("abc")) == "abc")
  }

  test("majority vote per position") {
    assert(Consensus.merge(Seq("abc", "abc", "axc")) == "abc")
  }

  test("first-seen tie-break (Counter.most_common insertion order)") {
    // position 0: 'a' vs 'b' — tie → first seen 'a'
    assert(Consensus.merge(Seq("a", "b")) == "a")
    assert(Consensus.merge(Seq("b", "a")) == "b")
    // 2-2 tie across 4 passes: first seen wins
    assert(Consensus.merge(Seq("x", "y", "y", "x")) == "x")
  }

  test("unequal lengths: tail voted by longer texts only (main.py:196-198)") {
    assert(Consensus.merge(Seq("ab", "abcd", "abce")) == "abcd") // pos3: 'd' vs 'e' → first seen 'd'
    assert(Consensus.merge(Seq("ab", "abc")) == "abc")
  }

  test("not permutation-invariant (documented asymmetry, SURVEY §5.2)") {
    assert(Consensus.merge(Seq("ax", "ay")) == "ax")
    assert(Consensus.merge(Seq("ay", "ax")) == "ay")
  }
}

/** Expected values below computed with CPython difflib (SequenceMatcher
  * with isjunk=None, default autojunk) — see session notes; exact doubles. */
class DiffLibSpec extends AnyFunSuite {
  private def r(a: String, b: String): Double = DiffLib.ratio(a, b)

  test("identity and empties") {
    assert(r("abcdef", "abcdef") == 1.0)
    assert(r("abcdef", "") == 0.0)
    assert(r("", "") == 1.0)
  }

  test("classic cases") {
    assert(r("kitten", "sitting") == 0.6153846153846154)
    assert(r("the quick brown fox", "the quick brown fax") == 0.9473684210526315)
    assert(r("abcxyz", "xyzabc") == 0.5)
    assert(r("aaaaab", "baaaaa") == 0.8333333333333334)
  }

  test("autojunk: popular chars in b >= 200 are not match seeds") {
    val a = "lorem ipsum dolor sit amet " * 10
    val b = a.dropRight(1) + "x"
    assert(r(a, b) == 0.9962962962962963)
    assert(r("a" * 250, "a" * 249 + "b") == 0.996) // extension-only match
    assert(r("ab" * 150, "ba" * 150) == 0.0)        // both chars popular → nothing
  }

  test("literal CPython port agrees on autojunk, non-ASCII b and blo > 0") {
    val cases = Seq(
      ("ab " * 80 + "hello world", "ab " * 80 + "h\u00e9llo w\u00f6rld"),
      ("the lease of the tenant", "a lease for the tenants"),
      ("lorem ipsum dolor sit amet " * 10, "lorem ipsum dolor sat amet " * 10))
    val pys = cases.map { case (a, b) =>
      val py = new DiffLibReference.PySequenceMatcher(a, b)
      assert(r(a, b) == py.ratio(), s"$a / $b")
      (b, py)
    }
    assert(pys.exists { case (b, py) => b.length >= 200 && py.bpopular.nonEmpty })
    assert(pys.exists { case (b, _) => b.exists(_ >= 128) })
    assert(pys.forall { case (_, py) => py.calls.exists(_._3 > 0) })
  }

  test("confidence wrapper (main.py:174-185)") {
    assert(Confidence.pairwise(Seq("abc")) == 100.0)
    assert(Confidence.pairwise(Seq("abc", "abc", "abc")) == 100.0)
    val exp = (r("abc", "abd") * 100 + r("abc", "xbc") * 100 + r("abd", "xbc") * 100) / 3
    assert(Confidence.pairwise(Seq("abc", "abd", "xbc")) == exp)
  }
}

class XYCutSpec extends AnyFunSuite {
  import XYCut.Box

  test("two columns read left column first, top-to-bottom") {
    val b = Seq(
      Box(300, 0, 100, 50, "R1"), Box(0, 0, 100, 50, "L1"),
      Box(300, 60, 100, 50, "R2"), Box(0, 60, 100, 50, "L2"))
    assert(XYCut.readingOrder(b) == "L1\nL2\nR1\nR2")
  }

  test("horizontal bands split before columns when the y-gap is wider") {
    val b = Seq(
      Box(0, 500, 100, 50, "B1"), Box(120, 500, 100, 50, "B2"),
      Box(0, 0, 220, 50, "HEAD"))
    assert(XYCut.readingOrder(b) == "HEAD\nB1\nB2")
  }

  test("no admissible gap → (y, x) order") {
    val b = Seq(Box(10, 10, 50, 50, "b"), Box(12, 8, 50, 50, "a"))
    assert(XYCut.readingOrder(b, minGap = 8) == "a\nb")
  }
}

class BoilerplateSpec extends AnyFunSuite {

  test("nav/footer links dropped, content paragraphs kept") {
    val html =
      """<html><head><title>T</title><style>x{}</style></head><body>
        |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
        |<p>This is a long content paragraph with plenty of words that clearly
        |carries the main information payload of the page and then some more.</p>
        |<p>Another substantial paragraph follows here with enough words to be
        |classified as content by the densitometric classifier thresholds.</p>
        |<footer><a href="/p">Privacy</a> <a href="/t">Terms</a></footer>
        |</body></html>""".stripMargin
    val out = Boilerplate.extract(html)
    assert(out.contains("main information payload"))
    assert(out.contains("densitometric classifier"))
    assert(!out.contains("Home"))
    assert(!out.contains("Privacy"))
  }

  test("script/style content never leaks") {
    val html = "<body><script>var x = 'SECRET';</script><p>Twenty words of real text " +
      "pad pad pad pad pad pad pad pad pad pad pad pad pad pad pad pad here.</p></body>"
    val out = Boilerplate.extract(html)
    assert(!out.contains("SECRET"))
    assert(out.contains("real text"))
  }

  test("entities decoded") {
    val html = "<body><p>Fish &amp; chips cost more than twelve pounds in the " +
      "city centre according to a detailed survey of forty local restaurants.</p></body>"
    assert(Boilerplate.extract(html).contains("Fish & chips"))
  }
}
