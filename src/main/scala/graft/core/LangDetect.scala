package graft.core

/** Exact re-implementation of the reference keyword language detector
  * `detect_language_from_text` (reference `main.py:87-160`).
  *
  * Semantics replicated precisely (SURVEY.md §2.3 A6):
  *  - sample = first 1,000 chars, lowercased (`main.py:90`). The reference is
  *    `text[:1000] if len > 1000 else text` — both branches lowercase.
  *  - **substring** containment, not word-boundary: `'el'` matches inside
  *    `'lease'`, `'de'` inside `'order'` (`if word in sample`).
  *  - each matched keyword adds exactly 1 to its language's score.
  *  - any CJK char (U+4E00–U+9FFF) sets chinese = 10 (assignment, `main.py:143`);
  *    Arabic (U+0600–U+06FF) sets arabic = 10; Cyrillic (U+0400–U+04FF) sets
  *    russian = 10. These run on the (already-cleaned, ASCII) text in every
  *    reference call site, so they are effectively dead there — replicated
  *    anyway since our callers pass the same cleaned text.
  *  - winner = first maximal language in dict-insertion order
  *    (`max(dict, key=get)` keeps the first max): spanish, french, english,
  *    german, portuguese, italian, chinese, arabic, russian.
  *  - all-zero → "spanish" (`main.py:156-158`).
  *
  * Lowercasing note: Python `str.lower` and Java `toLowerCase` agree on the
  * BMP text our pipeline produces (post-clean printable ASCII); we use
  * `toLowerCase(Locale.ROOT)` to avoid locale surprises (e.g. Turkish I).
  */
object LangDetect {

  /** Chars of the text that detection reads (`main.py:90`). */
  val SampleChars = 1000

  // Insertion order of the reference score dict (main.py:93-103).
  private[graft] val langs: Vector[String] = Vector(
    "spanish", "french", "english", "german", "portuguese", "italian",
    "chinese", "arabic", "russian")

  // Keyword lists, verbatim from main.py:106-139.
  private[graft] val keywords: Map[String, Vector[String]] = Map(
    "spanish" -> Vector("contrato", "arrendamiento", "locales", "fecha", "mes",
      "año", "el", "la", "de", "que", "y", "los", "las", "con", "para", "por"),
    "french" -> Vector("contrat", "location", "locataire", "bailleur", "date",
      "mois", "année", "le", "la", "de", "que", "et", "les", "avec", "pour", "par"),
    "english" -> Vector("contract", "lease", "tenant", "landlord", "date",
      "month", "year", "the", "and", "of", "to", "with", "for", "by"),
    "german" -> Vector("vertrag", "miete", "mieter", "vermieter", "datum",
      "monat", "jahr", "der", "die", "das", "und", "mit", "für", "von"),
    "portuguese" -> Vector("contrato", "arrendamento", "locatário", "senhorio",
      "data", "mês", "ano", "o", "a", "de", "que", "e", "com", "para"),
    "italian" -> Vector("contratto", "affitto", "locatore", "locatario",
      "data", "mese", "anno", "il", "la", "di", "che", "e", "con", "per"))

  // --- one Aho–Corasick automaton over all keywords (Aho & Corasick, CACM
  // 1975): the reference runs 84 independent `word in sample` containment
  // tests per call; one left-to-right pass of a dense DFA finds the same
  // "is keyword contained" facts, overlaps included, at one transition per
  // char. Pinned by PropertySpec's detect == reference-port differential.
  // Keyword lists are duplicate-free per language (required — each
  // containment adds exactly 1), so a language's score is the number of its
  // keywords in the found set.
  private val scoredLangs =
    Vector("spanish", "french", "english", "german", "portuguese", "italian")
  private val uniqueKws: Vector[String] = {
    scoredLangs.foreach(l => require(keywords(l).distinct.length == keywords(l).length,
      s"duplicate keyword in $l would break the found-set score"))
    scoredLangs.flatMap(keywords).distinct
  }
  require(uniqueKws.length <= 128, "the found set is two Longs")

  // score slots are looked up by name, never by position in `langs`
  private def langIdx(name: String): Int = {
    val i = langs.indexOf(name)
    require(i >= 0, s"$name missing from langs")
    i
  }
  private val ChineseIdx = langIdx("chinese")
  private val ArabicIdx = langIdx("arabic")
  private val RussianIdx = langIdx("russian")

  // alphabet: the keyword chars; every other char is symbol 0, which only
  // ever leads back to the root
  private val symOf: Array[Int] = {
    val out = new Array[Int](256)
    uniqueKws.flatten.distinct.zipWithIndex.foreach { case (c, k) =>
      require(c < 256, s"keyword char $c outside the symbol table")
      out(c) = k + 1
    }
    out
  }
  private val nSym = symOf.max + 1

  // dense goto table (state × symbol) and, per state, the bitmask (lo, hi)
  // of the keywords ending there, suffix outputs folded in
  private val (delta, outLo, outHi) = {
    val go = scala.collection.mutable.ArrayBuffer(new Array[Int](nSym))
    val lo = scala.collection.mutable.ArrayBuffer(0L)
    val hi = scala.collection.mutable.ArrayBuffer(0L)
    uniqueKws.zipWithIndex.foreach { case (kw, k) =>
      var s = 0
      kw.foreach { c =>
        val y = symOf(c)
        if (go(s)(y) == 0) {
          go(s)(y) = go.length
          go += new Array[Int](nSym); lo += 0L; hi += 0L
        }
        s = go(s)(y)
      }
      if (k < 64) lo(s) |= 1L << k else hi(s) |= 1L << (k - 64)
    }
    // BFS: fail links complete the table into a DFA; a state's output
    // includes its fail state's (shallower, so already final)
    val fail = new Array[Int](go.length)
    val queue = scala.collection.mutable.Queue.empty[Int]
    (1 until nSym).foreach(y => if (go(0)(y) != 0) queue += go(0)(y))
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      lo(s) |= lo(fail(s)); hi(s) |= hi(fail(s))
      (0 until nSym).foreach { y =>
        val t = go(s)(y)
        if (y != 0 && t != 0) { fail(t) = go(fail(s))(y); queue += t }
        else go(s)(y) = go(fail(s))(y)
      }
    }
    val table = new Array[Int](go.length * nSym)
    go.indices.foreach(s => System.arraycopy(go(s), 0, table, s * nSym, nSym))
    (table, lo.toArray, hi.toArray)
  }

  // per scored language: the keyword mask, same (lo, hi) split
  private val (langLo, langHi) = {
    val lo = new Array[Long](langs.length)
    val hi = new Array[Long](langs.length)
    uniqueKws.zipWithIndex.foreach { case (kw, k) =>
      scoredLangs.filter(l => keywords(l).contains(kw)).map(langIdx).foreach { l =>
        if (k < 64) lo(l) |= 1L << k else hi(l) |= 1L << (k - 64)
      }
    }
    (lo, hi)
  }

  def detect(text: String): String = {
    val t = if (text == null) "" else text
    val sample = (if (t.length > SampleChars) t.substring(0, SampleChars) else t)
      .toLowerCase(java.util.Locale.ROOT)                          // main.py:90

    // one pass: keyword containment (main.py:106-139) and the three
    // script-range tests (main.py:141-151)
    var foundLo = 0L; var foundHi = 0L
    var cjk = false; var arabic = false; var cyrillic = false
    var s = 0
    val n = sample.length
    var i = 0
    while (i < n) {
      val c = sample.charAt(i)
      val y =
        if (c < 256) symOf(c)
        else {
          if (c >= '一' && c <= '鿿') cjk = true                      // main.py:141-143
          else if (c >= '؀' && c <= 'ۿ') arabic = true               // main.py:145-147
          else if (c >= 'Ѐ' && c <= 'ӿ') cyrillic = true             // main.py:149-151
          0
        }
      s = delta(s * nSym + y)
      foundLo |= outLo(s); foundHi |= outHi(s)
      i += 1
    }

    val scores = new Array[Int](langs.length)
    var li = 0
    while (li < scores.length) {
      scores(li) = java.lang.Long.bitCount(foundLo & langLo(li)) +
        java.lang.Long.bitCount(foundHi & langHi(li))
      li += 1
    }
    if (cjk) scores(ChineseIdx) = 10
    if (arabic) scores(ArabicIdx) = 10
    if (cyrillic) scores(RussianIdx) = 10

    var best = 0                                                   // first max in insertion order,
    li = 1                                                         // matching Python max() (main.py:154-158)
    while (li < scores.length) {
      if (scores(li) > scores(best)) best = li
      li += 1
    }
    if (scores(best) == 0) "spanish" else langs(best)
  }
}
