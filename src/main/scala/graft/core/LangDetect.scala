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

  // --- single-scan matcher tables (round-6 perf; semantics unchanged and
  // pinned by PropertySpec's detect == detectReference differential): the
  // reference runs 84 independent `word in sample` containment tests per
  // call; one left-to-right scan with a first-char dispatch finds the same
  // "is keyword contained" facts in one pass. Keyword lists are
  // duplicate-free per language (required — each containment adds exactly
  // 1), so unique-string hits add 1 to every owning language.
  private val scoredLangs =
    Vector("spanish", "french", "english", "german", "portuguese", "italian")
  private val uniqueKws: Array[String] = {
    scoredLangs.foreach(l => require(keywords(l).distinct.length == keywords(l).length,
      s"duplicate keyword in $l would break the single-scan counter"))
    scoredLangs.flatMap(keywords).distinct.toArray
  }
  // score slots are looked up by name, never by position in `langs`
  private def langIdx(name: String): Int = {
    val i = langs.indexOf(name)
    require(i >= 0, s"$name missing from langs")
    i
  }
  private val ChineseIdx = langIdx("chinese")
  private val ArabicIdx = langIdx("arabic")
  private val RussianIdx = langIdx("russian")

  private val kwLangIdx: Array[Array[Int]] = uniqueKws.map { kw =>
    scoredLangs.filter(l => keywords(l).contains(kw)).map(langIdx).toArray
  }
  private val byFirstChar: Array[Array[Int]] = {
    val out = new Array[Array[Int]](128)
    uniqueKws.zipWithIndex.groupBy(_._1.charAt(0)).foreach { case (c, kws) =>
      require(c < 128, s"keyword first char $c outside the ASCII dispatch table")
      out(c) = kws.map(_._2)
    }
    out
  }

  def detect(text: String): String = {
    val t = if (text == null) "" else text
    val sample = (if (t.length > 1000) t.substring(0, 1000) else t)
      .toLowerCase(java.util.Locale.ROOT)                          // main.py:90

    val scores = new Array[Int](langs.length)
    val found = new Array[Boolean](uniqueKws.length)
    var remaining = uniqueKws.length
    val n = sample.length
    var i = 0
    while (i < n && remaining > 0) {                               // main.py:106-139
      val c = sample.charAt(i)
      if (c < 128) {
        val cands = byFirstChar(c)
        if (cands != null) {
          var k = 0
          while (k < cands.length) {
            val kid = cands(k)
            if (!found(kid) && sample.startsWith(uniqueKws(kid), i)) {
              found(kid) = true
              remaining -= 1
              val ls = kwLangIdx(kid)
              var q = 0
              while (q < ls.length) { scores(ls(q)) += 1; q += 1 }
            }
            k += 1
          }
        }
      }
      i += 1
    }

    // the three script-range tests in ONE pass (each `exists` alone would
    // re-scan the whole sample on ASCII text); same sets, same outcomes
    var cjk = false; var arabic = false; var cyrillic = false
    i = 0
    while (i < n && !(cjk && arabic && cyrillic)) {
      val c = sample.charAt(i)
      if (c >= '一' && c <= '鿿') cjk = true                        // main.py:141-143
      else if (c >= '؀' && c <= 'ۿ') arabic = true                 // main.py:145-147
      else if (c >= 'Ѐ' && c <= 'ӿ') cyrillic = true               // main.py:149-151
      i += 1
    }
    if (cjk) scores(ChineseIdx) = 10
    if (arabic) scores(ArabicIdx) = 10
    if (cyrillic) scores(RussianIdx) = 10

    var best = 0                                                   // first max in insertion order,
    var li = 1                                                     // matching Python max() (main.py:154-158)
    while (li < scores.length) {
      if (scores(li) > scores(best)) best = li
      li += 1
    }
    if (scores(best) == 0) "spanish" else langs(best)
  }

  /** The literal reference port (84 independent containment tests) — kept
    * as the differential-property reference for the single-scan `detect`. */
  private[core] def detectReference(text: String): String = {
    val t = if (text == null) "" else text
    val sample = (if (t.length > 1000) t.substring(0, 1000) else t)
      .toLowerCase(java.util.Locale.ROOT)                          // main.py:90

    val scores = scala.collection.mutable.LinkedHashMap(langs.map(_ -> 0): _*)
    for (lang <- scoredLangs; word <- keywords(lang))
      if (sample.contains(word)) scores(lang) += 1                 // main.py:106-139

    if (sample.exists(c => c >= '一' && c <= '鿿')) scores("chinese") = 10 // main.py:141-143
    if (sample.exists(c => c >= '؀' && c <= 'ۿ')) scores("arabic") = 10  // main.py:145-147
    if (sample.exists(c => c >= 'Ѐ' && c <= 'ӿ')) scores("russian") = 10 // main.py:149-151

    val best = scores.maxBy(_._2)                                  // LinkedHashMap.maxBy keeps first max,
    if (best._2 == 0) "spanish" else best._1                       // matching Python max() (main.py:154-158)
  }

  /** Per-language scores in insertion order — used by tests and by the
    * SQL-expressible oracle query (SparkEntry `q_lang_case`). */
  def scoresOf(text: String): Vector[(String, Int)] = {
    val t = if (text == null) "" else text
    val sample = (if (t.length > 1000) t.substring(0, 1000) else t)
      .toLowerCase(java.util.Locale.ROOT)
    val base = langs.map { l =>
      l -> keywords.get(l).map(_.count(sample.contains)).getOrElse(0)
    }
    base.map {
      case ("chinese", _) if sample.exists(c => c >= '一' && c <= '鿿') => ("chinese", 10)
      case ("arabic", _) if sample.exists(c => c >= '؀' && c <= 'ۿ')  => ("arabic", 10)
      case ("russian", _) if sample.exists(c => c >= 'Ѐ' && c <= 'ӿ') => ("russian", 10)
      case kv => kv
    }
  }
}
