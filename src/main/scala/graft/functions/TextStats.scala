package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style repetition counts in ONE fused native pass — value-identical
  * to the builtin construction in `TextOps.repetitionCols` (pinned by
  * Md5ParitySpec): [n_words, sum_word_chars, top_word_n, top_bigram_n] over
  * the dedup pipeline's normalized word list. The builtin form's
  * `aggregate(array_sort(...), struct, ...)` fold is CodegenFallback —
  * every word/bigram walks an interpreted expression tree and boxes a
  * 3-field struct; here the most-frequent-element counts come from one
  * hash-map pass (count of the most frequent element ≡ longest equal run
  * of the sorted array, the builtin's formulation).
  *
  * Exactness: words = split(regexp_replace(lower(trim(s)), " +", " "), " ")
  * (so empty input yields the single empty word, n_words = 1, top_word_n =
  * 1); word length counts Unicode code points like `length()`; bigrams =
  * the n−1 adjacent pairs joined by one space (0 for n = 1). Null for null
  * input — each extracted field is then null, as the builtin columns were. */
object TextStatsKernel {
  def repetitionCounts(s: UTF8String): ArrayData = {
    val words = Md5TextKernel.normWords(s)
    val n = words.length
    var sumChars = 0L
    val wordCounts = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < n) {
      val w = words(i)
      sumChars += w.codePointCount(0, w.length)
      wordCounts.merge(w, 1L, (a, b) => a + b)
      i += 1
    }
    var topWord = 0L
    val wit = wordCounts.values().iterator()
    while (wit.hasNext) { val c = wit.next(); if (c > topWord) topWord = c }
    var topBigram = 0L
    if (n >= 2) {
      val bigramCounts = new java.util.HashMap[String, Long]()
      val sb = new java.lang.StringBuilder()
      i = 0
      while (i + 1 < n) {
        sb.setLength(0)
        sb.append(words(i)).append(' ').append(words(i + 1))
        bigramCounts.merge(sb.toString, 1L, (a, b) => a + b)
        i += 1
      }
      val bit = bigramCounts.values().iterator()
      while (bit.hasNext) { val c = bit.next(); if (c > topBigram) topBigram = c }
    }
    new GenericArrayData(Array[Any](n.toLong, sumChars, topWord, topBigram))
  }

  private val Stopwords: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.operators.TextOps.Stopwords.foreach(s.add)
    s
  }

  /** [n_words, n_punct, n_stop, n_chars] — value-identical to the builtin
    * chain in `TextOps.qualityCols` (pinned by Md5ParitySpec):
    *  - n_words = size(split(trim(s), " +")): space-run tokens of the
    *    trimmed text, [""] (count 1) for empty input;
    *  - n_punct = chars in [.,;:!?];
    *  - n_stop = tokens of split(lower(s), " ") — single-space split, NOT
    *    trimmed, empties kept (they never match) — that are stopwords;
    *  - n_chars = length(s) in code points.
    * Code-point stepping everywhere `length`/regex classes count code
    * points. */
  def qualityCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    // n_words over the trimmed text (space-run split, like rawWords but
    // without building the word array)
    val t = s.trim().toString
    var nWords = 0L
    if (t.isEmpty) nWords = 1L // split("") = [""]
    else {
      var i = 0
      val n = t.length
      while (i < n) {
        while (i < n && t.charAt(i) == ' ') i += 1
        if (i < n) {
          nWords += 1
          while (i < n && t.charAt(i) != ' ') i += 1
        }
      }
    }
    // n_punct + n_chars in one code-point scan
    var nPunct = 0L
    var nChars = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      nChars += 1
      if (cp == '.' || cp == ',' || cp == ';' || cp == ':' || cp == '!' || cp == '?')
        nPunct += 1
      i += Character.charCount(cp)
    }
    // n_stop over single-space tokens of the LOWERCASED, untrimmed text
    val lower = s.toLowerCase().toString
    var nStop = 0L
    var start = 0
    val ln = lower.length
    i = 0
    while (i <= ln) {
      if (i == ln || lower.charAt(i) == ' ') {
        if (i > start && Stopwords.contains(lower.substring(start, i))) nStop += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(Array[Any](nWords, nPunct, nStop, nChars))
  }

  /** Count of `TextOps.TokenPattern` matches ([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])
    * — the regex's greedy-alternation semantics as one scan: a letter run
    * is one token, a digit run is one token, any other NON-SPACE code
    * point is one token. Value-identical to
    * size(regexp_extract_all(s, TokenPattern)) (pinned by Md5ParitySpec;
    * Java regex classes match per code point, so the scan steps code
    * points). */
  def tokenCount(s: UTF8String): Long = {
    val str = s.toString
    var count = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        count += 1
        i += 1
        while (i < n && {
          val d = str.charAt(i); (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z')
        }) i += 1
      } else if (c >= '0' && c <= '9') {
        count += 1
        i += 1
        while (i < n && { val d = str.charAt(i); d >= '0' && d <= '9' }) i += 1
      } else if (c == ' ') {
        i += 1
      } else {
        count += 1
        i += Character.charCount(str.codePointAt(i))
      }
    }
    count
  }
}

object TextStats {
  /** [n_words, sum_word_chars, top_word_n, top_bigram_n] as array<long>. */
  def repetitionCounts(c: Column): Column = Kernels.column("repetition_counts", c)

  /** [n_words, n_punct, n_stop, n_chars] as array<long>. */
  def qualityCounts(c: Column): Column = Kernels.column("quality_counts", c)

  /** BPE-ish token count (letter runs | digit runs | single other glyphs). */
  def tokenCount(c: Column): Column = Kernels.column("token_count", c)
}
