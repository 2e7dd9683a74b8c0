package graft.operators

import graft.core.LangDetect
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar (Catalyst-codegen'd) forms of the text kernels, for the
  * SQL-expressible operator surface + DuckDB oracle parity. All stay inside
  * whole-stage codegen (built-in `functions._` only — no UDFs).
  *
  * `cleanCol` is observably equivalent to `TextClean.clean` for BMP input
  * (asserted by `ColumnarParitySpec`): after the first step maps all control
  * chars (incl. \n\r\t) to spaces, preserving \n\r\t in later classes is
  * vacuous, so the chain is shortened — same output, fewer regex passes.
  */
object TextOps {

  /** Columnar sanitizer — semantics of `clean_text_for_json`
    * (main.py:53-85) for BMP input. */
  def cleanCol(c: Column): Column = {
    val ctl = regexp_replace(c, "[\\x00-\\x1F\\x7F-\\x9F]", " ")
    val quoted = translate(ctl, "\"\\", "'/")
    val zw = regexp_replace(quoted, "[\\u200B-\\u200D\\uFEFF]", "")
    val ascii = regexp_replace(zw, "[^\\x20-\\x7E]", " ")
    trim(regexp_replace(ascii, " +", " "))
  }

  /** DuckDB SQL string equivalent of `cleanCol` over expression `e`. */
  def cleanSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(replace(replace(" +
      s"regexp_replace($e, '[\\x00-\\x1F\\x7F-\\x9F]', ' ', 'g')," +
      s""" '"', ''''), '\\', '/'),""" +
      s" '[\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g')," +
      s" '[^\\x20-\\x7E]', ' ', 'g')," +
      s" ' +', ' ', 'g'))"

  /** DuckDB SQL of `LangDetect.detect` over expression `e` (main.py:87-160):
    * the argmax with insertion-order tie-break (main.py:154-158); the
    * CJK/Arabic/Cyrillic branches are omitted, as they score 0 on the ASCII
    * corpus. Built from the kernel's keyword data so the two can't drift. */
  def detectLangSql(e: String): String = {
    val sample = s"lower(substr($e, 1, 1000))"
    def score(lang: String): String =
      LangDetect.keywords(lang)
        .map(kw => s"(CASE WHEN contains($sample, '${kw.replace("'", "''")}') THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
    val ls = Vector("spanish", "french", "english", "german", "portuguese", "italian")
    val scores = ls.map(score)
    val m = s"greatest(${scores.mkString(", ")})"
    val total = scores.mkString(" + ")
    val cases = ls.zip(scores)
      .map { case (l, s) => s"WHEN $s = $m THEN '$l'" }
      .mkString(" ")
    s"(CASE WHEN ($total) = 0 THEN 'spanish' $cases ELSE 'spanish' END)"
  }

  /** Quality signals as exact integer counts (no float parity risk):
    * words, punctuation chars, stopwords, chars. ONE fused native pass
    * (quality_counts) — value-identical to the previous builtin chain
    * (regex replace + interpreted filter/isin HOF per word; Md5ParitySpec
    * pins it). Counts come back as longs, so callers' .cast("long") is a
    * no-op. */
  def qualityCols(text: Column): Seq[(String, Column)] = {
    val qc = graft.functions.TextStats.qualityCounts(text)
    Seq(
      "n_words" -> qc(0),
      "n_punct" -> qc(1),
      "n_stop" -> qc(2),
      "n_chars" -> qc(3))
  }

  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in",
    "is", "on", "for", "with", "at", "by", "from")

  def qualitySql: Seq[(String, String)] = Seq(
    "n_words" -> "len(string_split_regex(trim(text), ' +'))",
    "n_punct" -> "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))",
    "n_stop" -> s"len(list_filter(string_split(lower(text), ' '), w -> w IN (${Stopwords.map(s => s"'$s'").mkString(",")})))",
    "n_chars" -> "length(text)")

  /** Repetition/shape quality signals in the style of the Gopher rules
    * (Rae et al. 2021, §A1.1.2) and RefinedWeb (Penedo et al. 2023) —
    * the within-document repetition filters every large-scale curation
    * pipeline applies: concentration of the most frequent word and
    * 2-gram, plus mean word length bounds. All EXACT integer counts (the
    * thresholds are applied by integer cross-multiplication downstream)
    * and all PER-ROW: the top-run counts come from a sort-and-scan over
    * the row's own word array — no explode, no shuffle; at 10^12 docs
    * this stage is a pure map over the scan.
    *
    * Normalization matches the dedup shingle pipeline (lowercase,
    * whitespace-collapsed) so the same word stream feeds both. */
  def repetitionCols(text: Column): Seq[(String, Column)] = {
    // ONE fused native pass (repetition_counts) — value-identical to the
    // previous aggregate(array_sort(...)) fold construction (Md5ParitySpec
    // pins it; "count of most frequent element" is what the sorted-run
    // fold computed), but inside whole-stage codegen: the HOF fold walked
    // an interpreted tree and boxed a struct per word/bigram. The four
    // field extractions share the one kernel call via codegen
    // subexpression elimination.
    val rc = graft.functions.TextStats.repetitionCounts(text)
    Seq(
      "n_words" -> rc(0),
      "sum_word_chars" -> rc(1),
      "top_word_n" -> rc(2),
      "top_bigram_n" -> rc(3))
  }

  /** The same counts as DuckDB SQL over a `$e` text expression — the
    * oracle computes the top counts relationally (unnest → group → max),
    * which equals the engine's sorted-run scan by definition of "count of
    * the most frequent element". Returns (alias, correlated-subquery-free
    * SQL) pairs to be used inside a query that has `doc_id` and the
    * words/bigram CTEs in scope; see the q_gopher_repetition oracle. */
  val RepetitionRule: String =
    // keep iff: 40 ≤ n_words, 3·n_words ≤ sum_word_chars ≤ 10·n_words
    // (mean word length in [3,10]), top word ≤ 30%, top bigram ≤ 18%
    // — integer cross-multiplied, identical constants on both engines
    "n_words >= 40 AND sum_word_chars >= 3 * n_words AND " +
      "sum_word_chars <= 10 * n_words AND top_word_n * 10 <= n_words * 3 AND " +
      "top_bigram_n * 100 <= (CASE WHEN n_words > 1 THEN n_words - 1 ELSE 1 END) * 18"

  /** ---- line-level operators (Gopher §A1.1.1 line rules; C4/RefinedWeb
    * boilerplate-line removal) ----------------------------------------
    *
    * The driver corpus is single-line word salad, so the line-structured
    * document is DERIVED deterministically — and identically in BOTH
    * engines (this builder and the DuckDB oracle): content wrapped at
    * `LineWords` words per line, plus injected navigation/footer/teaser
    * lines keyed on doc_id. That construction is the newline-bearing
    * fixture; every count downstream is an exact integer over it. */
  val LineWords = 8
  val HeaderLine = "- menu home about contact"
  val FooterLine = "all rights reserved 2024"
  val ReadMoreLine = "click to read more..."

  /** A line is "boilerplate" when it appears in at least this many
    * distinct docs (the injected footer hits every doc; the header and
    * teaser hit 1/3 and 1/5 of docs; an organic 8-word line repeating
    * across 30+ distinct salad docs is effectively impossible). */
  val BoilerMinDocs = 30

  /** The derived line list of a document (array<string>, original order):
    * [header if doc_id%3=0] ++ content wrapped at LineWords ++ [footer]
    * ++ [teaser if doc_id%5=0]. Pure per-row map — no explode, no
    * shuffle; at 10^12 docs this stage rides the scan. */
  def linesCol(text: Column, docId: Column): Column = {
    // content wrap via the fused native wrap_lines (one codegen pass; the
    // previous transform(sequence(...)) HOF walked an interpreted tree per
    // line). coalesce = the round-5-advice null guard: sequence(0, -1)
    // DESCENDS for null text and produced bogus negative-start slices; a
    // null text now wraps to zero content lines. Non-null behavior is
    // value-identical (Md5ParitySpec), including the single empty line for
    // empty text.
    val content = coalesce(graft.functions.functions.wrapLines(text, LineWords),
      array().cast("array<string>"))
    val empty = array().cast("array<string>")
    concat(
      when(docId % 3 === 0, array(lit(HeaderLine))).otherwise(empty),
      content,
      array(lit(FooterLine)),
      when(docId % 5 === 0, array(lit(ReadMoreLine))).otherwise(empty))
  }

  /** The same derived line list as DuckDB SQL over a bound words-list
    * alias (see `Dedup.wordsSql` but WITHOUT lowercasing — lines keep
    * case) and a doc-id expression. */
  def lineListSql(wordsAlias: String, idExpr: String): String = {
    val content = s"list_transform(range(0, (len($wordsAlias)-1)//$LineWords + 1), " +
      s"i -> array_to_string($wordsAlias[CAST(i*$LineWords+1 AS BIGINT):CAST(i*$LineWords+$LineWords AS BIGINT)], ' '))"
    s"list_concat(list_concat(" +
      s"CASE WHEN $idExpr % 3 = 0 THEN ['$HeaderLine'] ELSE [] END, $content), " +
      s"list_concat(['$FooterLine'], " +
      s"CASE WHEN $idExpr % 5 = 0 THEN ['$ReadMoreLine'] ELSE [] END))"
  }

  /** DuckDB: the words list WITHOUT lowercasing (lines preserve case). */
  def rawWordsSql(e: String): String =
    s"string_split(regexp_replace(trim($e), ' +', ' ', 'g'), ' ')"

  /** Gopher-style line keep rule over the derived counts: drop a doc when
    * > 90% of lines start with a bullet or > 20% end in an ellipsis —
    * integer cross-multiplied, identical constants in both engines (the
    * 20% ellipsis bound is chosen so BOTH outcomes occur on this corpus:
    * short teaser-bearing docs drop, long ones keep). */
  val LineRule: String =
    "n_bullet_lines * 10 <= n_lines * 9 AND n_ellipsis_lines * 5 <= n_lines"

  /** Per-line shape counts (exact integers, per-row). */
  def lineShapeCols(lines: Column): Seq[(String, Column)] = Seq(
    "n_lines" -> size(lines).cast("long"),
    "n_bullet_lines" -> size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* "))).cast("long"),
    "n_ellipsis_lines" -> size(filter(lines, l => l.endsWith("..."))).cast("long"))

  /** BPE-ish token count: letter runs, digit runs, single other glyphs.
    * Native one-scan form of size(regexp_extract_all(text, TokenPattern))
    * — value-identical (Md5ParitySpec), returned as long (callers'
    * .cast("long") stays a no-op). */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def tokenCountCol(text: Column): Column =
    graft.functions.TextStats.tokenCount(text)
  def tokenCountSql(e: String): String =
    s"len(regexp_extract_all($e, '${TokenPattern.replace("\\", "\\\\")}'))"

  /** PII scrub (training-data hygiene): redact emails and simple phone
    * shapes with placeholder tokens, plus match counts for reporting.
    * The patterns use only RE2-safe constructs (character classes +
    * bounded repetition, no lookaround) so a DuckDB oracle evaluates the
    * SAME regexes; a real deployment extends the pattern set per policy.
    * Redaction order: emails first (the placeholder contains no digits,
    * so it can never create a new phone match). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[- ][0-9]{4}"
  def redactPiiCol(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")
  def piiCountCols(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(EmailPattern), lit(0))),
    "n_phones" -> size(regexp_extract_all(text, lit(PhonePattern), lit(0))))
  def redactPiiSql(e: String): String =
    s"regexp_replace(regexp_replace($e, '$EmailPattern', '<EMAIL>', 'g'), " +
      s"'$PhonePattern', '<PHONE>', 'g')"
  def piiCountSql(e: String): Seq[(String, String)] = Seq(
    "n_emails" -> s"len(regexp_extract_all($e, '$EmailPattern'))",
    "n_phones" -> s"len(regexp_extract_all($e, '$PhonePattern'))")

  /** Document fingerprint: md5 over the whitespace-normalized lowercase text
    * (deterministic, engine-portable; prod would use xxhash64). */
  def fingerprintCol(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "[ \\t\\n\\r]+", " ").cast("binary"))
  def fingerprintSql(e: String): String =
    s"md5(regexp_replace(lower(trim($e)), '[ \\t\\n\\r]+', ' ', 'g'))"
}
