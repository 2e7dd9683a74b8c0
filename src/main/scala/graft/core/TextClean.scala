package graft.core

/** Exact re-implementation of the reference text sanitizer
  * `clean_text_for_json` (reference `main.py:53-85`), operation-for-operation
  * and in order — including the steps that are observably dead (documented in
  * SURVEY.md §2.2) — so span text equality holds against the reference
  * semantics.
  *
  * Net observable behavior: printable-ASCII, single-line (newlines become
  * spaces in step 1), single-spaced, trimmed, `"`→`'`, `\`→`/`, zero-width
  * chars removed (adjacent chars join), all other non-ASCII spaced out.
  *
  * Port fidelity notes:
  *  - Python `re` operates on code points; Java regex on UTF-16 code units.
  *    Step 6 (non-printable → space) is therefore done with an explicit
  *    code-point loop so an astral char (e.g. emoji) becomes ONE space, not
  *    two (one per surrogate).
  *  - Only explicit char ranges are used, never shorthand classes, to avoid
  *    Python-vs-Java `\s`/Unicode-class divergence (SURVEY.md §7.5). The one
  *    `\s` in the reference (step 7) runs when only ASCII remains, where
  *    Python and Java agree on `[ \t\n\x0B\f\r]`.
  */
object TextClean {

  /** Single-pass fused form of the reference's step-by-step chain (its
    * literal port is `TextCleanReference.clean` in the test sources) — one
    * scan, one allocation, no regex. Equivalence argument (validated by the
    * `clean == TextCleanReference.clean` property and the
    * reference-differential goldens):
    * after step 1 maps every control char (incl. \n \r \t) to a space, all
    * later newline/tab logic (steps 7/9, the \n\r\t carve-outs of step 6)
    * is vacuous, so the chain reduces to a per-code-point map —
    *   zero-width (U+200B–U+200D, U+FEFF) → removed,
    *   control (00–1F, 7F–9F) → ' ',   '"' → '\'',   '\\' → '/',
    *   other printable ASCII kept,     anything else (one astral = one) → ' '
    * — followed by space-run collapse and trim. */
  def clean(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val cp = text.codePointAt(i)
      i += Character.charCount(cp)
      if ((cp >= 0x200B && cp <= 0x200D) || cp == 0xFEFF) {
        // zero-width: removed, neighbors join (main.py:72)
      } else {
        val mapped: Int =
          if (cp <= 0x1F || (cp >= 0x7F && cp <= 0x9F)) ' '        // main.py:59
          else if (cp == '"') '\''                                 // main.py:62
          else if (cp == '\\') '/'                                 // main.py:63
          else if (cp >= 0x20 && cp <= 0x7E) cp                    // main.py:75 keep
          else ' '                                                 // main.py:75 space out
        if (mapped == ' ') pendingSpace = true                     // main.py:79 collapse
        else {
          if (pendingSpace && sb.length > 0) sb.append(' ')        // main.py:85 trim-left
          pendingSpace = false
          sb.appendCodePoint(mapped)
        }
      }
    }
    sb.toString                                                    // main.py:85 trim-right: trailing run never emitted
  }
}
