package graft.sources

/** URL-source metadata inference — the pure part of the reference's
  * `download_file_from_url` (main.py:256-303), lifted out of the network
  * I/O (which the sandbox cannot perform and a 10^12-doc pipeline would
  * delegate to a bulk fetch tier anyway). These rules decide the `filename`
  * that downstream kind-dispatch branches on (`main.py:323` —
  * `.endsWith(".pdf")`), so they are extraction semantics, not plumbing.
  *
  * Replicated behavior, in order (main.py:264-283):
  *  1. `content-disposition` header containing `filename=` → everything
  *     after the LAST `filename=`, stripped of quote chars (`"` and `'`)
  *     at both ends (Python `.strip('"\'')`).
  *  2. else: URL basename = last `/` segment with any `?query` dropped;
  *     empty → `document.pdf`.
  *  3. a basename with no `.` gets an extension guessed from content-type:
  *     contains "pdf" → `.pdf`; contains "image" → `.jpg`; else `.pdf`
  *     (the reference defaults unknown types to PDF).
  *
  * The 10 MB streaming cap (main.py:288-294) maps to the pipeline's P4
  * size guard (the metadata pass `Extract.tailPass` against
  * `ExtractConf.maxDocBytes`).
  */
object UrlMeta {

  /** main.py:51 — shared with the P4 guard. */
  val MaxFileSize: Long = 10L * 1024 * 1024

  /** Python str.strip(chars): remove any of `chars` from both ends. */
  private def stripChars(s: String, chars: Set[Char]): String = {
    var i = 0
    var j = s.length
    while (i < j && chars(s.charAt(i))) i += 1
    while (j > i && chars(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Filename from a content-disposition header, if present
    * (main.py:265-269: split on 'filename=', take the last piece, strip
    * quotes). Returns None when the header lacks `filename=`. */
  def fromContentDisposition(cd: String): Option[String] =
    if (cd == null || !cd.contains("filename=")) None
    else {
      val raw = cd.split("filename=", -1).last
      Some(stripChars(raw, Set('"', '\'')))
    }

  /** Filename from the URL path + content-type fallback
    * (main.py:271-283). */
  def fromUrl(url: String, contentType: String): String = {
    val base = url.split("/", -1).last.split("\\?", -1).head
    val name = if (base.nonEmpty) base else "document.pdf"
    if (name.contains(".")) name
    else {
      val ct = if (contentType == null) "" else contentType
      if (ct.contains("pdf")) name + ".pdf"
      else if (ct.contains("image")) name + ".jpg"
      else name + ".pdf" // reference defaults unknown to PDF (main.py:281)
    }
  }

  /** Full inference chain: header wins, else URL + content-type. */
  def inferFilename(contentDisposition: Option[String], url: String,
      contentType: Option[String]): String =
    contentDisposition.flatMap(fromContentDisposition)
      .filter(_.nonEmpty)
      .getOrElse(fromUrl(url, contentType.orNull))

  /** Kind dispatch on the inferred filename — the reference's extension
    * branch (main.py:323: `filename.lower().endswith('.pdf')` → PDF, else
    * image). */
  def kindOf(filename: String): String =
    if (filename.toLowerCase(java.util.Locale.ROOT).endsWith(".pdf")) "pdf"
    else "image"
}
