package graft.text

/** The reference's stopword ("skip pattern") set, with the exact semantics of
  * its loader loop (`DocumentFreq.java:45-57`, `IDF.java:49-61`): every line
  * of the cached file — as returned by `BufferedReader.readLine`, i.e. with
  * the line terminator (LF or CRLF) stripped but nothing else — is one set
  * entry. Blank lines therefore contribute the empty string `""`, and entries
  * with trailing spaces or apostrophes (`"es "`, `"a's"`) are retained even
  * though they can never match a post-cleaning token.
  *
  * The file itself is the reference's `stopwords.txt` (a data artifact, not
  * code), checked into resources byte-for-byte.
  */
object Stopwords {

  /** Full skip set — 355 entries: 354 distinct non-empty (the file repeats
    * "would") plus `""` from the blank separator lines.
    */
  lazy val set: Set[String] = {
    val in = getClass.getResourceAsStream("/stopwords.txt")
    require(in != null, "stopwords.txt missing from resources")
    val bytes =
      try in.readAllBytes()
      finally in.close()
    loadLines(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** readLine-exact line split: terminators delimit entries; a FINAL
    * terminator yields no extra entry, but a file not ending in a
    * terminator keeps its last line (BufferedReader.readLine semantics —
    * dropping unconditionally would eat the final stopword of files
    * without a trailing newline).
    */
  def loadLines(content: String): Set[String] = {
    val parts = content.split("\r\n|\n|\r", -1)
    (if (parts.nonEmpty && parts.last.isEmpty) parts.dropRight(1) else parts).toSet
  }

  /** Entries that can actually match a cleaned token (letters only, as
    * produced by Tokenize.scan — `[^a-zA-Z ]` removal). Used to build the
    * DuckDB oracle SQL, where the unreachable entries would be noise.
    * Includes "" (the blank-line entry) because a leading separator in the
    * tokenizer yields an empty token that the reference then skips.
    */
  lazy val reachable: Seq[String] =
    set.filter(_.forall(c => c >= 'a' && c <= 'z')).toSeq.sorted

  /** SQL literal list for oracle queries: ('', 'a', 'able', ...). */
  lazy val sqlInList: String =
    reachable.map(w => s"'$w'").mkString("(", ", ", ")")
}
