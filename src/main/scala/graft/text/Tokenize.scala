package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.RefTokens

/** The reference's text-cleaning pipeline:
  *
  *   P1 conditional lowercase  (DocumentFreq.java:61, IDF.java:83)
  *   P2 non-letter strip       `replaceAll("[^a-zA-Z ]","")`
  *                             (DocumentFreq.java:62, IDF.java:85)
  *   P3 split                  `split("[^\\w']+")`
  *                             (DocumentFreq.java:63, IDF.java:86)
  *
  * P1 is Spark's own `lower`, so Unicode lowercasing stays exact (U+212A
  * KELVIN SIGN lowers to the letter `k`, which P2 then keeps). P2 and P3
  * are one byte scanner, [[scan]], run as the native expression
  * [[graft.functions.RefTokens]] inside whole-stage codegen.
  * [[CleanPattern]] and [[SplitPattern]] stay as the definitions the
  * scanner is held to (TokenScannerSpec).
  *
  * Quirks preserved exactly (SURVEY.md §2.2): digits/punctuation are DELETED,
  * not treated as separators, so `"abc123def"` becomes the single token
  * `"abcdef"`; a line starting with a separator yields a leading
  * empty-string token. Java's `String.split` drops trailing empty tokens
  * while Spark's `split` keeps them — the difference is unobservable in the
  * reference-parity pipeline because the stopword skip set contains `""`
  * (blank lines in stopwords.txt) and is always applied before counting,
  * removing every empty token in both engines.
  */
object Tokenize {

  /** Regex deleted by the cleaning step — anything but letters and spaces. */
  val CleanPattern = "[^a-zA-Z ]"

  /** Java `String.split` pattern used by the reference tokenizer. */
  val SplitPattern = "[^\\w']+"

  /** Tokens of a (lowered) line in one pass over its UTF-8 bytes: keep
    * `[a-zA-Z ]`, read CR and LF as a space, drop every other byte, and
    * split on runs of spaces as `split(SplitPattern, -1)` would — a
    * leading `""` when the cleaned text starts with a space, a trailing
    * `""` when it ends with one, `[""]` when it cleans to nothing.
    *
    * Line terminators are RECORD boundaries in the reference (one map()
    * call per line), so they separate tokens ("fox\njumps" is two tokens,
    * "abc123def" one). A byte >= 0x80 belongs to a non-ASCII code point,
    * which P2 deletes whole, so the scanner never decodes. Tokens are views
    * into one fresh buffer per call.
    */
  def scan(text: UTF8String): ArrayData = {
    val n = text.numBytes
    val buf = new Array[Byte](n)
    val out = ArrayBuffer.empty[Any]
    var len = 0 // kept letters so far
    var start = 0 // where the current token's letters begin in buf
    var inSep = false
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if (b == ' ' || b == '\n' || b == '\r') {
        if (!inSep) { out += UTF8String.fromBytes(buf, start, len - start); inSep = true }
      } else if ((b | 0x20) >= 'a' && (b | 0x20) <= 'z') {
        if (inSep) { start = len; inSep = false }
        buf(len) = b
        len += 1
      }
      i += 1
    }
    out += (if (inSep) UTF8String.EMPTY_UTF8 else UTF8String.fromBytes(buf, start, len - start))
    new GenericArrayData(out.toArray)
  }

  /** Line -> array of tokens (may contain empty strings — see note above;
    * the stopword filter removes them).
    */
  def tokens(text: Column, caseSensitive: Boolean = false): Column =
    GraftSqlBridge.column(RefTokens(
      GraftSqlBridge.expression(if (caseSensitive) text else lower(text))))

  /** One row per token. explode (not explode_outer): a document that cleans
    * to nothing contributes no rows, like a mapper emitting nothing.
    */
  def explodeTokens(text: Column, caseSensitive: Boolean = false): Column =
    explode(tokens(text, caseSensitive))
}
