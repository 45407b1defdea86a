package graft.pos

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{PosTag, PosTokens}

/** Pluggable tagging surface (SURVEY.md §7's decision for the offline-
  * unavailable OpenNLP model): implementations must be Serializable so
  * executors can construct them; heavyweight models should be loaded
  * lazily per partition (see PosQueries' mapPartitions head).
  */
trait Tagger extends Serializable {
  def tag(token: String): String

  /** Tag a whole line's tokens. Context-free taggers map per token; a
    * model-backed tagger overrides this to tag with sentence context
    * (the reference's `tagger.tag(words)`, POS.java:38).
    */
  def tagLine(tokens: Array[String]): Array[String] = tokens.map(tag)
}

/** Default deterministic rule-based tagger. */
object RuleTagger extends Tagger {
  override def tag(token: String): String = PosTagger.tag(token)
}

/** OpenNLP-maxent-backed tagger — POS.java:23-25 parity. The reference
  * hardcodes a laptop path to `en-pos-maxent.bin` and loads it in
  * `Mapper.setup`; here the model path is configurable and loaded models
  * are cached JVM-WIDE keyed by path ([[OpenNlpTagger.loaded]]), so each
  * executor JVM initializes a model once no matter how many task closures
  * deserialize their own `OpenNlpTagger` instance (a plain
  * `@transient lazy val` is per-instance, i.e. once per task — the r2
  * ADVICE finding; the reference's per-Mapper setup has the same cost,
  * but there's no reason to keep it). The instance ships as just the
  * path string.
  *
  * `opennlp-tools` is NOT a build dependency (offline environment, pinned
  * deps): the OpenNLP classes are resolved reflectively from the runtime
  * classpath, so this compiles and ships without the jar and works when a
  * deployment adds `opennlp-tools` + a model file. The spec skips itself
  * when either is absent.
  */
final class OpenNlpTagger(modelPath: String) extends Tagger {

  @transient private lazy val tagTokens: Array[String] => Array[String] =
    OpenNlpTagger.forPath(modelPath)

  override def tag(token: String): String = tagLine(Array(token)).head

  /** Whole-line tagging with model context — exactly POS.java:38. */
  override def tagLine(tokens: Array[String]): Array[String] =
    if (tokens.isEmpty) tokens else tagTokens(tokens)
}

object OpenNlpTagger {

  /** JVM-wide model cache: one loaded POSTaggerME per model path per
    * executor, shared by every task closure.
    */
  private val loaded =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String] => Array[String]]()

  private def forPath(modelPath: String): Array[String] => Array[String] =
    loaded.computeIfAbsent(modelPath, path => {
      val cl = Thread.currentThread.getContextClassLoader
      val modelCls = cl.loadClass("opennlp.tools.postag.POSModel")
      val taggerCls = cl.loadClass("opennlp.tools.postag.POSTaggerME")
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(path))
      val model =
        try modelCls.getConstructor(classOf[java.io.InputStream]).newInstance(in)
        finally in.close()
      val tagger = taggerCls.getConstructor(modelCls).newInstance(model)
      val tagM = taggerCls.getMethod("tag", classOf[Array[String]])
      // POSTaggerME.tag is NOT thread-safe; synchronize on the shared
      // instance (tasks in one executor JVM share it now)
      toks => tagger.synchronized {
        tagM.invoke(tagger, toks).asInstanceOf[Array[String]]
      }
    })
}

/** Tokenization + part-of-speech tagging for the POS/POSstripes parity
  * queries (POS.java:33-41, POSstripes.java:30-49).
  *
  * The reference tags with a pre-trained OpenNLP maxent model whose file is
  * hardcoded to the author's laptop (POS.java:23) and is unavailable offline,
  * so — per SURVEY.md §7's decision — the tagger is PLUGGABLE and the default
  * is a deterministic rule-based UD-style tagger. The rules live in ONE
  * table below: the Scala function [[tag]] reads it through a precomputed
  * word map, the Catalyst expression [[tagColumn]] runs that function, and
  * the DuckDB oracle SQL [[tagSql]] is generated from it.
  *
  * Tokenization follows OpenNLP SimpleTokenizer's character-class principle
  * (split at letter/digit/other class changes, drop whitespace), defined as
  * the regex [[TokenPattern]] (letters-run | digits-run | other-run), which
  * the DuckDB oracle runs. The engine runs the byte scanner [[scan]], held
  * to that regex by TokenScannerSpec.
  */
object PosTagger {

  /** Character-class tokenizer regex (Java + RE2 compatible): the oracle's
    * tokenizer and the definition [[scan]] is held to.
    */
  val TokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"

  /** Closed-class word lists, checked in order, on the lowercased token. */
  val WordClasses: Seq[(String, Seq[String])] = Seq(
    "PRON" -> Seq("i", "you", "he", "she", "it", "we", "they", "me", "him",
      "her", "us", "them", "his", "its", "their", "my", "your", "our"),
    "DET" -> Seq("a", "an", "the", "this", "that", "these", "those"),
    "ADP" -> Seq("in", "on", "at", "by", "for", "with", "from", "to", "of",
      "over", "under", "into", "about", "between"),
    "CCONJ" -> Seq("and", "or", "but", "nor", "so", "yet"),
    "SCONJ" -> Seq("if", "because", "while", "although", "when", "since"),
    "AUX" -> Seq("is", "am", "are", "was", "were", "be", "been", "being",
      "have", "has", "had", "do", "does", "did", "will", "would", "can",
      "could", "shall", "should", "may", "might", "must"))

  /** Suffix rules, checked in order after the word lists. A match requires
    * a stem of at least 2 chars ("fly" is not an adverb).
    */
  val SuffixClasses: Seq[(String, Seq[String])] = Seq(
    "ADV" -> Seq("ly"),
    "VERB" -> Seq("ing", "ed", "ize", "ise"),
    "ADJ" -> Seq("ous", "ful", "ive", "able", "ible", "ical", "less"))

  val Default = "NOUN"

  /** [[WordClasses]] as one lookup; a word listed twice keeps its first class. */
  private val WordClass: Map[String, String] =
    WordClasses.flatMap { case (t, ws) => ws.map(_ -> t) }.distinctBy(_._1).toMap

  /** The rule-based tagger (the stripes path, and through [[tagUtf8]] the
    * Catalyst one).
    */
  def tag(token: String): String = {
    if (token.isEmpty) return Default
    if (token.forall(c => c >= '0' && c <= '9')) return "NUM"
    // ASCII letter check, matching the SQL '[a-zA-Z]' semantics.
    if (!token.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
      return "PUNCT"
    val lc = token.toLowerCase(java.util.Locale.ROOT)
    WordClass.get(lc) match {
      case Some(t) => t
      case None =>
        // length in code points, as SQL's length() counts them
        val n = lc.codePointCount(0, lc.length)
        SuffixClasses.collectFirst {
          case (t, sufs) if sufs.exists(sf => n > sf.length + 1 && lc.endsWith(sf)) => t
        }.getOrElse(Default)
    }
  }

  /** Every tag [[tag]] can return, encoded once. */
  private val TagUtf8: Map[String, UTF8String] =
    ((Default +: "NUM" +: "PUNCT" +: WordClasses.map(_._1)) ++ SuffixClasses.map(_._1))
      .map(t => t -> UTF8String.fromString(t)).toMap

  /** [[tag]] over a Catalyst string; a null token tags as [[Default]], as
    * [[tagSql]]'s CASE does.
    */
  def tagUtf8(token: UTF8String): UTF8String =
    TagUtf8(if (token == null) Default else tag(token.toString))

  /** Same rules as a native Catalyst expression over [[tag]] (codegen'd,
    * for the pairs path — no UDF in the hot loop).
    */
  def tagColumn(tok: Column): Column =
    GraftSqlBridge.column(PosTag(GraftSqlBridge.expression(tok)))

  /** Same rules as DuckDB SQL over a token expression. */
  def tagSql(tok: String): String = {
    val sb = new StringBuilder
    sb.append(s"CASE WHEN $tok = '' THEN '$Default'\n")
    sb.append(s"  WHEN regexp_full_match($tok, '[0-9]+') THEN 'NUM'\n")
    sb.append(s"  WHEN NOT regexp_matches($tok, '[a-zA-Z]') THEN 'PUNCT'\n")
    val lc = s"lower($tok)"
    WordClasses.foreach { case (t, ws) =>
      sb.append(s"  WHEN $lc IN (${ws.map(w => s"'$w'").mkString(", ")}) THEN '$t'\n")
    }
    SuffixClasses.foreach { case (t, sufs) =>
      val cond = sufs.map(sf =>
        s"(ends_with($lc, '$sf') AND length($lc) > ${sf.length + 1})").mkString(" OR ")
      sb.append(s"  WHEN $cond THEN '$t'\n")
    }
    sb.append(s"  ELSE '$Default' END")
    sb.toString
  }

  private final val Letter = 0
  private final val Digit = 1
  private final val Space = 2
  private final val Other = 3

  /** Class of each ASCII byte: letters, digits, Java's `\s`
    * (`[ \t\n\x0B\f\r]`) and other.
    */
  private val AsciiClass: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if ((c | 0x20) >= 'a' && (c | 0x20) <= 'z') Letter
    else if (c >= '0' && c <= '9') Digit
    else if (c == ' ' || (c >= '\t' && c <= '\r')) Space
    else Other
  }

  /** [[TokenPattern]]'s tokens of a line in one pass over its UTF-8 bytes:
    * maximal runs of one class, whitespace runs dropped. A byte >= 0x80
    * belongs to a non-ASCII code point, which is always "other", so the
    * scanner never decodes; a surrogate pair stays inside its run.
    *
    * Malformed UTF-8 bytes are >= 0x80 too, so they are "other" like the
    * U+FFFD that a decoding regex would see in their place: the token
    * boundaries and the tags are the same, but the token keeps the raw
    * bytes where the regex's token holds U+FFFD. Tokens are views into one
    * copy of the line per call.
    */
  def scan(line: UTF8String): ArrayData = {
    val n = line.numBytes
    val bytes = new Array[Byte](n)
    line.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    val out = ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val cls = classOf(bytes(i))
      val start = i
      i += 1
      while (i < n && classOf(bytes(i)) == cls) i += 1
      if (cls != Space) out += UTF8String.fromBytes(bytes, start, i - start)
    }
    new GenericArrayData(out.toArray)
  }

  @inline private def classOf(b: Byte): Int = if (b < 0) Other else AsciiClass(b)

  /** Line -> array of [[TokenPattern]] tokens, by [[scan]]. */
  def tokens(line: Column): Column =
    GraftSqlBridge.column(PosTokens(GraftSqlBridge.expression(line)))

  /** [[scan]] for a Scala string (the stripes path). A lone surrogate,
    * which is not valid UTF-16, encodes as `?`, an "other" byte.
    */
  def tokenize(line: String): Iterator[String] =
    if (line == null) Iterator.empty
    else {
      val toks = scan(UTF8String.fromString(line))
      Iterator.tabulate(toks.numElements())(toks.getUTF8String(_).toString)
    }
}
