package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{PosTokens, RefTokens}
import graft.pos.PosTagger
import graft.text.Tokenize

/** The byte scanners against the regex definitions they replace, on random
  * lines over an adversarial alphabet: ASCII letters, digits and
  * punctuation, `'` and `_`, every Java `\s` character (with `\x0B`), CR/LF,
  * characters whose lowercase is ASCII or longer (U+212A, U+0130),
  * fullwidth letters, a surrogate pair, and malformed UTF-8 bytes.
  *
  * Malformed bytes: a decoding regex sees U+FFFD in their place, the POS
  * scanner keeps the raw bytes. Both are "other", so the token boundaries,
  * the decoded tokens and the tag counts agree (planted case below).
  */
class TokenScannerSpec extends SparkSpec {
  import spark.implicits._

  private val pieces: IndexedSeq[Array[Byte]] = {
    val chars = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      ".,;:!?-()\"'_@[]`{}~\u001f".toSeq ++ " \t\n\u000b\f\r".toSeq ++
      Seq('\u212a', '\u0130', '\uff21', '\uff4b', '\u00e9', '\u00a0', '\u0085')
    val text = chars.map(c => String.valueOf(c)) ++
      Seq("\ud83d\ude00", "  ", "\r\n", "ly", "ing", "The", "42")
    val malformed = Seq(Seq(0x80), Seq(0xc3), Seq(0xff), Seq(0xe2, 0x82),
      Seq(0xed, 0xa0, 0x80)).map(_.map(_.toByte).toArray)
    (text.map(_.getBytes(UTF_8)) ++ malformed).toIndexedSeq
  }

  private val rnd = new scala.util.Random(20261019L)

  private def randomLine(): Array[Byte] =
    Array.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.length))).flatten

  private val KelvinLine = 6L

  /** Planted edges, then random lines, as raw bytes by id. */
  private lazy val raw: Seq[(Long, Array[Byte])] = {
    val planted = Seq("", " ", "  a b  ", "\n", "abc123def", "fox\njumps\r\n",
      "\u212aelvin \u0130stanbul", "don't stop 42x!!", "a\u000bb\u001fc")
      .map(_.getBytes(UTF_8)) :+ Array[Byte]('a', 0xc3.toByte, 'b')
    (planted ++ Seq.fill(2000)(randomLine())).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }
  }

  /** `raw` in four partitions (not a local relation, so projections run as
    * generated code); `text` is the unchecked string cast of the bytes, so
    * malformed bytes survive.
    */
  private lazy val lines: DataFrame =
    spark.sparkContext.parallelize(raw, 4).toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("text"))

  private def regexRefTokens(text: Column, caseSensitive: Boolean): Column =
    split(regexp_replace(regexp_replace(if (caseSensitive) text else lower(text),
      "[\\n\\r]", " "), Tokenize.CleanPattern, ""), Tokenize.SplitPattern)

  private def regexPosTokens(text: Column): Column =
    regexp_extract_all(text, lit(PosTagger.TokenPattern), lit(0))

  /** (id, scanner result, regex result) for every line. */
  private def both(scanner: Column, regex: Column): Seq[(Long, Seq[String], Seq[String])] =
    lines.select(col("id"), scanner.as("s"), regex.as("r"))
      .as[(Long, Seq[String], Seq[String])].collect().toSeq

  private def strings(a: Any): Seq[String] = {
    val arr = a.asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
  }

  test("reference scanner ≡ lower/replace/split regexes, both case modes") {
    for (cs <- Seq(false, true)) {
      val rows = both(Tokenize.tokens(col("text"), cs), regexRefTokens(col("text"), cs))
      rows.foreach { case (id, s, r) =>
        assert(s == r, s"caseSensitive=$cs line $id: scanner $s, regex $r")
      }
      assert(rows.count(_._2.size > 3) > 100, "random lines must yield tokens")
      // Spark's lower is the child: U+212A lowers to the ASCII letter k.
      val kelvin = rows.find(_._1 == KelvinLine).get._2
      assert(kelvin == (if (cs) Seq("elvin", "stanbul") else Seq("kelvin", "istanbul")))
    }
  }

  test("POS scanner ≡ regexp_extract_all(TokenPattern), decoded") {
    val rows = both(PosTagger.tokens(col("text")), regexPosTokens(col("text")))
    rows.foreach { case (id, s, r) =>
      assert(s == r, s"line $id: scanner $s, regex $r")
    }
    assert(rows.count(_._2.size > 3) > 100, "random lines must yield tokens")
    // PosTagger.tokenize (the stripes path) is the same scanner.
    val text = lines.as[(Long, String)].collect().toMap
    rows.foreach { case (id, _, r) =>
      assert(PosTagger.tokenize(text(id)).toSeq == r, s"tokenize, line $id")
    }
  }

  test("malformed UTF-8: the POS scanner keeps the raw bytes, boundaries agree") {
    val line = UTF8String.fromBytes(Array[Byte]('a', 0xc3.toByte, 'b', ' ', 0xff.toByte, '!'))
    val toks = PosTagger.scan(line)
    val bytes = (0 until toks.numElements()).map(i => toks.getUTF8String(i).getBytes.toSeq)
    assert(bytes == Seq(Seq[Byte]('a'), Seq(0xc3.toByte), Seq[Byte]('b'),
      Seq(0xff.toByte, '!'.toByte)))
    val viaRegex = Seq(line.toString).toDF("t")
      .select(regexPosTokens(col("t"))).as[Seq[String]].head()
    assert(viaRegex == Seq("a", "\ufffd", "b", "\ufffd!"))
    assert(bytes.map(b => new String(b.toArray, UTF_8)) == viaRegex)
  }

  test("interpreted eval ≡ generated code") {
    val generated = lines.select(col("id"), Tokenize.tokens(col("text"), caseSensitive = true),
      PosTagger.tokens(col("text"))).as[(Long, Seq[String], Seq[String])].collect()
    assert(generated.length == raw.length)
    val bytes = raw.toMap
    generated.foreach { case (id, ref, pos) =>
      val text = Literal(UTF8String.fromBytes(bytes(id)), StringType)
      assert(strings(RefTokens(text).eval()) == ref, s"RefTokens, line $id")
      assert(strings(PosTokens(text).eval()) == pos, s"PosTokens, line $id")
    }
  }

  test("tagColumn ≡ PosTagger.tag ≡ tagSql; tag counts match the regex path") {
    // tagSql is DuckDB SQL; its three DuckDB-only functions are emulated on
    // a separate session so the shared one's registry stays untouched.
    val duck = spark.newSession()
    duck.udf.register("regexp_full_match", (s: String, p: String) => s.matches(p))
    duck.udf.register("regexp_matches",
      (s: String, p: String) => java.util.regex.Pattern.compile(p).matcher(s).find())
    duck.udf.register("ends_with", (s: String, sf: String) => s.endsWith(sf))

    // every POS token, and every whole line as one token
    val toks = lines.select(explode(PosTagger.tokens(col("text"))).as("token"))
      .union(lines.select(col("text").as("token")))
      .as[String].collect().distinct.toSeq
    val tags = duck.createDataFrame(duck.sparkContext.parallelize(toks.map(Row(_)), 4),
        StructType(Seq(StructField("token", StringType))))
      .select(col("token"), PosTagger.tagColumn(col("token")),
        expr(PosTagger.tagSql("token")))
      .as[(String, String, String)].collect()
    tags.foreach { case (tok, viaColumn, viaSql) =>
      assert(viaColumn == PosTagger.tag(tok), s"tagColumn vs tag on <$tok>")
      assert(viaSql == PosTagger.tag(tok), s"tagSql vs tag on <$tok>")
    }
    assert(tags.map(_._2).toSet.size >= 8, "most classes must occur")

    def counts(tokens: Column) = lines.select(explode(tokens).as("token"))
      .groupBy(PosTagger.tagColumn(col("token")).as("tag")).count()
      .as[(String, Long)].collect().toMap
    assert(counts(PosTagger.tokens(col("text"))) == counts(regexPosTokens(col("text"))))
  }
}
