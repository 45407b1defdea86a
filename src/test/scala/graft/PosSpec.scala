package graft

import org.apache.spark.sql.functions._

import graft.pos.{PosQueries, PosTagger}

/** A1 ≡ A2: the pairs and stripes pipelines must agree exactly (the
  * reference's own equivalence claim, PDF p.1), and the three tagger
  * encodings (Scala function / native Catalyst expression / oracle SQL)
  * must agree (TokenScannerSpec adds the oracle SQL on random strings).
  */
class PosSpec extends SparkSpec {
  import spark.implicits._

  test("pairs ≡ stripes on sf0.001 documents") {
    val pairs = PosQueries.queries("pos_pairs")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val stripes = PosQueries.queries("pos_stripes")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(pairs == stripes)
    assert(pairs.values.sum > 0)
  }

  test("Scala tagger ≡ Catalyst CASE tagger on random tokens") {
    val rnd = new scala.util.Random(42)
    val letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    def randWord() = Seq.fill(1 + rnd.nextInt(12))(letters(rnd.nextInt(letters.length))).mkString
    def randNum() = Seq.fill(1 + rnd.nextInt(6))(('0' + rnd.nextInt(10)).toChar).mkString
    val fixed = Seq("...", "!", "don't", "the", "They", "running", "quickly",
      "joyful", "is", "42", "x86", "??", "word's", "ly", "ed", "a")
    val toks = fixed ++ Seq.fill(300)(rnd.nextInt(3) match {
      case 0 => randWord()
      case 1 => randNum()
      case _ => randWord() + randNum()
    })
    val viaColumn = toks.toDF("token")
      .select(col("token"), PosTagger.tagColumn(col("token")).as("tag"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    viaColumn.foreach { case (tok, colTag) =>
      assert(PosTagger.tag(tok) == colTag, s"divergence on '$tok'")
    }
  }

  test("tagger rule order: closed classes beat suffix rules") {
    assert(PosTagger.tag("the") == "DET")
    assert(PosTagger.tag("They") == "PRON")
    assert(PosTagger.tag("being") == "AUX") // word list wins over -ing
    assert(PosTagger.tag("running") == "VERB")
    assert(PosTagger.tag("quickly") == "ADV")
    assert(PosTagger.tag("joyful") == "ADJ")
    assert(PosTagger.tag("42") == "NUM")
    assert(PosTagger.tag("...") == "PUNCT")
    assert(PosTagger.tag("word") == "NOUN")
    assert(PosTagger.tag("fly") == "NOUN") // 'ly' needs length > 2
  }

  test("tokenizer: character-class runs") {
    assert(PosTagger.tokenize("don't stop 42x!!").toSeq ==
      Seq("don", "'", "t", "stop", "42", "x", "!!"))
  }
}
