package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{TextCorpus, Tsv}
import graft.text.Stopwords
import graft.tfidf.TfIdf
import graft.pos.PosTagger

/** Drop-in replacements for the reference's three CLI jobs (README.md:8-18)
  * — same argument shapes, same input model (directory of plain-text
  * files, document = file), same TSV output contracts — on Spark instead
  * of Hadoop MapReduce:
  *
  *   hadoop jar POS.jar POS <in> <out>
  *     -> runMain graft.cli.PosJob <in> <out>
  *   hadoop jar DocFreq.jar DocumentFreq <in> <out> -skippatterns s.txt
  *     -> runMain graft.cli.DocumentFreqJob <in> <out> -skippatterns s.txt
  *   hadoop jar IDF.jar IDF <in> <out> -skippatterns s.txt -tsv df.tsv
  *     -> runMain graft.cli.IdfJob <in> <out> -skippatterns s.txt -tsv df.tsv
  *
  * DocumentFreqJob and IdfJob tokenize one line at a time in the scan
  * tasks, as the reference's mappers do (one `map()` call per line); see
  * [[Jobs.corpusTerms]].
  *
  * Two differences by design:
  *   - the reference's two-job chain materializes the DF table and re-reads
  *     it via distributed cache; IdfJob accepts the same `-tsv` file for
  *     parity, and computes the DF in-flight when it's absent (the
  *     single-program S6 shape from SURVEY.md §2.1);
  *   - without `-skippatterns` the reference applies NO stopword filter and
  *     counts empty-string tokens as terms; these jobs default to the
  *     bundled reference stopword list instead (the unfiltered behavior is
  *     reachable through the library API, TfIdf.Config(useStopwords=false)).
  */
object Jobs {

  final case class Flags(in: String, out: String,
      skipPatterns: Option[String], caseSensitive: Boolean, tsv: Option[String])

  def parse(args: Array[String]): Flags = {
    var skip: Option[String] = None
    var tsv: Option[String] = None
    var cs = false
    val pos = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    def valueOf(flag: String): String = {
      require(i + 1 < args.length, s"$flag requires a value")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "-skippatterns" => skip = Some(valueOf("-skippatterns")); i += 2
        case "-casesensitive" => cs = true; i += 1
        case "-tsv" => tsv = Some(valueOf("-tsv")); i += 2
        case a => pos += a; i += 1
      }
    }
    require(pos.length == 2, s"usage: <in> <out> [flags], got $pos")
    Flags(pos(0), pos(1), skip, cs, tsv)
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stopword set from -skippatterns (file path) or the bundled resource. */
  def stopwords(flag: Option[String]): Set[String] = flag match {
    case None => Stopwords.set
    case Some(path) =>
      Stopwords.loadLines(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8))
  }

  /** (doc_id, term) rows for the DF and IDF jobs, tokenized per line
    * straight off [[TextCorpus.lines]]. Explode, the stopword `InSet`
    * filter, stemming and the partial (doc_id, term) count of the caller's
    * groupBy all run in the scan tasks, before the first shuffle.
    *
    * The terms equal those of the whole-document tokenization
    * (`TfIdf.terms(TextCorpus.documents(...))`): `Tokenize.scan` reads a
    * line terminator as a separator, and the extra empty tokens that a
    * per-line split yields at line edges are removed by the stopword set's
    * `""` entry. A `-skippatterns` file without a blank line has no `""`
    * entry, so its empty tokens survive, one per separator-led or
    * separator-ended line.
    */
  def corpusTerms(spark: SparkSession, f: Flags): DataFrame =
    TextCorpus.lines(spark, f.in)
      .select(col("doc_id"),
        graft.text.Tokenize.explodeTokens(col("line"), f.caseSensitive).as("token"))
      .filter(!col("token").isInCollection(stopwords(f.skipPatterns)))
      .select(col("doc_id"), TfIdf.stemCol(col("token")).as("term"))
}

/** POS tag counting over a text directory -> `TAG\tCOUNT` (POS.java). */
object PosJob {
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session()
    try run(spark, args) finally spark.stop()
  }
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val f = Jobs.parse(args)
    val counts = TextCorpus.lines(spark, f.in)
      .select(explode(PosTagger.tokens(col("line"))).as("token"))
      .select(PosTagger.tagColumn(col("token")).as("tag"))
      .groupBy("tag").agg(count(lit(1)).as("cnt"))
    Tsv.write(counts, f.out)
  }
}

/** Top-100 document frequency -> `TERM\tDF` (DocumentFreq.java). */
object DocumentFreqJob {
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session()
    try run(spark, args) finally spark.stop()
  }
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val f = Jobs.parse(args)
    val terms = Jobs.corpusTerms(spark, f)
    val top = TfIdf.topTerms(
      TfIdf.documentFrequencyFromTf(TfIdf.termFrequencyAll(terms)), 100)
    Tsv.write(top, f.out)
  }
}

/** Per-(doc, term) TF-IDF -> `ID\tTERM\tSCORE` (IDF.java). */
object IdfJob {
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session()
    try run(spark, args) finally spark.stop()
  }
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val f = Jobs.parse(args)
    val terms = Jobs.corpusTerms(spark, f)
    val tfAll = TfIdf.termFrequencyAll(terms)
    val dfTable = f.tsv match {
      case Some(path) => // reference parity: consume the DF job's file;
        // rows that don't parse into (term, df) are skipped, like the
        // reference's parts.length != 2 guard (IDF.java:68)
        Tsv.read(spark, path, StructType(Seq(
          StructField("term", StringType), StructField("df", LongType))))
          .na.drop(Seq("term", "df"))
      case None => // single-program shape: derive in-flight
        TfIdf.topTerms(TfIdf.documentFrequencyFromTf(tfAll), 100)
    }
    // scores' inner broadcast join keeps only the DF table's terms, so the
    // table is read and broadcast once.
    val scored = TfIdf.scores(tfAll, dfTable, corpusConstant = 10000.0)
      .select(col("doc_id"), col("term"), col("score"))
    Tsv.write(scored, f.out)
  }
}
