package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.text.{PorterStemmer, Tokenize}

/** Dev harness: regenerate the precomputed stem-map side table that lets the
  * DuckDB oracle reproduce Porter stemming (SURVEY.md §5.2 — DuckDB 1.0.0
  * offline has no fts `stem()`). Emits every distinct token of every testdata
  * SF with its Porter stem as TSV; the stemmed `tfidf_*` oracles `read_csv`
  * it and LEFT JOIN (COALESCE to identity — covered terms whose stem equals
  * the term are indistinguishable from fallback, and any UNcovered term whose
  * stem differs fails the hash compare, which is exactly the signal we want).
  *
  *   sbt "runMain graft.GenStemMap [out.tsv [dataDir ...]]"
  *
  * With no data dirs, it reads `sf0.001`, `sf0.01` and `sf0.1` under
  * the testdata root: `-Dgraft.testdata.root=...`, then
  * `$GRAFT_TESTDATA_ROOT`, then the location TESTDATA.md documents.
  */
object GenStemMap {
  /** Where the map lives: `-Dgraft.stemmap.path=...`, then
    * `$GRAFT_STEMMAP_PATH`, then `src/test/resources/stemmap.tsv` under
    * the working directory. The stemmed `tfidf_*` oracles read the same
    * path (DuckDB `read_csv` needs a real file, so a classpath resource
    * can't serve).
    */
  val DefaultOut: String =
    sys.props.get("graft.stemmap.path")
      .orElse(sys.env.get("GRAFT_STEMMAP_PATH"))
      .getOrElse(new java.io.File("src/test/resources/stemmap.tsv")
        .getAbsolutePath)

  private def testdataRoot: String =
    sys.props.get("graft.testdata.root")
      .orElse(sys.env.get("GRAFT_TESTDATA_ROOT"))
      .getOrElse("/root/testdata")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else DefaultOut
    val dirs = if (args.length > 1) args.toSeq.tail
      else Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdataRoot/$sf")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val vocab = dirs
      .map(d => Tables.load(spark, d, "documents")
        .select(Tokenize.explodeTokens(col("text")).as("t"))
        .filter(col("t") =!= ""))
      .reduce(_ union _)
      .distinct()
      .collect().map(_.getString(0)).sorted
    val lines = "term_raw\tterm_stem" +:
      vocab.map(t => s"$t\t${PorterStemmer.stem(t)}")
    Files.writeString(Paths.get(out), lines.mkString("\n") + "\n")
    println(s"[stemmap] wrote ${vocab.length} terms to $out")
    spark.stop()
  }
}
