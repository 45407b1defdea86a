package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's input model (SURVEY.md §2.1 S1/S2): a directory of
  * plain-text files, one document per file, document identity = file
  * basename, one record per line.
  *
  *   S1: `FileInputFormat.addInputPath` + default TextInputFormat
  *       (DocumentFreq.java:145, POS.java:72) -> `spark.read.text(dir)`
  *   S2: `((FileSplit) context.getInputSplit()).getPath().getName()`
  *       (DocumentFreq.java:64, IDF.java:84) -> `input_file_name()`
  *
  * Scale: spark.read.text splits large files by HDFS block and keeps small
  * files one-per-task; for many-small-file corpora at 100 TB, pair with
  * spark.sql.files.maxPartitionBytes / openCostInBytes so Spark coalesces
  * thousands of small articles per task instead of one task each.
  */
object TextCorpus {

  /** (doc_id, line) — one row per line, doc_id = file basename. */
  def lines(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir)
      .select(
        regexp_extract(input_file_name(), "[^/]+$", 0).as("doc_id"),
        col("value").as("line"))

  /** (doc_id, text) — whole documents, lines rejoined with \n IN FILE
    * ORDER: collect_list alone concatenates partition outputs in arbitrary
    * order once a file spans multiple splits, which would make any
    * order-sensitive consumer (shingles, fingerprints, normalized hashes)
    * nondeterministic. monotonically_increasing_id encodes
    * (partition index, row position), and text-file splits map to
    * partitions in file order, so sorting by it restores line order.
    *
    * The regroup is a shuffle on doc_id, and everything downstream of it
    * runs after that shuffle. Consumers that only tokenize should read
    * [[lines]] instead, as the CLI DF and IDF jobs do
    * (`graft.cli.Jobs.corpusTerms`): tokens never span a line, so the
    * per-line terms are the same and are made in the scan tasks.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    lines(spark, dir)
      .withColumn("__ord", monotonically_increasing_id())
      .groupBy("doc_id")
      .agg(concat_ws("\n",
        transform(
          array_sort(collect_list(struct(col("__ord"), col("line")))),
          s => s.getField("line"))).as("text"))
}
