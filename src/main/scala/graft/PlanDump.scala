package graft

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for the given query keys, one file per
  * key: the plan-shape evidence behind PLANS.md and the optimization
  * rounds' before/after files (plans/r15/<query>_before.txt / _after.txt).
  *
  *   sbt "runMain graft.PlanDump plans/r15 after q_rec_coverage ..."
  *   sbt "runMain graft.PlanDump target/plans now"   # the Flagship keys
  *
  * Data dir from $SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is
  * scale-invariant here; AQE-final plans differ only in partition
  * counts). Building a memo-consumer's DataFrame forces its producer
  * once; LabelsMemo is cleared at exit so dumps stay hermetic.
  */
object PlanDump {

  /** The default key set: one key per plan shape the engine relies on. */
  val Flagship: Seq[String] = Seq(
    "tfidf_score", // full TF-IDF: one token scan, broadcast semi-join, partial/final agg
    "q_join_3way", // fact-dim joins: pruned scans + broadcast hash joins
    "q1_agg", // wide aggregation with exact decimal sums
    "sim_knn_bruteforce", // brute-force cosine top-k: codegen dot product + WindowGroupLimit
    "dedup_minhash_lsh", // MinHash LSH: banding self-join + candidate-restricted verify
    "q_range_join", // interval-banded range join (equi keys, no cross product)
    "stream_tumbling", // event-time tumbling window aggregation
    "dedup_simhash_pairs", // block-collision LSH: 4-probe explode + self-equi-join
    "q_join_salted_skew", // salted skew join: salt-spread fact + replicated dim
    "sim_ann_ivf", // IVF ANN: centroid train aggs + broadcast assign + cell equi-join
    "q_sql_tpch_q5", // 6-way SQL join: Catalyst join ordering, broadcast dims
    "text_clean_pipeline", // C4-style clean: one barriered scoring pass + dedup semi-join
    "dedup_edit_distance", // blocked Levenshtein: pushed n_chars gate + blocking-key join
    "tfidf_bm25_raw", // BM25: pinned TF feeds df/dl/score; corpus stats broadcast
    "text_unigram_logprob") // unigram LM: vocab agg, stats broadcast, partial DECIMAL sum

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [key...] " +
      "(no keys: the Flagship set)")
    val outDir = args(0)
    val suffix = args(1)
    val keys = if (args.length > 2) args.toSeq.drop(2) else Flagship
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${k}_$suffix.txt"), txt)
      CacheScope.releaseAll()
      println(s"[plandump] $k -> $outDir/${k}_$suffix.txt")
    }
    LabelsMemo.clear()
    spark.stop()
  }
}
