package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-side scaling-experiment input builder — NOT part of the product
  * surface and never read by any declared query. Writes K disjoint
  * key-shifted replicas of a testdata directory to a scratch dir so the
  * data-parallel scaling of the heavy keys can be measured at an SF larger
  * than the largest shipped one (VERDICT r15 #6: at sf0.1 the whole suite
  * is per-job fixed-cost bound — c8/c32 ratios ≈ 1 — which says nothing
  * about the operators' data parallelism).
  *
  * Scheme: every entity key (order/cust/part/supp/event/user/doc/vec)
  * shifts by replica · 10^9, so replicas are disjoint copies that join
  * only within themselves — the workload per replica is the sf0.1
  * workload, and a data-parallel operator should scale with replica
  * count. Dimension enums (nation, region, dates, flags) stay shared.
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <replicas>
  */
object ScaleUp {

  private val Off = 1000000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "region" -> Seq(),
    "nation" -> Seq())

  private val Usage = "usage: runMain graft.ScaleUp <srcDir> <outDir> <replicas>"

  /** (srcDir, outDir, replicas) from the command line, replicas >= 1. */
  private[graft] def parse(args: Array[String]): Option[(String, String, Int)] =
    args match {
      case Array(src, out, r) => r.toIntOption.filter(_ >= 1).map((src, out, _))
      case _ => None
    }

  /** Replicas stay disjoint only while every shifted key is below [[Off]]:
    * a key at or above it would collide with the next replica's copy.
    */
  private[graft] def requireBelowOff(t: String, base: DataFrame, shifts: Seq[String]): Unit =
    if (shifts.nonEmpty) {
      val mx = base.select(shifts.map(c => max(col(c).cast("long"))): _*).head()
      shifts.indices.foreach { i =>
        require(mx.isNullAt(i) || mx.getLong(i) < Off,
          s"ScaleUp: $t.${shifts(i)} reaches ${mx.get(i)}, not below the replica " +
            s"offset $Off, so its replicas would share keys")
      }
    }

  def main(args: Array[String]): Unit = {
    val (src, out, k) = parse(args).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- Tables.All) {
      // Through Tables.load: events.parquet ships TIMESTAMP(NANOS), which
      // the raw vectorized reader rejects; load normalizes it (and the
      // rewritten copy round-trips as plain TimestampType).
      val base = Tables.load(spark, src, t)
      val shifts = keyCols(t)
      requireBelowOff(t, base, shifts)
      val reps = if (shifts.isEmpty) 1 else k
      val scaled: DataFrame = (0 until reps).map { r =>
        shifts.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(r * Off)))
      }.reduce(_.unionByName(_))
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t x$reps -> $out/$t.parquet")
    }
    spark.stop()
  }
}
