package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The layout pack's claims are about PLANS, not just results: bucketing
  * must eliminate the join-side shuffle, and the partitioned layout must
  * prune the scan. The DuckDB oracle can only check the numbers; these
  * asserts check the physics.
  */
class LayoutSpec extends SparkSpec {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  test("bucketed join plans NO exchange under the sort-merge join") {
    try {
      val plan = SparkEntry.queries("q_join_bucketed")(spark, sfDir)
        .queryExecution.executedPlan
      val nodes = flatten(plan)
      val smjs = nodes.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, "bucketed join must plan a sort-merge join " +
        "(broadcast would prove nothing about bucketing)")
      val shufflesUnderJoin = smjs.flatMap(flatten)
        .collect { case e: ShuffleExchangeExec => e }
      assert(shufflesUnderJoin.isEmpty,
        "bucketed scans must satisfy the join's distribution — found a " +
          s"shuffle under the SMJ:\n$plan")
      // The only exchange in the whole plan is the post-join aggregation.
      val all = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(all.size <= 1, s"expected at most the groupBy exchange:\n$plan")
    } finally CacheScope.releaseAll()
  }

  test("scratch guard: a master outside the driver JVM needs base=") {
    // A pure function of (master, base) — testable without a cluster.
    // local-cluster runs executors in separate JVMs, which cannot see a
    // driver-local temp dir.
    for (master <- Seq("spark://host:7077", "local-cluster[2,2,1024]")) {
      val e = intercept[IllegalArgumentException] {
        layout.LayoutQueries.requireLocalOrBase(master, None)
      }
      assert(e.getMessage.contains("base="), e.getMessage)
    }
    layout.LayoutQueries.requireLocalOrBase("local-cluster[2,2,1024]",
      Some("/shared/layout"))
    layout.LayoutQueries.requireLocalOrBase("local[4]", None)
  }

  test("z-order bounds BOTH dimensions' spans; linear leaves one unpruned") {
    try {
      val rows = SparkEntry.queries("q_layout_zorder")(spark, sfDir)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val (zn, zp, zs) = rows("zorder")
      val (ln, lp, ls) = rows("linear")
      // Same key space, same bucket width: the comparison is fair only if
      // both layouts produce comparable bucket counts.
      assert(zn > 1 && ln > 1, s"degenerate bucketing: zorder=$zn linear=$ln")
      // Linear (partkey-major) sort: near-perfect partkey spans, but each
      // bucket covers (almost) the FULL suppkey range — zone maps prune
      // nothing for suppkey predicates. Z-order must cut that span by an
      // order of magnitude, paying only a bounded partkey-span price.
      assert(zs < ls / 10.0,
        s"zorder suppkey span $zs not << linear's $ls")
      assert(lp < zp, s"linear must win the partkey dimension: $lp vs $zp")
      assert(zp < 65535.0 / 4,
        s"zorder partkey span $zp should stay a fraction of the full range")
    } finally CacheScope.releaseAll()
  }

  test("date-partitioned layout prunes the scan to the filtered partition") {
    try {
      val df = SparkEntry.queries("q_scan_pruned")(spark, sfDir)
      val scans = flatten(df.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.forall(_.partitionFilters.nonEmpty),
        "the event_date filter must reach the scan as a partition filter " +
          "(directory prune), not a data filter")
      // And the pruned read must still produce the right answer (the
      // oracle checks it too; this keeps the spec self-contained).
      val viaLayout = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val direct = Tables.load(spark, sfDir, "events")
        .filter(org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts")) === "2024-01-15")
        .groupBy("event_type").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(viaLayout == direct)
    } finally CacheScope.releaseAll()
  }

  test("dynamic partition overwrite replaces ONE day, leaves the rest") {
    import org.apache.spark.sql.functions._
    // The incremental-ETL write contract: re-landing one day of data must
    // not clobber the other partitions (static overwrite mode would wipe
    // the whole table root — the classic data-loss foot-gun).
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpo").toString
    val src = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .filter(col("month") >= lit("1996-01-01") && col("month") < lit("1996-04-01"))
    src.write.partitionBy("month").mode("overwrite").parquet(tmp)
    val before = spark.read.parquet(tmp).count()
    val oneMonth = src.filter(col("month") === lit("1996-02-01"))
    assert(oneMonth.count() > 0 && oneMonth.count() < before,
      "fixture needs a proper subset month")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // Re-land February with doubled prices.
      oneMonth.withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.partitionBy("month").mode("overwrite").parquet(tmp)
      val after = spark.read.parquet(tmp)
      assert(after.count() == before, "other partitions must be untouched")
      val untouched = after.filter(col("month") === lit("1996-01-01"))
        .agg(sum(col("o_totalprice"))).head.getDouble(0)
      val expected = src.filter(col("month") === lit("1996-01-01"))
        .agg(sum(col("o_totalprice"))).head.getDouble(0)
      assert(untouched == expected, "untouched month changed")
      val relanded = after.filter(col("month") === lit("1996-02-01"))
        .agg(sum(col("o_totalprice"))).head.getDouble(0)
      val doubled = oneMonth.agg(sum(col("o_totalprice") * 2)).head.getDouble(0)
      assert(relanded == doubled, "re-landed month must hold the new data")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("schema evolution: mergeSchema unifies old and new batches") {
    import org.apache.spark.sql.functions._
    // A 100 TB table accretes columns over time; old files must stay
    // readable (new column null) without a rewrite.
    val tmp = java.nio.file.Files.createTempDirectory("graft-evo").toString
    val o = Tables.load(spark, sfDir, "orders").limit(100)
    o.select(col("o_orderkey"), col("o_totalprice"))
      .write.parquet(s"$tmp/batch=1")
    o.select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.parquet(s"$tmp/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.columns.toSet ==
      Set("o_orderkey", "o_totalprice", "o_orderpriority", "batch"))
    assert(merged.filter(col("batch") === 1)
      .filter(col("o_orderpriority").isNotNull).count() == 0,
      "old files must read the new column as null")
    assert(merged.filter(col("batch") === 2)
      .filter(col("o_orderpriority").isNull).count() == 0)
  }
}
