package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.graph.{GraphPathQueries, GraphQueries, Kernels}
import graft.text.TextModelQueries

/** The operators that iterate [[graft.graph.Kernels.round]]: each builds
  * one lazy plan (no Spark job, no pin before the action), and on random
  * symmetric graphs with duplicate edges Katz, LPA and the weighted rank
  * equal the join formulation the oracles unroll, kept here as the
  * reference.
  */
class MessageRoundSpec extends SparkSpec {

  private def edgesDf(rows: Seq[(Long, Long, Long)], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b, w) => Row(a, b, w) }, parts),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType),
        StructField("w", LongType))))

  /** A seeded random graph, symmetric as a multiset of (src, dst, w):
    * random weighted pairs plus a hub joined to most nodes, with some
    * pairs repeated in both directions.
    */
  private def randomSym(seed: Long): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val random = Seq.fill(300)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong,
      1L + rnd.nextInt(5))).filter { case (a, b, _) => a != b }
    val hub = (1L until 70L).filter(_ % 6 != 4).map(n => (0L, n, 2L))
    val und = random ++ hub
    (und ++ rnd.shuffle(und).take(40))
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
  }

  private def longs(df: DataFrame): Map[Long, Long] =
    try df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally CacheScope.releaseAll()

  /** The join-form rank: per round, the degree-attached edges join the
    * ranks on src, the weighted pulls sum per dst, and every node is
    * re-attached with its restart.
    */
  private def joinRank(e: DataFrame, seed: Column): DataFrame = {
    import GraphQueries.{DampPct, Iters, Scale}
    val deg = e.groupBy("src").agg(sum(col("w")).as("wdeg"))
    val ed = e.join(deg, "src")
    val nodes = deg.select(col("src").as("node"), seed.as("seed"))
    def seeded(v: Long) = when(col("seed"), lit(v)).otherwise(lit(0L))
    var r = nodes.select(col("node"), seeded(Scale).as("r"))
    for (_ <- 1 to Iters) {
      val contrib = ed.join(r, col("src") === col("node"))
        .groupBy("dst").agg(sum(col("w") * expr("r div wdeg")).as("contrib"))
      r = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), (seeded((100L - DampPct) * Scale / 100L) +
          expr(s"($DampPct * coalesce(contrib, 0L)) div 100")).as("r"))
    }
    r
  }

  /** The join-form Katz: x'(v) = Scale + (α · Σ_(u,v) x(u)) div 100. */
  private def joinKatz(e: DataFrame): DataFrame = {
    import GraphPathQueries.{KatzAlphaPct, KatzIters, KatzScale}
    var x = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(KatzScale).as("x"))
    for (_ <- 1 to KatzIters) {
      x = e.join(x, col("src") === col("node"))
        .groupBy(col("dst").as("node"))
        .agg(expr(s"${KatzScale}L + ($KatzAlphaPct * sum(x)) div 100").as("x"))
    }
    x
  }

  /** The join-form LPA: count each (node, neighbour label), then the
    * argmax by (count desc, label asc) as max(struct(n, -lbl)).
    */
  private def joinLpa(e: DataFrame): DataFrame = {
    var lab = e.select(col("src").as("node"), col("src").as("lbl")).distinct()
    for (_ <- 1 to GraphQueries.LpaRounds) {
      lab = e.join(lab, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("n"))
        .groupBy(col("src"))
        .agg(max(struct(col("n"), (-col("lbl")).as("nl"))).as("b"))
        .select(col("src").as("node"), (-col("b.nl")).as("lbl"))
    }
    lab
  }

  test("katz, lpa and weighted rank equal the join form on random symmetric multigraphs") {
    for (seed <- Seq(20261021L, 7L)) {
      val rows = randomSym(seed)
      val e = edgesDf(rows, 3)
      val pairs = edgesDf(rows.map { case (a, b, _) => (a, b, 1L) }, 3).select("src", "dst")
      val cases = Seq(
        ("rank", Kernels.rank(e, col("src") % 4 === 0), joinRank(e, col("src") % 4 === 0)),
        ("katz", GraphPathQueries.katzOf(pairs), joinKatz(pairs)),
        ("lpa", GraphQueries.lpaOf(pairs), joinLpa(pairs)))
      for ((name, got, want) <- cases) {
        val g = longs(got)
        val w = longs(want)
        assert(g.size == w.size && g.size >= 60, s"$name seed $seed: ${g.size} nodes")
        assert(g == w, s"$name seed $seed: " + (g.toSet diff w.toSet).take(5))
      }
    }
    val rows = randomSym(20261021L)
    assert(longs(joinKatz(edgesDf(rows, 3).select("src", "dst"))) !=
      longs(joinKatz(edgesDf(rows.distinct, 3).select("src", "dst"))),
      "duplicate edges must change the scores, or the check can't see them")
  }

  test("building pagerank, ppr, textrank, katz and lpa submits no Spark job and pins nothing") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = edgesDf(randomSym(3L), 2).select("src", "dst")
    val docs = Seq((1L, "core alpha core alpha core"), (2L, "beta core beta core"))
      .toDF("doc_id", "text")
    val builds = Seq[(String, () => DataFrame)](
      "pagerankOf" -> (() => GraphQueries.pagerankOf(pairs)),
      "pprOf" -> (() => GraphQueries.pprOf(pairs)),
      "textrankOf" -> (() => TextModelQueries.textrankOf(docs)),
      "katzOf" -> (() => GraphPathQueries.katzOf(pairs)),
      "lpaOf" -> (() => GraphQueries.lpaOf(pairs)))
    for ((name, build) <- builds) {
      val group = s"round-build-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, s"$name build")
      try {
        build()
        assert(CacheScope.activeCount == 0, s"$name: the builder left a pin")
        // A one-job marker in the same group: listener events arrive in
        // order, so once the marker is visible every earlier job is.
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (sc.statusTracker.getJobIdsForGroup(group).isEmpty &&
            System.nanoTime() < deadline) Thread.sleep(20)
        val jobs = sc.statusTracker.getJobIdsForGroup(group)
        assert(jobs.length == 1, s"building $name ran ${jobs.length - 1} Spark job(s)")
      } finally {
        sc.clearJobGroup()
        CacheScope.releaseAll()
      }
    }
  }
}
