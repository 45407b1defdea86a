package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.graph.GraphQueries

/** q_graph_lpa's discriminating property vs connected components: a single
  * bridge edge must NOT glue two dense regions into one community, while
  * each dense region itself converges to one label.
  */
class LpaSpec extends SparkSpec {

  /** Symmetric edge relation from undirected pairs. */
  private def edgeDf(und: Seq[(Long, Long)], parts: Int = 3): DataFrame = {
    val sym = und.flatMap { case (a, b) => Seq(Row(a, b), Row(b, a)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(sym, parts),
      StructType(Seq(StructField("src", LongType),
        StructField("dst", LongType))))
  }

  private def clique(ids: Seq[Long]): Seq[(Long, Long)] =
    for { a <- ids; b <- ids if a < b } yield (a, b)

  test("bridged cliques keep distinct communities; each clique is uniform") {
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) ++ Seq((4L, 11L))
    val out =
      try GraphQueries.lpaOf(edgeDf(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally CacheScope.releaseAll()
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
    val a = Seq(1L, 2L, 3L, 4L).map(out).distinct
    val b = Seq(11L, 12L, 13L, 14L).map(out).distinct
    assert(a.size == 1, s"clique A not uniform: $out")
    assert(b.size == 1, s"clique B not uniform: $out")
    assert(a.head != b.head,
      s"bridge edge merged the cliques (components behavior, not LPA): $out")
  }

  test("deterministic under repartitioning") {
    val edges = clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L)) ++
      Seq((3L, 7L), (1L, 9L))
    def run(parts: Int) =
      try GraphQueries.lpaOf(edgeDf(edges, parts)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally CacheScope.releaseAll()
    assert(run(2) == run(5))
  }

  test("a planted tie resolves to the lower label; frequency beats a lower label") {
    // One round: 10 hears {3, 7} once each; 20 hears 8 and 5 twice each
    // and 30 once; 40 hears 2 once and 9 twice.
    val edges = Seq((10L, 3L), (10L, 7L),
      (20L, 8L), (20L, 8L), (20L, 5L), (20L, 5L), (20L, 30L),
      (40L, 2L), (40L, 9L), (40L, 9L))
    for (parts <- Seq(1, 4)) {
      val out =
        try GraphQueries.lpaOf(edgeDf(edges, parts), rounds = 1).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally CacheScope.releaseAll()
      assert(out(10L) == 3L && out(20L) == 5L && out(40L) == 9L, s"$parts: $out")
      assert(Seq(3L, 7L).map(out) == Seq(10L, 10L), s"$parts: $out")
    }
  }
}
