package graft

import org.apache.spark.sql.functions._

import graft.graph.{EdgeChecks, GraphPathQueries, GraphQueries, Kernels}
import graft.text.TextModelQueries

/** [[graft.graph.EdgeChecks]] coverage: the symmetric-input precondition
  * of the message-round operators (PageRank, PPR, TextRank, Katz, LPA) is
  * enforceable — registered callers pass under the check, and a seeded
  * non-symmetric relation, in its pairs or in its weights, fails LOUDLY
  * instead of silently dropping zero-in-degree nodes.
  */
class EdgeSymmetrySpec extends SparkSpec {

  test("registered katz/lpa callers pass the symmetry check") {
    EdgeChecks.withChecks {
      try {
        assert(GraphPathQueries.queries("q_graph_katz")(spark, sfDir).count() > 0)
        assert(GraphQueries.queries("q_graph_lpa")(spark, sfDir).count() > 0)
      } finally CacheScope.releaseAll()
    }
  }

  test("registered pagerank, ppr and textrank callers pass the symmetry check") {
    EdgeChecks.withChecks {
      try {
        assert(GraphQueries.queries("q_graph_pagerank")(spark, sfDir).count() > 0)
        assert(GraphQueries.queries("q_graph_ppr")(spark, sfDir).count() > 0)
        assert(TextModelQueries.queries("text_textrank")(spark, sfDir).count() > 0)
      } finally CacheScope.releaseAll()
    }
  }

  test("a weight-asymmetric edge relation fails loudly under the check") {
    import spark.implicits._
    // Every (src, dst) has its twin, but 1 -> 2 weighs 3 and 2 -> 1 weighs 1.
    val bad = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      EdgeChecks.withChecks {
        try Kernels.rank(bad, lit(true)).count()
        finally CacheScope.releaseAll()
      }
    }
    assert(e.getMessage.contains("not symmetric"))
    // The same pairs with equal weights pass.
    EdgeChecks.withChecks {
      try assert(Kernels.rank(bad.withColumn("w", lit(1L)), lit(true)).count() == 3)
      finally CacheScope.releaseAll()
    }
  }

  test("a non-symmetric edge relation fails loudly under the check") {
    import spark.implicits._
    // (1->2) has no (2->1) twin: node 2 never appears as src, so the old
    // silent failure mode would drop it from the fixpoint output.
    val bad = Seq((1L, 2L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      EdgeChecks.withChecks {
        try GraphQueries.lpaOf(bad).count()
        finally CacheScope.releaseAll()
      }
    }
    assert(e.getMessage.contains("not symmetric"))
    val e2 = intercept[IllegalArgumentException] {
      EdgeChecks.withChecks {
        try GraphPathQueries.katzOf(bad).count()
        finally CacheScope.releaseAll()
      }
    }
    assert(e2.getMessage.contains("not symmetric"))
  }

  test("the check is opt-in: disabled off-thread, restores prior state") {
    import spark.implicits._
    val bad = Seq((1L, 2L)).toDF("src", "dst")
    assert(!EdgeChecks.enabled)
    // Without checks the builder accepts the input (documented contract:
    // callers own the precondition) — it must not throw here.
    try GraphQueries.lpaOf(bad, rounds = 1).count()
    finally CacheScope.releaseAll()
    EdgeChecks.withChecks { assert(EdgeChecks.enabled) }
    assert(!EdgeChecks.enabled)
  }
}
