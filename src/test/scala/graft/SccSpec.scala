package graft

import org.apache.spark.sql.functions._

/** Planted directed graphs through [[graft.graph.Scc.sccOf]] — the
  * machinery verification the sf data can't provide (its sequence graph
  * is almost all singletons). Each case has a hand-derivable SCC answer.
  */
class SccSpec extends SparkSpec {
  import graph.Scc

  private def edges(pairs: (Long, Long)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("single directed ring is one SCC labeled by its max id") {
    // ring size bounds the color rounds at n+1 (O(diameter) propagation);
    // keep it well under the default budget but big enough to force many
    // genuine wavefront rounds
    val n = 16L
    val ring = edges((1L to n).map(i => i -> (i % n + 1)): _*)
    val m = labelsOf(Scc.sccOf(ring))
    assert(m.size == n)
    assert(m.values.toSet == Set(n))
  }

  test("two rings joined by a one-way bridge stay separate SCCs") {
    val r1 = (1L to 5L).map(i => i -> (i % 5 + 1))
    val r2 = (11L to 15L).map(i => i -> (if (i == 15) 11L else i + 1))
    val m = labelsOf(Scc.sccOf(edges(r1 ++ r2 :+ (3L -> 12L): _*)))
    assert((1L to 5L).forall(m(_) == 5L))
    assert((11L to 15L).forall(m(_) == 15L))
  }

  test("DAG chain (increasing ids) is all singletons") {
    val chain = edges((1L until 12L).map(i => i -> (i + 1)): _*)
    val m = labelsOf(Scc.sccOf(chain))
    assert(m.forall { case (k, v) => k == v })
  }

  test("DAG chain with DECREASING ids resolves within the peel budget") {
    // the max-coloring pathology: every node wears the head's color, so
    // a max-only implementation needs O(n) peels — the min peels kill it
    val chain = edges((2L to 12L).map(i => i -> (i - 1)): _*)
    val m = labelsOf(Scc.sccOf(chain))
    assert(m.forall { case (k, v) => k == v })
  }

  test("nested structure: SCC feeding a DAG feeding an SCC") {
    // cycle A {1,2,3} -> bridge 4 -> cycle B {5,6}
    val m = labelsOf(Scc.sccOf(edges(
      1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 5L)))
    assert(m(1L) == 3L && m(2L) == 3L && m(3L) == 3L)
    assert(m(4L) == 4L)
    assert(m(5L) == 6L && m(6L) == 6L)
  }

  test("self-loops are singletons; parallel edges collapse") {
    val m = labelsOf(Scc.sccOf(edges(
      7L -> 7L, 1L -> 2L, 1L -> 2L, 2L -> 1L)))
    assert(m(7L) == 7L)
    assert(m(1L) == 2L && m(2L) == 2L)
  }

  test("labels are invariant under repartitioning") {
    val r1 = (1L to 6L).map(i => i -> (i % 6 + 1))
    val extra = Seq(4L -> 1L, 10L -> 3L, 5L -> 20L)
    val e = edges(r1 ++ extra: _*)
    val a = labelsOf(Scc.sccOf(e))
    val b = labelsOf(Scc.sccOf(e.repartition(7)))
    assert(a == b)
    assert((1L to 6L).forall(a(_) == 6L)) // the ring
    assert(a(10L) == 10L && a(20L) == 20L) // dangling in/out nodes
  }

  test("forced multi-partition state: distributed loop agrees with the Tarjan fast path") {
    // two rings sharing node 3 (one SCC of 10), a decreasing bridge chain,
    // and a dangling tail — cross-partition contraction leaves real work
    // for the color/confirm/peel loop, whose labels must equal the exact
    // single-partition answer
    val pairs = (1L to 6L).map(i => i -> (i % 6 + 1)) ++
      Seq(3L -> 7L, 7L -> 8L, 8L -> 9L, 9L -> 10L, 10L -> 3L) ++
      Seq(30L -> 20L, 20L -> 11L, 11L -> 1L, 6L -> 40L)
    val e = edges(pairs: _*)
    val exact = labelsOf(Scc.sccOf(e))
    val looped = labelsOf(Scc.sccOf(e, stateParts = Some(3)))
    assert(looped == exact)
    assert((1L to 10L).forall(exact(_) == 10L)) // the merged double ring
    assert(Seq(30L, 20L, 11L, 40L).forall(i => exact(i) == i))
  }

  test("exhausting the peel budget throws instead of returning partial labels") {
    // The decreasing chain needs a max peel and a min peel (see above);
    // one peel confirms only the head's singleton, so a budget of one
    // must hard-fail on the forced distributed loop.
    val chain = edges((2L to 12L).map(i => i -> (i - 1)): _*)
    val ex = intercept[IllegalStateException] {
      Scc.sccOf(chain, peelBudget = 1, stateParts = Some(3))
    }
    assert(ex.getMessage.contains("confirmed fixpoint"))
  }
}
