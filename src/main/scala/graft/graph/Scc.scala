package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixpoint

/** Strongly connected components over a DIRECTED edge relation — the
  * directed sibling of [[graft.dedup.DedupClusters]] (whose min-label
  * fixpoint is only correct for undirected connectivity). Algorithm:
  * partition-local Tarjan contraction, then forward-coloring with
  * backward confirmation and peeling on the condensed cross-partition
  * graph (Orzan's coloring / FW-BW family — the standard distributed SCC
  * shape; see the Slota et al. multistep method for the trim+color
  * composition):
  *
  * phase 0 — CONTRACT: each partition runs iterative Tarjan over its own
  * edges (the DedupClusters union-find-seed discipline: bounded by the
  * [[graft.Fixpoint.stateParts]] sizing, the one place imperative
  * per-partition code beats a relational formulation). A cycle that lives
  * inside one partition is mutually reachable globally too, so local SCCs
  * contract soundly; the quotient graph's SCCs pull back exactly. When
  * the state fits one partition the local pass saw the whole graph and
  * IS the answer — the distributed loop is skipped outright (the
  * DedupClusters nState==1 fast path). Otherwise the loop runs on the
  * condensed graph, whose diameter the contraction has already collapsed.
  *
  * per peel over the remaining condensed subgraph:
  *   1. TRIM — nodes with no in-edges or no out-edges are singleton SCCs;
  *      one degree-aggregate pass peels DAG fringes for free.
  *   2. COLOR — fixpoint c(v) = max(v, max of c(u) over in-edges u→v),
  *      with a pointer-doubling step (c(v) ← max(c(v), c(c(v))) is
  *      sound: c(v) reaches v and c(c(v)) reaches c(v), so transitivity
  *      keeps the invariant "c(v) reaches v"). Convergence is
  *      O(color-propagation diameter) — doubling only compresses through
  *      nodes whose color already differs from their id (a dominant-hub
  *      wavefront), not through untouched regions (an id-increasing ring
  *      still takes n rounds), hence the generous default budget.
  *   3. CONFIRM — backward reachability from each root (c(v)=v) along
  *      edges that stay INSIDE the root's color class. Every vertex on a
  *      return path v→root lies in root's SCC and therefore has color =
  *      root (a bigger-id colorer of an SCC member would also color the
  *      root, contradicting c(root)=root), so the restriction loses
  *      nothing and the confirmed set is exactly SCC(root).
  *   4. PEEL — confirmed nodes leave with scc_id = the MAX member id of
  *      their component (the deterministic canonical, whatever the peel's
  *      coloring direction); survivors recolor next peel, now
  *      unobstructed by the removed upstream colorers.
  *
  * Budgets and storage are [[graft.Fixpoint]]'s: both fixpoints and the
  * peel loop are hard-capped and THROW on exhaustion (partially propagated
  * labels are silent corruption for every consumer), and every iteration
  * state is eagerly pinned and coalesced to a handful of partitions — the
  * state is node-sized, a sliver of the edge relation.
  *
  * Scale shape: every step is an equi-join edges↔labels plus one
  * aggregate — the Pregel lowering, same as pagerankOf; nothing is ever
  * collected, and the per-peel work shrinks with the remaining subgraph.
  */
object Scc {

  /** SCC labels (node, scc_id) for every node of `edgesDf` (src, dst).
    * scc_id = max node id in the component. Self-loops are ignored (they
    * never change strong connectivity). `stateParts` forces the state
    * partition count (tests use it to exercise the distributed loop on
    * graphs small enough for the single-partition fast path).
    */
  def sccOf(edgesDf: DataFrame, peelBudget: Int = 15, colorBudget: Int = 64,
      confirmBudget: Int = 64, checkpointDir: Option[String] = None,
      stateParts: Option[Int] = None): DataFrame = {
    val ss = edgesDf.sparkSession
    val pin = new Fixpoint.Pinner(ss.sparkContext, checkpointDir)
    // State relations are node-sized; shuffle-partition fan-out is pure
    // scheduler overhead at that size (the Fixpoint.stateParts rule).
    val e0 = pin(edgesDf.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .coalesce(math.max(1, ss.sparkContext.defaultParallelism / 4)))
    val nEdges0 = e0.count()
    val nState = stateParts.getOrElse(Fixpoint.stateParts(ss.sparkContext, nEdges0))
    def pinState(df: DataFrame): DataFrame = pin(df.coalesce(nState))

    // Isolated self-loop-only nodes never enter the contracted graph; fold
    // them in as singletons at the end via the original relation's node set.
    val allNodes = pinState(
      edgesDf.select(col("src").as("node"))
        .union(edgesDf.select(col("dst").as("node"))).distinct())

    // Phase 0: partition-local Tarjan (iterative — an explicit work stack,
    // recursion depth is graph-sized). Emits (node, root) with an
    // arbitrary per-component root; the max-member canonical label is a
    // bounded SQL group-agg so the node type stays engine-ordered.
    val idType = e0.schema("src").dataType
    val localRdd = e0.coalesce(nState).rdd.mapPartitions { it =>
      import java.util.{ArrayDeque, ArrayList, HashMap}
      val adj = new HashMap[AnyRef, ArrayList[AnyRef]]()
      val nodesSet = new java.util.LinkedHashSet[AnyRef]()
      it.foreach { row =>
        val s = row.get(0).asInstanceOf[AnyRef]
        val d = row.get(1).asInstanceOf[AnyRef]
        nodesSet.add(s); nodesSet.add(d)
        var l = adj.get(s)
        if (l == null) { l = new ArrayList[AnyRef](); adj.put(s, l) }
        l.add(d)
      }
      val index = new HashMap[AnyRef, Integer]()
      val low = new HashMap[AnyRef, Integer]()
      val onStack = new java.util.HashSet[AnyRef]()
      val stack = new ArrayDeque[AnyRef]()
      val rootOf = new HashMap[AnyRef, AnyRef]()
      var counter = 0
      val empty = new ArrayList[AnyRef]()
      nodesSet.forEach { start =>
        if (!index.containsKey(start)) {
          // frame = (node, next child offset)
          val frames = new ArrayDeque[Array[AnyRef]]()
          frames.push(Array(start, Integer.valueOf(0)))
          index.put(start, counter); low.put(start, counter); counter += 1
          stack.push(start); onStack.add(start)
          while (!frames.isEmpty) {
            val f = frames.peek()
            val v = f(0)
            val kids = { val k = adj.get(v); if (k == null) empty else k }
            val i = f(1).asInstanceOf[Integer].intValue()
            if (i < kids.size()) {
              f(1) = Integer.valueOf(i + 1)
              val w = kids.get(i)
              if (!index.containsKey(w)) {
                index.put(w, counter); low.put(w, counter); counter += 1
                stack.push(w); onStack.add(w)
                frames.push(Array(w, Integer.valueOf(0)))
              } else if (onStack.contains(w) && low.get(w) < low.get(v)) {
                low.put(v, low.get(w))
              }
            } else {
              frames.pop()
              if (!frames.isEmpty) {
                val p = frames.peek()(0)
                if (low.get(v) < low.get(p)) low.put(p, low.get(v))
              }
              if (low.get(v).equals(index.get(v))) {
                var w: AnyRef = null
                while ({ w = stack.pop(); onStack.remove(w); rootOf.put(w, v)
                  !w.equals(v) }) ()
              }
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      rootOf.entrySet().iterator().asScala
        .map(e => org.apache.spark.sql.Row(e.getKey, e.getValue))
    }
    val localRaw = ss.createDataFrame(localRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", idType),
        org.apache.spark.sql.types.StructField("root", idType))))
    // Canonical local label = max member per (partition-arbitrary) root.
    val local = pinState(localRaw
      .join(localRaw.groupBy(col("root")).agg(max(col("node")).as("lid")), "root")
      .select(col("node"), col("lid")))

    if (nState == 1) {
      // The local pass saw every edge: its components are the global SCCs.
      return allNodes.join(local.withColumnRenamed("node", "dn"),
          col("node") === col("dn"), "left")
        .select(col("node"), coalesce(col("lid"), col("node")).as("scc_id"))
    }

    // Condense: run the distributed loop on the quotient graph only.
    var edges = pinState(e0
      .join(local.select(col("node").as("cs"), col("lid").as("lsrc")),
        e0("src") === col("cs"))
      .join(local.select(col("node").as("cd"), col("lid").as("ldst")),
        e0("dst") === col("cd"))
      .filter(col("lsrc") =!= col("ldst"))
      .select(col("lsrc").as("src"), col("ldst").as("dst"))
      .distinct())
    var nodes = pinState(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct())

    var done: DataFrame = null
    def addDone(df: DataFrame): Unit = {
      val d = pinState(df)
      done = if (done == null) d else pinState(done.union(d))
    }

    var nLeft = nodes.count()
    if (nLeft > 0) Fixpoint.until("Scc peel", peelBudget) { round =>
      val peel = round - 1
      // 1. TRIM: a node absent from src (no out-edges) or absent from dst
      // (no in-edges) cannot be on any cycle — singleton SCC.
      val trimmed = nodes
        .join(edges.select(col("src")).distinct(),
          nodes("node") === col("src"), "left_anti")
        .union(nodes
          .join(edges.select(col("dst")).distinct(),
            nodes("node") === col("dst"), "left_anti"))
        .distinct()
      val trimmedPinned = pinState(trimmed)
      val nTrim = trimmedPinned.count()
      if (nTrim > 0) {
        addDone(trimmedPinned.select(col("node"), col("node").as("scc_id")))
        nodes = pinState(nodes.join(trimmedPinned.select(col("node").as("tn")),
          nodes("node") === col("tn"), "left_anti"))
        edges = pinState(edges
          .join(trimmedPinned.select(col("node").as("ts")),
            edges("src") === col("ts"), "left_anti")
          .join(trimmedPinned.select(col("node").as("td")),
            edges("dst") === col("td"), "left_anti"))
        nLeft -= nTrim
      }
      if (nLeft > 0) {
        // 2. COLOR to a confirmed fixpoint. The extreme alternates per
        // peel (max, then min, ...): a chain whose ids DECREASE along the
        // edges makes every max-coloring peel remove only the head's
        // singleton (the whole chain wears the head's color), but under
        // min-coloring every such node is its own root and the chain
        // resolves in ONE peel — and vice versa for increasing ids, so
        // neither monotone pathology can eat the peel budget.
        val useMax = peel % 2 == 0
        def extreme(c: org.apache.spark.sql.Column*) =
          if (useMax) greatest(c: _*) else least(c: _*)
        var colors = pinState(nodes.select(col("node"), col("node").as("c")))
        Fixpoint.until(s"Scc color (peel $peel)", colorBudget) { _ =>
          val inExt = edges.join(colors, edges("src") === colors("node"))
            .groupBy(col("dst"))
            .agg((if (useMax) max(col("c")) else min(col("c"))).as("in_c"))
          val stepped = pinState(colors
            .join(inExt, colors("node") === inExt("dst"), "left")
            .select(colors("node"), col("c").as("prev"),
              extreme(col("c"), coalesce(col("in_c"), col("c"))).as("c")))
          // pointer doubling: c(c(v)) also reaches v.
          val doubled = pinState(stepped.as("l")
            .join(stepped.select(col("node").as("rn"), col("c").as("rc")).as("r"),
              col("l.c") === col("r.rn"), "left")
            .select(col("l.node").as("node"), col("l.prev").as("prev"),
              extreme(col("l.c"), coalesce(col("rc"), col("l.c"))).as("c")))
          colors = doubled.drop("prev")
          doubled.filter(col("c") =!= col("prev")).limit(1).isEmpty
        }
        // 3. CONFIRM: backward reachability from roots within each color.
        // `reached` accumulates SCC members; the frontier is the last
        // round's additions only, so work tracks the SCC sizes.
        val colorOfDst = edges.join(colors, edges("dst") === colors("node"))
          .select(edges("src"), edges("dst"), col("c").as("dst_c"))
        val sameColor = pinState(colorOfDst
          .join(colors.select(col("node").as("sn"), col("c").as("src_c")),
            col("src") === col("sn"))
          .filter(col("src_c") === col("dst_c"))
          .select(col("src"), col("dst"), col("src_c").as("c")))
        var reached = pinState(colors.filter(col("node") === col("c")))
        var frontier = reached
        Fixpoint.until(s"Scc confirm (peel $peel)", confirmBudget) { _ =>
          val step = sameColor
            .join(frontier.select(col("node").as("fn"), col("c").as("fc")),
              sameColor("dst") === col("fn") && sameColor("c") === col("fc"))
            .select(col("src").as("node"), col("c"))
            .distinct()
          val fresh = pinState(step.join(
            reached.select(col("node").as("rn"), col("c").as("rc")),
            step("node") === col("rn") && step("c") === col("rc"), "left_anti"))
          if (fresh.limit(1).isEmpty) true
          else {
            reached = pinState(reached.union(fresh))
            frontier = fresh
            false
          }
        }
        // 4. PEEL confirmed SCCs. Under max-coloring the color IS the max
        // member id; under min-coloring it's the min — relabel through one
        // bounded group-agg so scc_id is always the MAX member id (the
        // deterministic canonical the oracle computes).
        val canon = reached.groupBy(col("c")).agg(max(col("node")).as("scc_id"))
        addDone(reached.join(canon, "c").select(col("node"), col("scc_id")))
        val members = reached.select(col("node").as("mn"))
        nodes = pinState(nodes.join(members, nodes("node") === col("mn"), "left_anti"))
        edges = pinState(edges
          .join(reached.select(col("node").as("ms")),
            edges("src") === col("ms"), "left_anti")
          .join(reached.select(col("node").as("md")),
            edges("dst") === col("md"), "left_anti"))
        nLeft = nodes.count()
      }
      nLeft == 0
    }
    // Compose: node -> local label -> condensed scc label. A local
    // component with no surviving condensed edge (its SCC closed inside
    // one partition) never enters the loop — its lid IS the answer; a
    // self-loop-only node never enters `local` — it is its own singleton.
    val condLabels = if (done == null) local.limit(0)
        .select(col("node").as("cn"), col("lid").as("scc_id"))
      else done.select(col("node").as("cn"), col("scc_id"))
    val resolved = local
      .join(condLabels, local("lid") === col("cn"), "left")
      .select(col("node").as("rn"),
        coalesce(col("scc_id"), col("lid")).as("scc_id"))
    allNodes.join(resolved, col("node") === col("rn"), "left")
      .select(col("node"), coalesce(col("scc_id"), col("node")).as("scc_id"))
  }
}
