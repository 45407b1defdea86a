package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Fixpoint

/** Connected components over near-dup candidate pairs: the step after LSH
  * in a real dedup pipeline — candidate pairs say "these two are dups",
  * clustering picks ONE canonical doc per group (min doc_id here).
  *
  * Algorithm: partition-local union-find seeding, then distributed
  * min-label propagation to a CONFIRMED fixpoint (an iteration that
  * changes zero labels). Each step is a join+aggregate over the edge list
  * (fully distributed); the driver only checks the converged flag — no
  * data ever reaches the driver. `maxIters` is a hard-fail guard: if the
  * fixpoint is not confirmed within the budget the call THROWS rather
  * than ship partially propagated labels ([[graft.Fixpoint]] owns the
  * loop, the state pins and the state sizing).
  */
object DedupClusters {

  /** Broadcast the final label relation only below this row count. What is
    * broadcast is the labels, so the gate is on labels — the old edge-count
    * gate (<=10M edges) could admit ~2x10^7 labels. Byte bound: a
    * LongHashedRelation costs ~64 B/entry (two longs + open-addressing
    * slack + object headers), so 1M labels ≈ 64 MB — inside every default
    * driver/executor memory budget, where 2x10^7 would be >1.2 GB.
    */
  val MaxBroadcastLabels = 1000000L

  /** pairs(doc_a, doc_b) + universe(doc_id) -> (doc_id, cluster_id).
    *
    * Only documents that appear in some candidate pair enter the
    * iteration: everything else is a singleton cluster by definition, and
    * joins back in at the end. At 100 TB the paired set is a sliver of
    * the corpus (that's what LSH is for), so the fixpoint loop runs over
    * the candidate graph, never the full table.
    *
    * `checkpointDir`: when set, iteration state is pinned with RELIABLE
    * checkpoints (`df.checkpoint`) written under that path instead of
    * executor-local blocks. `localCheckpoint` is lost with its executor —
    * fine on local[n], unacceptable for a long fixpoint on a real cluster
    * where one lost executor would fail the whole loop; a shared-FS
    * checkpoint survives executor churn.
    *
    * Convergence is detected from a `chg` flag computed INSIDE the
    * pointer-jump projection, so the per-iteration count is a scan of the
    * just-materialized checkpoint blocks — no extra join job (the old
    * labels-vs-next join burned one full job per iteration). The loop
    * only stops on a CONFIRMED fixpoint: an iteration whose propagate +
    * pointer-jump pass changed zero labels. Landing "exactly at the cap"
    * therefore still exits through the converged branch — the cap is hit
    * only when labels are genuinely still moving.
    *
    * `maxIters` is a hard-fail guard, not a knob the result quietly
    * degrades around: exhausting it THROWS, because partially propagated
    * cluster ids are data corruption downstream (keep-best would
    * canonicalize against the wrong clusters). Pointer jumping makes
    * convergence O(log diameter) and [[seedLocal]] collapses everything
    * co-partitioned before the first global iteration, so the default
    * budget of 30 covers any diameter a physical graph can reach
    * (2^30 ≈ 10^9).
    *
    * `seedLocal`: seed the fixpoint with partition-local connected
    * components (one union-find pass over each edge partition, then a
    * min-member relabel) instead of identity labels. Fragments that LSH
    * co-locates — at tested SFs the whole candidate graph, since state is
    * coalesced to ~500k-edge partitions — are collapsed before the first
    * join, so the global loop typically confirms in one iteration instead
    * of walking the graph diameter. Correctness does not depend on the
    * partitioning: every seed label is the min of a LOCAL subcomponent
    * (so the component's global-min node always keeps itself as seed),
    * and min-label propagation from any such seeding converges to the
    * same per-component minimum. `false` exercises the bare fixpoint
    * (spec use).
    */
  def clusters(pairs: DataFrame, universe: DataFrame, maxIters: Int = 30,
      checkpointDir: Option[String] = None,
      seedLocal: Boolean = true): DataFrame = {
    val ss = pairs.sparkSession
    val pin = new Fixpoint.Pinner(ss.sparkContext, checkpointDir)

    // pairs is usually an expensive LSH pipeline; it must be materialized
    // exactly once. Two subtleties, both measured at sf0.1:
    //   - both edge directions are derived in ONE pass (explode of the
    //     forward+reverse structs) — a union of two selects reads the
    //     lineage twice;
    //   - the materialization is a parquet WRITE, not an RDD checkpoint:
    //     a write is an *action*, so the full AQE plan (runtime broadcast
    //     conversions, partition coalescing) executes the LSH lineage,
    //     whereas the checkpoint path compiles via `.rdd` and forfeits
    //     those (7.5s vs ~4.6s for the same lineage). Reading the files
    //     back also hands the planner real size stats, so the tiny edge
    //     relation is broadcast in the iteration joins without hints. On a
    //     cluster this is a reliable checkpoint to the shared FS
    //     (`checkpointDir`); locally it spills to a temp dir — node-local
    //     either way, hence the pinner's cluster-safety guard, and deleted
    //     after the fixpoint (every downstream reference is materialized in
    //     pinned state by then).
    val base = pin.reliableDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-clusters-").toString)
    val edgesPath = s"$base/edges.parquet"
    pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .write.mode("overwrite").parquet(edgesPath)
    val edges = ss.read.parquet(edgesPath)
    // Cheap: a column-less aggregate over the just-written files. Every
    // state relation is coalesced to the count-derived partition number.
    val nState = Fixpoint.stateParts(ss.sparkContext, edges.count())
    def pinState(df: DataFrame): DataFrame = pin(df.coalesce(nState))

    // Seed labels: partition-local union-find (see scaladoc). The RDD hop
    // is the one place imperative per-partition state genuinely beats any
    // relational formulation — a union-find map over one partition's edges
    // (bounded at ~2x500k entries by the nState sizing above). The relabel
    // to min member runs in SQL so the engine's own type ordering decides
    // ties, exactly as the fixpoint's `least` does.
    val labels0 =
      if (!seedLocal)
        edges.select(col("src").as("doc_id")).distinct()
          .select(col("doc_id"), col("doc_id").as("cluster_id"))
      else {
        val idType = edges.schema("src").dataType
        val localRdd = edges.coalesce(nState).rdd.mapPartitions { it =>
          val parent = new java.util.HashMap[AnyRef, AnyRef]()
          def find(x0: AnyRef): AnyRef = {
            var x = x0
            var r = x
            while ({ val p = parent.get(r); p != null && !p.equals(r) }) r = parent.get(r)
            if (parent.get(r) == null) parent.put(r, r)
            while (!x.equals(r)) { val p = parent.get(x); parent.put(x, r); x = p }
            r
          }
          it.foreach { row =>
            val ra = find(row.get(0).asInstanceOf[AnyRef])
            val rb = find(row.get(1).asInstanceOf[AnyRef])
            if (!ra.equals(rb)) parent.put(ra, rb)
          }
          import scala.jdk.CollectionConverters._
          // Snapshot keys first: find() path-compresses into the same map.
          parent.keySet().asScala.toVector.iterator
            .map(k => org.apache.spark.sql.Row(k, find(k)))
        }
        val localDf = ss.createDataFrame(localRdd,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id", idType),
            org.apache.spark.sql.types.StructField("root", idType))))
        // A doc split across partitions has one row per partition; the
        // min-over-roots collapse below is itself one propagation step on
        // the condensed graph, so cross-partition fragments often merge
        // here before the loop even starts.
        localDf.join(
            localDf.groupBy(col("root")).agg(min(col("doc_id")).as("lbl")), "root")
          .groupBy(col("doc_id")).agg(min(col("lbl")).as("cluster_id"))
      }
    var labels = pinState(labels0)
    // Structural fast path: when the seed union-find ran over a SINGLE
    // partition it saw the entire edge relation, so its components are
    // the exact global components and labels0 IS a confirmed fixpoint —
    // iterating would only re-prove it. (nState > 1 — a genuinely large
    // candidate graph — always takes the loop.)
    val seededExactly = seedLocal && nState == 1
    // The edge materialization is fully consumed once the loop ends:
    // every downstream reference lives in pinned (checkpointed) state, so
    // the files go now — leaving them would leak a full edge-relation copy
    // per invocation (x2 cluster queries x warm-up + n bench runs). The
    // `finally` cleans up on the budget-exhaustion path too.
    try {
      if (!seededExactly) Fixpoint.until("DedupClusters.clusters", maxIters) { _ =>
        val nbrMin = edges
          .join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        // checkpointed: referenced by BOTH sides of the shortcut join.
        val propagated = pinState(labels
          .join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
          .select(labels("doc_id"), col("cluster_id").as("prev_cluster_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("cluster_id")))
        // pointer jumping: follow the label's label — turns O(diameter)
        // convergence into O(log diameter) (long chains otherwise eat the
        // iteration budget). `chg` carries the convergence signal out of
        // the same projection.
        val next = pinState(propagated.as("l")
          .join(propagated.select(col("doc_id").as("rid"), col("cluster_id").as("rcid")).as("r"),
            col("l.cluster_id") === col("r.rid"), "left")
          .select(col("l.doc_id").as("doc_id"),
            coalesce(col("rcid"), col("l.cluster_id")).as("cluster_id"),
            (coalesce(col("rcid"), col("l.cluster_id")) =!= col("l.prev_cluster_id"))
              .as("chg")))
        labels = next.drop("chg")
        // Scan of the blocks `pin` just wrote — no join, no shuffle.
        next.filter(col("chg")).limit(1).isEmpty
      }
    } finally {
      val root = new org.apache.hadoop.fs.Path(
        if (pin.reliableDir.isDefined) edgesPath else base)
      root.getFileSystem(ss.sparkContext.hadoopConfiguration).delete(root, true)
    }
    // The labels count drives the broadcast gate below AND confirms the
    // pinned state is fully materialized; it is a scan of the checkpoint
    // blocks `pin` just wrote — no shuffle.
    val nLabels = labels.count()
    // singletons (never paired) keep their own id. The checkpointed label
    // relation has no stats for the planner, so hint the broadcast
    // ourselves when the measured label relation is small — and keep the
    // shuffle join when it isn't (a 100 TB corpus can have a huge paired
    // sliver; an unconditional hint would OOM the driver, not the data).
    val labelSide = labels.withColumnRenamed("doc_id", "pdoc")
    val maybeBroadcast =
      if (nLabels <= MaxBroadcastLabels) broadcast(labelSide) else labelSide
    universe.select(col("doc_id"))
      .join(maybeBroadcast, col("doc_id") === col("pdoc"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Fold a NEW batch into STANDING cluster labels without re-clustering
    * the standing corpus — the incremental-ingest completion (VERDICT r8
    * "Next #7"): `dedup_incremental` finds the new↔corpus probe pairs;
    * this reconciles them (plus new↔new pairs) into final labels for
    * corpus ∪ batch, including the hard case where one new document
    * BRIDGES two standing clusters and they must merge.
    *
    * Construction: quotient-graph components. Each probe edge's corpus
    * endpoint is replaced by its standing CLUSTER id (its quotient node);
    * new documents are their own nodes. Running the [[clusters]] fixpoint
    * on this reduced graph — whose size is O(probe pairs + standing
    * cluster count), never O(corpus) — yields per-quotient-node labels;
    * corpus documents inherit their standing cluster's new label through
    * one equi-join. Correctness: a standing cluster id is the MIN doc id
    * of its component and every standing component is wholly inside one
    * union component, so min-label propagation over the quotient graph
    * lands on exactly the min doc id of the union component — i.e. the
    * SAME labels from-scratch clustering of corpus ∪ batch produces
    * (ReconcileSpec asserts equality, bridge case included; the
    * registered query's oracle IS the from-scratch clustering oracle).
    *
    * Scale: the corpus-sized work is one equi-join of standing labels
    * against the reduced labels on cluster id; the fixpoint itself runs
    * on the probe-sized quotient graph. That is the whole point — daily
    * ingest cost scales with the increment.
    */
  def reconcile(standing0: DataFrame, probeEdges: DataFrame,
      newUniverse: DataFrame, maxIters: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    val standing = graft.CacheScope.persisted(
      standing0.select(col("doc_id"), col("cluster_id")))
    val sa = standing.select(col("doc_id").as("qa"), col("cluster_id").as("ca"))
    val sb = standing.select(col("doc_id").as("qb"), col("cluster_id").as("cb"))
    // probe endpoints -> quotient nodes (corpus doc -> its standing
    // cluster id; new doc passes through — it has no standing label)
    val reduced = probeEdges
      .join(sa, col("doc_a") === col("qa"), "left")
      .join(sb, col("doc_b") === col("qb"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
    // quotient universe: every standing cluster id + every new doc (so an
    // unpaired new doc still gets its singleton label). The two sets are
    // disjoint by construction (standing ids are corpus doc ids).
    val qUniverse = standing.select(col("cluster_id").as("doc_id")).distinct()
      .unionByName(newUniverse.select(col("doc_id")))
    val q = clusters(reduced, qUniverse, maxIters, checkpointDir)
      .select(col("doc_id").as("qnode"), col("cluster_id").as("final_cid"))
      .transform(graft.CacheScope.persisted(_))
    val corpusOut = standing
      .join(q, col("cluster_id") === col("qnode"))
      .select(col("doc_id"), col("final_cid").as("cluster_id"))
    val newOut = q
      .join(newUniverse.select(col("doc_id").as("nid")),
        col("qnode") === col("nid"), "left_semi")
      .select(col("qnode").as("doc_id"), col("final_cid").as("cluster_id"))
    corpusOut.unionByName(newOut)
  }
}
