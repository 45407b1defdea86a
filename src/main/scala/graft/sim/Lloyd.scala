package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope.persisted

/** The one hash-seeded exact-integer Lloyd trainer: IVF's coarse
  * quantizer, PQ's M sub-quantizers, SemDeDup's cells and the k-means
  * readouts all train here, and nearest-centroid assignment reuses its
  * distance.
  *
  *   seed:   the k vectors with lexicographically smallest md5(vec_id) (a
  *           reproducible pseudo-random draw, never rand()); each seed's
  *           cell id is its own vec_id, so no global row-number window is
  *           needed (the pick is a TakeOrderedAndProject, not a global
  *           sort).
  *   assign: every vector to its nearest centroid — argmin of the
  *           rank-equivalent expansion -2·v·s/n + ss/n² of ||v - s/n||²,
  *           ties by cell id.
  *   update: exact integer (sum, count) means of the assigned cells. A
  *           cell that attracts no vectors drops out (k shrinks) —
  *           deterministic, and mirrored exactly by the oracles.
  *
  * Optional subspace keys split each vector by a column over the
  * component index `i` and train one quantizer per key value, all in ONE
  * relation keyed by (keys…, cell): none for IVF, `m = i mod M` for PQ.
  *
  * Exact-integer arithmetic throughout (quantized int64 components; sums
  * and dot products exact while n·d·(1000·|x|max)² < 2^53), so DuckDB
  * replays every assignment bit-for-bit from CTEs that unroll the loop
  * ([[Ivf.oracleCtes]], [[Pq.oracleCtes]]).
  *
  * Scale: each step is one shuffled scoring aggregation over the
  * posexploded n×d relation, one fused (sum, count) centroid aggregation
  * and a broadcast of the k·d centroid table. No collect, no global
  * window.
  */
private[graft] object Lloyd {

  /** The posexploded (vec_id, i, qx) components of `e` = (vec_id, qe, ...),
    * pinned: every assignment and update pass reads it. Two trainers over
    * the same `e` share one pin (`persisted` is idempotent on an identical
    * plan), and a caller whose trained relations are all memoized never
    * calls a trainer, so pins nothing.
    */
  private def exploded(e: DataFrame): DataFrame =
    persisted(e.select(col("vec_id"), posexplode(col("qe")).as(Seq("i", "qx"))))

  /** Rank-equivalent squared distance of every vector to every centroid of
    * its subspace. `ex` = (vec_id, i, qx, ...): every column but `i` and
    * `qx` is a per-vector column carried through (`vec_id` as `vid`).
    * `cent` = (keys…, cell, i, s, n) — exact component sums with the cell
    * size carried on every row, so ONE fused aggregation produced both and
    * no separate count shuffle or size join is needed (`n` is constant
    * within a cell; max() just picks it back out). Returns
    * (vid, carried…, cell, dd).
    */
  def distances(ex: DataFrame, cent: DataFrame, keys: String*): DataFrame = {
    val by = ex.columns.toSeq.filterNot(Set("vec_id", "i", "qx"))
    val cm = cent.groupBy((keys :+ "cell").map(col): _*)
      .agg(sum(col("s") * col("s")).as("ss"), max(col("n")).as("n"))
    val vs = ex
      .join(broadcast(cent.select((keys ++ Seq("i", "s", "cell")).map(col): _*)),
        "i" +: keys)
      .groupBy((col("vec_id").as("vid") +: by.map(col)) :+ col("cell"): _*)
      .agg(sum(col("qx") * col("s")).as("vs"))
    vs.join(broadcast(cm), keys :+ "cell")
      .select((col("vid") +: by.map(col)) ++ Seq(col("cell"),
        ((lit(-2.0) * col("vs")) / col("n") +
          col("ss").cast("double") / (col("n") * col("n"))).as("dd")): _*)
  }

  /** The `r` nearest cells per (vid, keys…), ordered by (dd, cell): rn = 1
    * is the assignment, rn <= r the probes.
    */
  def ranked(dist: DataFrame, r: Int, keys: String*): DataFrame = {
    val w = Window.partitionBy(("vid" +: keys).map(col): _*)
      .orderBy(col("dd").asc, col("cell").asc)
    dist.withColumn("rn", row_number().over(w)).filter(col("rn") <= r)
  }

  /** Train `k` cells for `iters` steps over `e` = (vec_id, qe, ...) and
    * return every vector's (vid, keys…, cell, dd) distance relation against
    * the trained centroids. Each key is a (name, column over `i`) pair.
    */
  def train(e: DataFrame, k: Int, iters: Int, keys: (String, Column)*): DataFrame = {
    val ex = keys.foldLeft(exploded(e)) { case (x, (n, c)) => x.withColumn(n, c) }
    val names = keys.map(_._1)
    val seeds = e.select(col("vec_id"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("vec_id"), col("vec_id").as("cell"))
    var cent = ex.join(broadcast(seeds), Seq("vec_id"))
      .select((names ++ Seq("cell", "i")).map(col) ++
        Seq(col("qx").as("s"), lit(1L).as("n")): _*)
    // count(1) per (keys…, cell, i) IS the cell size: every assigned
    // vector contributes exactly one row per component. `assign` stays
    // pinned: distances() reads its centroid input twice (the ss-aggregate
    // and the vs-broadcast), so an unpinned assignment would recompute the
    // previous step's whole pipeline twice — 2^iters lineage growth.
    // Exchange reuse does not rescue it: column pruning drops count(1)
    // from the vs side's centroid aggregate, so the two reads sit behind
    // different exchanges (unpinned, sim_ann_ivf's builder ran 65 jobs,
    // not 41).
    for (_ <- 1 to iters) {
      val assign = persisted(ranked(distances(ex, cent, names: _*), 1, names: _*)
        .select((col("vid").as("vec_id") +: names.map(col)) :+ col("cell"): _*))
      cent = ex.join(assign, "vec_id" +: names)
        .groupBy((names ++ Seq("cell", "i")).map(col): _*)
        .agg(sum("qx").as("s"), count(lit(1)).as("n"))
    }
    distances(ex, cent, names: _*)
  }
}
