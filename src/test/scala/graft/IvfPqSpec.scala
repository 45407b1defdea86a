package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.{Ivf, IvfPq, Pq, VecMath}

/** The composed IVFADC index ([[graft.sim.IvfPq]]): routing must gate the
  * work, ADC must rank within the routed cells, and the measured recall@3
  * against exact brute force must respond to the nprobe dial the way the
  * structure promises (wider probe → candidate superset → recall recovers
  * toward the PQ ceiling). The sweep table this spec prints is recorded in
  * PLANS.md.
  */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
      .withColumn("norm2", VecMath.norm2Q(col("qe")))

  private def params(nprobe: Int, k: Int = 8) = IvfPq.Params(
    ivf = Ivf.Params(k = k, iters = 2, nprobe = nprobe, topK = 3,
      nQueries = 10),
    pq = Pq.Params(m = 8, k = 16, iters = 1, topK = 3, nQueries = 10),
    shortlist = 10,
    topK = 3)

  /** Exact top-3 via brute force, as (q_id, n_id) truth pairs. */
  private def exactTop3: Set[(Long, Long)] = {
    val e = emb
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
        col("norm2").as("q_norm2"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(VecMath.cosine(VecMath.dotQ(col("q_qe"), col("qe")),
          col("q_norm2"), col("norm2")), 4).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("recall@3 vs brute force responds to nprobe (sweep recorded in PLANS.md)") {
    try {
      val truth = exactTop3
      CacheScope.releaseAll()
      val sweep = Seq(1, 2, 4, 8).map { nprobe =>
        val got = IvfPq.ann(emb, params(nprobe)).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        CacheScope.releaseAll()
        val recall = (got & truth).size.toDouble / truth.size
        (nprobe, recall)
      }
      info(s"recall@3 by nprobe (k=8): " +
        sweep.map { case (np, r) => f"nprobe=$np%d -> $r%.3f" }
          .mkString(", "))
      sweep.foreach { case (np, r) =>
        assert(r >= 0.0 && r <= 1.0, s"recall out of range at nprobe=$np")
      }
      // Full probe (nprobe = k) routes every vector, so the composed
      // index degenerates to pure PQ-ADC + re-rank: its recall is the PQ
      // ceiling, and a 1-cell probe cannot beat it by more than luck —
      // require the full probe to do at least as well as the narrowest.
      val r1 = sweep.head._2
      val rFull = sweep.last._2
      assert(rFull >= r1,
        s"full probe recall $rFull below nprobe=1 recall $r1")
      // The dial must matter: the sweep cannot be constant unless it is
      // already perfect at nprobe=1.
      assert(r1 === 1.0 || sweep.map(_._2).distinct.size > 1,
        "nprobe had no effect on recall")
    } finally CacheScope.releaseAll()
  }

  test("planted duplicate survives route, ADC shortlist, and re-rank") {
    try {
      // 60 deterministic 4-d vectors; vector 50 duplicates query vector 0.
      val base = (0 until 60).map { id =>
        val v =
          if (id == 50 || id == 0) Seq(0.9, -0.3, 0.5, 0.1)
          else Seq(
            math.sin(id * 1.7) * 0.8,
            math.cos(id * 2.3) * 0.8,
            math.sin(id * 0.9 + 1) * 0.8,
            math.cos(id * 1.1 + 2) * 0.8)
        (id.toLong, v)
      }
      val e = base.toDF("vec_id", "embedding")
        .select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
        .withColumn("norm2", VecMath.norm2Q(col("qe")))
      // Full probe: identical vectors always share the nearest cell, and
      // an exact duplicate's ADC distance equals the query's own code
      // distance — it cannot miss a 10-deep shortlist in a 4-cell index.
      val p = IvfPq.Params(
        ivf = Ivf.Params(k = 4, iters = 2, nprobe = 4, topK = 1,
          nQueries = 1),
        pq = Pq.Params(m = 2, k = 4, iters = 1, topK = 1, nQueries = 1),
        shortlist = 10,
        topK = 1)
      val got = IvfPq.ann(e, p).filter(col("q_id") === 0).collect()
      assert(got.length === 1)
      assert(got(0).getLong(1) === 50L,
        s"query 0's duplicate (vec 50) must be its top-1, got ${got.toSeq}")
      assert(got(0).getDouble(2) === 1.0)
    } finally CacheScope.releaseAll()
  }

  test("warm memos: no trainer runs, so the posexploded input is never pinned") {
    try {
      val p = params(nprobe = 2)
      // The composition's own `e` and the posexploded relation the
      // trainers pin; a lookup by plan tells whether a pin exists.
      def exploded = emb.select(col("vec_id"), col("qe"), col("norm2"))
        .select(col("vec_id"), posexplode(col("qe")).as(Seq("i", "qx")))
      val none = org.apache.spark.storage.StorageLevel.NONE
      val trained = scala.collection.mutable.Map.empty[String, DataFrame]
      IvfPq.ann(emb, p, (key, f) => {
        val df = f()
        val local = spark.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
        trained(key) = local
        local
      }).collect()
      assert(trained.size === 2)
      assert(exploded.storageLevel !== none, "a cold call trains, so pins")
      CacheScope.releaseAll()
      val before = CacheScope.activeCount
      val warm = IvfPq.ann(emb, p, (key, _) => trained(key)).collect()
      // `e` only: a memo's relation is not re-pinned, nothing for the trainers
      assert(CacheScope.activeCount - before === 1)
      assert(exploded.storageLevel === none)
      assert(warm.nonEmpty)
    } finally CacheScope.releaseAll()
  }
}
