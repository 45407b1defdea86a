package graft

import org.apache.spark.sql.functions._

import graft.sim.{Ivf, Pq, VecMath}

/** The PQ-ADC operator: deterministic, bounded, and a planted duplicate
  * must surface at the minimum ADC distance (a duplicate shares the
  * query's full code, so its lookup-table distance is the smallest any
  * vector can achieve — another vector can tie only by sharing every
  * sub-code).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def onTestdata() = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
    Pq.adcTopK(emb, Pq.Params(m = 8, k = 16, iters = 1, topK = 3,
      nQueries = 10))
  }

  test("deterministic across runs; ranks bounded; queries only") {
    try {
      val r1 = onTestdata().collect().map(_.toSeq).toSet
      CacheScope.releaseAll()
      val r2 = onTestdata().collect().map(_.toSeq).toSet
      assert(r1.nonEmpty)
      assert(r1 === r2, "PQ must be deterministic across runs")
      r1.foreach { row =>
        assert(row(0).asInstanceOf[Long] < 10)
        assert(row(3).asInstanceOf[Int] <= 3)
      }
    } finally CacheScope.releaseAll()
  }

  test("planted duplicate achieves the minimum ADC distance") {
    try {
      val dup = Seq(0.9, -0.3, 0.5, 0.1)
      val base = (0 until 60).map { id =>
        val v =
          if (id == 0 || id == 50) dup
          else Seq(
            math.sin(id * 1.7) * 0.8,
            math.cos(id * 2.3) * 0.8,
            math.sin(id * 0.9 + 1) * 0.8,
            math.cos(id * 1.1 + 2) * 0.8)
        (id.toLong, v)
      }
      val emb = base.toDF("vec_id", "embedding")
        .select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
      val got = Pq.adcTopK(emb,
        Pq.Params(m = 2, k = 8, iters = 1, topK = 3, nQueries = 1))
        .filter(col("q_id") === 0).collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(got.nonEmpty)
      val minAdc = got.map(_._2).min
      val dupRow = got.find(_._1 == 50L)
      assert(dupRow.nonEmpty,
        s"planted duplicate (vec 50) must be in the top-3, got ${got.toList}")
      assert(dupRow.get._2 == minAdc,
        s"duplicate must sit at the minimum ADC distance, got ${got.toList}")
    } finally CacheScope.releaseAll()
  }

  test("m = 1: the PQ codes are IVF's rn = 1 cells for the same k and iters") {
    try {
      val e = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
        .transform(CacheScope.persisted(_))
      val pqCodes = Pq.codesAndQtab(e,
        Pq.Params(m = 1, k = 8, iters = 2, topK = 3, nQueries = 10))._1
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val ivfCells = Ivf.probeRanked(e,
        Ivf.Params(k = 8, iters = 2, nprobe = 1, topK = 3, nQueries = 10))
        .filter(col("rn") === 1).select(col("vid"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(ivfCells.nonEmpty)
      assert(ivfCells.map(_._2).distinct.length > 1, "one cell proves nothing")
      assert(pqCodes.forall(_._2 == 0), "m = 1 has the single subspace 0")
      assert(pqCodes.map(c => (c._1, c._3)).toSet === ivfCells.toSet)
      assert(pqCodes.length === ivfCells.length)
    } finally CacheScope.releaseAll()
  }
}
