package graft

import java.nio.file.Files

/** Regression coverage for the ADVICE r10 degenerate-input findings: the
  * sf0.01 oracle corpus never exercises these shapes (no empty document,
  * no single-candidate MMR pool), so the hash gate alone would keep
  * passing while a real corpus crashed or silently dropped rows.
  */
class DegenerateInputSpec extends SparkSpec {

  test("text_char_entropy skips empty documents instead of erroring") {
    val dir = Files.createTempDirectory("graft-degen-docs").toString
    import spark.implicits._
    Seq((1L, "aab", "en", "t", 3L), (2L, "", "en", "t", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Pre-fix this threw (element_at(cs, 0) via sequence(1, 0)); the
    // oracle's generate_series(1, 0) simply elides the doc.
    val rows = SparkEntry.queries("text_char_entropy")(spark, dir).collect()
    CacheScope.releaseAll()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    val h = rows(0).getAs[Double]("entropy")
    // H("aab") = ln 3 − (2·ln 2)/3
    assert(math.abs(h - (math.log(3) - 2 * math.log(2) / 3)) < 1e-5, s"h=$h")
  }

  test("sim_mmr emits queries whose pool holds exactly one candidate") {
    val dir = Files.createTempDirectory("graft-degen-emb").toString
    import spark.implicits._
    Seq((0L, Array(1.0f, 0.0f), 0), (1L, Array(0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // Both vectors are query ids; each pool is only the other vector, so
    // the pairwise-sim relation is EMPTY — pre-fix both queries vanished.
    val rows = SparkEntry.queries("sim_mmr")(spark, dir).collect()
    CacheScope.releaseAll()
    assert(rows.length == 2, rows.mkString(", "))
    assert(rows.forall(_.getAs[Int]("mmr_rank") == 1))
    assert(rows.map(_.getAs[Long]("q_id")).sorted.toSeq == Seq(0L, 1L))
  }

  test("resolveReliableDir: explicit dir wins; local master ignores session dir") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-ckpt-resolve").toString
    assert(Fixpoint.resolveReliableDir(sc, Some(dir)).contains(dir))
    assert(sc.getCheckpointDir.isDefined, "explicit dir not installed")
    // A local master with no explicit argument stays on localCheckpoint
    // even though the session now carries a checkpoint dir — parallel
    // suites must not have their iteration state silently re-routed.
    assert(Fixpoint.resolveReliableDir(sc, None).isEmpty)
  }
}
