package graft

import org.apache.spark.sql.functions._

import graft.dedup.{DedupQueries, Shingles, SimHash}
import graft.sim.VecMath

/** Semantics of the dedup/similarity primitives on crafted inputs. */
class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  test("identical texts share minhash signatures; disjoint texts don't") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words appear in this sentence here"))
      .toDF("doc_id", "text")
    val sigs = Shingles.signatures(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("shingles: <3 tokens yields no rows; 3-gram hashes pin the layout") {
    // Independent scalar reimplementation of hash60 (first 15 md5 hex
    // chars, full 60-bit width — identity must NOT be reduced mod P) over
    // the expected space-joined 3-grams — pins both the shingle
    // construction and the 60-bit reduction.
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = Seq((1L, "only two"), (2L, "one two three four")).toDF("doc_id", "text")
    val sh = Shingles.docShingles(docs).as[(Long, Long)].collect().toSet
    assert(sh == Set((2L, h60("one two three")), (2L, h60("two three four"))))
  }

  test("simhash: identical docs get hamming 0, distinct docs differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    val sh = DedupQueries.simhashOf(docs).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("simhash matches a scalar reimplementation (64-bit, bit 63 included)") {
    // Independent per-doc computation from MessageDigest md5 bytes — pins
    // the nibble/bit layout and the sign-bit (lane 63) arithmetic.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def scalarSimhash(text: String): Long = {
      val lanes = new Array[Long](64)
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { tok =>
        val h = md5hex(tok)
        for (b <- 0 until 64) {
          val nib = Character.digit(h.charAt(b / 4), 16)
          val bit = (nib >> (3 - b % 4)) & 1
          lanes(b) += (if (bit == 1) 1 else -1)
        }
      }
      (0 until 64).map(b => if (lanes(b) >= 0) 1L << b else 0L).sum
    }
    val texts = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "omega psi chi phi omega"),
      (3L, "zz zzz zzzz zzzzz zzzzzz zzzzzzz"))
    val sh = DedupQueries.simhashOf(texts.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    texts.foreach { case (id, t) => assert(sh(id) == scalarSimhash(t), s"doc $id") }
    // At least one of these fingerprints should exercise the sign bit.
    assert(texts.exists { case (id, _) => sh(id) < 0 },
      s"no fingerprint with bit 63 set in $sh — weak test vectors")
  }

  test("cosine: self-similarity 1, orthogonal 0 (exact decimal path)") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = df.select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
      .select(col("vec_id"), col("qe"), VecMath.norm2Q(col("qe")).as("n2"))
    val cos = e.as("a").join(e.as("b"), col("a.vec_id") <= col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        VecMath.cosine(
          VecMath.dotQ(col("a.qe"), col("b.qe")),
          col("a.n2"), col("b.n2")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(cos((1L, 1L)) == 1.0)
    assert(cos((1L, 2L)) == 0.0)
    assert(cos((1L, 3L)) == 1.0) // scale-invariant
  }

  test("LSH recall: exact copies are ALWAYS candidates (jaccard 1), " +
    "near-copies surface, disjoint docs never pair") {
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val near = base.replace("today", "tonight") // most 3-gram shingles shared
    val docs = Seq(
      (1L, base),
      (2L, base), // exact copy: identical signatures -> all 4 bands collide
      (3L, near),
      (4L, "completely different words appear here with nothing shared at all ever"))
      .toDF("doc_id", "text")
    val got = DedupQueries.lshPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1.0,
      s"exact copy missed or jaccard != 1: $got")
    // identical docs MUST share all bands; the near pair shares some
    assert(got.keySet.intersect(Set((1L, 3L), (2L, 3L))).nonEmpty,
      s"near-duplicate never surfaced: $got")
    got.keys.foreach { case (a, b) =>
      assert(a != 4L && b != 4L, s"disjoint doc paired: $got")
    }
  }

  test("edit-distance near-dup: planted near-copy found with exact sim, " +
    "short-doc gate and blocking hold") {
    val near = "the quick brown fox jumps over the lazy dog"   // 43 chars
    val nearB = "the quick brown fox jumps over the lazy cat"  // lev 3
    val other = "completely unrelated text that shares nothing" // 45 chars, same bucket
    val long = "x" * 300                                        // gated out
    val dd = Seq(
      (1L, near, "en", "web", near.length.toLong),
      (2L, nearB, "en", "web", nearB.length.toLong),
      (3L, other, "en", "web", other.length.toLong),
      (4L, near, "en", "books", near.length.toLong), // other block: never paired
      (5L, long, "en", "web", long.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // run the registered builder over a planted frame via a temp view swap
    // is overkill — the query reads Tables.load, so re-derive the operator
    // body inline with the same expressions it uses.
    val got = {
      val base = dd.filter(col("n_chars") <= 256)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          floor(col("n_chars") / 32).as("len_bucket"), col("n_chars"))
      base.as("a").join(base.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.len_bucket") === col("b.len_bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.text"), col("b.text")).as("lev"))
        .as[(Long, Long, Int)].collect().toSet
    }
    assert(got.contains((1L, 2L, 3)), s"planted near-copy missed: $got")
    got.foreach { case (a, b, _) =>
      assert(a != 4L && b != 4L, s"cross-block pair leaked: $got")
      assert(a != 5L && b != 5L, s"long doc not gated: $got")
    }
  }

  test("cluster canonicalization: components collapse to min doc_id") {
    import graft.dedup.DedupClusters
    // components: {1,2,3} (chain), {4,5}, {6} isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val universe = (1L to 6L).toDF("doc_id")
    val got = DedupClusters.clusters(pairs, universe)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("clusters: long chain converges (pointer jumping) and reliable " +
    "checkpoint path agrees with localCheckpoint path") {
    import graft.dedup.DedupClusters
    // 40-node chain: worst case for plain propagation, O(log n) with
    // pointer jumping — must fully collapse within the default maxIters.
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val universe = (1L to 40L).toDF("doc_id")
    val local = DedupClusters.clusters(chain, universe)
      .as[(Long, Long)].collect().toMap
    assert(local.values.toSet == Set(1L), s"chain not collapsed: $local")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      val reliable = DedupClusters.clusters(chain, universe,
        checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
      assert(reliable == local)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("clusters: maxIters is a hard-fail guard, and the default budget " +
    "confirms a planted 200k-node chain exactly") {
    import graft.dedup.DedupClusters
    val n = 200000L
    val chain = spark.range(1L, n)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val universe = spark.range(1L, n + 1).select(col("id").as("doc_id"))
    // Bare fixpoint (seeding off): a 200k-diameter chain cannot reach a
    // confirmed fixpoint in 15 pointer-jumped iterations (reach ~2^15).
    // The old warn-only policy would have shipped partially propagated
    // labels as data here; the guard must throw instead.
    val ex = intercept[IllegalStateException] {
      DedupClusters.clusters(chain, universe, maxIters = 15, seedLocal = false)
    }
    assert(ex.getMessage.contains("confirmed fixpoint"))
    // Default budget + union-find seeding: the same chain collapses to
    // the exact single component, confirmed, no warning path taken.
    val got = DedupClusters.clusters(chain, universe)
    assert(got.count() == n)
    assert(got.filter(col("cluster_id") =!= 1L).count() == 0,
      "chain must collapse to min doc_id = 1")
  }

  test("clusters: temp edge dirs are deleted after the fixpoint, and " +
    "non-local masters without a checkpointDir are rejected") {
    import graft.dedup.DedupClusters
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def clusterDirs: Set[String] = {
      val s = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("graft-clusters-")).toSet
      } finally s.close()
    }
    val before = clusterDirs
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    DedupClusters.clusters(pairs, (1L to 4L).toDF("doc_id")).collect()
    assert(clusterDirs == before,
      s"leaked temp edge dirs: ${clusterDirs -- before}")
    // The guard is a pure function of (master, checkpointDir) — testable
    // without standing up a cluster.
    // local-cluster runs executors in separate JVMs, so it needs a
    // shared checkpoint dir just like a real cluster.
    for (master <- Seq("spark://host:7077", "local-cluster[2,2,1024]"))
      intercept[IllegalArgumentException] {
        Fixpoint.requireClusterSafe(master, None)
      }
    Fixpoint.requireClusterSafe("spark://host:7077", Some("/shared/ck"))
    Fixpoint.requireClusterSafe("local[32]", None)
  }

  test("approximate DF stays within the advertised error of exact") {
    val docs = Tables.load(spark, sfDir, "documents")
    val t = graft.tfidf.TfIdf.terms(docs)
    val exact = graft.tfidf.TfIdf.documentFrequency(t)
      .as[(String, Long)].collect().toMap
    val approx = graft.tfidf.TfIdf.documentFrequency(t, approx = true)
      .as[(String, Long)].collect().toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (term, d) =>
      val a = approx(term).toDouble
      assert(math.abs(a - d) / d < 0.2, s"df($term): exact=$d approx=$a")
    }
  }

  test("exact dedup groups identical texts under min doc_id") {
    val out = DedupQueries.queries("dedup_exact")(spark, sfDir)
    // testdata has no exact dups: every group is a singleton
    val bad = out.filter(col("n_copies") =!= 1).count()
    assert(bad == 0)
    assert(out.count() == Tables.load(spark, sfDir, "documents").count())
  }

  test("lsh eval: planted duplicate pair is truth AND candidate; " +
    "dup-free corpus takes the 0/0 -> 1.0 path") {
    def eval(docs: Seq[(Long, String)]) =
      try DedupQueries.lshEvalOf(docs.toDF("doc_id", "text")).collect().head
      finally CacheScope.releaseAll()
    // identical docs: J = 1 >= T, and identical signatures collide in
    // every band -> truth = cand = hit = that one pair.
    val r = eval(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words appear in this sentence here")))
    assert(r.getAs[Long]("n_docs") == 3)
    assert(r.getAs[Long]("n_truth") == 1 && r.getAs[Long]("n_hit") == 1)
    assert(r.getAs[Double]("recall") == 1.0)
    assert(r.getAs[Long]("n_cand") >= 1 &&
      r.getAs[Double]("precision") == BigDecimal(1.0 / r.getAs[Long]("n_cand"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // disjoint docs: no truth, no candidates -> both ratios report 1.0
    // (nothing to find, nothing wasted), not a 0/0 NaN.
    val r0 = eval(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "omega psi chi phi upsilon")))
    assert(r0.getAs[Long]("n_truth") == 0 && r0.getAs[Long]("n_cand") == 0)
    assert(r0.getAs[Double]("recall") == 1.0 &&
      r0.getAs[Double]("precision") == 1.0)
  }
}
