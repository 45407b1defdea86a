package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{CacheScope, QueryPack, Tables}

/** Similarity search over `embeddings.embedding` (BASELINE.json north star):
  *
  *   sim_knn_bruteforce — exact cosine top-k: broadcast the (small) query
  *       set against the full collection; the dot product is array-local
  *       (VecMath), so the physical plan is broadcast-join -> narrow map ->
  *       per-query top-k (window over q_id). At 100 TB this is the exact
  *       baseline: one scan, no wide shuffle except the final tiny top-k.
  *
  *   sim_ann_lsh — the scale path: an 8-bit sign-pattern (hyperplane LSH)
  *       bucket computed per vector; candidates are only same-bucket rows
  *       (expected 1/256 of the collection per query), then exact re-rank.
  *       On a cluster the bucket is the shuffle/bucketing key, turning ANN
  *       into an equi-join — the same join machinery as everything else.
  */
object SimilarityQueries extends QueryPack {

  import VecMath._

  private[sim] def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        quantize(col("embedding")).as("qe"))
      .select(col("vec_id"), col("label"), col("embedding"), col("qe"),
        norm2Q(col("qe")).as("norm2"))

  private val TopK = 5
  private val NQueries = 10 // vec_id < 10 are the query vectors

  /** MMR dials: exact-cosine candidate pool size and picks per query. */
  val MmrPool = 10
  val MmrK = 5

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Embedding covariance matrix (upper triangle) — the whitening / PCA
    // precursor every embedding-hygiene pass needs (anisotropy detection,
    // decorrelated cosine). Scale shape: ONE narrow map emits each row's
    // d(d+1)/2 quantized products (nested transform + flatten, no
    // posexplode self-join), and partial aggregation collapses every map
    // task to <= 2080 (i, j) groups before the only shuffle; the per-dim
    // first moments are a 64-row broadcast. Determinism is the VecMath
    // contract: int64 quantized products sum exactly (|q| <= 578 here,
    // so ~1e9 vectors stay under 2^63), and the only float math is the
    // final identical-operand-order covariance division, rounded to 9.
    "sim_embed_covariance" -> ((s, d) => {
      // Two scans KEPT after a three-way r16 A/B (all isolated n=5,
      // sf0.1 min): (a) this shape 2.26 s; (b) Pca-style fused sentinel
      // generator (moments ride the product explode) 3.10 s — concat
      // re-copies the 2080-struct array per row and the fused agg needs
      // its own pin job; (c) pin the quantized arrays, both passes read
      // the cache (1 parquet scan) 2.90 s — materializing the n×64-long
      // array cache costs more than the second cheap columnar scan.
      // Parquet re-reads of a pruned column are nearly free at any SF
      // (guide §6); the wide-array cache is not.
      val q = Tables.load(s, d, "embeddings")
        .select(quantize(col("embedding")).as("q"))
      val pairs = q
        .select(explode(flatten(transform(col("q"), (xi, i) =>
          transform(slice(col("q"), i + 1, size(col("q")) - i), (xj, jj) =>
            struct(i.as("i"), (i + jj).as("j"), (xi * xj).as("p"))))))
          .as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      val s2 = pairs.groupBy(col("i"), col("j"))
        .agg(sum(col("p")).as("sp"), count(lit(1)).as("n"))
      val m1 = q.select(posexplode(col("q")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(sum(col("x")).as("s1"))
        .transform(graft.CacheScope.persisted(_))
      // cov·1e9 as EXACT integer arithmetic: cov = (sp·n − s1a·s1b) /
      // (1e6·n²), so round(cov, 9) = sign·((2·|num|·1000 + n²) div
      // (2·n²)) — round-half-away with no float anywhere, because the
      // float form flaked at sf0.1: the (3,3) cell's true value sits
      // exactly on a .5e-9 boundary and the two engines' round()
      // implementations (BigDecimal HALF_UP of the double's exact
      // expansion vs multiply-round-divide) disagree there. Division is
      // kept on POSITIVE operands (Spark div truncates toward zero,
      // DuckDB // floors — they only agree above zero).
      s2.join(broadcast(m1.select(col("i").as("ia"), col("s1").as("s1a"))),
          col("i") === col("ia"))
        .join(broadcast(m1.select(col("i").as("ib"), col("s1").as("s1b"))),
          col("j") === col("ib"))
        .withColumn("num", expr(
          """CAST(CAST(sp AS DECIMAL(22,0)) * CAST(n AS DECIMAL(10,0)) AS DECIMAL(33,0)) -
            |CAST(CAST(s1a AS DECIMAL(14,0)) * CAST(s1b AS DECIMAL(14,0)) AS DECIMAL(33,0))"""
            .stripMargin))
        .withColumn("n2", expr(
          "CAST(CAST(n AS DECIMAL(10,0)) * CAST(n AS DECIMAL(10,0)) AS DECIMAL(20,0))"))
        .withColumn("r9", expr(
          """CASE WHEN num >= 0
            |     THEN CAST((CAST(abs(num) AS DECIMAL(30,0)) * 2000 + n2) div (2 * n2) AS BIGINT)
            |     ELSE -CAST((CAST(abs(num) AS DECIMAL(30,0)) * 2000 + n2) div (2 * n2) AS BIGINT) END"""
            .stripMargin))
        .select(col("i"), col("j"), col("n"),
          (col("r9").cast("double") / lit(1000000000.0)).as("cov"))
    }),

    "sim_knn_bruteforce" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
          col("norm2").as("q_norm2"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(cosine(dotQ(col("q_qe"), col("qe")),
            col("q_norm2"), col("norm2")), 4).as("cos"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
    }),

    // Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998)
    // — the diversity pass a retrieval pipeline runs AFTER top-k so the
    // result set isn't five near-copies of the best hit: greedily pick
    // argmax λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s) from the
    // exact-cosine top-[[MmrPool]] pool. Everything that orders a pick
    // is an exact int64: cosines are pinned once to 1e-4 grains
    // (round(cos·10⁴) — the knn rounding, as an integer), λ=0.7 scales
    // to 7/3, so scores are integers and no float can flip a selection;
    // n_id breaks exact ties. The greedy chain is the LTTB lesson
    // applied: ONE array fold per query over the broadcast-sized pool
    // (pairwise sims ride a pool×pool join — MmrPool² rows per query,
    // corpus-independent), never unrolled DataFrame rounds. Oracle =
    // unrolled window-argmax rounds with correlated max-sim subqueries
    // (independent machinery, identical integers).
    "sim_mmr" -> ((s, d) => {
      val e = emb(s, d).transform(graft.CacheScope.persisted(_))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
          col("norm2").as("q_norm2"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(cosine(dotQ(col("q_qe"), col("qe")),
            col("q_norm2"), col("norm2")) * 10000, 0).cast("long").as("rel"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("rel").desc, col("n_id").asc)
      val pool = scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= MmrPool)
        .transform(graft.CacheScope.persisted(_))
      val pv = pool.join(e.select(col("vec_id"), col("qe"), col("norm2")),
          col("n_id") === col("vec_id"))
        .select(col("q_id"), col("n_id"), col("rel"), col("qe"), col("norm2"))
      val pb = pv.select(col("q_id").as("q2"), col("n_id").as("m_id"),
        col("qe").as("qe2"), col("norm2").as("n2b"))
      val psim = pv.join(broadcast(pb),
          col("q_id") === col("q2") && col("n_id") =!= col("m_id"))
        .select(col("q_id"), col("n_id"), col("rel"), col("m_id"),
          round(cosine(dotQ(col("qe"), col("qe2")), col("norm2"), col("n2b")) *
            10000, 0).cast("long").as("sim"))
      // Candidates come from the POOL, not psim: a query whose pool holds
      // exactly one candidate has no pairwise rows at all, so deriving
      // cands from psim alone would silently drop that query while the
      // oracle still emits it (ADVICE r10). The pairwise-sim map
      // left-joins in, defaulting to empty.
      val smaps = psim.groupBy(col("q_id"), col("n_id"))
        .agg(map_from_entries(collect_list(struct(col("m_id"), col("sim"))))
          .as("smap"))
      val cands = pool.join(smaps, Seq("q_id", "n_id"), "left")
        .withColumn("smap",
          coalesce(col("smap"), expr("CAST(map() AS MAP<BIGINT, BIGINT>)")))
        .groupBy(col("q_id"))
        .agg(collect_list(struct(col("n_id"), col("rel"), col("smap"))).as("cands"))
      val folded = cands.withColumn("out", expr(s"""
        |aggregate(sequence(1, $MmrK),
        |  named_struct('sel', CAST(array() AS ARRAY<BIGINT>),
        |    'out', CAST(array() AS ARRAY<STRUCT<rnk: INT, n_id: BIGINT, sc: BIGINT>>)),
        |  (acc, r) -> element_at(transform(array(
        |    aggregate(cands,
        |      named_struct('sc', CAST(-9000000000000000000 AS BIGINT),
        |                   'n_id', CAST(-1 AS BIGINT)),
        |      (ba, c) -> CASE WHEN array_contains(acc.sel, c.n_id) THEN ba
        |        ELSE element_at(transform(array(
        |          CASE WHEN size(acc.sel) = 0 THEN 7 * c.rel
        |               ELSE 7 * c.rel - 3 * aggregate(acc.sel,
        |                      CAST(-20000 AS BIGINT),
        |                      (m, sid) -> greatest(m, element_at(c.smap, sid)))
        |          END),
        |          sc -> CASE WHEN sc > ba.sc OR (sc = ba.sc AND c.n_id < ba.n_id)
        |                     THEN named_struct('sc', sc, 'n_id', c.n_id)
        |                     ELSE ba END), 1)
        |      END)),
        |    best -> CASE WHEN best.n_id = -1 THEN acc ELSE named_struct(
        |      'sel', concat(acc.sel, array(best.n_id)),
        |      'out', concat(acc.out, array(named_struct(
        |        'rnk', CAST(r AS INT), 'n_id', best.n_id, 'sc', best.sc)))) END), 1),
        |  acc -> acc.out)""".stripMargin))
      folded.select(col("q_id"), explode(col("out")).as("o"))
        .select(col("q_id"), col("o.rnk").as("mmr_rank"),
          col("o.n_id").as("n_id"),
          round(col("o.sc").cast("double") / 100000.0, 5).as("mmr_score"))
    }),

    "sim_ann_lsh" -> ((s, d) => {
      val e = emb(s, d).withColumn("bucket", signBucket(col("embedding")))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
          col("norm2").as("q_norm2"), col("bucket").as("q_bucket"))
      val scored = e
        .join(broadcast(q),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(cosine(dotQ(col("q_qe"), col("qe")),
            col("q_norm2"), col("norm2")), 4).as("cos"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    }),

    // Multi-probe LSH (Lv et al. 2007): the recall dial that does NOT
    // spend memory — each query probes its home bucket plus all 8
    // hamming-1 neighbor buckets (flip one sign bit), a 9x candidate
    // widening at the SAME index layout as sim_ann_lsh. The probe list is
    // a 9-element array exploded on the (tiny, broadcast) query side, so
    // the candidate fetch stays a bucket equi-join and the collection is
    // still touched exactly once; buckets partition the space, so a
    // candidate matches at most one probe and no pair-dedup is needed.
    // WaveElevenSpec asserts the candidate set strictly contains
    // sim_ann_lsh's and that measured recall does not decrease.
    "sim_ann_multiprobe" -> ((s, d) => {
      val e = emb(s, d).withColumn("bucket", signBucket(col("embedding")))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"),
          col("norm2").as("q_norm2"), col("bucket").as("q_bucket"))
      val probes = q.withColumn("probe",
        explode(array(col("q_bucket") +:
          (0 until 8).map(i => col("q_bucket").bitwiseXOR(lit(1 << i))): _*)))
      val scored = e
        .join(broadcast(probes),
          col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(cosine(dotQ(col("q_qe"), col("qe")),
            col("q_norm2"), col("norm2")), 4).as("cos"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    }),

    // Scalar-quantization (SQ8) compressed search — the third compression
    // point next to PQ (sim_pq_adc) and raw floats: each dimension maps to
    // one byte against GLOBAL per-dim [min, max] ranges, a 4x bandwidth
    // cut with no codebook training. The dims table is a single-row
    // 64-entry array built by one bounded aggregation and broadcast into
    // a narrow zip_with encode pass; search ranks by exact integer
    // squared code distance |a|^2 + |b|^2 - 2a.b through the codegen DotQ
    // kernel (never an interpreted fold), so the scan is one narrow map
    // over 64-byte codes + the tiny top-k. Determinism: codes come from
    // floor() on identical double expressions; distances are exact int64.
    "sim_ann_sq8" -> ((s, d) => {
      val raw = Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("x"))
        .transform(CacheScope.persisted(_))
      val dims = raw.select(posexplode(col("x")).as(Seq("i", "v")))
        .groupBy("i").agg(min("v").as("mn"), max("v").as("mx"))
        .agg(sort_array(collect_list(struct(col("i"), col("mn"), col("mx"))))
          .as("dims"))
      val coded = raw.crossJoin(broadcast(dims))
        .select(col("vec_id"), expr(
          """zip_with(x, dims, (xi, dm) ->
            |  CASE WHEN dm.mx = dm.mn THEN CAST(0 AS BIGINT)
            |       ELSE CAST(least(greatest(
            |              floor((xi - dm.mn) * 255.0 / (dm.mx - dm.mn)),
            |              0.0), 255.0) AS BIGINT) END)""".stripMargin)
          .as("code"))
        .withColumn("cn", graft.functions.DotQ(col("code"), col("code")))
        .transform(CacheScope.persisted(_))
      val q = coded.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("code").as("q_code"),
          col("cn").as("q_cn"))
      val scored = coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (col("q_cn") + col("cn") -
            lit(2L) * graft.functions.DotQ(col("q_code"), col("code")))
            .as("qdist"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("qdist").asc, col("n_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("q_id"), col("n_id"), col("qdist"), col("rnk"))
    }),

    // IVF (inverted-file) ANN — the parameterized train/assign/probe
    // operator ([[Ivf]]): deterministic hash-picked seeds (k independent
    // of any label), real Lloyd iterations with exact integer means,
    // nprobe-cell probe + exact cosine re-rank. The oracle SQL below is
    // generated from the SAME Params by Ivf.oracleCtes, so DuckDB
    // reproduces every Lloyd assignment bit-for-bit.
    "sim_ann_ivf" -> ((s, d) => Ivf.ann(emb(s, d), IvfParams)),

    // Product-quantization ADC search (see [[Pq]]): database vectors are
    // reduced to M=8 sub-codes; queries rank candidates from a
    // (m, cell) lookup-table join, never touching raw database vectors.
    "sim_pq_adc" -> ((s, d) => Pq.adcTopK(emb(s, d), PqParams)),

    // The composed IVFADC index ([[IvfPq]]): IVF routes each query to
    // nprobe cells, PQ codes ADC-rank the routed candidates, and only the
    // shortlist reaches the exact re-rank — the production 100 TB layout
    // both halves document. Same output schema as the other ANN methods,
    // so the recall harness folds it in unchanged. The two trained
    // relations (coarse routing, PQ distance table) come through
    // LabelsMemo (VERDICT r12 #5): at 100 TB trained codebooks are
    // managed artifacts the serving index reads, never retrained per
    // consumer — and the honest training costs stay benched on
    // sim_ann_ivf / sim_pq_adc, which train WITHOUT the memo.
    "sim_ivfpq" -> ((s, d) => IvfPq.ann(emb(s, d), IvfPqParams,
      (key, f) => graft.LabelsMemo.getOrCompute(s"$key:$d", s)(f()))),

    // Grid-blocked DBSCAN over the (dim0, dim1) embedding plane
    // ([[Dbscan]]): density clusters + deterministic border assignment,
    // noise dropped — the arbitrary-shape counterpart of the centroid
    // methods, with the eps-join expressed as a 3x3 cell equi-join.
    "sim_dbscan" -> ((s, d) => Dbscan.cluster(emb(s, d), Dbscan.Default)),

    // Standalone k-means readout of the SAME hash-seeded exact-integer
    // Lloyd trainer IVF routes with ([[Lloyd]]): per-cluster
    // size, inertia, and mean squared distance — the clustering-quality
    // gauge (elbow readout) a corpus-partitioning or IVF-dial decision
    // reads. Per-vector squared distances are norm2 + dd/1e6 (exact
    // norm, rank-distance from the trainer), round(,6)-pinned and summed
    // as DECIMAL so the inertia can't wobble with partition order.
    "sim_kmeans" -> ((s, d) => {
      // Trained-artifact memo (r16, the sim_ivfpq/sim_ann_recall
      // discipline): this is a quality READOUT of the same trained Lloyd
      // clustering sim_ann_ivf benches honestly end to end — at 100 TB
      // the cell assignment is a managed table the elbow gauge reads,
      // never a training job it repeats. Memo-cold mode keeps the
      // standalone (train-inline) cost measurable.
      val r1 = ivfRanked(s, d).filter(col("rn") === 1)
      val sq = r1.join(emb(s, d).select(col("vec_id").as("vid"), col("norm2")),
          "vid")
        .select(col("cell"),
          round(col("norm2") + col("dd") / lit(1000000.0), 6)
            .cast(DecimalType(24, 6)).as("sq"))
      sq.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"), sum(col("sq")).as("ssq"))
        .select(col("cell").as("cluster_id"), col("n_members"),
          round(col("ssq").cast("double"), 6).as("inertia"),
          round(col("ssq").cast("double") / col("n_members").cast("double"), 6)
            .as("mean_sqdist"))
    }),

    // Simplified silhouette of the SAME Lloyd clustering: per point,
    // a = distance to own centroid, b = distance to the nearest OTHER
    // centroid, s = (b-a)/max(a,b) — the standard O(n·k) silhouette
    // surrogate (the exact silhouette's all-pairs a/b is quadratic and
    // adds nothing at this granularity). Both distances fall out of the
    // trainer's ranked probe relation (rn 1 and 2), so the score costs
    // one extra window rank — no new shuffle over the corpus. Squared
    // distances are clamped at 0 before sqrt (float cancellation on a
    // point sitting on its centroid can dip ~-1e-16); per-point scores
    // are round(,6)-pinned and DECIMAL-summed per cluster.
    "sim_silhouette" -> ((s, d) => {
      // Same trained-artifact memo as sim_kmeans (r16): silhouette is the
      // quality audit of the SAME trained clustering; it reads the ranked
      // assignment, it does not retrain it.
      val r12 = ivfRanked(s, d).filter(col("rn") <= 2)
        .join(emb(s, d).select(col("vec_id").as("vid"), col("norm2")), "vid")
        .select(col("vid"), col("cell"), col("rn"),
          greatest(col("norm2") + col("dd") / lit(1000000.0), lit(0.0)).as("d2"))
      // both ranks fold in ONE per-vid aggregation (an own/next
      // self-join re-shuffles the corpus for nothing — measured 4.2 s
      // -> 2.6 s at sf0.1)
      r12.groupBy(col("vid"))
        .agg(max(when(col("rn") === 1,
            struct(col("cell"), col("d2")))).as("own"),
          max(when(col("rn") === 2, col("d2"))).as("b2"))
        .filter(col("b2").isNotNull)
        .select(col("own.cell").as("cell"), col("own.d2").as("a2"), col("b2"))
        .select(col("cell"),
          round((sqrt(col("b2")) - sqrt(col("a2"))) /
            greatest(sqrt(col("a2")), sqrt(col("b2"))), 6)
            .cast(DecimalType(18, 6)).as("sil"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"), sum(col("sil")).as("ssil"))
        .select(col("cell").as("cluster_id"), col("n_members"),
          round(col("ssil").cast("double") / col("n_members").cast("double"), 6)
            .as("mean_silhouette"))
    }),

    // Johnson-Lindenstrauss random projection to RpDims sign-hash
    // dimensions ([[rpProject]]) — the data-independent counterpart of
    // sim_pca_power for cheap distance-preserving dimensionality
    // reduction (sketching before clustering, bandwidth reduction before
    // a cross-cluster shuffle). The +/-1 matrix entries derive from
    // md5(i_k) parity, so both engines build the identical matrix and
    // the int64 projection sums are exact.
    "sim_rp_project" -> ((s, d) =>
      rpProject(s, Tables.load(s, d, "embeddings"))),

    // Top-principal-component projection by exact-integer power iteration
    // over the scatter matrix ([[Pca]]) — the step AFTER the covariance
    // query: an actual eigenvector estimate and every vector's coordinate
    // along it, for whitening / anisotropy correction / curriculum
    // ordering by the dominant semantic axis.
    "sim_pca_power" -> ((s, d) => Pca.project(Tables.load(s, d, "embeddings"))),

    // Recall@3 of every ANN method against the exact top-3 — the eval
    // loop an ANN rollout needs before trusting approximate retrieval.
    // Reuses the registered builders verbatim: exact truth is 30 (q, n)
    // pairs, each method intersects via a left-semi join on (q_id, n_id),
    // and the scalar counts cross-join as broadcast 1-row aggregates.
    // Both sides of the comparison are deterministic, so even this recall
    // TABLE hash-matches DuckDB's replay of all four pipelines.
    //
    // The five method relations come through [[graft.LabelsMemo]] — the
    // dedup_split_safe discipline: each method is ALREADY a registered
    // query whose benched cost is the honest full-pipeline cost, so the
    // eval consumes the materialized result instead of replaying four
    // trainings end-to-end (~13 s of pure recompute at sf0.1). At 100 TB
    // the retrieval results an eval audits are managed tables written by
    // the serving jobs, never re-derived inside the eval.
    "sim_ann_recall" -> ((s, d) => {
      def memoized(name: String): DataFrame =
        graft.LabelsMemo.getOrCompute(s"sim_res:$name:$d", s)(
          queries(name)(s, d))
      val exact = memoized("sim_knn_bruteforce")
        .filter(col("rnk") <= 3).select(col("q_id"), col("n_id"))
        .transform(graft.CacheScope.persisted(_))
      def recallOf(name: String, res: DataFrame): DataFrame = {
        val hits = exact.join(res.select(col("q_id"), col("n_id")),
          Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(broadcast(hits))
          .select(lit(name).as("method"), col("n_exact"), col("n_hits"),
            round(col("n_hits").cast("double") /
              col("n_exact").cast("double"), 6).as("recall"))
      }
      recallOf("ann_lsh", memoized("sim_ann_lsh"))
        .unionByName(recallOf("ann_ivf", memoized("sim_ann_ivf")))
        .unionByName(recallOf("pq_adc", memoized("sim_pq_adc")))
        .unionByName(recallOf("ivfpq", memoized("sim_ivfpq")))
        .unionByName(recallOf("multiprobe", memoized("sim_ann_multiprobe")))
        .unionByName(recallOf("sq8", memoized("sim_ann_sq8")))
        .orderBy("method")
    }),

  )

  /** Output dimensionality of the JL random projection. */
  val RpDims = 16

  /** Sign-matrix random projection of the quantized embeddings: y[k] =
    * Σ_j sgn(j,k)·q[j] with sgn = ±1 from the parity of md5's first hex
    * digit over "j_k" — a deterministic, engine-agnostic stand-in for a
    * seeded Rademacher matrix. The projection relation is d×RpDims rows
    * (broadcast), the pass over vectors is one narrow join + partial-agg
    * shuffle on (vec_id, k), and every sum is exact int64 — hashable
    * output with no float anywhere. Public so specs can feed planted
    * vectors.
    */
  def rpProject(s: SparkSession, emb0: DataFrame): DataFrame = {
    val q = emb0.select(col("vec_id"), VecMath.quantize(col("embedding")).as("qe"))
    // persisted: ex feeds the dimension enumeration AND the projection
    // join — without the pin the quantize+posexplode corpus scan runs
    // twice.
    val ex = graft.CacheScope.persisted(
      q.select(col("vec_id"), posexplode(col("qe")).as(Seq("i", "qx"))))
    val dims = ex.select(col("i")).distinct()
    val ks = s.range(RpDims).select(col("id").as("k"))
    val sgn = when(
      expr("substr(md5(concat(cast(i as string), '_', cast(k as string))), 1, 1)")
        .isin("1", "3", "5", "7", "9", "b", "d", "f"), lit(1L))
      .otherwise(lit(-1L))
    // broadcast keeps the tiny dims×RpDims build out of CartesianProduct
    val r = dims.crossJoin(broadcast(ks)).select(col("i"), col("k"), sgn.as("sgn"))
    ex.join(broadcast(r), Seq("i"))
      .groupBy("vec_id", "k")
      .agg(sum(col("qx") * col("sgn")).as("y"))
  }

  private val rpOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS qx
       |  FROM embeddings
       |), r AS (
       |  SELECT d.i, kk.k,
       |         CASE WHEN substr(md5(CAST(d.i - 1 AS VARCHAR) || '_' || CAST(kk.k AS VARCHAR)), 1, 1)
       |              IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT DISTINCT i FROM e) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${RpDims - 1})) AS k) kk
       |)
       |SELECT e.vec_id, r.k, CAST(sum(e.qx * r.sgn) AS BIGINT) AS y
       |FROM e JOIN r ON r.i = e.i
       |GROUP BY 1, 2""".stripMargin

  /** Composed-index dials: the IVF and PQ dials above with a probe wide
    * enough to matter (nprobe=3 of k=8 cells) and a 10-candidate exact
    * re-rank shortlist.
    */
  private val IvfPqParams = IvfPq.Params(
    ivf = Ivf.Params(k = 8, iters = 2, nprobe = 3, topK = 3,
      nQueries = NQueries),
    pq = Pq.Params(m = 8, k = 16, iters = 1, topK = 3, nQueries = NQueries),
    shortlist = 10,
    topK = 3)

  /** Dials for the oracled query: k=8 cells (the label column has 3
    * values — k is independent of it), two full Lloyd steps, 2-cell probe.
    */
  private val IvfParams = Ivf.Params(
    k = 8, iters = 2, nprobe = 2, topK = 3, nQueries = NQueries)

  /** The trained coarse quantizer's ranked probe relation (vid, cell, rn,
    * dd) for [[IvfParams]], through [[graft.LabelsMemo]] — the trained-
    * artifact discipline (VERDICT r12 #5): sim_kmeans / sim_silhouette are
    * quality READOUTS of the same trained Lloyd clustering, and at 100 TB
    * the assignment is a managed table an audit reads, never a training
    * job it repeats. The honest end-to-end training cost stays benched on
    * sim_ann_ivf, which trains WITHOUT the memo; memo-cold bench mode
    * re-pays this thunk per repetition.
    */
  private def ivfRanked(s: SparkSession, d: String): DataFrame =
    graft.LabelsMemo.getOrCompute(s"ivf_ranked:$d", s)(Ivf.probeRanked(
      CacheScope.persisted(emb(s, d).select(col("vec_id"), col("qe"), col("norm2"))),
      IvfParams))

  /** PQ dials: 8 subspaces x 16 centroids over the 64-dim embeddings
    * (8 dims per sub-quantizer, a 32-bit code), one Lloyd step per
    * subspace.
    */
  private val PqParams = Pq.Params(
    m = 8, k = 16, iters = 1, topK = 3, nQueries = NQueries)

  /** Shared oracle CTEs: integer-quantized elements + norms (exact sums).
    * `private[graft]`: dedup.SemanticDedupQueries' semdedup oracles compose
    * the same quantized-element relation with Ivf.oracleCtes.
    */
  private[graft] val eCte: String =
    """WITH e AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0) AS BIGINT) AS qx
      |  FROM embeddings
      |), norms AS (
      |  SELECT vec_id, CAST(sum(qx * qx) AS DOUBLE) / 1000000.0 AS norm2
      |  FROM e GROUP BY vec_id
      |)""".stripMargin

  /** One unrolled MMR round r >= 2 (reads ss{r-1}, defines sel{r}/ss{r}). */
  private def mmrRoundCte(r: Int): String =
    s"""c$r AS (
       |  SELECT c.q_id, c.n_id,
       |         7 * c.rel - 3 * (SELECT max(p.sim) FROM psim p
       |                          WHERE p.q_id = c.q_id AND p.a = c.n_id
       |                            AND p.b IN (SELECT s.n_id FROM ss${r - 1} s
       |                                        WHERE s.q_id = c.q_id)) AS sc
       |  FROM pool c
       |  WHERE NOT EXISTS (SELECT 1 FROM ss${r - 1} s
       |                    WHERE s.q_id = c.q_id AND s.n_id = c.n_id)
       |), sel$r AS (
       |  SELECT q_id, n_id, sc, $r AS rnk FROM (
       |    SELECT q_id, n_id, sc, row_number() OVER (PARTITION BY q_id
       |      ORDER BY sc DESC, n_id ASC) AS rn
       |    FROM c$r) WHERE rn = 1
       |), ss$r AS (SELECT q_id, n_id FROM ss${r - 1}
       |            UNION ALL SELECT q_id, n_id FROM sel$r)""".stripMargin

  private lazy val mmrOracle: String =
    s"""$eCte, dots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         CAST(sum(q.qx * c.qx) AS DOUBLE) / 1000000.0 AS dot
       |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < $NQueries
       |                   AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), scoredm AS (
       |  SELECT d.q_id, d.n_id,
       |         CAST(round(d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2)) * 10000, 0)
       |              AS BIGINT) AS rel
       |  FROM dots d
       |  JOIN norms nq ON nq.vec_id = d.q_id
       |  JOIN norms nc ON nc.vec_id = d.n_id
       |), pool AS (
       |  SELECT q_id, n_id, rel FROM (
       |    SELECT q_id, n_id, rel, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, n_id ASC) AS rn
       |    FROM scoredm) WHERE rn <= $MmrPool
       |), psim AS (
       |  SELECT pa.q_id, pa.n_id AS a, pb.n_id AS b,
       |         CAST(round((CAST(sum(ea.qx * eb.qx) AS DOUBLE) / 1000000.0) /
       |              (sqrt(any_value(na.norm2)) * sqrt(any_value(nb.norm2))) *
       |              10000, 0) AS BIGINT) AS sim
       |  FROM pool pa
       |  JOIN pool pb ON pb.q_id = pa.q_id AND pb.n_id <> pa.n_id
       |  JOIN e ea ON ea.vec_id = pa.n_id
       |  JOIN e eb ON eb.vec_id = pb.n_id AND eb.i = ea.i
       |  JOIN norms na ON na.vec_id = pa.n_id
       |  JOIN norms nb ON nb.vec_id = pb.n_id
       |  GROUP BY pa.q_id, pa.n_id, pb.n_id
       |), c1 AS (
       |  SELECT q_id, n_id, 7 * rel AS sc FROM pool
       |), sel1 AS (
       |  SELECT q_id, n_id, sc, 1 AS rnk FROM (
       |    SELECT q_id, n_id, sc, row_number() OVER (PARTITION BY q_id
       |      ORDER BY sc DESC, n_id ASC) AS rn
       |    FROM c1) WHERE rn = 1
       |), ss1 AS (SELECT q_id, n_id FROM sel1),
       |${(2 to MmrK).map(mmrRoundCte).mkString(",\n")}
       |SELECT q_id, rnk AS mmr_rank, n_id,
       |       round(CAST(sc AS DOUBLE) / 100000.0, 5) AS mmr_score
       |FROM (
       |  ${(1 to MmrK).map(r => s"SELECT * FROM sel$r").mkString("\n  UNION ALL ")}
       |)""".stripMargin

  private lazy val knnOracle: String =
    s"""$eCte, dots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         CAST(sum(q.qx * c.qx) AS DOUBLE) / 1000000.0 AS dot
       |  FROM e q JOIN e c ON q.i = c.i AND q.vec_id < $NQueries
       |                   AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.q_id, d.n_id,
       |         round(d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2)), 4) AS cos
       |  FROM dots d
       |  JOIN norms nq ON nq.vec_id = d.q_id
       |  JOIN norms nc ON nc.vec_id = d.n_id
       |)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, n_id ASC) AS rnk
       |  FROM scored
       |) WHERE rnk <= $TopK""".stripMargin

  private lazy val lshOracle: String =
    s"""$eCte, bkt AS (
       |  SELECT vec_id, ${VecMath.signBucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), dots AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         CAST(sum(q.qx * c.qx) AS DOUBLE) / 1000000.0 AS dot
       |  FROM e q
       |  JOIN bkt bq ON bq.vec_id = q.vec_id
       |  JOIN bkt bc ON bc.bucket = bq.bucket
       |  JOIN e c ON c.vec_id = bc.vec_id AND c.i = q.i
       |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.q_id, d.n_id,
       |         round(d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2)), 4) AS cos
       |  FROM dots d
       |  JOIN norms nq ON nq.vec_id = d.q_id
       |  JOIN norms nc ON nc.vec_id = d.n_id
       |)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, n_id ASC) AS rnk
       |  FROM scored
       |) WHERE rnk <= 3""".stripMargin

  /** Multi-probe twin: probes = home bucket + 8 one-bit flips, expressed
    * with engine-portable add/subtract (no xor builtin): flipping bit p is
    * -p when set, +p when clear.
    */
  private lazy val multiprobeOracle: String =
    s"""$eCte, bkt AS (
       |  SELECT vec_id, ${VecMath.signBucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), probes AS (
       |  SELECT vec_id AS q_id, bucket AS probe FROM bkt WHERE vec_id < $NQueries
       |  UNION ALL
       |  SELECT b.vec_id,
       |         CASE WHEN (b.bucket // v.p) % 2 = 1 THEN b.bucket - v.p
       |              ELSE b.bucket + v.p END
       |  FROM bkt b, (VALUES (1),(2),(4),(8),(16),(32),(64),(128)) v(p)
       |  WHERE b.vec_id < $NQueries
       |), dots AS (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |         CAST(sum(q.qx * c.qx) AS DOUBLE) / 1000000.0 AS dot
       |  FROM probes p
       |  JOIN bkt bc ON bc.bucket = p.probe
       |  JOIN e c ON c.vec_id = bc.vec_id
       |  JOIN e q ON q.vec_id = p.q_id AND q.i = c.i
       |  WHERE c.vec_id <> p.q_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.q_id, d.n_id,
       |         round(d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2)), 4) AS cos
       |  FROM dots d
       |  JOIN norms nq ON nq.vec_id = d.q_id
       |  JOIN norms nc ON nc.vec_id = d.n_id
       |)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, n_id ASC) AS rnk
       |  FROM scored
       |) WHERE rnk <= 3""".stripMargin

  private lazy val sq8Oracle: String =
    s"""WITH raw AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings
       |), dims AS (
       |  SELECT i, min(v) AS mn, max(v) AS mx FROM raw GROUP BY i
       |), codes AS (
       |  SELECT r.vec_id, r.i,
       |         CASE WHEN d.mx = d.mn THEN CAST(0 AS BIGINT)
       |              ELSE CAST(least(greatest(
       |                     floor((r.v - d.mn) * 255.0 / (d.mx - d.mn)),
       |                     0.0), 255.0) AS BIGINT) END AS c
       |  FROM raw r JOIN dims d ON d.i = r.i
       |), dist AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         CAST(sum((q.c - c.c) * (q.c - c.c)) AS BIGINT) AS qdist
       |  FROM codes q
       |  JOIN codes c ON c.i = q.i AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1, 2
       |)
       |SELECT q_id, n_id, qdist, rnk FROM (
       |  SELECT q_id, n_id, qdist,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY qdist ASC, n_id ASC) AS rnk
       |  FROM dist
       |) WHERE rnk <= $TopK""".stripMargin

  private lazy val ivfOracle: String =
    s"""$eCte${Ivf.oracleCtes(IvfParams)}
       |SELECT q_id, n_id, cos, rnk FROM ivf_topk""".stripMargin

  /** k-means twin: the same unrolled Lloyd CTEs; the assigned distance is
    * re-read from the final dist relation at the assignment's (vid, cell).
    */
  private lazy val kmeansOracle: String =
    s"""$eCte${Ivf.oracleCtes(IvfParams)},
       |ad AS (
       |  SELECT d.vid, d.cell, d.dd
       |  FROM dist${IvfParams.iters} d
       |  JOIN cellall a ON a.vid = d.vid AND a.cell = d.cell
       |)
       |SELECT ad.cell AS cluster_id, count(*) AS n_members,
       |       round(CAST(sum(CAST(round(n.norm2 + ad.dd / 1000000.0, 6)
       |                          AS DECIMAL(24,6))) AS DOUBLE), 6) AS inertia,
       |       round(CAST(sum(CAST(round(n.norm2 + ad.dd / 1000000.0, 6)
       |                          AS DECIMAL(24,6))) AS DOUBLE) /
       |             CAST(count(*) AS DOUBLE), 6) AS mean_sqdist
       |FROM ad JOIN norms n ON n.vec_id = ad.vid
       |GROUP BY ad.cell""".stripMargin

  private lazy val pqOracle: String =
    s"""$eCte${Pq.oracleCtes(PqParams)}
       |SELECT q_id, n_id, adc, rnk FROM pq_topk""".stripMargin

  private lazy val ivfpqOracle: String =
    s"""$eCte${IvfPq.oracleCtes(IvfPqParams)}
       |SELECT q_id, n_id, cos, rnk FROM ivfpq_topk""".stripMargin

  /** Recall oracle: the exact and approximate top-k oracles composed as
    * derived tables (DuckDB allows a WITH inside a parenthesized
    * subquery), intersected per method.
    */
  private lazy val recallOracle: String = {
    def hit(m: String) =
      s"""SELECT '$m' AS method, (SELECT count(*) FROM ex) AS n_exact,
         |  (SELECT count(*) FROM ex e WHERE EXISTS
         |     (SELECT 1 FROM c_$m c WHERE c.q_id = e.q_id AND c.n_id = e.n_id)) AS n_hits""".stripMargin
    s"""WITH ex AS (SELECT q_id, n_id FROM ($knnOracle) t WHERE rnk <= 3),
       |c_ann_lsh AS (SELECT q_id, n_id FROM ($lshOracle) t),
       |c_ann_ivf AS (SELECT q_id, n_id FROM ($ivfOracle) t),
       |c_pq_adc AS (SELECT q_id, n_id FROM ($pqOracle) t),
       |c_ivfpq AS (SELECT q_id, n_id FROM ($ivfpqOracle) t),
       |c_multiprobe AS (SELECT q_id, n_id FROM ($multiprobeOracle) t),
       |c_sq8 AS (SELECT q_id, n_id FROM ($sq8Oracle) t)
       |SELECT method, n_exact, n_hits,
       |       round(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall
       |FROM (${hit("ann_lsh")}
       |UNION ALL ${hit("ann_ivf")}
       |UNION ALL ${hit("pq_adc")}
       |UNION ALL ${hit("ivfpq")}
       |UNION ALL ${hit("multiprobe")}
       |UNION ALL ${hit("sq8")})
       |ORDER BY method""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    "sim_pca_power" -> Pca.oracleSql,
    "sim_dbscan" -> Dbscan.oracleSql(Dbscan.Default),
    "sim_kmeans" -> kmeansOracle,

    "sim_silhouette" ->
      s"""$eCte${Ivf.oracleCtes(IvfParams)},
         |rr AS (
         |  SELECT vid, cell, dd,
         |         row_number() OVER (PARTITION BY vid
         |                            ORDER BY dd ASC, cell ASC) AS rn
         |  FROM dist${IvfParams.iters}
         |), own AS (
         |  SELECT r.vid, r.cell,
         |         greatest(n.norm2 + r.dd / 1000000.0, 0.0) AS a2
         |  FROM rr r JOIN norms n ON n.vec_id = r.vid WHERE r.rn = 1
         |), nxt AS (
         |  SELECT r.vid, greatest(n.norm2 + r.dd / 1000000.0, 0.0) AS b2
         |  FROM rr r JOIN norms n ON n.vec_id = r.vid WHERE r.rn = 2
         |), sil AS (
         |  SELECT o.cell,
         |         CAST(round((sqrt(x.b2) - sqrt(o.a2)) /
         |                    greatest(sqrt(o.a2), sqrt(x.b2)), 6)
         |              AS DECIMAL(18,6)) AS sil
         |  FROM own o JOIN nxt x ON x.vid = o.vid
         |)
         |SELECT cell AS cluster_id, count(*) AS n_members,
         |       round(CAST(sum(sil) AS DOUBLE) / count(*), 6) AS mean_silhouette
         |FROM sil GROUP BY cell""".stripMargin,

    "sim_rp_project" -> rpOracle,


    "sim_ann_recall" -> recallOracle,

    "sim_knn_bruteforce" -> knnOracle,

    "sim_mmr" -> mmrOracle,

    "sim_ann_lsh" -> lshOracle,
    "sim_ann_multiprobe" -> multiprobeOracle,
    "sim_ann_sq8" -> sq8Oracle,

    "sim_ann_ivf" -> ivfOracle,

    "sim_pq_adc" -> pqOracle,

    "sim_ivfpq" -> ivfpqOracle,

    "sim_embed_covariance" ->
      """WITH q AS (
        |  SELECT list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
        |  FROM embeddings
        |), withI AS (
        |  SELECT q, unnest(generate_series(1, len(q))) AS i FROM q
        |), withIJ AS (
        |  SELECT q, i, unnest(generate_series(i, len(q))) AS j FROM withI
        |), s2 AS (
        |  SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
        |         sum(q[i] * q[j]) AS sp, count(*) AS n
        |  FROM withIJ GROUP BY 1, 2
        |), m1 AS (
        |  SELECT CAST(i - 1 AS INT) AS i, sum(q[i]) AS s1
        |  FROM withI GROUP BY 1
        |)
        |SELECT s2.i, s2.j, s2.n,
        |       CAST(CASE WHEN CAST(sp AS HUGEINT) * s2.n - CAST(a.s1 AS HUGEINT) * b.s1 >= 0
        |            THEN (abs(CAST(sp AS HUGEINT) * s2.n - CAST(a.s1 AS HUGEINT) * b.s1) * 2000 +
        |                  CAST(s2.n AS HUGEINT) * s2.n) // (2 * CAST(s2.n AS HUGEINT) * s2.n)
        |            ELSE -((abs(CAST(sp AS HUGEINT) * s2.n - CAST(a.s1 AS HUGEINT) * b.s1) * 2000 +
        |                    CAST(s2.n AS HUGEINT) * s2.n) // (2 * CAST(s2.n AS HUGEINT) * s2.n)) END
        |            AS DOUBLE) / 1000000000.0 AS cov
        |FROM s2
        |JOIN m1 a ON a.i = s2.i
        |JOIN m1 b ON b.i = s2.j""".stripMargin
  )
}
