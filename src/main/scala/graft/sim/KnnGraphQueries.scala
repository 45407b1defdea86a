package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{CacheScope, QueryPack, Tables}

/** The kNN-graph / centroid family of embedding-hygiene operators, split
  * out of [[SimilarityQueries]] (r13 — the 1,000-line pack-file
  * discipline, the InferenceQueries precedent; keys and oracles
  * unchanged): the bucketed kNN graph and its two consumers
  * (instance-based classification, kNN-distance outlier scoring),
  * nearest-centroid classification, and the centroid-drift monitor. The
  * ANN index structures (LSH/IVF/PQ/IVFADC) and the clustering-quality
  * readouts stay in [[SimilarityQueries]]; the `emb` loader and the
  * shared `e` CTE prefix remain there as the single source of the
  * quantized-embedding convention.
  */
object KnnGraphQueries extends QueryPack {

  import VecMath._
  import SimilarityQueries.{emb, eCte}

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Embedding-batch centroid drift: split the corpus into "old" and
    // "new" halves by vec_id parity (the stand-in for two ingest
    // batches) and report, per label, the cosine between the halves'
    // centroids and their norm ratio — the cheap first-line embedding
    // drift monitor before anything distributional (PSI on projections,
    // MMD). Centroid component sums are exact int64 over the quantized
    // vectors; cosine and norms assemble from three exact dot-product
    // aggregates per label (d-bounded relations) in identical doubles.
    "sim_centroid_drift" -> ((s, d) => {
      val ex = emb(s, d)
        .select(col("vec_id"), col("label"), posexplode(col("qe")).as(Seq("i", "qx")))
      val cents = ex
        .groupBy(col("label"), col("i"), (col("vec_id") % 2 === 0).as("old"))
        .agg(sum(col("qx")).as("s"), countDistinct(col("vec_id")).as("n"))
        .transform(CacheScope.persisted(_))
      val o = cents.filter(col("old")).select(col("label"), col("i"),
        col("s").as("so"), col("n").as("no"))
      val nw = cents.filter(!col("old")).select(col("label").as("lb"),
        col("i").as("i2"), col("s").as("sn"), col("n").as("nn"))
      o.join(nw, col("label") === col("lb") && col("i") === col("i2"))
        .groupBy("label")
        .agg(max(col("no")).as("n_old"), max(col("nn")).as("n_new"),
          sum(col("so").cast(DecimalType(28, 0)) * col("sn")).as("dot"),
          sum(col("so").cast(DecimalType(28, 0)) * col("so")).as("oo"),
          sum(col("sn").cast(DecimalType(28, 0)) * col("sn")).as("nn2"))
        .filter(col("oo") > 0 && col("nn2") > 0)
        .select(col("label"), col("n_old").cast("long").as("n_old"),
          col("n_new").cast("long").as("n_new"),
          round(col("dot").cast("double") /
            (sqrt(col("oo").cast("double")) * sqrt(col("nn2").cast("double"))),
            6).as("centroid_cos"),
          // centroid norm ratio: ||c_new|| / ||c_old|| with the 1/n
          // scales made explicit
          round((sqrt(col("nn2").cast("double")) / col("n_new").cast("double")) /
            (sqrt(col("oo").cast("double")) / col("n_old").cast("double")),
            6).as("norm_ratio"))
    }),

    // Nearest-centroid classification + confusion matrix ([[centroidConfusionOf]])
    // — the embedding-hygiene audit that tells you whether the label
    // column and the embedding space agree (mislabeled shards, drifted
    // encoders). One exploded-aggregate pass trains the per-label exact
    // integer centroids; assignment is the [[Lloyd]] distance with
    // cells = labels, so the broadcast/partial-agg scale shape and the
    // bit-for-bit double determinism are inherited verbatim.
    "sim_nearest_centroid" -> ((s, d) =>
      centroidConfusionOf(Tables.load(s, d, "embeddings"))),

    // Approximate k-NN GRAPH ([[knnGraphOf]]): every vector's top-k
    // same-LSH-bucket neighbors — the all-vectors generalization of
    // sim_ann_lsh (there, 10 query vectors broadcast; here the bucket is
    // the self-join key). The knn graph is the backbone relation for
    // graph-based curation (SemDeDup variants, hub detection, diversity
    // sampling); at 100 TB the bucket is the shuffle/bucketing key and
    // per-bucket fan-out is the dial (8 hyperplanes -> 1/256 of the
    // collection per bucket in expectation).
    "sim_knn_graph" -> ((s, d) => knnGraphOf(emb(s, d))),

    // kNN majority-vote classification over the bucketed knn graph — the
    // instance-based sibling of sim_nearest_centroid (no centroids: a
    // vector takes its bucket-mates' majority label, ties to the
    // smallest label). The readout is the gold × predicted confusion
    // matrix, with pred = -1 for vectors whose LSH bucket holds no
    // mates — the honest abstention bucket an index-backed classifier
    // actually has. Scale shape is the knn graph's: one bucket-keyed
    // self-join + per-vector top-k, then two bounded aggregations; the
    // max(struct) argmax replaces any per-vector sort.
    "sim_knn_classify" -> ((s, d) => {
      val g = knnGraphOf(emb(s, d))
      val lbl = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("label"))
        .transform(CacheScope.persisted(_))
      val votes = g
        .join(lbl.select(col("vec_id").as("n_id"), col("label").as("n_label")),
          Seq("n_id"))
        .groupBy(col("vec_id"), col("n_label"))
        .agg(count(lit(1)).as("v"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("v"), (-col("n_label")).as("neg"),
          col("n_label"))).as("m"))
        .select(col("vec_id"), col("m.n_label").as("pred_label"))
      lbl.join(votes, Seq("vec_id"), "left")
        .groupBy(col("label"),
          coalesce(col("pred_label"), lit(-1)).as("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),

    // kNN-distance outlier scoring over the same bucketed knn graph —
    // the embedding-space noise detector (mislabeled shards, encoder
    // garbage, adversarial junk) a curation pass runs before training:
    // a vector whose k-th same-bucket neighbor is far (or that has fewer
    // than k bucket-mates at all) is isolated in embedding space.
    // score = 1 - cos(k-th neighbor); vectors with under-filled buckets
    // score 1.0 by definition. One left join from the id relation, so
    // zero-neighbor vectors (the strongest outliers) are not dropped.
    "sim_knn_outlier" -> ((s, d) => {
      val g = knnGraphOf(emb(s, d))
      val st = g.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("nn"),
          max(when(col("rnk") === KnnGraphK, col("cos"))).as("kth_cos"))
      Tables.load(s, d, "embeddings").select(col("vec_id"))
        .join(st, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("nn"), lit(0L)).as("n_neighbors"),
          round(when(coalesce(col("nn"), lit(0L)) < KnnGraphK, lit(1.0))
            .otherwise(lit(1.0) - col("kth_cos")), 6).as("outlier_score"))
    })
  )

  /** Neighbors kept per vector in the knn graph. */
  val KnnGraphK = 3

  /** Top-[[KnnGraphK]] same-bucket neighbors for EVERY vector: one
    * bucket-keyed self-join + per-vector top-k window (partitioned by
    * vec_id — never a global sort). Public so specs can plant bucket
    * collisions.
    */
  def knnGraphOf(e0: DataFrame): DataFrame = {
    val e = e0.withColumn("bucket", signBucket(col("embedding")))
      .select(col("vec_id"), col("qe"), col("norm2"), col("bucket"))
      .transform(graft.CacheScope.persisted(_))
    val scored = e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("n_id"),
        round(cosine(dotQ(col("a.qe"), col("b.qe")),
          col("a.norm2"), col("b.norm2")), 4).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnGraphK)
  }

  /** Nearest-centroid confusion matrix over any (vec_id, label, embedding)
    * relation: exact integer per-label centroid sums (s, n), assignment by
    * [[Lloyd.distances]] with cells = labels (component sums stay
    * integers, so dd is the same IEEE expression in both engines), argmin
    * by (dd, label) via one min(struct) aggregation, then
    * (label, pred_label) counts.
    * Public for planted-separability specs.
    */
  def centroidConfusionOf(emb0: DataFrame): DataFrame = {
    val ex = emb0
      .select(col("vec_id"), col("label"),
        posexplode(quantize(col("embedding"))).as(Seq("i", "qx")))
      .transform(graft.CacheScope.persisted(_))
    val cent = ex.groupBy(col("label").as("cell"), col("i"))
      .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))
      .transform(graft.CacheScope.persisted(_))
    Lloyd.distances(ex, cent).groupBy(col("vid"), col("label"))
      .agg(min(struct(col("dd"), col("cell"))).as("m"))
      .groupBy(col("label"), col("m.cell").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** knn-graph oracle: the lshOracle shape with every vector as a query. */
  private lazy val knnGraphOracle: String =
    s"""$eCte, bkt AS (
       |  SELECT vec_id, ${VecMath.signBucketSql("embedding")} AS bucket
       |  FROM embeddings
       |), dots AS (
       |  SELECT q.vec_id AS vec_id, c.vec_id AS n_id,
       |         CAST(sum(q.qx * c.qx) AS DOUBLE) / 1000000.0 AS dot
       |  FROM e q
       |  JOIN bkt bq ON bq.vec_id = q.vec_id
       |  JOIN bkt bc ON bc.bucket = bq.bucket
       |  JOIN e c ON c.vec_id = bc.vec_id AND c.i = q.i
       |  WHERE c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.vec_id, d.n_id,
       |         round(d.dot / (sqrt(nq.norm2) * sqrt(nc.norm2)), 4) AS cos
       |  FROM dots d
       |  JOIN norms nq ON nq.vec_id = d.vec_id
       |  JOIN norms nc ON nc.vec_id = d.n_id
       |)
       |SELECT vec_id, n_id, cos, rnk FROM (
       |  SELECT vec_id, n_id, cos,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cos DESC, n_id ASC) AS rnk
       |  FROM scored
       |) WHERE rnk <= $KnnGraphK""".stripMargin

  /** Nearest-centroid oracle — the Ivf distance block with cells = labels. */
  private lazy val centroidOracle: String =
    s"""$eCte, cent AS (
       |  SELECT label AS cell, i, sum(qx) AS s, count(*) AS n
       |  FROM e GROUP BY 1, 2
       |), cm AS (
       |  SELECT cell, sum(s * s) AS ss, max(n) AS n FROM cent GROUP BY cell
       |), vs AS (
       |  SELECT e.vec_id, e.label, c.cell, sum(e.qx * c.s) AS vs
       |  FROM e JOIN cent c ON c.i = e.i
       |  GROUP BY 1, 2, 3
       |), dist AS (
       |  SELECT vs.vec_id, vs.label, vs.cell,
       |         (-2.0 * vs.vs) / cm.n + CAST(cm.ss AS DOUBLE) / (cm.n * cm.n) AS dd
       |  FROM vs JOIN cm ON cm.cell = vs.cell
       |), pred AS (
       |  SELECT vec_id, label, cell FROM (
       |    SELECT vec_id, label, cell,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY dd ASC, cell ASC) AS rn
       |    FROM dist
       |  ) WHERE rn = 1
       |)
       |SELECT label, cell AS pred_label, count(*) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin

  /** Outlier oracle: the knn-graph oracle as a derived table, aggregated
    * to the k-th-neighbor cosine, left-joined from all vectors.
    */
  private lazy val knnOutlierOracle: String =
    s"""SELECT v.vec_id, COALESCE(s.nn, 0) AS n_neighbors,
       |       round(CASE WHEN COALESCE(s.nn, 0) < $KnnGraphK THEN 1.0
       |                  ELSE 1.0 - s.kth_cos END, 6) AS outlier_score
       |FROM embeddings v
       |LEFT JOIN (
       |  SELECT vec_id, count(*) AS nn,
       |         max(CASE WHEN rnk = $KnnGraphK THEN cos END) AS kth_cos
       |  FROM ($knnGraphOracle) t GROUP BY vec_id
       |) s ON s.vec_id = v.vec_id""".stripMargin

  override val oracles: Map[String, String] = Map(
    "sim_nearest_centroid" -> centroidOracle,

    "sim_knn_graph" -> knnGraphOracle,

    "sim_knn_classify" ->
      s"""WITH g AS (SELECT vec_id, n_id FROM ($knnGraphOracle) t),
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |votes AS (
         |  SELECT g.vec_id, l.label AS n_label, count(*) AS v
         |  FROM g JOIN lbl l ON l.vec_id = g.n_id
         |  GROUP BY 1, 2
         |), pred AS (
         |  SELECT vec_id, n_label AS pred_label FROM (
         |    SELECT vec_id, n_label,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY v DESC, n_label ASC) AS rn
         |    FROM votes) WHERE rn = 1
         |)
         |SELECT l.label, COALESCE(p.pred_label, -1) AS pred_label, count(*) AS n
         |FROM lbl l LEFT JOIN pred p ON p.vec_id = l.vec_id
         |GROUP BY 1, 2""".stripMargin,

    "sim_knn_outlier" -> knnOutlierOracle,

    "sim_centroid_drift" ->
      s"""$eCte, cents AS (
         |  SELECT label, i, vec_id % 2 = 0 AS old,
         |         sum(qx) AS s, count(DISTINCT vec_id) AS n
         |  FROM e GROUP BY 1, 2, 3
         |), j AS (
         |  SELECT o.label, max(o.n) AS n_old, max(w.n) AS n_new,
         |         sum(CAST(o.s AS HUGEINT) * w.s) AS dot,
         |         sum(CAST(o.s AS HUGEINT) * o.s) AS oo,
         |         sum(CAST(w.s AS HUGEINT) * w.s) AS nn2
         |  FROM cents o JOIN cents w
         |    ON w.label = o.label AND w.i = o.i AND NOT w.old
         |  WHERE o.old
         |  GROUP BY 1
         |  HAVING sum(CAST(o.s AS HUGEINT) * o.s) > 0
         |     AND sum(CAST(w.s AS HUGEINT) * w.s) > 0
         |)
         |SELECT label, CAST(n_old AS BIGINT) AS n_old,
         |       CAST(n_new AS BIGINT) AS n_new,
         |       round(CAST(dot AS DOUBLE) /
         |             (sqrt(CAST(oo AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))),
         |             6) AS centroid_cos,
         |       round((sqrt(CAST(nn2 AS DOUBLE)) / CAST(n_new AS DOUBLE)) /
         |             (sqrt(CAST(oo AS DOUBLE)) / CAST(n_old AS DOUBLE)),
         |             6) AS norm_ratio
         |FROM j""".stripMargin
  )
}
