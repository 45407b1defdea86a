package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.CacheScope.persisted

/** Product quantization with asymmetric-distance (ADC) search — the
  * memory-compression half of the 100 TB ANN stack ([[Ivf]] is the
  * routing half; a production index composes both: IVF picks cells, PQ
  * codes rank within them).
  *
  *   train:  each vector splits into M subvectors (coordinates
  *           interleaved by `i mod M` — any fixed coordinate partition
  *           is a valid PQ split and this one needs no knowledge of the
  *           dimension); each subspace trains its own k-centroid
  *           quantizer — the SAME [[Lloyd]] trainer as IVF with the
  *           subspace key `m`, all M subspaces in ONE relation keyed by
  *           (m, cell), so training is one DAG, not M jobs.
  *   encode: every vector's code is its per-subspace argmin centroid —
  *           M small integers replace d floats (the compression: at
  *           M=4, k=4 a code is 8 bits regardless of d).
  *   search (ADC): a query never touches raw database vectors — its
  *           per-(m, cell) distance table (M*k entries) is joined to the
  *           database CODES on (m, cell) and summed per pair: the
  *           classic lookup-table distance, expressed as an equi-join.
  *
  * Determinism: per-subspace distances derive from exact integer sums
  * (the -2*vs/n + ss/n^2 expansion, identical doubles in both engines);
  * the cross-subspace ADC sum rounds each term to 6 decimals and sums as
  * DECIMAL so the M-term addition is order-independent — the same
  * decimal-sum discipline as every money aggregate.
  *
  * Scale: training cost ~ the IVF Lloyd cost; codes are M ints per
  * vector (the only per-vector state the search touches); the ADC join
  * fans each (query, vector) pair out M ways and collapses in partial
  * aggregation — at cluster scale the code relation co-partitions with
  * the IVF cell id and the query table broadcasts.
  */
object Pq {

  /** @param m        number of subspaces (code length)
    * @param k        centroids per subspace
    * @param iters    Lloyd iterations per subspace
    * @param topK     neighbors returned per query
    * @param nQueries vec_id < nQueries are the query vectors
    */
  final case class Params(
      m: Int = 4,
      k: Int = 4,
      iters: Int = 1,
      topK: Int = 3,
      nQueries: Int = 10) {
    require(m >= 1 && k >= 1 && iters >= 0 && topK >= 1)
  }

  /** ADC top-k over `emb0` = (vec_id, qe: array<bigint>).
    * Returns (q_id, n_id, adc, rnk) — adc ASCENDING (a distance).
    */
  def adcTopK(emb0: DataFrame, p: Params): DataFrame = {
    val e = persisted(emb0.select(col("vec_id"), col("qe")))
    val (codes, qtab) = codesAndQtab(e, p)
    val adc = codes
      .join(broadcast(qtab),
        col("m") === col("qm") && col("cell") === col("qcell") &&
          col("vid") =!= col("q_id"))
      .groupBy(col("q_id"), col("vid").as("n_id"))
      .agg(sum(round(col("dd"), 6).cast(DecimalType(28, 6))).as("s"))
      .select(col("q_id"), col("n_id"),
        round(col("s").cast("double"), 6).as("adc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("n_id").asc)
    adc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= p.topK)
  }

  /** Train the M sub-quantizers and return the two relations every ADC
    * consumer needs: `codes` = (vid, m, cell) — each vector's per-subspace
    * nearest centroid (the PQ code) — and `qtab` = (q_id, qm, qcell, dd) —
    * each query's distance to EVERY (m, cell), i.e. its ADC lookup table.
    * Shared by [[adcTopK]] (full-collection ADC) and the composed
    * [[IvfPq]] index (ADC restricted to IVF-routed candidates). `e` =
    * (vec_id, qe, ...), persisted by the caller.
    */
  def codesAndQtab(e: DataFrame, p: Params): (DataFrame, DataFrame) = {
    val distF = persisted(subspaceDistF(e, p))
    (argminCodes(distF), qtabOf(distF, p))
  }

  /** The per-subspace code from a trained distance relation: each
    * vector's nearest (m, cell). Split out of [[codesAndQtab]] (r13) so
    * [[IvfPq]] can route the trained distance relation through a
    * cross-query memo.
    */
  private[sim] def argminCodes(dist: DataFrame): DataFrame =
    Lloyd.ranked(dist, 1, "m").select(col("vid"), col("m"), col("cell"))

  /** The query-side ADC lookup table from the same trained distance
    * relation: each query's distance to EVERY (m, cell).
    */
  private[sim] def qtabOf(distF: DataFrame, p: Params): DataFrame =
    distF.filter(col("vid") < p.nQueries)
      .select(col("vid").as("q_id"), col("m").as("qm"),
        col("cell").as("qcell"), col("dd"))

  /** Train the M sub-quantizers and return the FULL (vid, m, cell, dd)
    * distance relation against the trained codebooks — the single
    * relation both ADC consumables ([[argminCodes]], [[qtabOf]]) derive
    * from narrowly, and therefore the unit [[IvfPq]] memoizes.
    */
  private[sim] def subspaceDistF(e: DataFrame, p: Params): DataFrame =
    Lloyd.train(e, p.k, p.iters, "m" -> pmod(col("i"), lit(p.m)))

  /** DuckDB oracle CTEs for the same Params, appended after the shared
    * `e` CTE. DuckDB's generate_subscripts is 1-based where posexplode is
    * 0-based, so the subspace key is (i - 1) % m. The final SELECT must
    * read `SELECT q_id, n_id, adc, rnk FROM pq_topk`.
    */
  def oracleCtes(p: Params): String = {
    val sb = new StringBuilder
    sb ++= s""", em AS (
              |  SELECT vec_id, i, qx, CAST((i - 1) % ${p.m} AS BIGINT) AS m
              |  FROM e
              |), pseeds AS (
              |  SELECT vec_id, vec_id AS cell FROM embeddings
              |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${p.k}
              |), pcent0 AS (
              |  SELECT em.m, s.cell, em.i, em.qx AS s, CAST(1 AS BIGINT) AS n
              |  FROM em JOIN pseeds s ON s.vec_id = em.vec_id
              |)""".stripMargin
    def distBlock(t: Int): String =
      s""", pcm$t AS (
         |  SELECT m, cell, sum(s * s) AS ss, max(n) AS n
         |  FROM pcent$t GROUP BY 1, 2
         |), pvs$t AS (
         |  SELECT em.vec_id AS vid, c.m, c.cell, sum(em.qx * c.s) AS vs
         |  FROM em JOIN pcent$t c ON c.m = em.m AND c.i = em.i
         |  GROUP BY 1, 2, 3
         |), pdist$t AS (
         |  SELECT vid, pvs$t.m, pvs$t.cell,
         |         (-2.0 * pvs$t.vs) / pcm$t.n + CAST(pcm$t.ss AS DOUBLE) / (pcm$t.n * pcm$t.n) AS dd
         |  FROM pvs$t JOIN pcm$t ON pcm$t.m = pvs$t.m AND pcm$t.cell = pvs$t.cell
         |)""".stripMargin
    for (t <- 0 until p.iters) {
      sb ++= distBlock(t)
      sb ++= s""", passign$t AS (
                |  SELECT vid, m, cell FROM (
                |    SELECT vid, m, cell,
                |           row_number() OVER (PARTITION BY vid, m
                |                              ORDER BY dd ASC, cell ASC) AS rn
                |    FROM pdist$t
                |  ) WHERE rn = 1
                |), pcent${t + 1} AS (
                |  SELECT a.m, a.cell, em.i, sum(em.qx) AS s, count(*) AS n
                |  FROM em JOIN passign$t a ON a.vid = em.vec_id AND a.m = em.m
                |  GROUP BY 1, 2, 3
                |)""".stripMargin
    }
    val T = p.iters
    sb ++= distBlock(T)
    sb ++= s""", pcodes AS (
              |  SELECT vid, m, cell FROM (
              |    SELECT vid, m, cell,
              |           row_number() OVER (PARTITION BY vid, m
              |                              ORDER BY dd ASC, cell ASC) AS rn
              |    FROM pdist$T
              |  ) WHERE rn = 1
              |), pqtab AS (
              |  SELECT vid AS q_id, m, cell, dd FROM pdist$T
              |  WHERE vid < ${p.nQueries}
              |), padc AS (
              |  SELECT q.q_id, c.vid AS n_id,
              |         round(CAST(sum(CAST(round(q.dd, 6) AS DECIMAL(28,6))) AS DOUBLE), 6) AS adc
              |  FROM pcodes c
              |  JOIN pqtab q ON q.m = c.m AND q.cell = c.cell AND c.vid <> q.q_id
              |  GROUP BY 1, 2
              |), pq_topk AS (
              |  SELECT q_id, n_id, adc, rnk FROM (
              |    SELECT q_id, n_id, adc,
              |           row_number() OVER (PARTITION BY q_id
              |                              ORDER BY adc ASC, n_id ASC) AS rnk
              |    FROM padc
              |  ) WHERE rnk <= ${p.topK}
              |)""".stripMargin
    sb.toString
  }
}
