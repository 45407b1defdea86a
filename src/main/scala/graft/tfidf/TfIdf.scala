package graft.tfidf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.{Stopwords, Tokenize}
import graft.functions.StemExpr

/** The reference's complete TF-IDF dataflow (DocumentFreq.java + IDF.java),
  * re-expressed as one declarative four-branch DAG so Catalyst plans it as:
  *
  *   documents ─ clean ─ split ─ explode ─ stopword InSet filter ─ stem
  *      ├─► DF      = groupBy(term).agg(countDistinct(doc_id))      [A3]
  *      ├─► top-k   = orderBy(df desc, term asc).limit(k)           [T1]
  *      ├─► TF      = tokens ⋉ broadcast(top-k) → count(doc,term)   [J1,A4/5]
  *      └─► score   = TF ⨝ broadcast(DF) → tf·ln(N/(df+1))          [J2,P9]
  *
  * `terms` reads whole documents. The CLI DF and IDF jobs feed the same
  * clean ─ split ─ explode ─ filter ─ stem chain one line at a time
  * instead (`graft.cli.Jobs.corpusTerms`), as the reference's mappers do:
  * the terms are the same, and the chain runs in the scan tasks with no
  * regroup shuffle in front of it.
  *
  * Scale notes (100 TB): the only wide exchanges are the two groupBys
  * (partial/final HashAggregate — the stripes pattern, automatic), both keyed
  * on high-cardinality (term) / (doc_id, term). Both joins broadcast the
  * ≤k-row side, so the token stream is never shuffled for a join. The top-k
  * is TakeOrderedAndProject (per-partition top-k, driver merge), never a
  * global sort. countDistinct(doc_id) is exact, as the reference's HashSet
  * dedup is (DocumentFreq.java:82-88); swap to approx_count_distinct only as
  * a documented opt-in.
  *
  * Semantics pinned by BASELINE.md: score = tf * ln(corpusConstant/(df+1))
  * (IDF.java:164, Math.log = natural log, 10000 hardcoded); TF is the
  * INTENDED per-(doc,term) count (PDF p.2), not the literal
  * write-inside-loop inflation of IDF.java:103-104; top-k ties break by term
  * ascending (the reference's comparator is non-deterministic,
  * DocumentFreq.java:108-119).
  */
object TfIdf {

  /** Mirrors the reference CLI flags (DocumentFreq.java:136-143,
    * IDF.java:188-199) plus the pinned constants.
    */
  final case class Config(
      corpusConstant: Double = 10000.0,
      topK: Int = 100,
      caseSensitive: Boolean = false,
      useStopwords: Boolean = true,
      stem: Boolean = true)

  val Default: Config = Config()

  /** Stemming as a Column: native codegen'd Catalyst expression. */
  def stemCol(c: Column): Column = StemExpr.stem(c)

  /** docs(doc_id, text) -> one row per surviving token:
    * (doc_id, term) where term is stop-filtered and (optionally) stemmed.
    * The stopword filter is an InSet literal filter (codegen'd, no UDF, no
    * broadcast round-trip) applied BEFORE stemming, exactly as the reference
    * does (DocumentFreq.java:66-69).
    */
  def terms(docs: DataFrame, cfg: Config = Default): DataFrame = {
    val tok = docs
      .select(col("doc_id"), Tokenize.explodeTokens(col("text"), cfg.caseSensitive).as("token"))
    val filtered =
      if (cfg.useStopwords) tok.filter(!col("token").isInCollection(Stopwords.set))
      else tok.filter(col("token") =!= "")
    val termed =
      if (cfg.stem) filtered.select(col("doc_id"), stemCol(col("token")).as("term"))
      else filtered.withColumnRenamed("token", "term")
    termed
  }

  /** DF(term) = count of distinct documents containing term. Exact by
    * default, as the reference's HashSet dedup is (DocumentFreq.java:82-88);
    * `approx = true` is the documented 100 TB opt-in (HLL++, one pass, no
    * per-key distinct state) with `rsd` relative standard deviation.
    */
  def documentFrequency(terms: DataFrame, approx: Boolean = false,
      rsd: Double = 0.05): DataFrame =
    if (approx)
      terms.groupBy("term").agg(approx_count_distinct("doc_id", rsd).as("df"))
    else
      terms.groupBy("term").agg(countDistinct("doc_id").as("df"))

  /** Global top-k terms by DF desc, term asc (deterministic tiebreak).
    * Plans as TakeOrderedAndProject — no single-reducer bottleneck.
    */
  def topTerms(df: DataFrame, k: Int): DataFrame =
    df.orderBy(col("df").desc, col("term").asc).limit(k)

  /** TF over terms restricted to the top-k table (broadcast left-semi join —
    * the reference's replicated-map membership probe, IDF.java:93).
    */
  def termFrequency(terms: DataFrame, top: DataFrame): DataFrame =
    terms
      .join(broadcast(top.select("term")), Seq("term"), "left_semi")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** score = tf * ln(corpusConstant / (df + 1)) — IDF.java:164. */
  def scores(tf: DataFrame, dfTable: DataFrame, corpusConstant: Double): DataFrame =
    tf.join(broadcast(dfTable), Seq("term"))
      .select(
        col("doc_id"),
        col("term"),
        col("tf"),
        col("df"),
        (col("tf") * log(lit(corpusConstant) / (col("df") + lit(1)))).as("score"))

  /** TF over ALL terms: one shuffle of map-side-combined (doc_id, term)
    * pairs. DF then derives from THIS relation — df(term) = number of TF
    * rows per term — rather than re-scanning tokens (the reference runs two
    * jobs and tokenizes the corpus twice, DocumentFreq.java:60-73 vs
    * IDF.java:82-106; deriving DF from TF makes the second pass read
    * already-aggregated data, orders of magnitude smaller at 100 TB).
    */
  def termFrequencyAll(terms: DataFrame): DataFrame =
    terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** DF from the TF relation: exact, equal to countDistinct(doc_id). */
  def documentFrequencyFromTf(tfAll: DataFrame): DataFrame =
    tfAll.groupBy("term").agg(count(lit(1)).as("df"))

  /** TF_all + top-k + restricted TF as one DAG sharing a single corpus scan.
    *
    * TF_all is persisted (MEMORY_AND_DISK_SER via [[graft.CacheScope]]): it
    * feeds both the top-k branch and the semi-joined TF branch, and their
    * aggregate plans don't canonicalize to the same exchange, so without
    * pinning Catalyst would re-derive each branch from a fresh corpus scan
    * (measured: 3 FileScans). TF_all is the AGGREGATED (doc_id, term, tf)
    * relation — orders of magnitude smaller than the token stream at
    * 100 TB — and the serialized columnar level builds ~2x faster than the
    * deserialized default (1.08s vs 2.39s full-pipeline at sf0.1) while
    * spilling rather than recomputing. Spark's cache manager keys on the
    * analyzed plan, so repeated calls in one session share one cache entry.
    * LIFECYCLE: the persist is registered with CacheScope; the harness
    * (Verify/Bench/specs) releases it after consuming the query — callers
    * embedding the pipeline in a longer-lived session own that release.
    */
  def pipelineRelations(docs: DataFrame, cfg: Config = Default)
      : (DataFrame, DataFrame, DataFrame) = {
    val tfAll = graft.CacheScope.persisted(termFrequencyAll(terms(docs, cfg)))
    val top = topTerms(documentFrequencyFromTf(tfAll), cfg.topK)
    val tf = tfAll.join(broadcast(top.select("term")), Seq("term"), "left_semi")
    (tfAll, top, tf)
  }

  /** The full pipeline: docs(doc_id, text) -> (doc_id, term, tf, df, score).
    *
    * Plan shape (ONE corpus scan, two cascaded shuffles, no recompute):
    *   terms -> TF_all (shuffle on (doc_id,term), partial-agg'd, persisted)
    *         -> DF (shuffle of the already-aggregated TF relation)
    *         -> top-k (TakeOrderedAndProject)
    *   score = TF_all ⋉ broadcast(top-k), reading the persisted TF_all.
    * PlanSpec asserts the single-scan property against the executed plan.
    */
  def pipeline(docs: DataFrame, cfg: Config = Default): DataFrame = {
    val (_, top, tf) = pipelineRelations(docs, cfg)
    scores(tf, top, cfg.corpusConstant)
  }
}
