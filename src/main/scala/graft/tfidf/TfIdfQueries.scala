package graft.tfidf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.text.Stopwords

/** Reference-parity TF-IDF queries over `documents.parquet`.
  *
  * Two variants per stage:
  *   - `tfidf_*`      — full reference semantics INCLUDING Porter stemming
  *                      (DocumentFreq.java:69). Porter isn't expressible in
  *                      DuckDB SQL (its `stem()` lives in the fts extension,
  *                      unavailable offline), so the oracle joins the
  *                      PRECOMPUTED stem-map side table (SURVEY.md §5.2)
  *                      checked in at `src/test/resources/stemmap.tsv` —
  *                      regenerate with `sbt "runMain graft.GenStemMap"`.
  *                      The stemmer itself is pinned by golden vectors
  *                      (PorterStemmerSpec); the oracle verifies the
  *                      PIPELINE around it cross-engine.
  *   - `tfidf_*_raw`  — identical pipeline minus stemming, oracled without
  *                      any side table.
  */
object TfIdfQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val stemmed = TfIdf.Default
  private val raw = TfIdf.Default.copy(stem = false)

  /** Deterministic ordering for the score relation is by (doc_id, term) —
    * already unique per row, so no ORDER BY is needed for hashing; the
    * driver sorts. Doubles are rounded on both sides.
    */
  private def scoreDf(s: SparkSession, dir: String, cfg: TfIdf.Config): DataFrame =
    TfIdf.pipeline(docs(s, dir), cfg)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score"))

  private def dfOf(s: SparkSession, d: String, cfg: TfIdf.Config): DataFrame =
    TfIdf.documentFrequencyFromTf(
      TfIdf.termFrequencyAll(TfIdf.terms(docs(s, d), cfg)))

  /** BM25 (k1=1.2, b=0.75) for the top-100-DF terms — the standard
    * retrieval upgrade of the reference's tf*ln(10000/(df+1)) score.
    * Document length and avgdl are computed over ALL terms (true BM25
    * normalization), then the scored join is restricted to the top terms
    * like the reference pipeline. One corpus scan: the TF relation is
    * pinned and feeds dl, df, and the scored join; the three scalar stats
    * (n_docs, sum_dl) ride a broadcast single-row relation, never a
    * collect. The arithmetic expression tree is written IDENTICALLY in
    * the DuckDB twin, so IEEE doubles agree bit-for-bit pre-round.
    */
  private def bm25Df(s: SparkSession, d: String, cfg: TfIdf.Config): DataFrame = {
    val tfAll = graft.CacheScope.persisted(
      TfIdf.termFrequencyAll(TfIdf.terms(docs(s, d), cfg)))
    val top = TfIdf.topTerms(TfIdf.documentFrequencyFromTf(tfAll), 100)
    val dl = tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val tfD = col("tf").cast("double")
    val idf = log((nD - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5) + 1.0)
    val norm = tfD * 2.2 /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
    tfAll.join(broadcast(top), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(idf * norm, 6).as("bm25"))
  }

  /** The fixed retrieval query for tfidf_search — a dial. Multi-term
    * free-text search is the operator; the literal terms just have to
    * exist in the corpus so the result is non-trivial.
    */
  private val SearchTerms = Seq("spark", "hash", "join", "window", "stream")

  /** Ad-hoc BM25 retrieval: score every document against [[SearchTerms]]
    * and return the top 20. This is the query-time path of the engine the
    * batch `tfidf_bm25` relation pre-computes — the TF relation is
    * filtered to the query terms with a literal IN (pushed into the
    * projection right after tokenize, so the scored join fans out over
    * |query| * n_docs rows at most, not the full posting list), while dl
    * and the corpus stats still aggregate over ALL terms (true BM25
    * normalization needs the real document lengths).
    *
    * Determinism: per-(doc, term) scores are rounded then summed as
    * DECIMAL(18, 6) — the per-doc total cannot depend on Spark's
    * partition visit order — and the top-20 cut orders by (score DESC,
    * doc_id ASC), unique per row. At cluster scale the cut is a
    * TakeOrderedAndProject (per-partition heaps + driver merge of 20-row
    * heads), never a global sort.
    */
  private def searchDf(s: SparkSession, d: String, cfg: TfIdf.Config): DataFrame = {
    val tfAll = graft.CacheScope.persisted(
      TfIdf.termFrequencyAll(TfIdf.terms(docs(s, d), cfg)))
    val dl = tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qtf = tfAll.filter(col("term").isin(SearchTerms: _*))
    val df = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val tfD = col("tf").cast("double")
    val idf = log((nD - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5) + 1.0)
    val norm = tfD * 2.2 /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
    qtf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(idf * norm, 6).cast("decimal(18,6)").as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("sc")).as("dsc"))
      .select(col("doc_id"), col("n_terms"),
        col("dsc").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Per-document keyphrases: the top [[KeyphraseK]] terms of every doc
    * by tf·ln(n_docs/df) over the FULL vocabulary (no top-100 gate — a
    * keyphrase is interesting precisely because it is rare corpus-wide).
    * The per-doc cut is a doc_id-PARTITIONED row_number (never a global
    * window) ordered by (rounded score DESC, term ASC) — rounding first
    * means any cross-engine ulp noise collapses before it can reorder
    * the cut. The n_docs scalar rides a broadcast 1-row aggregate; df
    * joins shuffle on term, the rank shuffles on doc_id — two exchanges
    * over the TF relation, both on natural keys.
    */
  private def keyphrasesDf(s: SparkSession, d: String, cfg: TfIdf.Config): DataFrame = {
    val tfAll = graft.CacheScope.persisted(
      TfIdf.termFrequencyAll(TfIdf.terms(docs(s, d), cfg)))
    val dfr = tfAll.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = tfAll.agg(countDistinct(col("doc_id")).as("n_docs"))
    val score = round(col("tf").cast("double") *
      log(col("n_docs").cast("double") / col("df").cast("double")), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tfAll.join(dfr, "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        score.as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KeyphraseK)
  }

  /** Keyphrases-per-doc cut size — a dial. */
  val KeyphraseK = 3

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tfidf_df" -> ((s, d) => dfOf(s, d, stemmed)),
    "tfidf_top100" -> ((s, d) => TfIdf.topTerms(dfOf(s, d, stemmed), 100)),
    "tfidf_score" -> ((s, d) => scoreDf(s, d, stemmed)),
    "tfidf_bm25" -> ((s, d) => bm25Df(s, d, stemmed)),
    "tfidf_df_raw" -> ((s, d) => dfOf(s, d, raw)),
    "tfidf_top100_raw" -> ((s, d) => TfIdf.topTerms(dfOf(s, d, raw), 100)),
    "tfidf_tf_raw" -> ((s, d) => TfIdf.pipelineRelations(docs(s, d), raw)._3),
    "tfidf_score_raw" -> ((s, d) => scoreDf(s, d, raw)),
    "tfidf_bm25_raw" -> ((s, d) => bm25Df(s, d, raw)),
    "tfidf_search" -> ((s, d) => searchDf(s, d, raw)),
    "tfidf_keyphrases" -> ((s, d) => keyphrasesDf(s, d, raw))
  )

  /** Shared oracle CTEs, parameterized over stemming. The cleaning deletes
    * everything but letters and spaces, so the reference's `[^\w']+` split
    * degenerates to splitting on runs of spaces; empty tokens (leading
    * separator) are removed by the stopword list, which contains ''.
    *
    * When `stem`, the stop-filtered raw tokens are mapped through the
    * checked-in stem-map side table (GenStemMap — covers the full testdata
    * vocabulary; LEFT JOIN + COALESCE falls back to identity, so an
    * uncovered term whose stem differs hash-fails instead of silently
    * passing). Mirrors the reference order: stopword filter BEFORE stemming
    * (DocumentFreq.java:66-69).
    */
  /** Stem-map side table for the stemmed oracles, at the path its
    * generator writes ([[graft.GenStemMap.DefaultOut]]).
    */
  private val StemMapPath: String = graft.GenStemMap.DefaultOut

  private def termsCte(stem: Boolean): String = {
    val rawCtes =
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(
         |           regexp_replace(regexp_replace(lower(text), '[\n\r]', ' ', 'g'),
         |                          '[^a-zA-Z ]', '', 'g'), ' +')) AS term
         |  FROM documents
         |), terms_raw AS (
         |  SELECT doc_id, term FROM toks
         |  WHERE term NOT IN ${Stopwords.sqlInList}
         |)""".stripMargin
    if (!stem) s"$rawCtes, terms AS (SELECT doc_id, term FROM terms_raw)"
    else
      s"""$rawCtes, smap AS (
         |  SELECT term_raw, term_stem FROM read_csv('$StemMapPath',
         |    delim='\t', header=true,
         |    columns={'term_raw': 'VARCHAR', 'term_stem': 'VARCHAR'})
         |), terms AS (
         |  SELECT t.doc_id, coalesce(m.term_stem, t.term) AS term
         |  FROM terms_raw t LEFT JOIN smap m ON t.term = m.term_raw
         |)""".stripMargin
  }

  private def dfCte(stem: Boolean): String =
    s"""${termsCte(stem)}, dfr AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
       |)""".stripMargin

  private def topCte(stem: Boolean): String =
    s"""${dfCte(stem)}, top AS (
       |  SELECT term, df FROM dfr ORDER BY df DESC, term ASC LIMIT 100
       |)""".stripMargin

  private def tfCte(stem: Boolean): String =
    s"""${topCte(stem)}, tf AS (
       |  SELECT t.doc_id, t.term, count(*) AS tf
       |  FROM terms t WHERE t.term IN (SELECT term FROM top)
       |  GROUP BY t.doc_id, t.term
       |)""".stripMargin

  private def scoreSql(stem: Boolean): String =
    s"""${tfCte(stem)}
       |SELECT tf.doc_id, tf.term, tf.tf, top.df,
       |       round(tf.tf * ln(10000.0 / (top.df + 1)), 6) AS score
       |FROM tf JOIN top ON tf.term = top.term""".stripMargin

  /** BM25 twin: the SAME expression tree as [[bm25Df]] (constant folding
    * pre-applied — 2.2 = k1+1, 0.25 = 1-b — so both engines evaluate the
    * identical double operations).
    */
  private def bm25Sql(stem: Boolean): String =
    s"""${topCte(stem)}, tfa AS (
       |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, sum(tf) AS dl FROM tfa GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
       |)
       |SELECT t.doc_id, t.term, t.tf, top.df,
       |       round(ln((CAST(s.n_docs AS DOUBLE) - CAST(top.df AS DOUBLE) + 0.5) /
       |                (CAST(top.df AS DOUBLE) + 0.5) + 1.0) *
       |             (CAST(t.tf AS DOUBLE) * 2.2 /
       |              (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |               CAST(d.dl AS DOUBLE) /
       |               (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))),
       |             6) AS bm25
       |FROM tfa t
       |JOIN top ON t.term = top.term
       |JOIN dl d ON d.doc_id = t.doc_id
       |CROSS JOIN stats s""".stripMargin

  /** Search twin: same expression tree as [[searchDf]]; the per-doc total
    * goes through the identical round-then-DECIMAL(18,6) sum.
    */
  private def searchSql(stem: Boolean): String = {
    val inList = SearchTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""${termsCte(stem)}, tfa AS (
       |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, sum(tf) AS dl FROM tfa GROUP BY doc_id
       |), stats AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
       |), qtf AS (
       |  SELECT doc_id, term, tf FROM tfa WHERE term IN $inList
       |), qdf AS (
       |  SELECT term, count(*) AS df FROM qtf GROUP BY term
       |)
       |SELECT t.doc_id, count(*) AS n_terms,
       |       CAST(sum(CAST(round(
       |         ln((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
       |            (CAST(f.df AS DOUBLE) + 0.5) + 1.0) *
       |         (CAST(t.tf AS DOUBLE) * 2.2 /
       |          (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |           CAST(d.dl AS DOUBLE) /
       |           (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))),
       |         6) AS DECIMAL(18,6))) AS DOUBLE) AS score
       |FROM qtf t
       |JOIN qdf f ON t.term = f.term
       |JOIN dl d ON d.doc_id = t.doc_id
       |CROSS JOIN stats s
       |GROUP BY t.doc_id
       |ORDER BY score DESC, t.doc_id ASC
       |LIMIT 20""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    "tfidf_df" -> s"${dfCte(true)} SELECT term, df FROM dfr",
    "tfidf_top100" -> s"${topCte(true)} SELECT term, df FROM top",
    "tfidf_score" -> scoreSql(true),
    "tfidf_bm25" -> bm25Sql(true),
    "tfidf_df_raw" -> s"${dfCte(false)} SELECT term, df FROM dfr",
    "tfidf_top100_raw" -> s"${topCte(false)} SELECT term, df FROM top",
    "tfidf_tf_raw" -> s"${tfCte(false)} SELECT doc_id, term, tf FROM tf",
    "tfidf_score_raw" -> scoreSql(false),
    "tfidf_bm25_raw" -> bm25Sql(false),
    "tfidf_search" -> searchSql(false),
    "tfidf_keyphrases" -> keyphrasesSql(false)
  )

  /** Keyphrase twin: identical score expression and rounded-first sort. */
  private def keyphrasesSql(stem: Boolean): String =
    s"""${termsCte(stem)}, tfa AS (
       |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
       |), dfr AS (
       |  SELECT term, count(*) AS df FROM tfa GROUP BY term
       |), nd AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM tfa
       |), scored AS (
       |  SELECT t.doc_id, t.term, t.tf, f.df,
       |         round(CAST(t.tf AS DOUBLE) *
       |               ln(CAST(n.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)), 6) AS score
       |  FROM tfa t JOIN dfr f ON f.term = t.term CROSS JOIN nd n
       |)
       |SELECT doc_id, term, tf, df, score, rank FROM (
       |  SELECT doc_id, term, tf, df, score,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, term ASC) AS rank
       |  FROM scored
       |) WHERE rank <= $KeyphraseK""".stripMargin
}
