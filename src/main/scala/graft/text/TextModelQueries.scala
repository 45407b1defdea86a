package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{CacheScope, QueryPack, Tables}
import graft.dedup.Shingles

/** Model-shaped text operators: a trained multinomial naive-Bayes language
  * classifier (the learned upgrade of text_langid's stopword heuristic)
  * and winnowing fingerprint selection (Schleimer et al., SIGMOD 2003 —
  * the position-aware local fingerprinting MOSS uses, complementing
  * text_fingerprint's single MinHash-1 digest).
  *
  * Determinism: every per-token log-likelihood is round(,9)-pinned and
  * summed through DECIMAL(18,9) (the text_unigram_logprob discipline), so
  * per-doc scores are order-independent and engine-identical; the argmax
  * tie-breaks on the language string via the max(struct) pattern.
  */
object TextModelQueries extends QueryPack {

  import TextAnalysisQueries.cleanTokens

  private def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")

  /** Winnowing window size (in 3-gram positions). */
  val WinnowW = 4

  /** Stop-fingerprint cap for pair generation: a fingerprint present in
    * more than this many documents (a boilerplate phrase) is excluded
    * from candidate pairs — the hub-suppression that keeps the
    * fingerprint self-join's fan-out bounded per bucket.
    */
  val MaxFpDocs = 20

  /** Minimum shared fingerprints for a candidate pair. */
  val MinSharedFps = 2

  /** Terms reported by text_lsa. */
  val LsaTopK = 25

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Latent-semantic-analysis dominant axis of the sparse term-document
    // COUNT matrix: two exact-integer power steps v2 = AᵀA·AᵀA·1 on the
    // never-materialized Gram matrix (AᵀA is vocab², but each step is
    // just matvec = one equi-join + one groupBy on the (doc, term, tf)
    // relation — the Pca.project discipline moved to a SPARSE matrix).
    // The output is the top-|LsaTopK| term loadings on the first singular
    // direction — the "what is this corpus about" axis, and the
    // projection basis LSA retrieval uses. Integer headroom: |v2| ≤
    // nnz²·tf²·maxu grows ~corpus⁴ and step-2 sums run as DECIMAL(38,0)
    // (HUGEINT in the oracle); past ~1e38 the production dial is an
    // exact integer RESCALE between steps (divide by a power of ten),
    // exactly as Pca.project documents. The only doubles are the final
    // scale-invariant loading = v2/max|v2| from exact operands.
    "text_lsa" -> ((s, d) => {
      val td = docs(s, d)
        .select(col("doc_id"), explode(cleanTokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(CacheScope.persisted(_))
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      val u1 = td.groupBy("doc_id").agg(sum(col("tf")).as("u1"))
      val v1 = td.join(u1, "doc_id")
        .groupBy("term").agg(sum(col("tf") * col("u1")).as("v1"))
      val u2 = td.join(v1, "term")
        .groupBy("doc_id").agg(sum(dec(col("tf")) * dec(col("v1"))).as("u2"))
      val v2 = td.join(u2, "doc_id")
        .groupBy("term").agg(sum(dec(col("tf")) * dec(col("u2"))).as("v2"))
        .transform(CacheScope.persisted(_))
      val mx = v2.agg(max(abs(col("v2"))).as("mx"))
      v2.crossJoin(broadcast(mx))
        .select(col("term"),
          round(col("v2").cast("double") / col("mx").cast("double"), 6)
            .as("loading"))
        .orderBy(abs(col("loading")).desc, col("term").asc)
        .limit(LsaTopK)
    }),

    // Multinomial naive Bayes over tokens, trained on the gold `lang`
    // labels and evaluated in-corpus: P(lang|doc) ∝ P(lang) · Π
    // P(tok|lang) with add-one smoothing over the corpus vocabulary;
    // output is the confusion matrix (gold × predicted, doc counts) —
    // the honest readout of what a learned classifier adds over the
    // stopword heuristic (text_langid_eval is the baseline's matrix).
    // Scale shape: one token explode feeds the (lang, tok) count and
    // vocab aggregates; scoring re-joins tokens to the count relation
    // per CANDIDATE language — a |langs|-bounded multiplier on the token
    // stream, all equi-joins (AQE broadcasts the count relation while it
    // fits). The per-(doc, lang) sum collapses in partial aggregation,
    // unseen tokens take the smoothing floor via coalesce — no UDF, no
    // collect, no window.
    "text_naive_bayes" -> ((s, d) => naiveBayesOf(docs(s, d))),

    // McNemar's paired test between the two language classifiers the
    // engine ships — the trained naive Bayes vs the stopword-ratio
    // heuristic — on the SAME documents (that pairing is the whole
    // point: discordant counts b/c isolate the docs where exactly one
    // model is right, which an unpaired accuracy diff cannot). The
    // continuity-corrected statistic (|b−c|−1)²/(b+c) is exact integer
    // arithmetic until one final division. One join of two per-doc
    // prediction relations, then a constant-size aggregation.
    "q_stats_mcnemar" -> ((s, d) => {
      val dd = docs(s, d)
      val nb = nbPredictions(dd)
        .select(col("doc_id"), col("lang"), col("pred_lang").as("pred_nb"))
      val toks = cleanTokens(col("text"))
      val hits = TextAnalysisQueries.countIn(
        toks, graft.text.Stopwords.reachable.filter(_.nonEmpty))
      val heur = dd.select(col("doc_id"),
        when(hits.cast("double") / size(toks) >= 0.15, "en")
          .otherwise("unknown").as("pred_h"))
      nb.join(heur, Seq("doc_id"))
        .select(
          (col("pred_nb") === col("lang")).cast("long").as("nb_ok"),
          (col("pred_h") === col("lang")).cast("long").as("h_ok"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb_ok") * col("h_ok")).as("n_both"),
          sum(col("nb_ok") * (lit(1L) - col("h_ok"))).as("b_nb_only"),
          sum((lit(1L) - col("nb_ok")) * col("h_ok")).as("c_h_only"))
        .select(col("n_docs"), col("n_both"), col("b_nb_only"),
          col("c_h_only"),
          when(col("b_nb_only") + col("c_h_only") === 0, lit(0.0))
            .otherwise(round(
              ((abs(col("b_nb_only") - col("c_h_only")) - 1) *
               (abs(col("b_nb_only") - col("c_h_only")) - 1)).cast("double") /
              (col("b_nb_only") + col("c_h_only")).cast("double"), 6))
            .as("mcnemar_chi2"))
    }),

    // Interpolated Kneser-Ney bigram scoring — the smoothing real LMs
    // actually shipped (KenLM's default): P(w2|w1) = max(c(w1w2)−d,0)/
    // c(w1·) + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··), with the famous
    // CONTINUATION probability ("how many contexts does w2 complete?")
    // replacing the raw unigram — "francisco" is frequent but follows
    // only "san", so KN backs off to it far less than add-one would
    // (text_bigram_logprob is the unsmoothed baseline; text_perplexity
    // the Laplace one). Everything derives from the pair vocab in two
    // vocab-sized aggregations — the left marginal + follower-type count
    // share ONE groupBy(w1), continuation counts one groupBy(w2), the
    // distinct-pair total a broadcast 1-row aggregate; no second corpus
    // pass. Per-bigram log-probs are round(,9)-pinned into exact DECIMAL
    // sums (the unigram_logprob discipline); n2 >= 1 keeps every
    // probability strictly positive, so no -inf can reach the fold.
    "text_bigram_kn" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 9)
      val bg = docs(s, d)
        .select(col("doc_id"),
          filter(cleanTokens(col("text")), x => x =!= "").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .transform(graft.CacheScope.persisted(_))
      val v2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        // eager: v2 fans out to left/cont/tot/join in one action — the
        // count serializes the cache build (and bg's, upstream of it)
        // before AQE's parallel stage jobs race on it
        .transform(graft.CacheScope.persisted(_))
      val left = v2.groupBy("w1")
        .agg(sum(col("n2")).as("n1"), count(lit(1)).as("f1"))
      val cont = v2.groupBy("w2").agg(count(lit(1)).as("c2"))
      val tot = v2.agg(count(lit(1)).as("tp"))
      val p = (greatest(col("n2").cast("double") - lit(0.75), lit(0.0)) /
          col("n1").cast("double")) +
        (lit(0.75) * col("f1").cast("double") / col("n1").cast("double")) *
          (col("c2").cast("double") / col("tp").cast("double"))
      val lp = round(log(p), 9).cast(dec)
      bg.join(v2, Seq("w1", "w2"))
        .join(left, Seq("w1"))
        .join(cont, Seq("w2"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(lp).as("slp"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("slp").cast("double") / col("n_bigrams"), 6)
            .as("avg_logprob_kn"))
    }),

    // Winnowing fingerprints: 60-bit word-3-gram hashes in document
    // order; every W-gram window contributes its minimum hash (rightmost
    // position on ties — the canonical robust-winnowing rule), and the
    // per-document fingerprint SET is the distinct selected (hash, pos)
    // pairs. Guarantees any match of >= W+2 consecutive words between
    // two documents shares a fingerprint — the local-similarity
    // detection contract MinHash can't give. Scale shape: one narrow
    // gram explode, ONE doc-partitioned bounded-frame window, one
    // row-local distinct — no self-join, no global sort; docs with fewer
    // than W grams yield no complete window and drop out (both engines).
    "text_winnowing" -> ((s, d) => winnowingOf(docs(s, d))),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    // the word co-occurrence graph (adjacent clean tokens, undirected,
    // weighted by co-occurrence count, hapax edges pruned), emitting the
    // corpus top-30 keywords. The rank is the graph pack's weighted integer
    // fixed-point iteration ([[graft.graph.Kernels.rank]]: each neighbor
    // pulls w(u,v)·(r(u) div W(u)), both engines bit-identical). The final
    // top-30 is TakeOrderedAndProject (global top-k, no window); 5
    // iterations, unrolled as CTEs in the oracle.
    "text_textrank" -> ((s, d) => textrankOf(docs(s, d))),

    // Winnowing-based near-dup CANDIDATE PAIRS: documents sharing >= 2
    // selected fingerprints — the LOCAL-similarity dedup generator
    // MinHash can't be (a long quoted span between otherwise-different
    // documents shares fingerprints but barely moves whole-doc Jaccard).
    // Scale shape: the pair generator is an equi-join on the fingerprint
    // value; hub fingerprints (boilerplate phrases in > MaxFpDocs docs)
    // are excluded first, so per-fingerprint fan-out is capped at
    // MaxFpDocs² — the same stop-key discipline as the LSH band and
    // simhash block joins.
    "text_winnowing_pairs" -> ((s, d) => {
      val fp = winnowingOf(docs(s, d))
        .select(col("doc_id"), col("fingerprint")).distinct()
        .transform(CacheScope.persisted(_))
      val rare = fp.groupBy("fingerprint").agg(count(lit(1)).as("nd"))
        .filter(col("nd") <= MaxFpDocs)
        .select("fingerprint")
      val f = fp.join(rare, "fingerprint")
      f.join(f.select(col("fingerprint"), col("doc_id").as("doc_b")), "fingerprint")
        .filter(col("doc_id") < col("doc_b"))
        .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= MinSharedFps)
    }))

  /** Naive-Bayes train + in-corpus confusion matrix over any
    * (doc_id, lang, text) relation — public for planted-corpus specs
    * (see the registration above for the full design notes).
    */
  def naiveBayesOf(documents: DataFrame): DataFrame =
    nbPredictions(documents)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** Per-document naive-Bayes language prediction (doc_id, lang,
    * pred_lang) — the relation naiveBayesOf rolls up and
    * q_stats_mcnemar compares against the heuristic baseline.
    */
  def nbPredictions(documents: DataFrame): DataFrame = {
    // (doc, tok)-collapsed scoring (r16, guide §2.3 "aggregate before you
    // shuffle"): everything downstream — the (lang, tok) training counts,
    // the vocab size, and the per-candidate-language scoring join — needs
    // only per-document token COUNTS, never the raw occurrence stream. One
    // corpus pass collapses occurrences to (doc_id, lang, tok, tf) with
    // map-side partial aggregation; the scoring cross-product (the
    // |langs|-bounded multiplier) then fans out distinct doc-token pairs
    // instead of every occurrence, and each occurrence's log-prob
    // contribution arrives as the EXACT decimal product tf · lp
    // (DECIMAL(18,9) times an integer — identical to summing lp tf times).
    val dtf = documents
      .select(col("doc_id"), col("lang"), explode(cleanTokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .transform(CacheScope.persisted(_))
    val counts = dtf.groupBy(col("lang").as("clang"), col("tok"))
      .agg(sum(col("tf")).as("nlt"))
    val pri = documents.groupBy("lang").agg(count(lit(1)).as("nd"))
    val meta = counts.groupBy("clang").agg(sum(col("nlt")).as("nl"))
      .join(pri.select(col("lang").as("clang"), col("nd")), "clang")
      .crossJoin(broadcast(dtf.agg(countDistinct(col("tok")).as("v"))))
      .crossJoin(broadcast(documents.agg(count(lit(1)).as("ndtot"))))
    val dec = DecimalType(18, 9)
    val lp = round(log((coalesce(col("nlt"), lit(0L)) + 1).cast("double") /
      (col("nl") + col("v")).cast("double")), 9).cast(dec)
    val prior = round(log(col("nd").cast("double") / col("ndtot").cast("double")), 9)
      .cast(dec)
    val scores = dtf
      .join(broadcast(meta), expr("true"))
      .join(counts, Seq("clang", "tok"), "left")
      .groupBy(col("doc_id"), col("lang"), col("clang"), prior.as("prior"))
      // tf bounded by one document's token count, so DECIMAL(9,0) is
      // generous; the product stays decimal(28,9) — exact, no
      // precision-loss adjustment (a raw long multiplicand would push the
      // result past precision 38).
      .agg(sum(col("tf").cast(DecimalType(9, 0)) * lp).as("sll"))
      .select(col("doc_id"), col("lang"), col("clang"),
        (col("prior") + col("sll")).as("score"))
    scores.groupBy(col("doc_id"), col("lang"))
      .agg(max(struct(col("score"), col("clang"))).as("m"))
      .select(col("doc_id"), col("lang"), col("m.clang").as("pred_lang"))
  }

  /** Winnowing fingerprint selection over any (doc_id, text) relation —
    * public for the shared-run guarantee spec (design notes at the
    * registration above).
    */
  def winnowingOf(documents: DataFrame): DataFrame = {
    val toks = Shingles.tokens(col("text"))
    val grams = documents
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => struct(i.as("pos"), Shingles.hash60(concat_ws(" ",
          element_at(col("tk"), i), element_at(col("tk"), i + 1),
          element_at(col("tk"), i + 2))).as("h")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(-(WinnowW - 1), 0)
    grams
      .select(col("doc_id"), col("pos"),
        min(struct(col("h"), (-col("pos")).as("negp"))).over(w).as("m"))
      .filter(col("pos") >= WinnowW)
      .select(col("doc_id"), col("m.h").as("fingerprint"),
        (-col("m.negp")).as("fp_pos"))
      .distinct()
  }

  /** TextRank dials (see the registration comment); rounds, scale and
    * damping are the PageRank dials of [[graft.graph.Kernels.rank]].
    */
  val TrIters: Int = graft.graph.GraphQueries.Iters
  val TrScale: Long = graft.graph.GraphQueries.Scale
  val TrDampPct: Long = graft.graph.GraphQueries.DampPct
  val TrMinCooc = 2
  val TrTopK = 30

  /** Weighted integer fixed-point TextRank over any (doc_id, text)
    * relation — public for TextModelSpec's planted-keyword checks.
    */
  def textrankOf(documents: DataFrame): DataFrame = {
    val tk = documents
      .select(filter(cleanTokens(col("text")), x => x =!= "").as("tk"))
    val bg = tk.filter(size(col("tk")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val und = bg.select(col("w1").as("src"), col("w2").as("dst"))
      .union(bg.select(col("w2").as("src"), col("w1").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .filter(col("w") >= TrMinCooc)
    graft.graph.Kernels.rank(und, lit(true))
      .select(col("node").as("word"), col("r").as("tr_fixed"))
      .orderBy(col("tr_fixed").desc, col("word").asc)
      .limit(TrTopK)
  }

  /** One unrolled TextRank iteration for the oracle. */
  private def trIterCte(i: Int): String = {
    val base = (100L - TrDampPct) * TrScale / 100L
    s"""c$i AS (
       |  SELECT e.dst, sum(e.w * (r.r // e.wdeg)) AS contrib
       |  FROM ed e JOIN r${i - 1} r ON r.node = e.src
       |  GROUP BY e.dst
       |), r$i AS (
       |  SELECT d.src AS node,
       |         $base + ($TrDampPct * COALESCE(c.contrib, 0)) // 100 AS r
       |  FROM deg d LEFT JOIN c$i c ON c.dst = d.src
       |)""".stripMargin
  }

  override val oracles: Map[String, String] = Map(

    "text_lsa" ->
      s"""WITH td AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(
         |             regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS term
         |    FROM documents
         |  ) WHERE term <> '' GROUP BY 1, 2
         |), u1 AS (
         |  SELECT doc_id, sum(tf) AS u1 FROM td GROUP BY 1
         |), v1 AS (
         |  SELECT t.term, sum(t.tf * u.u1) AS v1
         |  FROM td t JOIN u1 u USING (doc_id) GROUP BY 1
         |), u2 AS (
         |  SELECT t.doc_id, sum(CAST(t.tf AS HUGEINT) * CAST(v.v1 AS HUGEINT)) AS u2
         |  FROM td t JOIN v1 v USING (term) GROUP BY 1
         |), v2 AS (
         |  SELECT t.term, sum(CAST(t.tf AS HUGEINT) * CAST(u.u2 AS HUGEINT)) AS v2
         |  FROM td t JOIN u2 u USING (doc_id) GROUP BY 1
         |), mx AS (SELECT max(abs(v2)) AS mx FROM v2)
         |SELECT term,
         |       round(CAST(v2 AS DOUBLE) / CAST(mx AS DOUBLE), 6) AS loading
         |FROM v2, mx
         |ORDER BY abs(round(CAST(v2 AS DOUBLE) / CAST(mx AS DOUBLE), 6)) DESC,
         |         term ASC
         |LIMIT $LsaTopK""".stripMargin,

    "text_bigram_kn" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +'),
        |                     x -> x <> '') AS tk
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(tk)),
        |                i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS b
        |  FROM toks WHERE len(tk) >= 2
        |), bg2 AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
        |), v2 AS (
        |  SELECT w1, w2, count(*) AS n2 FROM bg2 GROUP BY 1, 2
        |), lft AS (
        |  SELECT w1, CAST(sum(n2) AS BIGINT) AS n1, count(*) AS f1 FROM v2 GROUP BY 1
        |), cont AS (
        |  SELECT w2, count(*) AS c2 FROM v2 GROUP BY 1
        |), tot AS (SELECT count(*) AS tp FROM v2)
        |SELECT t.doc_id, count(*) AS n_bigrams,
        |       round(CAST(sum(CAST(round(ln(
        |           (greatest(CAST(v.n2 AS DOUBLE) - 0.75, 0.0) / CAST(l.n1 AS DOUBLE)) +
        |           (0.75 * CAST(l.f1 AS DOUBLE) / CAST(l.n1 AS DOUBLE)) *
        |             (CAST(c.c2 AS DOUBLE) / CAST(s.tp AS DOUBLE))), 9)
        |         AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS avg_logprob_kn
        |FROM bg2 t
        |JOIN v2 v ON v.w1 = t.w1 AND v.w2 = t.w2
        |JOIN lft l ON l.w1 = t.w1
        |JOIN cont c ON c.w2 = t.w2
        |CROSS JOIN tot s
        |GROUP BY t.doc_id""".stripMargin,

    "text_textrank" ->
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +'),
         |                     x -> x <> '') AS tk
         |  FROM documents
         |), bg AS (
         |  SELECT unnest(list_transform(range(1, len(tk)),
         |                i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS b
         |  FROM toks WHERE len(tk) >= 2
         |), bgf AS (
         |  SELECT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> b.w2
         |), und AS (
         |  SELECT src, dst, count(*) AS w FROM (
         |    SELECT w1 AS src, w2 AS dst FROM bgf
         |    UNION ALL
         |    SELECT w2 AS src, w1 AS dst FROM bgf
         |  ) GROUP BY 1, 2 HAVING count(*) >= $TrMinCooc
         |), deg AS (
         |  SELECT src, sum(w) AS wdeg FROM und GROUP BY 1
         |), ed AS (
         |  SELECT u.src, u.dst, u.w, d.wdeg FROM und u JOIN deg d ON d.src = u.src
         |), r0 AS (SELECT src AS node, $TrScale AS r FROM deg),
         |${(1 to TrIters).map(trIterCte).mkString(",\n")}
         |SELECT node AS word, CAST(r AS BIGINT) AS tr_fixed
         |FROM r$TrIters ORDER BY r DESC, node ASC LIMIT $TrTopK""".stripMargin,

    "text_naive_bayes" ->
      s"""$nbPredCte
         |SELECT lang, pred_lang, count(*) AS n
         |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    "q_stats_mcnemar" ->
      s"""$nbPredCte, nb AS (
         |  SELECT doc_id, lang, pred_lang AS pred_nb FROM pred WHERE rn = 1
         |), ht AS (
         |  SELECT doc_id,
         |         string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +') AS toks
         |  FROM documents
         |), heur AS (
         |  SELECT doc_id,
         |         CASE WHEN CAST(len(list_filter(toks, x -> x IN ${TextAnalysisQueries.stopList})) AS DOUBLE)
         |                   / len(toks) >= 0.15
         |              THEN 'en' ELSE 'unknown' END AS pred_h
         |  FROM ht
         |), ok AS (
         |  SELECT CASE WHEN nb.pred_nb = nb.lang THEN 1 ELSE 0 END AS nb_ok,
         |         CASE WHEN h.pred_h = nb.lang THEN 1 ELSE 0 END AS h_ok
         |  FROM nb JOIN heur h ON h.doc_id = nb.doc_id
         |), m AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(nb_ok * h_ok) AS BIGINT) AS n_both,
         |         CAST(sum(nb_ok * (1 - h_ok)) AS BIGINT) AS b_nb_only,
         |         CAST(sum((1 - nb_ok) * h_ok) AS BIGINT) AS c_h_only
         |  FROM ok
         |)
         |SELECT n_docs, n_both, b_nb_only, c_h_only,
         |       CASE WHEN b_nb_only + c_h_only = 0 THEN 0.0
         |            ELSE round(CAST((abs(b_nb_only - c_h_only) - 1) *
         |                            (abs(b_nb_only - c_h_only) - 1) AS DOUBLE) /
         |                       (b_nb_only + c_h_only), 6) END AS mcnemar_chi2
         |FROM m""".stripMargin,

    // Window-end self-join formulation (deliberately different from the
    // Spark side's bounded-frame window): candidates j in (e-W, e],
    // argmin by (h ASC, pos DESC), distinct selections.
    "text_winnowing" ->
      s"""$winnowSelCte
         |SELECT DISTINCT doc_id, h AS fingerprint, CAST(pos AS INTEGER) AS fp_pos
         |FROM sel WHERE rn = 1""".stripMargin,

    "text_winnowing_pairs" ->
      s"""$winnowSelCte, fps AS (
         |  SELECT DISTINCT doc_id, h FROM sel WHERE rn = 1
         |), rare AS (
         |  SELECT h FROM (SELECT h, count(*) AS nd FROM fps GROUP BY 1)
         |  WHERE nd <= $MaxFpDocs
         |), f AS (
         |  SELECT fp.doc_id, fp.h FROM fps fp JOIN rare r ON r.h = fp.h
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |FROM f a JOIN f b ON b.h = a.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= $MinSharedFps""".stripMargin)

  /** Shared naive-Bayes per-doc prediction CTE chain (token counts →
    * smoothed decimal log-likelihood scores → argmax) closed by a `pred`
    * relation of (doc_id, lang, pred_lang, rn) — rn = 1 is the
    * prediction. Used by the text_naive_bayes and q_stats_mcnemar
    * oracles.
    */
  private def nbPredCte: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS tok
      |  FROM documents
      |), tok2 AS (
      |  SELECT doc_id, lang, tok FROM tok WHERE tok <> ''
      |), counts AS (
      |  SELECT lang AS clang, tok, count(*) AS nlt FROM tok2 GROUP BY 1, 2
      |), pri AS (
      |  SELECT lang, count(*) AS nd FROM documents GROUP BY 1
      |), meta AS (
      |  SELECT c.clang, c.nl, p.nd,
      |         (SELECT count(DISTINCT tok) FROM tok2) AS v,
      |         (SELECT count(*) FROM documents) AS ndtot
      |  FROM (SELECT clang, sum(nlt) AS nl FROM counts GROUP BY 1) c
      |  JOIN pri p ON p.lang = c.clang
      |), scores AS (
      |  SELECT t.doc_id, t.lang, m.clang,
      |         CAST(round(ln(CAST(m.nd AS DOUBLE) / CAST(m.ndtot AS DOUBLE)), 9) AS DECIMAL(18,9)) +
      |         CAST(sum(CAST(round(ln(CAST(coalesce(c.nlt, 0) + 1 AS DOUBLE) /
      |                                 CAST(m.nl + m.v AS DOUBLE)), 9)
      |                       AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS score
      |  FROM tok2 t
      |  CROSS JOIN meta m
      |  LEFT JOIN counts c ON c.clang = m.clang AND c.tok = t.tok
      |  GROUP BY 1, 2, 3, m.nd, m.ndtot
      |), pred AS (
      |  SELECT doc_id, lang, clang AS pred_lang,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, clang DESC) AS rn
      |  FROM scores
      |)""".stripMargin

  /** Shared winnowing-selection CTE chain (tokens → positioned gram
    * hashes → per-window argmin) for the two oracles above.
    */
  private def winnowSelCte: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |         ('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
       |        FROM tk WHERE len(t) >= 3)
       |), sel AS (
       |  SELECT e.doc_id, c.h, c.pos,
       |         row_number() OVER (PARTITION BY e.doc_id, e.pos
       |                            ORDER BY c.h ASC, c.pos DESC) AS rn
       |  FROM g e JOIN g c
       |    ON c.doc_id = e.doc_id
       |   AND c.pos > e.pos - $WinnowW AND c.pos <= e.pos
       |  WHERE e.pos >= $WinnowW
       |)""".stripMargin
}
