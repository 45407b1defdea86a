package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}

/** The BPE tokenizer family (Sennrich et al. 2016): one merge step, the
  * full greedy train loop, corpus encoding (expression chain below
  * [[BpeExprMergeCap]] merges, broadcast [[BpeCodec]] mapPartitions
  * above), and the fertility/compression scorecard. Extracted from
  * TextAnalysisQueries (r11 monolith split); tokenization helpers stay
  * shared via private[text] cleanTokens.
  */
object BpeQueries extends QueryPack {

  import TextAnalysisQueries.cleanTokens

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** BPE training config: vocab cap (total-ordered top-K words) and merge
    * rounds. Small enough that the unrolled oracle CTE chain stays
    * readable; the Spark loop takes the same constants.
    */
  val BpeTrainVocab = 2000
  val BpeTrainMerges = 10

  /** DuckDB replay of the BPE training loop: the same greedy rounds,
    * unrolled — stage i computes pair counts over vocab state s_i, picks
    * the argmax under (n desc, pair asc) as b_i, and rewrites the state
    * with the delimiter-safe replace into s_{i+1}. Shared WITH prefix for
    * the train and apply oracles; every CTE is MATERIALIZED because s_i
    * is consumed twice per stage (p_i and s_{i+1}) and inlining would
    * duplicate the base scan 2^rounds times.
    */
  private def bpeTrainCtes: String = {
    // If a round's pair table is empty (corpus exhausted merges early —
    // bpeTrainOf breaks out of its loop), the scalar subquery
    // `(SELECT pair FROM b_i)` yields NULL and a bare replace() would
    // poison every later state with NULL. COALESCE to a sentinel pair
    // that can never occur: cleaned text is [a-z] only, so '~ ~' builds
    // the search string '|~||~|' which matches nothing and the replace
    // is an identity — the oracle then agrees with the early-exit loop.
    def pairOf(i: Int) = s"COALESCE((SELECT pair FROM b$i), '~ ~')"
    val stages = (1 to BpeTrainMerges).map { i =>
      val next =
        if (i == BpeTrainMerges) ""
        else s""", s${i + 1} AS MATERIALIZED (
           |  SELECT replace(state,
           |           '|' || replace(${pairOf(i)}, ' ', '||') || '|',
           |           '|' || replace(${pairOf(i)}, ' ', '') || '|') AS state,
           |         wn
           |  FROM s$i)""".stripMargin
      s""", p$i AS MATERIALIZED (
         |  SELECT t[j] || ' ' || t[j+1] AS pair, CAST(sum(wn) AS BIGINT) AS n
         |  FROM (SELECT t, wn, unnest(generate_series(1, len(t) - 1)) AS j
         |        FROM (SELECT string_split(substr(state, 2, length(state) - 2), '||') AS t, wn
         |              FROM s$i)) x
         |  GROUP BY 1
         |), b$i AS MATERIALIZED (SELECT pair, n FROM p$i ORDER BY n DESC, pair LIMIT 1)""".stripMargin + next
    }.mkString
    s"""WITH tok AS MATERIALIZED (
       |  SELECT unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS word
       |  FROM documents
       |), vocab AS MATERIALIZED (
       |  SELECT word, count(*) AS wn FROM tok WHERE word <> ''
       |  GROUP BY word ORDER BY wn DESC, word LIMIT $BpeTrainVocab
       |), s1 AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS state, wn FROM vocab
       |)$stages""".stripMargin
  }

  private def bpeTrainOracle: String = {
    val union = (1 to BpeTrainMerges).map { i =>
      s"SELECT $i AS merge_rank, pair, replace(pair, ' ', '') AS merged, n FROM b$i"
    }.mkString("\nUNION ALL ")
    s"""$bpeTrainCtes
       |$union
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB replay of BPE ENCODING: re-derives the merge table (the same
    * CTE chain as the train oracle), then applies the ten merges in rank
    * order to every corpus word as a chained delimiter-safe replace, and
    * aggregates token counts per document.
    */
  /** The learned-merge replace chain over one `word` column — shared by
    * the apply and eval oracles.
    */
  private def bpeChainSql: String = (1 to BpeTrainMerges).foldLeft(
    "regexp_replace(word, '(.)', '|\\1|', 'g')") { (acc, i) =>
    // Same NULL-safety as bpeTrainCtes: an exhausted round's empty b_i
    // must degrade to an identity replace, not a NULL chain.
    s"""replace($acc,
       |  COALESCE((SELECT '|' || replace(pair, ' ', '||') || '|' FROM b$i), '|~||~|'),
       |  COALESCE((SELECT '|' || replace(pair, ' ', '') || '|' FROM b$i), '|~~|'))""".stripMargin
  }

  private def bpeApplyOracle: String = {
    val chain = bpeChainSql
    s"""$bpeTrainCtes, tok2 AS MATERIALIZED (
       |  SELECT doc_id,
       |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS word
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id,
       |         len(string_split(substr(st, 2, length(st) - 2), '||')) AS nt
       |  FROM (SELECT doc_id, $chain AS st FROM tok2 WHERE word <> '')
       |)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
       |FROM enc GROUP BY doc_id""".stripMargin
  }

  /** DuckDB replay of the tokenizer-evaluation aggregate: the same
    * train + encode chain as [[bpeApplyOracle]], collapsed to the
    * corpus-level compression scorecard.
    */
  private def bpeEvalOracle: String = {
    val chain = bpeChainSql
    s"""$bpeTrainCtes, tok2 AS MATERIALIZED (
       |  SELECT doc_id,
       |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS word
       |  FROM documents
       |), enc AS (
       |  SELECT doc_id, length(word) AS nl,
       |         len(string_split(substr(st, 2, length(st) - 2), '||')) AS nt
       |  FROM (SELECT doc_id, word, $chain AS st FROM tok2 WHERE word <> '')
       |)
       |SELECT count(DISTINCT doc_id) AS n_docs,
       |       count(*) AS n_words,
       |       CAST(sum(nl) AS BIGINT) AS n_letters,
       |       CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
       |       round(CAST(sum(nt) AS DOUBLE) / count(*), 6) AS fertility,
       |       round(CAST(sum(nl) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6) AS chars_per_token,
       |       round(1.0 - CAST(sum(nt) AS DOUBLE) / CAST(sum(nl) AS DOUBLE), 6) AS merge_savings
       |FROM enc""".stripMargin
  }


  /** The BPE training loop body (see the text_bpe_train registration for
    * the full design notes). Takes the documents relation directly so
    * specs can feed planted corpora.
    */
  def bpeTrainOf(documents: DataFrame, vocabCap: Int = BpeTrainVocab,
      merges: Int = BpeTrainMerges): DataFrame = {
    val s = documents.sparkSession
    var state = documents
      .select(explode(cleanTokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("wn"))
      .orderBy(col("wn").desc, col("word").asc).limit(vocabCap)
      .select(regexp_replace(col("word"), "(.)", "|$1|").as("state"),
        col("wn"))
      .transform(graft.CacheScope.persisted(_))
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to merges if !exhausted) {
      val toks = split(col("state").substr(lit(2),
        length(col("state")) - 2), "\\|\\|")
      val best = state
        .select(col("wn"), toks.as("t")).filter(size(col("t")) >= 2)
        .select(col("wn"), explode(transform(
          sequence(lit(1), size(col("t")) - 1),
          j => concat_ws(" ", element_at(col("t"), j),
            element_at(col("t"), j + 1)))).as("pair"))
        .groupBy("pair").agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val merged = pair.replace(" ", "")
        learned += ((r, pair, merged, best(0).getLong(1)))
        state = state.select(
          replace(col("state"), lit("|" + pair.replace(" ", "||") + "|"),
            lit("|" + merged + "|")).as("state"), col("wn"))
      }
    }
    import s.implicits._
    learned.result().toDF("merge_rank", "pair", "merged", "n")
  }

  /** BPE ENCODING: apply a learned merge table to every document. The
    * merge list is driver-side scalars (it came out of [[bpeTrainOf]]'s
    * argmax rounds), so the encoder compiles to a literal chain of
    * `merges` replace() calls inside one `transform` lambda — a pure
    * codegen narrow map over documents, no joins, no shuffle except the
    * final per-doc count aggregation's none (groupBy is per-row here).
    * At 100 TB this is the ideal shape: tokenization cost scales with
    * bytes scanned and nothing else.
    */
  /** One word through the learned merge table: the `|`-delimited state
    * after every replace round. size(split(·, "\\|\\|")) is the token
    * count (see the comment in [[bpeApplyOf]]). Shared by apply + eval.
    */
  def bpeEncode(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(
      regexp_replace(w, "(.)", "|$1|")) { case (acc, (pair, merged)) =>
      replace(acc, lit("|" + pair.replace(" ", "||") + "|"),
        lit("|" + merged + "|"))
    }

  /** Merge-table size above which encode switches from the compiled
    * replace-chain EXPRESSION to the broadcast-table mapPartitions codec
    * ([[BpeCodec]]): ~50 merges compile into a shallow codegen tree (the
    * fastest shape), but a vocab-scale table (32k merges) would nest 32k
    * `replace` calls — an uncompilable expression. Both paths implement
    * the identical replace-chain semantics (BpeCodecSpec proves
    * equivalence, including on the rank-backfill input where the classic
    * min-rank encode diverges).
    */
  val BpeExprMergeCap = 256

  def bpeApplyOf(documents: DataFrame, merges: Seq[(String, String)],
      exprMergeCap: Int = BpeExprMergeCap): DataFrame =
    if (merges.size > exprMergeCap) bpeApplyScalable(documents, merges)
    else {
      def encode(w: Column): Column = bpeEncode(w, merges)
      val words = filter(cleanTokens(col("text")), w => w =!= "")
      documents
        .select(col("doc_id"), words.as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
          // "|a||b|" split on '||' -> ["|a", "b|"]: the outer pipes ride
          // along with the first/last element, so size() IS the token count
          // and encode() is evaluated once per word.
          aggregate(
            transform(col("ws"),
              w => size(split(encode(w), "\\|\\|")).cast("long")),
            lit(0L), (acc, x) => acc + x).as("n_bpe_tokens"))
    }

  /** The vocab-scale encode path: ONE narrow mapPartitions stage over the
    * tokenized corpus with the merge table broadcast once per executor —
    * no shuffle, no per-merge column pass, output identical to the
    * expression path by [[BpeCodec]]'s semantics guarantee.
    */
  def bpeApplyScalable(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val ss = documents.sparkSession
    val bc = ss.sparkContext.broadcast(new BpeCodec(merges.toIndexedSeq))
    import ss.implicits._
    documents
      .select(col("doc_id"),
        filter(cleanTokens(col("text")), w => w =!= "").as("ws"))
      .filter(size(col("ws")) > 0)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val codec = bc.value
        it.map { case (id, ws) =>
          (id, ws.size.toLong, ws.iterator.map(codec.tokenCount).sum)
        }
      }
      .toDF("doc_id", "n_words", "n_bpe_tokens")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // One step of BPE tokenizer training: adjacent character-pair
    // frequencies weighted by word frequency, top-50 merge candidates.
    // The corpus is touched ONCE to build the word-frequency vocab; pair
    // generation then runs over the VOCAB (distinct words), not the
    // corpus — the classic BPE trick that keeps every merge iteration
    // vocab-sized no matter the corpus scale. Each adjacent occurrence
    // inside a word counts ("aaa" contributes "a a" twice), matching the
    // Sennrich et al. training loop. Total order (n desc, pair asc).
    "text_bpe_merge" -> ((s, d) => {
      val vocab = docs(s, d)
        .select(explode(cleanTokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("wn"))
      vocab
        .filter(length(col("word")) >= 2)
        .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => concat(col("word").substr(i, lit(1)), lit(" "),
            col("word").substr(i + 1, lit(1))))).as("pair"), col("wn"))
        .groupBy("pair").agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50)
    }),

    // Full BPE tokenizer TRAINING loop (Sennrich et al.): BpeTrainMerges
    // greedy merge rounds, returning the learned merge table
    // (merge_rank, pair, merged, n). Scale shape: the corpus is touched
    // ONCE (word-frequency aggregation, the only corpus-sized shuffle),
    // capped to the top-BpeTrainVocab words under a total order; every
    // merge round then runs over that bounded vocab — one tiny shuffle +
    // a single-row argmax action per round (the k-means-centroid
    // discipline: only scalars cross to the driver). Merge application
    // is a string replace over the `|tok|` wrapped form: each token
    // carries its OWN delimiters, so adjacent matches share no
    // characters and non-overlapping left-to-right replace() — identical
    // semantics in Spark and DuckDB — IS the greedy left-to-right BPE
    // merge ("a a a" -> ["aa", "a"], "a b a b a b" -> 3 merges). The
    // oracle replays the identical rounds as an unrolled CTE chain.
    "text_bpe_train" -> ((s, d) => bpeTrainOf(docs(s, d))),

    // BPE ENCODING with the just-learned merge table: train (one corpus
    // pass + vocab-sized rounds), then tokenize every document with the
    // merge list compiled into a literal replace chain — see
    // [[bpeApplyOf]]. Output is integer token accounting per doc.
    "text_bpe_apply" -> ((s, d) => {
      val merges = bpeTrainOf(docs(s, d)).collect()
        .sortBy(_.getInt(0)).toSeq
        .map(r => (r.getString(1), r.getString(2)))
      bpeApplyOf(docs(s, d), merges)
    }),

    // Tokenizer-evaluation scorecard: what did the learned merges BUY?
    // One corpus-level row — fertility (BPE tokens per word; 1.0 would
    // be a whole-word vocab), chars-per-token (the compression dial
    // pretraining cost scales with), and merge_savings (fraction of the
    // character-tokenization baseline eliminated) — the numbers a
    // tokenizer rollout is judged on before any model sees the data.
    // Scale shape: train as in text_bpe_train (one corpus pass +
    // vocab-sized rounds), then ONE narrow codegen scan encodes every
    // word and partial-aggs collapse each task to a single row; integer
    // totals, three identical-IEEE final divisions.
    "text_bpe_eval" -> ((s, d) => {
      val merges = bpeTrainOf(docs(s, d)).collect()
        .sortBy(_.getInt(0)).toSeq
        .map(r => (r.getString(1), r.getString(2)))
      val sumOf = (f: Column => Column) => (ws: Column) =>
        aggregate(transform(ws, f), lit(0L), (a, x) => a + x)
      docs(s, d)
        .select(filter(cleanTokens(col("text")), w => w =!= "").as("ws"))
        .filter(size(col("ws")) > 0)
        .select(size(col("ws")).cast("long").as("nw"),
          sumOf(w => length(w).cast("long"))(col("ws")).as("nl"),
          sumOf(w => size(split(bpeEncode(w, merges), "\\|\\|"))
            .cast("long"))(col("ws")).as("nt"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nl")).as("n_letters"),
          sum(col("nt")).as("n_bpe_tokens"))
        .select(col("n_docs"), col("n_words"), col("n_letters"),
          col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") /
            col("n_words").cast("double"), 6).as("fertility"),
          round(col("n_letters").cast("double") /
            col("n_bpe_tokens").cast("double"), 6).as("chars_per_token"),
          round(lit(1.0) - col("n_bpe_tokens").cast("double") /
            col("n_letters").cast("double"), 6).as("merge_savings"))
    }),
  )

  override val oracles: Map[String, String] = Map(

    "text_bpe_merge" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS word
        |  FROM documents
        |), vocab AS (
        |  SELECT word, count(*) AS wn FROM tok WHERE word <> '' GROUP BY word
        |), pairs AS (
        |  SELECT unnest(list_transform(range(1, length(word)),
        |           i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1))) AS pair,
        |         wn
        |  FROM vocab WHERE length(word) >= 2
        |)
        |SELECT pair, CAST(sum(wn) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,

    "text_bpe_train" -> bpeTrainOracle,
    "text_bpe_apply" -> bpeApplyOracle,
    "text_bpe_eval" -> bpeEvalOracle,
  )
}
