package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryPack, Tables}

/** Lexical-richness and keyword operators over `documents` — the quality
  * signals a pretraining curator reads next to [[TextAnalysisQueries]]'s
  * surface stats: RAKE keyphrases (stopword-delimited phrase scoring — the
  * statistical cousin of graph-based text_textrank), MATTR moving-average
  * type-token ratio (the length-robust lexical-diversity metric raw TTR is
  * not), per-language tokenizer fertility (BPE-ish tokens per whitespace
  * word — the cost multiplier a tokenizer imposes on each language), and a
  * character-4-gram uniqueness ratio (a deterministic stand-in for the
  * compression-ratio quality filter; repetitive boilerplate scores low).
  *
  * Determinism: phrase/window statistics are exact integers; the only
  * doubles are final divisions of identical operands, and every summed
  * double term is round(,9)-pinned into a DECIMAL fold first (the
  * text_char_entropy discipline).
  *
  * Scale shapes: everything is one narrow scan + token-bounded per-doc
  * arrays or (doc-partitioned) windows; the RAKE word-score join is an
  * equi-join on the word key (vocab-sized right side — AQE picks the
  * strategy); global top-k rides TakeOrderedAndProject.
  */
object LexicalQueries extends QueryPack {

  import TextAnalysisQueries.cleanTokens

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** MATTR window width (tokens) and per-doc token cap (keeps the window
    * array bounded whatever the doc length; fertility/compressibility use
    * their own caps).
    */
  val MattrW = 50
  val MattrCap = 250

  /** RAKE output size. */
  val RakeTopK = 30

  /** Char cap for the 4-gram compressibility estimate. */
  val CompressCap = 2000

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RAKE (Rapid Automatic Keyword Extraction): candidate phrases are
    // maximal stopword-free token runs; each word scores deg/freq where
    // deg sums the lengths of the phrases it appears in; a phrase scores
    // the sum of its word scores. Islands come from the classic
    // i − row_number gap trick under a DOC-partitioned window; phrase
    // reassembly sorts (i, tok) structs so collect_list order can never
    // leak in. Corpus-level word stats make this the distributed variant
    // (per-doc RAKE is the degenerate |corpus|=1 case).
    "text_rake" -> ((s, d) => {
      val stops = Stopwords.reachable.filter(_.nonEmpty)
      val toks = docs(s, d)
        .select(col("doc_id"), posexplode(
          cleanTokens(col("text"))).as(Seq("i", "tok")))
        .filter(col("tok") =!= "" && !col("tok").isInCollection(stops))
      val w = Window.partitionBy("doc_id").orderBy("i")
      val phrases = toks
        .withColumn("pid", col("i") - row_number().over(w))
        .groupBy(col("doc_id"), col("pid"))
        .agg(array_sort(collect_list(struct(col("i"), col("tok")))).as("ts"))
        .select(col("doc_id"), col("pid"),
          transform(col("ts"), x => x.getField("tok")).as("words"),
          size(col("ts")).as("plen"))
        .withColumn("phrase", concat_ws(" ", col("words")))
        .transform(graft.CacheScope.persisted(_))
      val occ = phrases.select(col("doc_id"), col("pid"), col("phrase"),
        explode(col("words")).as("word"), col("plen"))
      val wscore = occ.groupBy("word")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("word"),
          round(col("deg").cast("double") / col("freq"), 9).as("ws"))
      val pscore = occ.join(wscore, "word")
        .groupBy(col("doc_id"), col("pid"), col("phrase"))
        .agg(sum(col("ws").cast(DecimalType(20, 9))).cast("double").as("sc"))
      pscore.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occ"), max(round(col("sc"), 6)).as("rake_score"))
        .orderBy(col("rake_score").desc, col("phrase").asc)
        .limit(RakeTopK)
    }),

    // Moving-average type-token ratio (Covington's MATTR): mean distinct
    // share over every 50-token window of the first 250 clean tokens —
    // comparable across doc lengths where raw TTR monotonically decays.
    // One narrow codegen map: per-doc bounded arrays, window sums exact
    // longs, one division at the end.
    "text_mattr" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          slice(filter(cleanTokens(col("text")), x => x =!= ""), 1, MattrCap)
            .as("ts"))
        .filter(size(col("ts")) >= MattrW)
        .select(col("doc_id"), size(col("ts")).as("n_tokens"),
          (size(col("ts")) - (MattrW - 1)).as("n_windows"),
          round(size(array_distinct(col("ts"))).cast("double") / size(col("ts")), 6)
            .as("ttr"),
          expr(s"""round(CAST(aggregate(
              transform(sequence(1, size(ts) - ${MattrW - 1}),
                        i -> size(array_distinct(slice(ts, i, $MattrW)))),
              CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) /
            (CAST($MattrW AS DOUBLE) * (size(ts) - ${MattrW - 1})), 6)""")
            .as("mattr"))),

    // Tokenizer fertility per language: BPE-ish tokens per whitespace
    // word and characters per token — the per-language cost multiplier
    // (a language with fertility 2.5 pays 2.5x the sequence length for
    // the same words). Exact integer sums to a |langs|-row relation.
    "text_fertility" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"), col("n_chars"),
          size(split(col("text"), "\\s+")).as("ws"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysisQueries.BpePattern), lit(0))).as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws").cast("long")).as("ws_tokens"),
          sum(col("bpe").cast("long")).as("bpe_tokens"),
          sum(col("n_chars")).as("chars"))
        .filter(col("ws_tokens") > 0 && col("bpe_tokens") > 0)
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          round(col("bpe_tokens").cast("double") / col("ws_tokens"), 6)
            .as("fertility"),
          round(col("chars").cast("double") / col("bpe_tokens"), 6)
            .as("chars_per_token"))),

    // Greenlist watermark detection (Kirchenbauer-style): a generation
    // watermark biases each token toward a pseudorandom "green" half of
    // the vocabulary keyed by the previous token; detection scores the
    // green fraction of bigram transitions as z = (g − n/2)/√(n/4) —
    // natural text sits near z≈0, watermarked text far positive. The
    // green set membership is an md5 parity of the bigram, so detection
    // is deterministic and needs no model. One narrow scan, bounded
    // per-doc arrays, exact counts; the only float is the final z.
    "text_watermark_detect" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          filter(cleanTokens(col("text")), x => x =!= "").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), (size(col("tk")) - 1).as("n_bigrams"),
          expr("""size(filter(
              transform(sequence(1, size(tk) - 1),
                i -> conv(substring(md5(concat(element_at(tk, i), ' ',
                                               element_at(tk, i + 1))), 1, 6), 16, 10)),
              h -> CAST(h AS BIGINT) % 2 = 0))""").as("n_green"))
        .select(col("doc_id"), col("n_bigrams"), col("n_green"),
          round((col("n_green").cast("double") -
              col("n_bigrams").cast("double") / 2.0) /
            sqrt(col("n_bigrams").cast("double") / 4.0), 6).as("z_green"),
          ((col("n_green").cast("double") -
              col("n_bigrams").cast("double") / 2.0) /
            sqrt(col("n_bigrams").cast("double") / 4.0) > 4.0)
            .as("flagged"))),

    // Character-4-gram uniqueness: distinct 4-grams over total 4-grams in
    // the first 2000 chars — the deterministic proxy for the
    // gzip-compression-ratio quality filter (boilerplate and template
    // spam repeat grams and score low; prose scores high). Bounded
    // per-doc array, one narrow stage.
    "text_compress_est" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), substring(col("text"), 1, CompressCap).as("t"))
        .filter(length(col("t")) >= 4)
        .select(col("doc_id"), length(col("t")).as("n_chars_used"),
          (length(col("t")) - 3).as("n_grams"),
          expr("""round(CAST(size(array_distinct(
              transform(sequence(1, length(t) - 3), i -> substring(t, i, 4))))
            AS DOUBLE) / (length(t) - 3), 6)""").as("uniq_ratio"))))

  override val oracles: Map[String, String] = Map(

    "text_rake" ->
      s"""WITH toks AS (
         |  SELECT doc_id, i, tok FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) AS tok,
         |           unnest(generate_series(0,
         |             len(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +')) - 1)) AS i
         |    FROM documents)
         |  WHERE tok != '' AND tok NOT IN ${TextAnalysisQueries.stopList}
         |), isl AS (
         |  SELECT doc_id, i, tok,
         |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS pid
         |  FROM toks
         |), phrases AS (
         |  SELECT doc_id, pid,
         |         string_agg(tok, ' ' ORDER BY i) AS phrase,
         |         count(*) AS plen
         |  FROM isl GROUP BY 1, 2
         |), occ AS (
         |  SELECT p.doc_id, p.pid, p.phrase, i.tok AS word, p.plen
         |  FROM phrases p JOIN isl i ON i.doc_id = p.doc_id AND i.pid = p.pid
         |), wscore AS (
         |  SELECT word,
         |         round(CAST(sum(plen) AS DOUBLE) / count(*), 9) AS ws
         |  FROM occ GROUP BY 1
         |), pscore AS (
         |  SELECT o.doc_id, o.pid, o.phrase,
         |         CAST(sum(CAST(w.ws AS DECIMAL(20,9))) AS DOUBLE) AS sc
         |  FROM occ o JOIN wscore w ON w.word = o.word
         |  GROUP BY 1, 2, 3
         |)
         |SELECT phrase, count(*) AS n_occ, max(round(sc, 6)) AS rake_score
         |FROM pscore GROUP BY phrase
         |ORDER BY rake_score DESC, phrase ASC LIMIT $RakeTopK""".stripMargin,

    "text_mattr" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +'),
         |                     x -> x != '')[1:$MattrCap] AS ts
         |  FROM documents
         |)
         |SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
         |       CAST(len(ts) - ${MattrW - 1} AS INT) AS n_windows,
         |       round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6) AS ttr,
         |       round(CAST(list_sum(list_transform(generate_series(1, len(ts) - ${MattrW - 1}),
         |                    i -> CAST(len(list_distinct(ts[i:i + ${MattrW - 1}])) AS BIGINT)))
         |             AS DOUBLE) /
         |             (CAST($MattrW AS DOUBLE) * (len(ts) - ${MattrW - 1})), 6) AS mattr
         |FROM t WHERE len(ts) >= $MattrW""".stripMargin,

    "text_fertility" ->
      s"""WITH t AS (
         |  SELECT lang, n_chars,
         |         len(string_split_regex(text, '\\s+')) AS ws,
         |         len(regexp_extract_all(text, '${TextAnalysisQueries.BpePattern}')) AS bpe
         |  FROM documents
         |)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |       round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS fertility,
         |       round(CAST(sum(n_chars) AS DOUBLE) / sum(bpe), 6) AS chars_per_token
         |FROM t GROUP BY lang
         |HAVING sum(ws) > 0 AND sum(bpe) > 0""".stripMargin,

    "text_watermark_detect" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +'),
         |                     x -> x != '') AS tk
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, CAST(len(tk) - 1 AS INT) AS n_bigrams,
         |         CAST(len(list_filter(
         |           list_transform(generate_series(1, len(tk) - 1),
         |             i -> ('0x' || substring(md5(tk[i] || ' ' || tk[i + 1]), 1, 6))::BIGINT),
         |           h -> h % 2 = 0)) AS INT) AS n_green
         |  FROM t WHERE len(tk) >= 2
         |)
         |SELECT doc_id, n_bigrams, n_green,
         |       round((CAST(n_green AS DOUBLE) - CAST(n_bigrams AS DOUBLE) / 2.0) /
         |             sqrt(CAST(n_bigrams AS DOUBLE) / 4.0), 6) AS z_green,
         |       (CAST(n_green AS DOUBLE) - CAST(n_bigrams AS DOUBLE) / 2.0) /
         |       sqrt(CAST(n_bigrams AS DOUBLE) / 4.0) > 4.0 AS flagged
         |FROM g""".stripMargin,

    "text_compress_est" ->
      s"""WITH t AS (
         |  SELECT doc_id, substr(text, 1, $CompressCap) AS t FROM documents
         |)
         |SELECT doc_id, CAST(length(t) AS INT) AS n_chars_used,
         |       CAST(length(t) - 3 AS INT) AS n_grams,
         |       round(CAST(len(list_distinct(list_transform(
         |               generate_series(1, length(t) - 3),
         |               i -> substr(t, CAST(i AS INT), 4)))) AS DOUBLE) /
         |             (length(t) - 3), 6) AS uniq_ratio
         |FROM t WHERE length(t) >= 4""".stripMargin)
}
