package graft.pos

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}

/** POS-tag counting, both reference patterns (PDF p.1's pairs-vs-stripes
  * comparison), over `documents.text`:
  *
  *   pos_pairs   — A1 (POS.java:33-57): tokenize → tag → emit (tag, 1) →
  *                 sum. Declarative: explode of the byte-scanner tokens +
  *                 codegen'd native tagger + groupBy(tag).count().
  *                 Catalyst's partial/final HashAggregate IS the map-side
  *                 combine the reference declined (its combiner is
  *                 commented out, POS.java:66).
  *
  *   pos_stripes — A2 (POSstripes.java:30-75): per-task associative-array
  *                 pre-aggregation, then merge. Implemented LITERALLY via
  *                 mapPartitions building a per-partition HashMap (the
  *                 stripe; ≙ one Mapper's MapWritable) + a typed Aggregator
  *                 merging stripes — exercising the reference's custom-agg
  *                 extension surface (SURVEY.md §2.8). Unlike the reference,
  *                 which funnels every stripe to ONE reducer under constant
  *                 key "0" (POSstripes.java:48), the merge here is a
  *                 tree-reduce over ≤numPartitions tiny maps.
  *
  * Both must produce identical results (the reference's own equivalence
  * claim) — asserted in PosSpec and by sharing one DuckDB oracle query.
  */
object PosQueries extends QueryPack {

  import PosTagger._

  private def pairs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .select(tagColumn(col("token")).as("tag"))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"))

  /** Merges per-partition stripes (Map[tag, count]). */
  private object StripeMerge
      extends Aggregator[Map[String, Long], Map[String, Long], Map[String, Long]] {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], a: Map[String, Long]): Map[String, Long] = merge(b, a)
    def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      m ++= x
      y.foreach { case (k, v) => m.update(k, m.getOrElse(k, 0L) + v) }
      m.toMap
    }
    def finish(r: Map[String, Long]): Map[String, Long] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] = ExpressionEncoder()
  }

  private def stripes(s: SparkSession, d: String): DataFrame =
    stripesWith(s, d, RuleTagger)

  /** Stripes pipeline with a pluggable tagger (an OpenNLP-backed Tagger
    * would lazily load its model in the mapPartitions head below — the
    * reference's Mapper.setup pattern, POS.java:23-25).
    */
  def stripesWith(s: SparkSession, d: String, tagger: Tagger): DataFrame = {
    import s.implicits._
    val stripesDs = Tables.load(s, d, "documents")
      .select(col("text"))
      .as[String]
      .mapPartitions { lines =>
        // ≙ POSstripes mapper: one associative array per partition
        // (better than per-record — the partition is the "task").
        // Heavy taggers initialize their model HERE, once per task.
        val stripe = scala.collection.mutable.HashMap.empty[String, Long]
        lines.foreach { line =>
          // Whole-line tagging (POS.java:38): context-free taggers map per
          // token; a model-backed Tagger sees the full token sequence.
          tagger.tagLine(PosTagger.tokenize(line).toArray).foreach { tag =>
            stripe.update(tag, stripe.getOrElse(tag, 0L) + 1L)
          }
        }
        if (stripe.isEmpty) Iterator.empty else Iterator.single(stripe.toMap)
      }
    val merged = stripesDs
      .select(StripeMerge.toColumn.name("stripe"))
      .as[Map[String, Long]]
    merged.flatMap(_.toSeq).toDF("tag", "cnt")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pos_pairs" -> (pairs _),
    "pos_stripes" -> (stripes _))

  private val oracleSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(text, '$TokenPattern')) AS token
       |  FROM documents
       |)
       |SELECT ${tagSql("token")} AS tag, count(*) AS cnt
       |FROM toks GROUP BY tag""".stripMargin

  override val oracles: Map[String, String] = Map(
    "pos_pairs" -> oracleSql,
    "pos_stripes" -> oracleSql)
}
