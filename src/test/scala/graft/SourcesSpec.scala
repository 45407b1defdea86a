package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.sources.{TextCorpus, Tsv}
import graft.tfidf.TfIdf

/** S1/S2 (text-directory scan + filename identity), S4/S5 (TSV side table /
  * sink), S6 (phase chaining through a materialized file), and the SQL
  * registration of the custom expressions.
  */
class SourcesSpec extends SparkSpec {

  private def mkCorpus(): String = {
    val dir = Files.createTempDirectory("graft-corpus")
    Files.writeString(dir.resolve("article_001.txt"),
      "The quick brown fox\njumps over the lazy dog")
    Files.writeString(dir.resolve("article_002.txt"),
      "Pack my box with\nfive dozen liquor jugs")
    dir.toString
  }

  test("S1/S2: one row per line, doc_id = file basename") {
    val dir = mkCorpus()
    val lines = TextCorpus.lines(spark, dir).collect()
    assert(lines.length == 4)
    assert(lines.map(_.getString(0)).toSet ==
      Set("article_001.txt", "article_002.txt"))
    val docs = TextCorpus.documents(spark, dir).collect()
    assert(docs.length == 2)
    val d1 = docs.find(_.getString(0) == "article_001.txt").get.getString(1)
    assert(d1.linesIterator.toSeq.map(_.trim).sorted ==
      Seq("The quick brown fox", "jumps over the lazy dog").map(_.trim).sorted)
  }

  test("full reference flow: text corpus -> TF-IDF -> TSV sink -> TSV side read") {
    val dir = mkCorpus()
    val docs = TextCorpus.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val dfTable = TfIdf.documentFrequencyFromTf(
      TfIdf.termFrequencyAll(TfIdf.terms(docs.withColumn("doc_id", col("doc_id")))))

    val out = Files.createTempDirectory("graft-tsv").toString + "/df"
    Tsv.write(dfTable, out) // TERM\tDF contract
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "single-file sink (the reference's one-reducer output)")

    val back = Tsv.read(spark, out, StructType(Seq(
      StructField("term", StringType), StructField("df", LongType))))
    val got = back.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = dfTable.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    // line boundaries act as separators: "fox\njumps" is two tokens
    assert(want.contains("fox") && want("fox") == 1L)
    assert(want.contains("jump"))
  }

  test("custom expressions are SQL-registered (porter_stem, dot_q)") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT porter_stem('running') AS s, dot_q(array(1L,2L,3L), array(4L,5L,6L)) AS d")
      .collect().head
    assert(r.getString(0) == "run")
    assert(r.getLong(1) == 32L)
  }

  test("DotQ signals misuse: length mismatch and null elements -> NULL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT dot_q(array(1L), array(1L, 2L)) AS mismatched,
        |       dot_q(array(1L, CAST(NULL AS BIGINT)), array(2L, 3L)) AS withnull,
        |       dot_q(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS nullarr""".stripMargin)
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("JSONL corpus source: explicit schema, malformed and partial lines skipped") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val f = tmp.resolve("part-000.jsonl")
    java.nio.file.Files.writeString(f,
      """{"id": "doc1", "text": "hello world", "extra": 1}
        |{"id": "doc2", "text": "second document"}
        |not json at all {{{
        |{"id": "doc3"}
        |{"text": "missing id"}
        |{"id": "doc4", "text": "fourth"}
        |""".stripMargin)
    val got = graft.sources.Jsonl.documents(spark, tmp.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      "doc1" -> "hello world",
      "doc2" -> "second document",
      "doc4" -> "fourth"))
    // the JSONL corpus feeds the engine's document pipeline directly
    val scored = graft.tfidf.TfIdf.terms(
      graft.sources.Jsonl.documents(spark, tmp.toString))
    assert(scored.columns.toSeq == Seq("doc_id", "term"))
  }

  test("JSONL sharded sink: shard-partitioned layout, lossless roundtrip") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl-out").toString
    // deterministic shards over real docs — the text_shard_assign shape
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"),
        pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"), lit(4))
          .as("shard"))
    graft.sources.Jsonl.writeSharded(docs, tmp)
    // partitionBy layout: one dir per shard value
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.length == 4, s"expected 4 shard dirs, got ${dirs.toSeq}")
    // each shard dir is a valid JSONL corpus readable by the source
    val back = dirs.map(d =>
        graft.sources.Jsonl.documents(spark, s"$tmp/$d", idField = "doc_id"))
      .reduce(_ union _)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = docs.select("doc_id", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == expected, "sharded JSONL roundtrip lost or mangled rows")
  }

  test("GraftExtensions injects functions via spark.sql.extensions " +
    "(no runtime register call)") {
    import org.apache.spark.sql.SparkSession
    val old = spark // keep the shared session safe
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // Reuses the existing SparkContext. spark.sql.extensions is a STATIC
      // conf applied only at SparkContext creation, so the test drives the
      // same hook the conf path uses: reflective zero-arg instantiation
      // (Spark's loader contract) + builder.withExtensions.
      val ext = Class.forName("graft.plans.GraftExtensions")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val s2 = SparkSession.builder().withExtensions(ext).getOrCreate()
      val r = s2.sql(
        "SELECT porter_stem('running') AS st, dot_q(array(2L, 3L), array(4L, 5L)) AS d")
        .collect().head
      assert(r.getString(0) == "run" && r.getLong(1) == 23L)
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("DotQ codegen ≡ interpreted eval") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextInt(2000).toLong - 1000),
      Array.fill(64)(rnd.nextInt(2000).toLong - 1000)))
    val df = rows.toDF("a", "b")
    val got = df.select(graft.functions.DotQ(col("a"), col("b")).as("d"))
      .as[Long].collect()
    val want = rows.map { case (a, b) => a.zip(b).map { case (x, y) => x * y }.sum }
    assert(got.toSeq == want)
  }
}
