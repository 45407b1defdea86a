package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.TextCorpus
import graft.tfidf.TfIdf

/** End-to-end runs of the reference-shaped CLI jobs on a fixture corpus,
  * including the two-job DF -> IDF chain through a materialized TSV
  * (README.md:12-18's workflow, S6).
  */
class CliJobsSpec extends SparkSpec {

  private def mkCorpus(): String = {
    val dir = Files.createTempDirectory("graft-cli")
    Files.writeString(dir.resolve("a1.txt"),
      "Spark engines process queries quickly.\nSpark scales horizontally!")
    Files.writeString(dir.resolve("a2.txt"),
      "Queries run on engines.\nDon't forget the 2nd optimizer pass.")
    Files.writeString(dir.resolve("a3.txt"), "spark spark spark")
    dir.toString
  }

  private def readTsv(out: String): Seq[Array[String]] = {
    val f = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv")).head
    scala.io.Source.fromFile(f).getLines().map(_.split("\t")).toSeq
  }

  /** Line terminators of both kinds, blank lines, punctuation-led lines and
    * one file of several KB, which a small `maxPartitionBytes` splits.
    */
  private def mkRaggedCorpus(): String = {
    val dir = Files.createTempDirectory("graft-cli-ragged")
    Files.writeString(dir.resolve("crlf.txt"),
      "Spark engines process queries.\r\n\r\n\"Quoted\" engines scale!\r\n" +
        "...queries run; abc123def merges\r\n")
    Files.writeString(dir.resolve("lf.txt"),
      "-- a dash-led line about engines\n\n   \n(Spark) scales the optimizer\n")
    val rnd = new scala.util.Random(7)
    val shared = Vector("spark", "engines", "queries", "scaling", "optimizer",
      "partition", "shuffle", "running", "the", "and", "tokens", "lines")
    def word() =
      if (rnd.nextBoolean()) shared(rnd.nextInt(shared.length))
      else Seq.fill(3 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString
    val big = (1 to 300).map { i =>
      val text = if (i % 13 == 0) "" else Seq.fill(1 + rnd.nextInt(8))(word()).mkString(" ")
      val lead = if (i % 7 == 0) "\"" else if (i % 5 == 0) " " else ""
      lead + text + (if (i % 3 == 0) "." else "") + (if (i % 2 == 0) "\r\n" else "\n")
    }.mkString
    assert(big.length > 4096)
    Files.writeString(dir.resolve("big.txt"), big)
    dir.toString
  }

  /** DocumentFreqJob, then IdfJob -tsv on its output: both TSVs' lines. */
  private def dfThenIdf(s: SparkSession, in: String): (Seq[String], Seq[String]) = {
    val base = Files.createTempDirectory("graft-chain").toString
    graft.cli.DocumentFreqJob.run(s, Array(in, s"$base/df"))
    graft.cli.IdfJob.run(s, Array(in, s"$base/idf", "-tsv", s"$base/df"))
    def lines(out: String) = readTsv(out).map(_.mkString("\t")).sorted
    (lines(s"$base/df"), lines(s"$base/idf"))
  }

  /** Every node of an executed plan, through AQE stages. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  test("DocumentFreqJob -> TERM\\tDF, then IdfJob consumes it via -tsv") {
    val in = mkCorpus()
    val dfOut = Files.createTempDirectory("graft-df").toString + "/df"
    graft.cli.DocumentFreqJob.run(spark, Array(in, dfOut))
    val df = readTsv(dfOut).map(r => r(0) -> r(1).toLong).toMap
    assert(df("spark") == 2L) // a1 (x2) + a3; "Spark" lowercased
    assert(df("queri") == 2L) // stemmed "queries"
    assert(df("engin") == 2L)
    assert(!df.contains("the"), s"stopword leaked: $df")
    // quirk parity: the stopword file has "don't" but P2 strips apostrophes
    // BEFORE the filter, so "dont" survives (SURVEY §2 P5)
    assert(df.contains("dont"))

    val idfOut = Files.createTempDirectory("graft-idf").toString + "/scores"
    graft.cli.IdfJob.run(spark, Array(in, idfOut, "-tsv", dfOut))
    val rows = readTsv(idfOut)
    assert(rows.forall(_.length == 3), "ID\\tTERM\\tSCORE shape")
    val sparkA3 = rows.find(r => r(0) == "a3.txt" && r(1) == "spark").get
    // tf=3, df=2 -> 3 * ln(10000/3)
    assert(math.abs(sparkA3(2).toDouble - 3 * math.log(10000.0 / 3)) < 1e-9)
  }

  test("-casesensitive keeps case distinctions through the pipeline") {
    val in = mkCorpus()
    val out = Files.createTempDirectory("graft-cs").toString + "/df"
    graft.cli.DocumentFreqJob.run(spark, Array(in, out, "-casesensitive"))
    val df = readTsv(out).map(r => r(0) -> r(1).toLong).toMap
    // a1 has capitalized "Spark" (twice); a3 is lowercase "spark": in
    // case-sensitive mode they are DIFFERENT terms with df 1 each
    assert(df.get("Spark") == Some(1L), df)
    assert(df.get("spark") == Some(1L), df)
  }

  test("flag parser rejects a trailing flag without its value") {
    intercept[IllegalArgumentException] {
      graft.cli.Jobs.parse(Array("in", "out", "-tsv"))
    }
  }

  test("PosJob -> TAG\\tCOUNT over the corpus") {
    val in = mkCorpus()
    val out = Files.createTempDirectory("graft-pos").toString + "/tags"
    graft.cli.PosJob.run(spark, Array(in, out))
    val tags = readTsv(out).map(r => r(0) -> r(1).toLong).toMap
    assert(tags.getOrElse("NOUN", 0L) > 0)
    assert(tags.getOrElse("PUNCT", 0L) >= 4) // periods, '!', "'", digits...
    assert(tags.getOrElse("NUM", 0L) >= 1)   // "2" from "2nd"
    assert(tags.values.sum ==
      sources.TextCorpus.lines(spark, in).collect()
        .flatMap(r => pos.PosTagger.tokenize(r.getString(1))).length)
  }

  test("DF and IDF TSVs do not depend on how lines or files are split") {
    val in = mkRaggedCorpus()
    val s = spark.newSession()
    val whole = dfThenIdf(s, in)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = s.conf.getOption(key)
    s.conf.set(key, "1024")
    val split =
      try {
        assert(s.read.text(s"$in/big.txt").rdd.getNumPartitions > 1,
          "the large file must span several partitions")
        dfThenIdf(s, in)
      } finally before.fold(s.conf.unset(key))(s.conf.set(key, _))
    assert(split == whole)

    // Reference: tokenize whole documents, the lines regrouped first.
    val tfAll = TfIdf.termFrequencyAll(TfIdf.terms(TextCorpus.documents(s, in)))
    val dfAll = TfIdf.documentFrequencyFromTf(tfAll)
    assert(dfAll.count() > 100, "the top-100 cut must have terms to cut")
    val top = TfIdf.topTerms(dfAll, 100)
    val expectedDf = top.collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").sorted
    assert(whole._1 == expectedDf.toSeq)
    val expectedScores = TfIdf.scores(tfAll, top, 10000.0)
      .select(col("doc_id"), col("term"), col("score")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val scores = whole._2.map(_.split("\t"))
      .map(r => (r(0), r(1)) -> r(2).toDouble).toMap
    assert(whole._2.length == scores.size)
    assert(scores == expectedScores)
  }

  test("DF and IDF tokenize in the scan tasks; IDF reads the DF table once") {
    val in = mkCorpus()
    val s = spark.newSession()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // Listener events arrive asynchronously: wait for the write's plan.
    def writePlan(run: => Unit): Seq[SparkPlan] = {
      plans.clear()
      run
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def write = plans.toArray(Array.empty[SparkPlan]).map(flatten)
        .find(_.exists(_.isInstanceOf[DataWritingCommandExec]))
      while (write.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      write.getOrElse(fail("no write plan reached the listener"))
    }
    def tokensInScanTasks(nodes: Seq[SparkPlan]): Unit = {
      val gens = nodes.collect { case g: GenerateExec => g }
      assert(gens.size == 1, nodes.head.treeString)
      val below = flatten(gens.head)
      assert(below.exists { case f: FileSourceScanExec =>
        f.relation.fileFormat.toString == "Text"; case _ => false },
        s"no text scan under the token Generate:\n${gens.head.treeString}")
      assert(!below.exists(_.isInstanceOf[Exchange]),
        s"an Exchange sits between the text scan and the token Generate:\n" +
          gens.head.treeString)
    }
    val dfOut = Files.createTempDirectory("graft-plan-df").toString + "/df"
    tokensInScanTasks(writePlan(graft.cli.DocumentFreqJob.run(s, Array(in, dfOut))))
    val idfOut = Files.createTempDirectory("graft-plan-idf").toString + "/idf"
    val idf = writePlan(graft.cli.IdfJob.run(s, Array(in, idfOut, "-tsv", dfOut)))
    tokensInScanTasks(idf)
    val dfScans = idf.collect { case f: FileSourceScanExec
      if f.relation.location.rootPaths.exists(_.toString.endsWith("/df")) => f }
    assert(dfScans.size == 1, idf.head.treeString)
    assert(idf.count(_.isInstanceOf[BroadcastExchangeExec]) == 1, idf.head.treeString)
  }
}
