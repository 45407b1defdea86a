package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{CacheScope, LabelsMemo, SparkEntry}
import graft.cli.{DocumentFreqJob, IdfJob, Jobs, PosJob}
import graft.pos.{PosQueries, PosTagger, RuleTagger}
import graft.sources.{TextCorpus, Tsv}
import graft.text.{PorterStemmer, Tokenize}
import graft.tfidf.TfIdf

/** One benchmark run in one JVM: set up (session start and an untimed
  * warm-up pass), then a fixed number of timed passes, one operation at a
  * time on one driver thread. With `--trace` the timed passes alternate
  * untraced and traced, and a layer breakdown follows. The run's record goes to
  * `result.json` in the work directory.
  *
  *   --workload corpus_ref|query_iterative
  *   --seed N --seconds S --trace 0|1
  *   --input DIR   corpus_ref: holds text/ and parquet/; query: the tables
  *   --work DIR    scratch space for outputs, spans and the result
  */
object Main {

  /** Two fixpoints run by their builders. k-core reads the windowed edges
    * through LabelsMemo, so each pass pays for the memo's producer once.
    */
  val Iterative: Seq[String] = Seq("q_graph_hits", "q_graph_kcore")
  /** Timed passes after set-up. The JIT keeps compiling for minutes (Spark
    * keeps generating code), so pass times never flatten within a run; a
    * fixed count makes every run time the same passes. They take 25-35 s
    * on a quiet 4-core machine, so the count, not `--seconds` (20 in
    * BENCHMARK.json), decides how long a run times.
    */
  val TimedPasses = 8
  /** Past this, timing stops at MinTimedPasses, so a run on a starved
    * machine still ends in time.
    */
  val MaxTimedSeconds = 40.0
  val MinTimedPasses = 3
  val CorpusJobs: Seq[String] = Seq("df_job", "idf_job", "pos_pairs", "pos_stripes")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, traced = a("trace") == "1",
      input = Paths.get(a("input")).toAbsolutePath.toString,
      work = Paths.get(a("work")).toAbsolutePath)
    // Exit explicitly either way: Spark's non-daemon threads would keep a
    // JVM whose main method threw alive.
    try Files.writeString(run.work.resolve("result.json"), run.execute(), UTF_8)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }
}

/** A unit of work the benchmark times: a reference CLI job writing its own
  * TSV, or a DataFrame builder whose result goes to a sink.
  */
sealed trait Op { def name: String }
final case class JobOp(name: String, out: String, run: SparkSession => Unit) extends Op
final case class FrameOp(name: String, build: SparkSession => DataFrame) extends Op

/** What one execution of an op did. Counter deltas are empty when untraced. */
final case class OpRun(op: String, builderS: Double, actionS: Double,
    releaseS: Double, rows: Long, pins: Int,
    builder: Counters = Counters(), action: Counters = Counters()) {
  def seconds: Double = builderS + actionS
}

final case class PassRun(wall: Double, cpu: Double, steal: Double, ops: Seq[OpRun],
    total: Counters, memoEntries: Int)

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
    input: String, val work: Path) {

  private val cores = Runtime.getRuntime.availableProcessors
  private val isCorpus = workload == "corpus_ref"
  private val keys: Seq[String] = workload match {
    case "corpus_ref" => Nil
    // java.util.Random's first draws barely differ between nearby seeds, so
    // the seed is mixed first.
    case "query_iterative" =>
      new scala.util.Random(new java.util.SplittableRandom(seed).nextLong()).shuffle(Main.Iterative)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private val out = work.resolve("out").toString
  private val text = s"$input/text"
  private val twin = s"$input/parquet"
  private val probe = new Probe
  private val spans = new Spans(s"$workload-seed$seed")
  private var spark: SparkSession = _

  private var attempted = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val warmRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def now(): Double = System.nanoTime() / 1e9

  /** CPU seconds of the whole JVM (user plus system, every thread). */
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Double = os.getProcessCpuTime / 1e9

  /** (steal, all) jiffies of the machine: steal is CPU time the hypervisor
    * gave to other guests while this one's CPUs wanted to run.
    */
  private def jiffies(): (Long, Long) = {
    val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (v(7), v.sum)
  }

  private val ops: Seq[Op] =
    if (isCorpus) Seq(
      JobOp("df_job", s"$out/df", s => DocumentFreqJob.run(s, Array(text, s"$out/df"))),
      JobOp("idf_job", s"$out/idf",
        s => IdfJob.run(s, Array(text, s"$out/idf", "-tsv", s"$out/df"))),
      JobOp("pos_pairs", s"$out/pos", s => PosJob.run(s, Array(text, s"$out/pos"))),
      FrameOp("pos_stripes", s => PosQueries.stripesWith(s, twin, RuleTagger)))
    else keys.map(k => FrameOp(k, s => SparkEntry.queries(k)(s, input)))

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    probe.install(s)
    s
  }

  /** Lines in the part files of a TSV sink's output directory. */
  private def tsvRows(dir: String): Long =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.lines(p).count()).sum

  /** The full action: every column of every row is produced. The warm-up
    * pass writes parquet instead, so the output can be checked.
    */
  private def sink(df: DataFrame, capture: Option[String]): Long = {
    val obs = Observation("rows")
    val w = df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite")
    capture match {
      case Some(dir) => w.parquet(dir)
      case None => w.format("noop").save()
    }
    obs.get("rows").asInstanceOf[Long]
  }

  private def exec(op: Op, capture: Boolean, trace: Boolean): OpRun = spans(op.name) {
    def snap() = if (trace) probe.snapshot(spark) else Counters()
    op match {
      case JobOp(name, dir, run) =>
        val c0 = snap(); val t0 = now()
        run(spark)
        val t1 = now(); val c1 = snap()
        OpRun(name, 0.0, t1 - t0, 0.0, tsvRows(dir), 0, action = c1 - c0)
      case FrameOp(name, build) =>
        val c0 = snap(); val t0 = now()
        val df = spans("builder")(build(spark))
        val t1 = now(); val c1 = snap()
        val pins = CacheScope.activeCount
        val t2 = now()
        val rows = spans("action")(sink(df, if (capture) Some(s"$out/$name") else None))
        val t3 = now(); val c2 = snap()
        CacheScope.releaseAll()
        val t4 = now()
        OpRun(name, t1 - t0, t3 - t2, t4 - t3, rows, pins, c1 - c0, c2 - c1)
    }
  }

  /** One pass over every op, in order. Returns None if any op failed; a
    * failure is recorded and never timed.
    */
  private def pass(label: String, capture: Boolean, trace: Boolean): Option[PassRun] =
    spans(s"pass:$label") {
      if (!isCorpus) LabelsMemo.clear()
      probe.on = trace
      val c0 = if (trace) probe.snapshot(spark) else Counters()
      val t0 = now()
      val cpu0 = cpuNow()
      val (steal0, all0) = jiffies()
      val runs = ops.flatMap { op =>
        attempted += 1
        try {
          val r = exec(op, capture, trace)
          warmRows.getOrElseUpdate(op.name, r.rows) match {
            case w if w != r.rows =>
              failures += op.name -> s"$label pass produced ${r.rows} rows, warm-up $w"
              None
            case _ => Some(r)
          }
        } catch {
          case e: Throwable =>
            failures += op.name -> s"$label: ${e.getClass.getName}: ${e.getMessage}"
            None
        } finally CacheScope.releaseAll()
      }
      val wall = now() - t0
      val cpu = cpuNow() - cpu0
      val (steal1, all1) = jiffies()
      val steal = (steal1 - steal0).toDouble / math.max(1L, all1 - all0)
      val total = if (trace) probe.snapshot(spark) - c0 else Counters()
      probe.on = false
      if (runs.size == ops.size) Some(PassRun(wall, cpu, steal, runs, total, LabelsMemo.keys.size))
      else None
    }

  /** The cold path: from JVM start through session start and one untimed
    * warm-up pass, which reads every input footer the workload needs, is
    * the first to compile its code, and writes every output for the checks.
    */
  private def setup(): Double = spans("setup") {
    spark = spans("session")(session())
    pass("warmup", capture = true, trace = false)
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  }

  def execute(): String = {
    Files.createDirectories(work.resolve("tmp"))
    val setupS = setup()
    val untraced = scala.collection.mutable.ArrayBuffer.empty[PassRun]
    val tracedRuns = scala.collection.mutable.ArrayBuffer.empty[PassRun]
    val t0 = now()
    var i = 0
    // A failed pass ends the timing: the run is failed and never timed.
    var ok = failures.isEmpty
    // TimedPasses passes, and more while the requested seconds have not
    // passed; past MaxTimedSeconds only up to MinTimedPasses untraced ones
    // (one of each kind when tracing).
    val minPasses = if (traced) 1 else Main.MinTimedPasses
    def enough = untraced.size >= minPasses && (!traced || tracedRuns.size >= minPasses)
    def more = (i < Main.TimedPasses || now() - t0 < seconds) &&
      now() - t0 < Main.MaxTimedSeconds
    while (ok && (!enough || more)) {
      val tr = traced && i % 2 == 1
      pass(s"timed$i", capture = false, trace = tr) match {
        case Some(p) => (if (tr) tracedRuns else untraced) += p
        case None => ok = false
      }
      i += 1
    }
    val layers =
      if (!traced || !ok) Map.empty[String, Double]
      else spans("layers")(layerMetrics(untraced.toSeq, tracedRuns.toSeq))
    if (isCorpus) writeStemMap()
    writeOracleSql()
    val rec = record(setupS, untraced.toSeq, tracedRuns.toSeq, layers)
    if (traced) Files.writeString(work.resolve("spans.json"), spans.json, UTF_8)
    CacheScope.releaseAllScopes()
    LabelsMemo.clear()
    spark.stop()
    rec
  }

  // ---------------------------------------------------------------- output

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def record(setupS: Double, untraced: Seq[PassRun],
      tracedRuns: Seq[PassRun], layers: Map[String, Double]): String = {
    val opTimes = ops.map(o => o.name ->
      Json.obj(Seq(
        "seconds" -> untraced.flatMap(_.ops.find(_.op == o.name)).map(r => Json.num(r.seconds)).mkString("[", ",", "]"),
        "rows" -> warmRows.get(o.name).map(_.toString).getOrElse("null"))))
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "ops" -> ops.map(o => Json.str(o.name)).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failures" -> failures.map { case (o, m) =>
        Json.obj(Seq("op" -> Json.str(o), "error" -> Json.str(m))) }.mkString("[", ",", "]"),
      "setup_s" -> Json.num(setupS),
      "pass_s" -> untraced.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "pass_cpu_s" -> untraced.map(p => Json.num(p.cpu)).mkString("[", ",", "]"),
      "pass_steal" -> untraced.map(p => Json.num(p.steal)).mkString("[", ",", "]"),
      "traced_pass_s" -> tracedRuns.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "op_times" -> Json.obj(opTimes),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }

  // ---------------------------------------------------------------- layers

  /** Per-layer metrics. Every name is always present; a layer the workload
    * does not touch reads 0.
    */
  private def layerMetrics(untraced: Seq[PassRun], tr: Seq[PassRun]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def avg(f: PassRun => Double): Double = mean(tr.map(f))
    val mb = 1024.0 * 1024.0

    // Spark underneath, per traced pass.
    m("spark.jobs") = avg(_.total.jobs.toDouble)
    m("spark.stages") = avg(_.total.stages.toDouble)
    m("spark.stages_skipped") = avg(_.total.stagesSkipped.toDouble)
    m("spark.tasks") = avg(_.total.tasks.toDouble)
    m("spark.task_failures") = avg(_.total.taskFailures.toDouble)
    m("spark.executor_run_s") = avg(_.total.runMs / 1e3)
    m("spark.executor_cpu_s") = avg(_.total.cpuNs / 1e9)
    m("spark.gc_s") = avg(_.total.gcMs / 1e3)
    m("spark.shuffle_write_mb") = avg(_.total.shuffleWrite / mb)
    m("spark.shuffle_read_mb") = avg(_.total.shuffleRead / mb)
    m("spark.shuffle_fetch_wait_s") = avg(_.total.fetchWaitMs / 1e3)
    m("spark.spill_disk_mb") = avg(_.total.spillDisk / mb)
    m("spark.input_mb") = avg(_.total.input / mb)
    m("spark.slot_busy_frac") = avg(p => p.total.runMs / 1e3 / (p.wall * cores))
    m("jvm.cpu_s") = avg(_.cpu)
    m("catalyst.plans") = avg(_.total.plans.toDouble)
    m("catalyst.analysis_ms") = avg(_.total.analysisMs.toDouble)
    m("catalyst.optimization_ms") = avg(_.total.optimizationMs.toDouble)
    m("catalyst.planning_ms") = avg(_.total.planningMs.toDouble)

    // Builders, actions, CacheScope and LabelsMemo (query keys only).
    m("query.builder_s") = avg(_.ops.map(_.builderS).sum)
    m("query.builder_jobs") = avg(_.ops.map(_.builder.jobs.toDouble).sum)
    m("query.action_s") = if (isCorpus) 0.0 else avg(_.ops.map(_.actionS).sum)
    m("query.action_jobs") = if (isCorpus) 0.0 else avg(_.ops.map(_.action.jobs.toDouble).sum)
    m("cachescope.pins") = avg(_.ops.map(_.pins.toDouble).sum)
    m("cachescope.release_s") = avg(_.ops.map(_.releaseS).sum)
    m("memo.entries") = avg(_.memoEntries.toDouble)

    val counted = if (isCorpus) Map.empty[String, Double] else countVsNoop()
    for (k <- Main.Iterative) {
      val runs = tr.flatMap(_.ops.find(_.op == k))
      def a(f: OpRun => Double) = if (runs.isEmpty) 0.0 else mean(runs.map(f))
      m(s"key.$k.builder_s") = a(_.builderS)
      m(s"key.$k.action_s") = a(_.actionS)
      m(s"key.$k.jobs") = a(r => (r.builder.jobs + r.action.jobs).toDouble)
      m(s"key.$k.shuffle_mb") = a(r => (r.builder.shuffleWrite + r.action.shuffleWrite) / mb)
      m(s"key.$k.count_s") = counted.getOrElse(k, 0.0)
    }

    // The reference's jobs: wall time per user-visible command, untraced.
    val passWall = median(untraced.map(_.wall))
    for (j <- Main.CorpusJobs)
      m(s"${j}_s") =
        if (isCorpus) median(untraced.flatMap(_.ops.find(_.op == j)).map(_.seconds)) else 0.0
    m("corpus_mb_per_s") = if (isCorpus) corpusBytes / mb / passWall else 0.0
    m("trace.overhead_s") = median(tr.map(_.wall)) - passWall

    // Stripes split by stage: the leaf stage scans and builds the stripes.
    val stripes = tr.flatMap(_.ops.find(_.op == "pos_stripes"))
    val map = if (stripes.isEmpty) 0.0 else mean(stripes.map(_.action.leafStageMs / 1e3))
    m("pos.stripes_map_s") = map
    m("pos.stripes_merge_s") =
      if (stripes.isEmpty) 0.0 else mean(stripes.map(_.actionS)) - map

    m ++= (if (isCorpus) corpusPrefixes() else corpusPrefixNames.map(_ -> 0.0))
    m.toMap
  }

  private def corpusBytes: Double =
    Files.list(Paths.get(text)).iterator().asScala.map(p => Files.size(p).toDouble).sum

  /** Each key built again and finished with `count()`, the action the old
    * bench used, to set beside its builder + noop time.
    */
  private def countVsNoop(): Map[String, Double] = {
    LabelsMemo.clear()
    ops.collect { case FrameOp(name, build) =>
      spans(s"count:$name") {
        val t0 = now()
        try { build(spark).count(); name -> (now() - t0) }
        finally CacheScope.releaseAll()
      }
    }.toMap
  }

  private val corpusPrefixNames = Seq("sources.lines_s", "sources.documents_s",
    "text.terms_s", "tfidf.tf_all_s", "tfidf.df_topk_s", "tfidf.score_s",
    "sources.tsv_write_s", "sources.tsv_read_s", "text.tokens", "text.terms",
    "text.keep_ratio", "tfidf.tf_rows", "tfidf.vocab", "tfidf.score_rows",
    "pos.tag_s", "pos.count_s", "pos.tokens")

  /** Self time per layer as the difference of cumulative prefixes: each
    * public function's output goes to `noop`, in pipeline order, once (a
    * traced run must stay within its time limit on a slow machine).
    */
  private def corpusPrefixes(): Map[String, Double] = {
    val f = Jobs.parse(Array(text, s"$out/layers-df"))
    def timed(name: String)(body: => Long): (Double, Long) = spans(name) {
      val t0 = now()
      try { val n = body; (now() - t0, n) } finally CacheScope.releaseAll()
    }
    def noop(df: DataFrame): Long = sink(df, None)
    def terms() = Jobs.corpusTerms(spark, f)
    def tfAll() = TfIdf.termFrequencyAll(terms())
    def top() = TfIdf.topTerms(TfIdf.documentFrequencyFromTf(tfAll()), 100)
    def tagged() = TextCorpus.lines(spark, text)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.regexp_extract_all(col("line"),
          lit(PosTagger.TokenPattern), lit(0))).as("token"))
      .select(PosTagger.tagColumn(col("token")).as("tag"))

    val (lines, _) = timed("sources.lines")(noop(TextCorpus.lines(spark, text)))
    val (docs, _) = timed("sources.documents")(noop(TextCorpus.documents(spark, text)))
    val (_, nTokens) = timed("text.tokens")(noop(TextCorpus.documents(spark, text)
      .select(col("doc_id"), Tokenize.explodeTokens(col("text")).as("token"))))
    val (tTerms, nTerms) = timed("text.terms")(noop(terms()))
    val (tTf, nTf) = timed("tfidf.tf_all")(noop(tfAll()))
    val (_, nVocab) = timed("tfidf.vocab")(noop(TfIdf.documentFrequencyFromTf(tfAll())))
    val (tTop, _) = timed("tfidf.df_topk")(noop(top()))
    val (tScore, nScore) = timed("tfidf.score")(noop {
      val t = top()
      TfIdf.scores(TfIdf.termFrequencyAll(terms())
        .join(org.apache.spark.sql.functions.broadcast(t.select("term")), Seq("term"), "left_semi"),
        t, corpusConstant = 10000.0)
    })
    val (tWrite, _) = timed("sources.tsv_write") { Tsv.write(top(), s"$out/layers-df"); 0L }
    val (tRead, _) = timed("sources.tsv_read")(noop(Tsv.read(spark, s"$out/layers-df",
      StructType(Seq(StructField("term", StringType), StructField("df", LongType))))))
    val (tTag, nTagged) = timed("pos.tag")(noop(tagged()))
    val (tCount, _) = timed("pos.count")(noop(tagged().groupBy("tag").agg(count(lit(1)).as("cnt"))))

    Map(
      "sources.lines_s" -> lines,
      "sources.documents_s" -> (docs - lines),
      "text.terms_s" -> (tTerms - docs),
      "tfidf.tf_all_s" -> (tTf - tTerms),
      "tfidf.df_topk_s" -> (tTop - tTf),
      "tfidf.score_s" -> (tScore - tTop),
      "sources.tsv_write_s" -> (tWrite - tTop),
      "sources.tsv_read_s" -> tRead,
      "text.tokens" -> nTokens.toDouble,
      "text.terms" -> nTerms.toDouble,
      "text.keep_ratio" -> (if (nTokens == 0) 0.0 else nTerms.toDouble / nTokens),
      "tfidf.tf_rows" -> nTf.toDouble,
      "tfidf.vocab" -> nVocab.toDouble,
      "tfidf.score_rows" -> nScore.toDouble,
      "pos.tag_s" -> (tTag - lines),
      "pos.count_s" -> (tCount - tTag),
      "pos.tokens" -> nTagged.toDouble)
  }

  // ------------------------------------------------------ check side files

  /** token -> stem for the generated vocabulary, by the engine's scalar
    * Porter stemmer; the output check joins it as the oracles do.
    */
  private def writeStemMap(): Unit = {
    val vocab = Files.readAllLines(Paths.get(s"$input/vocab.txt"), UTF_8).asScala
    val lines = "term_raw\tterm_stem" +: vocab.map(w => s"$w\t${PorterStemmer.stem(w)}")
    Files.write(work.resolve("stemmap.tsv"), lines.asJava, UTF_8)
  }

  private def writeOracleSql(): Unit =
    Files.writeString(work.resolve("oracle_sql.json"),
      Json.obj((if (isCorpus) Seq("pos_pairs") else keys)
        .map(k => k -> Json.str(SparkEntry.oracleSql(k)))), UTF_8)
}
