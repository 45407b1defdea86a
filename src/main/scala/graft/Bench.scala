package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: per-query MEDIAN over n runs (default 3) so
  * round-over-round deltas aren't n=1 JVM noise. Caches registered through
  * CacheScope are released after every run — each timed run builds its own
  * caches, pays their cost, and leaves a clean block manager (no
  * cross-query cache pollution, which is what made the r2 suite run
  * tfidf_score 2.8x slower than the same query in a clean session).
  *
  * One UNTIMED pass of the whole surface runs first (JMH-style warm-up):
  * timed runs then measure steady-state execution, not first-run
  * JIT/codegen compilation. Measured at sf0.1: the same clusters DAG
  * executes 13.7s on its first run and 4.6s on its fourth with identical
  * plans — alphabetically-early queries were absorbing the whole JVM's
  * compilation bill into their medians (the r3 drift on the mm and
  * tfidf_tf_raw keys was exactly this, in reverse). Steady state is also
  * the honest proxy
  * for the 100 TB target, where per-query JIT amortizes to zero.
  *
  * Output: ONE COMPACT JSON line on stdout + the FULL per-query maps at
  * target/bench-medians.json. The split matters: the driver keeps only the
  * last ~2000 characters of stdout, and a single line carrying 100 queries
  * x (median + min) is ~7KB — BENCH_r05/r06 both recorded `parsed: null`
  * because the line's head was truncated out of the capture window. The
  * stdout line therefore carries the total, per-family subtotals, and only
  * the headline + slowest queries (bounded count, ~1KB); the file carries
  * every query's median and min for local diffing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // Optional comma-separated subset for local perf bisection; the driver
    // never sets it (empty = full surface).
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // ISOLATED mode (VERDICT r11 #1): each selected query gets a FRESH
    // SparkContext — new block manager, new shuffle/checkpoint scratch
    // dirs (deleted on stop), empty codegen/broadcast state — so its
    // median measures the query's own plan, not the ambient cache/GC
    // pressure a 400+-query suite accretes. This is the adjudication tool
    // for round-over-round drift: a query slow here has a real plan
    // problem; a query fast here but slow in the full suite is paying
    // suite-level pressure. JIT still amortizes within the per-query
    // warm-up run, and the shared JVM keeps the comparison focused on
    // Spark-state isolation rather than JIT cold starts.
    val isolated = sys.env.get("SPARK_GRAFT_BENCH_ISOLATED").exists(_.nonEmpty)
    // MEMO-COLD mode (VERDICT r12 #1): LabelsMemo is cleared before EVERY
    // timed repetition, so each run pays the full shared-intermediate
    // re-derivation (edge build + write + read) instead of a warm parquet
    // read. This is the honest STANDALONE cost of a memo-consumer query —
    // the number a user running just that one query would see — and the
    // adjudication tool for the r12 builder-vs-driver 11-38x gap on the
    // six co-purchase-edge consumers (the non-isolated warm-up pass
    // pre-populates the memo, so plain medians measure the amortized
    // cost). Composes with ISOLATED (fresh context per query) or alone.
    val memoCold = sys.env.get("SPARK_GRAFT_BENCH_MEMO_COLD").exists(_.nonEmpty)
    def selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.isEmpty || only(k) }
    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // Warm the parquet-footer caches so the first timed query doesn't
      // absorb session start-up (~5s) that belongs to no query.
      try {
        s.range(1000).selectExpr("sum(id)").collect()
        Tables.All.foreach(t => Tables.load(s, sfDir, t).limit(1).count())
      } catch { case _: Throwable => }
      s
    }
    var spark = newSession()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // One build + count of a key, releasing its pins after the clock
    // stops. A key that throws is FAILED, never timed: its first error goes
    // to stderr, it is skipped for the rest of the run, listed under
    // "failed" in both JSON records, and the run exits 1 after teardown.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def run(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        if (failed.add(name)) System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      } finally CacheScope.releaseAll()
    }
    // Untimed warm-up pass (see scaladoc). In isolated mode the warm-up
    // happens per-query inside the fresh session instead.
    if (!isolated) selected.foreach { case (name, fn) => run(name, fn) }
    val results = selected.flatMap { case (name, fn) =>
      if (isolated && !failed(name)) {
        spark.stop()
        LabelsMemo.clear()
        spark = newSession()
        run(name, fn)
      }
      val times = (1 to n).iterator.takeWhile(_ => !failed(name)).flatMap { _ =>
        if (memoCold) LabelsMemo.clear()
        run(name, fn)
      }.toVector
      if (failed(name)) None else Some((name, median(times), times.min))
    }
    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    def jlist(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Per-query MIN alongside the median (VERDICT r3 #4): post-warm-up,
    // a big median-vs-min gap flags run-to-run variance, not a plan issue.
    // Totals under BOTH statistics (VERDICT r13 #4): ambient interference
    // is strictly one-sided (a burst can only ADD time), so min-of-n is
    // the burst-robust round-over-round comparison statistic; the median
    // stays for continuity with r03-r13 records. PLANS.md states the
    // comparison rule: adjudicate regressions on MIN, report both.
    val totalMin = results.map(_._3).sum
    // The run's measurement regime, embedded so adjudication records can
    // never silently mix regimes (ADVICE r13: a combined isolated+memo-cold
    // run used to overwrite bench/memo-cold.json with no marker).
    val mode = (isolated, memoCold) match {
      case (true, true) => "isolated+memo-cold"
      case (true, false) => "isolated"
      case (false, true) => "memo-cold"
      case (false, false) => "suite"
    }
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"value_min":$totalMin%.3f,"unit":"sec","n":$n,"stat":"median","mode":"$mode","queries":${jmap(results.map(r => r._1 -> r._2))},"queries_min":${jmap(results.map(r => r._1 -> r._3))},"failed":${jlist(failed)},"sf":"$sfDir"}"""
    // A full-surface run with no failed key is the round's record: it goes
    // to the scratch target/ AND the git-tracked bench/ dir (BENCH_r06's
    // stdout-tail truncation destroyed the r6 per-query record, so the
    // full maps must live somewhere the round commit preserves; the
    // history of bench/medians.json IS the round-over-round record). A
    // SPARK_GRAFT_BENCH_ONLY subset or a run with failed keys writes
    // under target/ only, so it can never overwrite that record.
    // Isolated and memo-cold runs land in their own files so a drift
    // adjudication can never clobber the round's full-suite medians.
    val (scratchFile, recordFile) =
      if (memoCold && isolated)
        ("target/bench-memo-cold-isolated.json", "bench/memo-cold-isolated.json")
      else if (memoCold) ("target/bench-memo-cold.json", "bench/memo-cold.json")
      else if (isolated) ("target/bench-isolated.json", "bench/isolated.json")
      else ("target/bench-medians.json", "bench/medians.json")
    val outFiles =
      if (only.isEmpty && failed.isEmpty) Seq(scratchFile, recordFile)
      else Seq(scratchFile)
    val writeErrors = outFiles.flatMap { p =>
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path, fullJson)
        None
      } catch { case e: java.io.IOException => Some(s"$p: $e") }
    }
    // Stdout line: family subtotals + headline anchors + slowest queries,
    // bounded so the whole line always lands inside the tail capture.
    val families = results
      .groupBy { case (k, _, _) => if (k.startsWith("q")) "q" else k.takeWhile(_ != '_') }
      .map { case (f, rs) => f -> rs.map(_._2).sum }.toSeq.sortBy(_._1)
    val anchors = Set("pos_pairs", "tfidf_score", "q_sql_tpch_q5",
      "dedup_clusters", "sim_ann_ivf", "dedup_minhash_lsh")
    val slowest = results.sortBy(-_._2).take(16).map(_._1).toSet
    val headline = results.filter(r => anchors(r._1) || slowest(r._1))
      .map(r => r._1 -> r._2)
    val json =
      f"""{"metric":"total","value":$total%.3f,"value_min":$totalMin%.3f,"unit":"sec","n":$n,"stat":"median","mode":"$mode","n_queries":${results.size},"queries":${jmap(headline)},"families":${jmap(families)},"n_failed":${failed.size},"failed":${jlist(failed.take(16))},"detail":"${outFiles.head}","sf":"$sfDir"}"""
    println(json)
    // Teardown hatch: reclaim scopes orphaned by any worker thread (safe
    // here — the harness is single-threaded and done with all queries).
    CacheScope.releaseAllScopes()
    LabelsMemo.clear()
    spark.stop()
    writeErrors.foreach(e => System.err.println(s"[bench] could not write $e"))
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} key(s) failed: " +
        failed.mkString(", "))
    if (failed.nonEmpty || writeErrors.nonEmpty) sys.exit(1)
  }
}
