package graft.layout

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, QueryPack, Tables}
import graft.relational.Det.{dsum, dsumSql}

/** Data-layout operators: the two storage-side levers that decide whether
  * a 100 TB job shuffles the corpus or reads exactly what it needs.
  *
  * - BUCKETING: writing both join sides bucketed on the join key makes the
  *   join exchange-free — each scan reports the bucket hash-partitioning,
  *   so EnsureRequirements inserts NO shuffle before the sort-merge join.
  *   At 100 TB this converts the single biggest network cost of a repeated
  *   fact-fact join into a co-located file read (pay the shuffle once at
  *   write time, amortize over every subsequent join). LayoutSpec
  *   machine-asserts the executed plan has no exchange under the join.
  * - PARTITIONED LAYOUT: writing partitioned by a predicate column turns a
  *   full-corpus scan into a directory prune — the date filter never reads
  *   29/30ths of the files. LayoutSpec asserts the scan's partition count.
  *
  * The reference has no storage layout at all (its only layout choice is
  * one reducer = one output file, DocumentFreq.java:134-135); these are
  * the Spark-native replacements for that gap at scale.
  *
  * Scratch storage: like [[graft.dedup.DedupClusters]], the demo tables
  * are written to a driver-local temp dir, which is only correct with a
  * single-JVM local master — guarded here; a cluster (or local-cluster)
  * deployment passes a shared-FS `base`. Cleanup (drop table + delete
  * files) is registered with [[CacheScope]] so the harness's releaseAll
  * tears the layout down after the result is consumed.
  */
object LayoutQueries extends QueryPack {

  private val seq = new AtomicLong()

  /** Off a single JVM ([[graft.Fixpoint.singleJvm]]) scratch needs `base`. */
  private[graft] def requireLocalOrBase(master: String, base: Option[String]): Unit =
    require(base.isDefined || graft.Fixpoint.singleJvm(master),
      s"LayoutQueries: master '$master' is not a single local JVM — " +
        "pass base= a shared-filesystem path (driver-local scratch dirs " +
        "are not visible to cluster executors)")

  private def scratch(s: SparkSession, base: Option[String]): String = {
    requireLocalOrBase(s.sparkContext.master, base)
    base.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-layout-").toString)
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Exchange-free fact-fact join via bucketed tables: write orders and
    * lineitem bucketed 8 ways on the join key, then join and aggregate.
    * The revenue-by-priority result is what the oracle checks; the absence
    * of a join-side shuffle is what LayoutSpec checks.
    */
  def bucketedJoin(s: SparkSession, d: String,
      base: Option[String] = None): DataFrame = {
    val dir = scratch(s, base)
    val tag = seq.incrementAndGet()
    val ordTbl = s"graft_orders_b$tag"
    val liTbl = s"graft_lineitem_b$tag"
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/orders_b").mode("overwrite").saveAsTable(ordTbl)
    Tables.load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/lineitem_b").mode("overwrite").saveAsTable(liTbl)
    CacheScope.deferred { () =>
      s.sql(s"DROP TABLE IF EXISTS $ordTbl")
      s.sql(s"DROP TABLE IF EXISTS $liTbl")
      deleteRec(java.nio.file.Paths.get(dir))
    }
    // hint("merge") pins the sort-merge join: without it the tiny test-SF
    // orders side would be broadcast and the plan would prove nothing
    // about bucketing (at 100 TB neither fact side broadcasts).
    s.table(liTbl).hint("merge")
      .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
  }

  /** Partition-pruned scan: write events partitioned by event date, read
    * back with a one-day filter. The aggregate is oracle-checked; the
    * pruning (1 of ~30 partitions read) is plan-asserted in LayoutSpec.
    */
  def prunedScan(s: SparkSession, d: String,
      base: Option[String] = None): DataFrame = {
    val dir = scratch(s, base)
    val path = s"$dir/events_by_date"
    Tables.load(s, d, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(path)
    CacheScope.deferred(() => deleteRec(java.nio.file.Paths.get(dir)))
    s.read.parquet(path)
      .filter(col("event_date") === lit("2024-01-15").cast("date"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total"))
  }

  /** Fragmentation dial for q_layout_compact: files before/after. */
  val CompactFilesBefore = 64
  val CompactFilesAfter = 4

  /** Small-file compaction (the OPTIMIZE/rewrite maintenance job every
    * streaming or incremental sink needs at scale — thousands of
    * micro-batch files turn one logical scan into thousands of opens):
    * a deliberately fragmented table is rewritten at the target file
    * count, and the output carries the content audit PLUS the physical
    * before/after file counts read from the filesystem — so the oracle
    * pins both that compaction lost nothing AND that it actually
    * changed the layout (the file counts are literals in the oracle).
    * At 100 TB the repartition count comes from sum(file sizes) /
    * target_file_size rather than a constant — the dial, not the shape.
    */
  def compactSmallFiles(s: SparkSession, d: String,
      base: Option[String] = None): DataFrame = {
    val dir = scratch(s, base)
    val frag = s"$dir/li_frag"
    val comp = s"$dir/li_comp"
    Tables.load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2))
          .as("qty"))
      .repartition(CompactFilesBefore)
      .write.mode("overwrite").parquet(frag)
    CacheScope.deferred(() => deleteRec(java.nio.file.Paths.get(dir)))
    s.read.parquet(frag)
      .repartition(CompactFilesAfter)
      .write.mode("overwrite").parquet(comp)
    def nFiles(p: String): Long = {
      // Files.list holds a directory fd until the stream is closed —
      // repeated bench iterations would accumulate leaked fds otherwise.
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      try st.iterator().asScalaCount(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    s.read.parquet(comp)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("qty")).cast("double").as("sum_qty"),
        min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"))
      .withColumn("files_before", lit(nFiles(frag)))
      .withColumn("files_after", lit(nFiles(comp)))
  }

  private implicit class IterCount[A](private val it: java.util.Iterator[A]) {
    def asScalaCount(p: A => Boolean): Long = {
      var n = 0L
      while (it.hasNext) if (p(it.next())) n += 1
      n
    }
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_bucketed" -> ((s, d) => bucketedJoin(s, d)),
    "q_scan_pruned" -> ((s, d) => prunedScan(s, d)),
    "q_layout_compact" -> ((s, d) => compactSmallFiles(s, d)),

    // Z-ORDER vs LINEAR clustering gauge: interleave the bits of
    // (partkey, suppkey) into a Morton key, cut BOTH key spaces into
    // equal-width "file" buckets, and report each layout's average
    // per-bucket min/max span on each dimension. This is the decision
    // metric behind multi-dimensional data skipping: a linear
    // (partkey-major) sort gives perfect partkey spans but every file
    // covers the FULL suppkey range (zone maps prune nothing for suppkey
    // predicates); z-order trades a little partkey span for bounded spans
    // on BOTH dimensions — two-column pruning from one layout. All
    // arithmetic is integer bit manipulation + one exact-int division at
    // the end, so the oracle reproduces it bit-for-bit; LayoutSpec
    // asserts the trade itself (zorder's suppkey span is a fraction of
    // linear's full-range span).
    // Zone-map (min/max file skipping) effectiveness — the readout behind
    // "should this table be re-sorted before the next 1000 scans": 32
    // synthetic files under (a) insertion order (orderkey ranges, the
    // as-ingested layout) and (b) a range-sort on shipdate, each file
    // summarized by its shipdate zone map [min, max]. Emitted per layout:
    // average zone span, the count of overlapping zone pairs (range-sorted
    // is 0 by construction — that IS the point), and a June-1998 probe's
    // files-scanned + read amplification (rows in scanned files over rows
    // actually matching). File assignment is value-based integer math
    // (never row_number over a global sort — no single-partition window),
    // the min/max pre-pass rides one broadcast row, and the 32×32 overlap
    // check is a broadcast nested-loop on the FILE relation, whose size is
    // fixed at any table size.
    "q_layout_zonemap" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), to_date(col("l_shipdate")).as("sd"))
      val mm = li.agg(min(col("ok")).as("okmn"), max(col("ok")).as("okmx"),
        min(col("sd")).as("dmn"), max(col("sd")).as("dmx"))
      val keyed = li.crossJoin(broadcast(mm))
        .select(
          expr(s"((ok - okmn) * $ZmFiles) div (okmx - okmn + 1)").as("f_ins"),
          expr(s"(datediff(sd, dmn) * $ZmFiles) div (datediff(dmx, dmn) + 1)")
            .as("f_rng"),
          datediff(col("sd"), col("dmn")).as("dd"),
          datediff(lit("1998-06-01").cast("date"), col("dmn")).as("p1"),
          datediff(lit("1998-06-30").cast("date"), col("dmn")).as("p2"))
        .transform(CacheScope.persisted(_))
      val matchRows = keyed
        .filter(col("dd").between(col("p1"), col("p2")))
        .agg(count(lit(1)).as("rows_match"))
      def metrics(fcol: String, name: String): DataFrame = {
        val files = keyed.groupBy(col(fcol).as("file_id"))
          .agg(count(lit(1)).as("n"), min("dd").as("dmin"),
            max("dd").as("dmax"), min("p1").as("p1"), min("p2").as("p2"))
          .transform(CacheScope.persisted(_))
        val ov = files.as("a")
          .join(broadcast(files.as("b")),
            col("a.file_id") < col("b.file_id") &&
              col("a.dmin") <= col("b.dmax") && col("b.dmin") <= col("a.dmax"))
          .agg(count(lit(1)).as("overlap_pairs"))
        val scanned = files
          .filter(col("dmin") <= col("p2") && col("dmax") >= col("p1"))
          .agg(count(lit(1)).as("files_scanned"),
            sum(col("n")).as("rows_scanned"))
        files.agg(count(lit(1)).as("n_files"),
            round(sum(col("dmax") - col("dmin")).cast("double") /
              count(lit(1)), 4).as("avg_span_days"))
          .crossJoin(broadcast(ov)).crossJoin(broadcast(scanned))
          .crossJoin(broadcast(matchRows))
          .select(lit(name).as("layout"), col("n_files"),
            col("avg_span_days"), col("overlap_pairs"),
            col("files_scanned"),
            coalesce(col("rows_scanned"), lit(0L)).as("rows_scanned"),
            col("rows_match"),
            round(coalesce(col("rows_scanned"), lit(0L)).cast("double") /
              col("rows_match"), 4).as("read_amp"))
      }
      metrics("f_ins", "insertion")
        .unionByName(metrics("f_rng", "range_sorted"))
    }),

    "q_layout_zorder" -> ((s, d) => {
      // Scale both dimensions to the full 16-bit space from their actual
      // min/max (what a real z-order writer does) — order-preserving, so
      // zone maps stay meaningful, and scale-independent, so the key
      // space is spread identically at any SF. The min/max pre-pass is a
      // one-row broadcast, no collect.
      val raw = Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      val mm = raw.agg(min(col("p")).as("pmn"), max(col("p")).as("pmx"),
        min(col("sk")).as("smn"), max(col("sk")).as("smx"))
      val keyed = raw.crossJoin(broadcast(mm))
        .select(
          expr("CAST(((p - pmn) * 65535) div greatest(pmx - pmn, 1) AS INT)")
            .as("p16"),
          expr("CAST(((sk - smn) * 65535) div greatest(smx - smn, 1) AS INT)")
            .as("s16"))
        .select(col("p16"), col("s16"),
          expr(zTermsSpark).cast("long").as("zval"),
          (col("p16").cast("long") * 65536 + col("s16")).as("lval"))
        .transform(CacheScope.persisted(_))
      def spans(keyCol: String, name: String): DataFrame =
        keyed
          .groupBy(expr(s"$keyCol div $ZBucketW").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("p16")).as("pmin"), max(col("p16")).as("pmax"),
            min(col("s16")).as("smin"), max(col("s16")).as("smax"))
          .agg(count(lit(1)).as("n_buckets"),
            round(avg(col("pmax") - col("pmin")), 4).as("avg_p_span"),
            round(avg(col("smax") - col("smin")), 4).as("avg_s_span"))
          .select(lit(name).as("layout"), col("n_buckets"),
            col("avg_p_span"), col("avg_s_span"))
      spans("zval", "zorder").unionAll(spans("lval", "linear"))
    }),

    // Hilbert-curve layout vs z-order vs linear, same zone-map-span
    // methodology as q_layout_zorder on an 8-bit grid: the Hilbert key
    // visits every cell of a bucket-sized region before leaving it, so
    // its per-file key spans beat Morton's (which jumps at quadrant
    // seams) — the reason Delta/Iceberg offer hilbert clustering where
    // multi-dimensional locality matters. The curve index is the
    // canonical xy2d bit fold expressed as ONE aggregate HOF over the 8
    // levels (no UDF, stays in codegen); flips mask to the low bits so
    // every intermediate stays a non-negative integer — bit-identical in
    // any engine. The oracle unrolls the same fold as a recursive CTE.
    "q_layout_hilbert" -> ((s, d) => {
      val raw = Tables.load(s, d, "lineitem")
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      val mm = raw.agg(min(col("p")).as("pmn"), max(col("p")).as("pmx"),
        min(col("sk")).as("smn"), max(col("sk")).as("smx"))
      // Every span statistic below is multiplicity-independent (min/max
      // per bucket, bucket presence), so the curve fold runs on DISTINCT
      // grid cells — ≤ 65536 rows whatever the table size, a 10x cut at
      // sf0.1 (6.7 s → the distinct plan) and unboundedly more at scale.
      val keyed = raw.crossJoin(broadcast(mm))
        .select(
          expr("CAST(((p - pmn) * 255) div greatest(pmx - pmn, 1) AS INT)")
            .as("p8"),
          expr("CAST(((sk - smn) * 255) div greatest(smx - smn, 1) AS INT)")
            .as("s8"))
        .distinct()
        .select(col("p8"), col("s8"),
          expr(hilbertFoldSpark).as("hval"),
          expr(zTerms8Spark).cast("long").as("zval"),
          (col("p8").cast("long") * 256 + col("s8")).as("lval"))
        .transform(CacheScope.persisted(_))
      def spans(keyCol: String, name: String): DataFrame =
        keyed
          .groupBy(expr(s"$keyCol div $HBucketW").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("p8")).as("pmin"), max(col("p8")).as("pmax"),
            min(col("s8")).as("smin"), max(col("s8")).as("smax"))
          .agg(count(lit(1)).as("n_buckets"),
            round(avg(col("pmax") - col("pmin")), 4).as("avg_p_span"),
            round(avg(col("smax") - col("smin")), 4).as("avg_s_span"))
          .select(lit(name).as("layout"), col("n_buckets"),
            col("avg_p_span"), col("avg_s_span"))
      spans("hval", "hilbert").unionAll(spans("zval", "zorder"))
        .unionAll(spans("lval", "linear"))
    })
  )

  /** One Hilbert xy2d level: given state symbols (x, y) and the level
    * half-width symbol s, the rotated/flipped next (x, y) and this
    * level's d contribution s²·((3·rx) xor ry) — the xor spelled as a
    * CASE over the four (rx, ry) quadrant codes 0/3/1/2 so no
    * engine-specific xor operator is needed. Flips mask to the low bits
    * ((s−1)-masked) so intermediates never go negative.
    */
  private def hilbertStep(x: String, y: String, s: String): (String, String, String) = (
    s"CASE WHEN ($y & $s) = 0 THEN (CASE WHEN ($x & $s) > 0 " +
      s"THEN $s - 1 - ($y & ($s - 1)) ELSE $y & ($s - 1) END) " +
      s"ELSE $x & ($s - 1) END",
    s"CASE WHEN ($y & $s) = 0 THEN (CASE WHEN ($x & $s) > 0 " +
      s"THEN $s - 1 - ($x & ($s - 1)) ELSE $x & ($s - 1) END) " +
      s"ELSE $y & ($s - 1) END",
    s"$s * $s * (CASE WHEN ($y & $s) = 0 " +
      s"THEN (CASE WHEN ($x & $s) > 0 THEN 3 ELSE 0 END) " +
      s"ELSE (CASE WHEN ($x & $s) > 0 THEN 2 ELSE 1 END) END)")

  private[graft] def hilbertFold: String = hilbertFoldSpark

  private val hilbertFoldSpark: String = {
    val (nx, ny, dd) = hilbertStep("a.x", "a.y", "s")
    s"""aggregate(array(128, 64, 32, 16, 8, 4, 2, 1),
       |  named_struct('x', CAST(p8 AS BIGINT), 'y', CAST(s8 AS BIGINT),
       |               'd', CAST(0 AS BIGINT)),
       |  (a, s) -> named_struct('x', CAST($nx AS BIGINT),
       |                         'y', CAST($ny AS BIGINT),
       |                         'd', a.d + ($dd)),
       |  a -> a.d)""".stripMargin
  }

  private val zTerms8Spark: String = (0 until 8).flatMap(i => Seq(
    s"shiftleft(CAST(shiftright(p8, $i) & 1 AS BIGINT), ${2 * i})",
    s"shiftleft(CAST(shiftright(s8, $i) & 1 AS BIGINT), ${2 * i + 1})")).mkString(" + ")

  private val zTerms8Sql: String = (0 until 8).flatMap(i => Seq(
    s"(CAST((p8 >> $i) & 1 AS BIGINT) << ${2 * i})",
    s"(CAST((s8 >> $i) & 1 AS BIGINT) << ${2 * i + 1})")).mkString(" + ")

  /** Bucket width in the 16-bit (8+8) key space: 256 cells per bucket. */
  val HBucketW: Long = 256L

  /** Morton interleave of two 16-bit keys, as engine-specific integer
    * expressions (Spark's shiftleft/shiftright vs DuckDB's operators) —
    * 32 codegen-friendly terms, no UDF.
    */
  private val zTermsSpark: String = (0 until 16).flatMap(i => Seq(
    s"shiftleft(CAST(shiftright(p16, $i) & 1 AS BIGINT), ${2 * i})",
    s"shiftleft(CAST(shiftright(s16, $i) & 1 AS BIGINT), ${2 * i + 1})")).mkString(" + ")

  private val zTermsSql: String = (0 until 16).flatMap(i => Seq(
    s"(CAST((p16 >> $i) & 1 AS BIGINT) << ${2 * i})",
    s"(CAST((s16 >> $i) & 1 AS BIGINT) << ${2 * i + 1})")).mkString(" + ")

  /** Bucket ("file") width in the 32-bit interleaved key space: 2^22 keys
    * per bucket — both layouts cut the SAME key space into the same
    * equal-width buckets, so the span comparison is apples-to-apples.
    */
  val ZBucketW: Long = 1L << 22

  /** Synthetic file count for the zone-map study — a fixed-size file
    * relation at any table scale.
    */
  val ZmFiles = 32

  override val oracles: Map[String, String] = Map(

    "q_layout_zonemap" ->
      s"""WITH li AS (
         |  SELECT l_orderkey AS ok, CAST(l_shipdate AS DATE) AS sd
         |  FROM lineitem
         |), mm AS (
         |  SELECT min(ok) AS okmn, max(ok) AS okmx,
         |         min(sd) AS dmn, max(sd) AS dmx
         |  FROM li
         |), keyed AS (
         |  SELECT ((ok - okmn) * $ZmFiles) // (okmx - okmn + 1) AS f_ins,
         |         (CAST(sd - dmn AS BIGINT) * $ZmFiles) //
         |           (CAST(dmx - dmn AS BIGINT) + 1) AS f_rng,
         |         CAST(sd - dmn AS BIGINT) AS dd,
         |         CAST(DATE '1998-06-01' - dmn AS BIGINT) AS p1,
         |         CAST(DATE '1998-06-30' - dmn AS BIGINT) AS p2
         |  FROM li CROSS JOIN mm
         |), files AS (
         |  SELECT layout, file_id, count(*) AS n,
         |         min(dd) AS dmin, max(dd) AS dmax,
         |         min(p1) AS p1, min(p2) AS p2
         |  FROM (
         |    SELECT 'insertion' AS layout, f_ins AS file_id, dd, p1, p2
         |    FROM keyed
         |    UNION ALL
         |    SELECT 'range_sorted', f_rng, dd, p1, p2 FROM keyed
         |  ) GROUP BY 1, 2
         |), ov AS (
         |  SELECT a.layout, count(*) AS overlap_pairs
         |  FROM files a JOIN files b
         |    ON b.layout = a.layout AND a.file_id < b.file_id
         |   AND a.dmin <= b.dmax AND b.dmin <= a.dmax
         |  GROUP BY 1
         |), sc AS (
         |  SELECT layout, count(*) AS files_scanned,
         |         CAST(sum(n) AS BIGINT) AS rows_scanned
         |  FROM files WHERE dmin <= p2 AND dmax >= p1 GROUP BY 1
         |), matchr AS (
         |  SELECT count(*) AS rows_match FROM keyed WHERE dd BETWEEN p1 AND p2
         |), agg AS (
         |  SELECT layout, count(*) AS n_files,
         |         round(CAST(sum(dmax - dmin) AS DOUBLE) / count(*), 4)
         |           AS avg_span_days
         |  FROM files GROUP BY 1
         |)
         |SELECT agg.layout, agg.n_files, agg.avg_span_days,
         |       COALESCE(ov.overlap_pairs, 0) AS overlap_pairs,
         |       COALESCE(sc.files_scanned, 0) AS files_scanned,
         |       COALESCE(sc.rows_scanned, 0) AS rows_scanned,
         |       m.rows_match,
         |       round(CAST(COALESCE(sc.rows_scanned, 0) AS DOUBLE) /
         |             m.rows_match, 4) AS read_amp
         |FROM agg
         |LEFT JOIN ov ON ov.layout = agg.layout
         |LEFT JOIN sc ON sc.layout = agg.layout
         |CROSS JOIN matchr m""".stripMargin,
    "q_layout_zorder" ->
      s"""WITH mm AS (
         |  SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
         |         min(l_suppkey) AS smn, max(l_suppkey) AS smx
         |  FROM lineitem
         |), keyed AS (
         |  SELECT p16, s16,
         |         $zTermsSql AS zval,
         |         CAST(p16 AS BIGINT) * 65536 + s16 AS lval
         |  FROM (SELECT
         |          CAST(((l_partkey - pmn) * 65535) // greatest(pmx - pmn, 1) AS INT) AS p16,
         |          CAST(((l_suppkey - smn) * 65535) // greatest(smx - smn, 1) AS INT) AS s16
         |        FROM lineitem CROSS JOIN mm)
         |), z AS (
         |  SELECT zval // $ZBucketW AS bucket,
         |         min(p16) AS pmin, max(p16) AS pmax,
         |         min(s16) AS smin, max(s16) AS smax
         |  FROM keyed GROUP BY 1
         |), l AS (
         |  SELECT lval // $ZBucketW AS bucket,
         |         min(p16) AS pmin, max(p16) AS pmax,
         |         min(s16) AS smin, max(s16) AS smax
         |  FROM keyed GROUP BY 1
         |)
         |SELECT 'zorder' AS layout, count(*) AS n_buckets,
         |       round(avg(pmax - pmin), 4) AS avg_p_span,
         |       round(avg(smax - smin), 4) AS avg_s_span
         |FROM z
         |UNION ALL
         |SELECT 'linear' AS layout, count(*) AS n_buckets,
         |       round(avg(pmax - pmin), 4) AS avg_p_span,
         |       round(avg(smax - smin), 4) AS avg_s_span
         |FROM l""".stripMargin,

    "q_layout_hilbert" -> {
      val (nx, ny, dd) = hilbertStep("x", "y", "s")
      s"""WITH RECURSIVE mm AS (
         |  SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
         |         min(l_suppkey) AS smn, max(l_suppkey) AS smx
         |  FROM lineitem
         |), keyed AS MATERIALIZED (
         |  SELECT p8, s8,
         |         $zTerms8Sql AS zval,
         |         CAST(p8 AS BIGINT) * 256 + s8 AS lval
         |  FROM (SELECT
         |          CAST(((l_partkey - pmn) * 255) // greatest(pmx - pmn, 1) AS INT) AS p8,
         |          CAST(((l_suppkey - smn) * 255) // greatest(smx - smn, 1) AS INT) AS s8
         |        FROM lineitem CROSS JOIN mm)
         |), rec AS (
         |  SELECT p8, s8, zval, lval,
         |         CAST(p8 AS BIGINT) AS x, CAST(s8 AS BIGINT) AS y,
         |         CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s
         |  FROM keyed
         |  UNION ALL
         |  SELECT p8, s8, zval, lval,
         |         CAST($nx AS BIGINT), CAST($ny AS BIGINT),
         |         d + ($dd), s // 2
         |  FROM rec WHERE s >= 1
         |), hil AS MATERIALIZED (
         |  SELECT p8, s8, zval, lval, d AS hval FROM rec WHERE s = 0
         |), h AS (
         |  SELECT hval // $HBucketW AS bucket,
         |         min(p8) AS pmin, max(p8) AS pmax,
         |         min(s8) AS smin, max(s8) AS smax
         |  FROM hil GROUP BY 1
         |), z AS (
         |  SELECT zval // $HBucketW AS bucket,
         |         min(p8) AS pmin, max(p8) AS pmax,
         |         min(s8) AS smin, max(s8) AS smax
         |  FROM hil GROUP BY 1
         |), l AS (
         |  SELECT lval // $HBucketW AS bucket,
         |         min(p8) AS pmin, max(p8) AS pmax,
         |         min(s8) AS smin, max(s8) AS smax
         |  FROM hil GROUP BY 1
         |)
         |SELECT 'hilbert' AS layout, count(*) AS n_buckets,
         |       round(avg(pmax - pmin), 4) AS avg_p_span,
         |       round(avg(smax - smin), 4) AS avg_s_span
         |FROM h
         |UNION ALL
         |SELECT 'zorder', count(*), round(avg(pmax - pmin), 4),
         |       round(avg(smax - smin), 4) FROM z
         |UNION ALL
         |SELECT 'linear', count(*), round(avg(pmax - pmin), 4),
         |       round(avg(smax - smin), 4) FROM l""".stripMargin
    },

    "q_join_bucketed" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin,

    "q_scan_pruned" ->
      s"""SELECT event_type, count(*) AS n,
         |       ${dsumSql("value", 4)} AS total
         |FROM events
         |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
         |GROUP BY event_type""".stripMargin,

    // The file-count literals make the layout change itself part of the
    // hash gate, not just the content preservation.
    "q_layout_compact" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         |       CAST($CompactFilesBefore AS BIGINT) AS files_before,
         |       CAST($CompactFilesAfter AS BIGINT) AS files_after
         |FROM lineitem GROUP BY l_returnflag""".stripMargin
  )
}
