package graft

import org.apache.spark.sql.functions._

import graft.operators.RadixSelect

/** Planted-input proof of the radix k-th order statistic: agreement with
  * a driver-side sort at every rank, under duplicates, zeros, and values
  * spanning multiple radix levels.
  */
class RadixSelectSpec extends SparkSpec {

  test("kth matches the sorted answer at every rank, with dups and zeros") {
    val vals: Seq[Long] = Seq(0L, 0L, 5L, 5L, 5L, 7L, 1L << 13, 1L << 25,
      (1L << 25) + 1, 1L << 40, 987654321098L, 3L, 3L)
    import spark.implicits._
    val df = vals.toDF("v").repartition(4).transform(CacheScope.persisted(_))
    val sorted = vals.sorted
    (1 to vals.size).foreach { k =>
      assert(RadixSelect.kth(df, "v", k.toLong) == sorted(k - 1), s"rank $k")
    }
    CacheScope.releaseAll()
  }

  test("ranks resolves every rank at once == per-rank sorted answers") {
    val vals: Seq[Long] = Seq(0L, 0L, 5L, 5L, 5L, 7L, 1L << 13, 1L << 25,
      (1L << 25) + 1, 1L << 40, 987654321098L, 3L, 3L)
    import spark.implicits._
    val df = vals.toDF("v").repartition(4).transform(CacheScope.persisted(_))
    val sorted = vals.sorted
    val all = RadixSelect.ranks(df, "v", (1 to vals.size).map(_.toLong))
    (1 to vals.size).foreach { k =>
      assert(all(k.toLong) == sorted(k - 1), s"rank $k")
    }
    // duplicate ranks are fine (they share a cursor)
    val dup = RadixSelect.ranks(df, "v", Seq(3L, 3L, 7L))
    assert(dup(3L) == sorted(2) && dup(7L) == sorted(6))
    CacheScope.releaseAll()
  }

  test("ranks on a small-range column (level skip) stays exact") {
    import spark.implicits._
    val vals: Seq[Long] = Seq(0L, 1L, 1L, 2L, 4095L, 4096L, 9999L)
    val df = vals.toDF("v").repartition(3).transform(CacheScope.persisted(_))
    val sorted = vals.sorted
    val got = RadixSelect.ranks(df, "v", (1 to vals.size).map(_.toLong))
    (1 to vals.size).foreach(k => assert(got(k.toLong) == sorted(k - 1)))
    CacheScope.releaseAll()
  }

  test("kthByGroup == per-group kth at assorted ranks, planted groups") {
    import spark.implicits._
    val rows: Seq[(String, Long)] =
      Seq("a" -> 0L, "a" -> 5L, "a" -> 5L, "a" -> (1L << 30), "a" -> 17L,
        "b" -> 3L, "b" -> 999999999999L, "b" -> 3L, "b" -> 4L,
        "c" -> 42L)
    val df = rows.toDF("g", "v").repartition(4).transform(CacheScope.persisted(_))
    val ks = Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
    val grouped = RadixSelect.kthByGroup(df, "g", "v", ks)
    ks.foreach { case (g, k) =>
      val single = RadixSelect.kth(df.filter(col("g") === g), "v", k)
      assert(grouped(g) == single, s"group $g rank $k")
    }
    CacheScope.releaseAll()
  }

  test("kthByGroup medians agree with per-group sort on real data") {
    val v = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("v"))
      .transform(CacheScope.persisted(_))
    val ns = v.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    val meds = RadixSelect.kthByGroup(v, "g", "v",
      ns.map { case (g, n) => g -> (n + 1) / 2 })
    ns.foreach { case (g, n) =>
      val viaSort = v.filter(col("g") === g).orderBy("v")
        .collect()(((n + 1) / 2).toInt - 1).getLong(1)
      assert(meds(g) == viaSort, s"group $g")
    }
    CacheScope.releaseAll()
  }

  test("ranksByGroup per-group level skip: mixed-range groups stay exact") {
    import spark.implicits._
    // "lo" lives entirely below 2^12 (every level above 12 skipped for
    // it); "hi" spans to 2^40 (wakes levels 36/24/12); "mid" to 2^20.
    val rows: Seq[(String, Long)] =
      Seq.tabulate(50)(i => "lo" -> (i % 7).toLong) ++
        Seq("hi" -> (1L << 40), "hi" -> 12L, "hi" -> (1L << 24), "hi" -> 0L,
          "hi" -> ((1L << 40) + 5)) ++
        Seq("mid" -> 1000000L, "mid" -> 5L, "mid" -> 999999L)
    val df = rows.toDF("g", "v").repartition(4).transform(CacheScope.persisted(_))
    val byG = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sorted }
    val ks = byG.map { case (g, vs) => g -> Seq(1L, (vs.size + 1L) / 2, vs.size.toLong) }
    val got = RadixSelect.ranksByGroup(df, "g", "v", ks)
    ks.foreach { case (g, rks) =>
      rks.foreach { k =>
        assert(got((g, k)) == byG(g)(k.toInt - 1), s"group $g rank $k")
      }
    }
    // Identical answers when the caller supplies the per-group maxes.
    val maxes = byG.map { case (g, vs) => g -> vs.last }
    val got2 = RadixSelect.ranksByGroup(df, "g", "v", ks, Some(maxes))
    assert(got2 == got)
    CacheScope.releaseAll()
  }

  test("ranks with caller-supplied max == self-computed max") {
    import spark.implicits._
    val vals: Seq[Long] = Seq(0L, 3L, 3L, 7L, 1L << 25, 987654321098L)
    val df = vals.toDF("v").repartition(3).transform(CacheScope.persisted(_))
    val ksr = (1 to vals.size).map(_.toLong)
    val a = RadixSelect.ranks(df, "v", ksr)
    val b = RadixSelect.ranks(df, "v", ksr, Some(vals.max))
    assert(a == b)
    CacheScope.releaseAll()
  }

  test("a caller max below the true max fails by name, in the first counting pass") {
    import spark.implicits._
    val vals: Seq[Long] = Seq(0L, 3L, 7L, 1L << 25, 987654321098L)
    val df = vals.toDF("v").repartition(3).transform(CacheScope.persisted(_))
    // 2^25 as the max skips the levels that would see 987654321098; the
    // old prefix filter then dropped it and rank 5 came back as 2^25.
    val e = intercept[IllegalArgumentException](
      RadixSelect.ranks(df, "v", Seq(3L, 5L), Some(1L << 25)))
    assert(e.getMessage.contains("above the supplied max 33554432"), e.getMessage)
    // An over-stated max is harmless: the answer is exact.
    assert(RadixSelect.kth(df, "v", 5L, Some(1L << 50)) == 987654321098L)
    val g = (vals.map("a" -> _) ++ Seq("b" -> 1L, "b" -> 2L)).toDF("g", "v")
    val eg = intercept[IllegalArgumentException](RadixSelect.kthByGroup(g, "g", "v",
      Map("a" -> 3L, "b" -> 1L), Some(Map("a" -> 100L, "b" -> 2L))))
    assert(eg.getMessage.contains("of group 'a'"), eg.getMessage)
    assert(RadixSelect.kthByGroup(g, "g", "v", Map("a" -> 5L, "b" -> 2L),
      Some(Map("a" -> 987654321098L, "b" -> 2L))) == Map("a" -> 987654321098L, "b" -> 2L))
    CacheScope.releaseAll()
  }

  test("contracts fail loudly: >= 2^60 values and cursor-count bound") {
    import spark.implicits._
    val big = Seq(1L << 61, 1L).toDF("v")
    assertThrows[IllegalArgumentException] {
      RadixSelect.kth(big, "v", 1L)
    }
    val small = Seq(1L, 2L, 3L).toDF("v")
    assertThrows[IllegalArgumentException] {
      RadixSelect.ranks(small, "v", (1 to RadixSelect.MaxCursors + 1).map(_.toLong))
    }
    assertThrows[IllegalArgumentException] {
      RadixSelect.ranksByGroup(small.withColumn("g", lit("x")), "g", "v",
        Map("x" -> (1 to RadixSelect.MaxCursors + 1).map(_.toLong)))
    }
  }

  test("median via kth agrees with Spark's own sort on real data") {
    val v = Tables.load(spark, sfDir, "lineitem")
      .select(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("v"))
      .transform(CacheScope.persisted(_))
    val n = v.count()
    val k = (n + 1) / 2
    val viaRadix = RadixSelect.kth(v, "v", k)
    val viaSort = v.orderBy("v").collect()(k.toInt - 1).getLong(0)
    CacheScope.releaseAll()
    assert(viaRadix == viaSort)
  }
}
