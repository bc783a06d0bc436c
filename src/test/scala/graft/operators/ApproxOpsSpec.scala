package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ApproxOpsSpec extends SparkSpec {
  import spark.implicits._

  test("HLL distinct stays within tolerance on the events fixture") {
    val out = ApproxOps.distinctWithinTol(
      graft.core.Tables.events(spark, sf), "event_type", "user_id", 0.02, 0.05)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("approx_ok")), rows.mkString("\n"))
  }

  test("approximate percentile lands inside the exact [45,55] window") {
    val out = ApproxOps.percentileWithinWindow(
      graft.core.Tables.events(spark, sf), "event_type", "value",
      0.5, 0.45, 0.55, 10000)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("approx_ok")), rows.mkString("\n"))
  }

  test("the bound check is not vacuous: a degenerate sketch fails it") {
    // accuracy=1 collapses the quantile summary to rank error ~100%; on a
    // spread-out distribution the median estimate must leave a tight window
    val skewed = (1 to 2000).map(i => ("k", i.toDouble)).toDF("k", "v")
    val out = ApproxOps.percentileWithinWindow(skewed, "k", "v",
      0.5, 0.4999, 0.5001, 1)
    assert(!out.collect()(0).getAs[Boolean]("approx_ok"))
  }

  test("KMV: estimate tracks exact distinct at ~1/sqrt(k) error, small keys exact") {
    // 5000 distinct values under key "big" (KMV regime), 10 under "small"
    // (below k: the sketch saw everything -> exact). Deterministic hashes,
    // so the measured error is a fixed number — bound it at ~3 sigma for
    // k = 64 (sigma ~ 12.6%)
    val rows = (1 to 5000).map(i => ("big", s"tok_$i")) ++
      (1 to 10).map(i => ("small", s"s_$i"))
    val out = ApproxOps.kmvDistinctByKey(rows.toDF("k", "v"), "k", "v", k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("sketch_size"), r.getAs[Double]("kmv_est"))).toMap
    assert(out("small") == ((10L, 10.0)), out("small").toString)
    val (size, est) = out("big")
    assert(size == 64L)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.38, s"est=$est")
    // determinism: a second run returns the identical double
    val again = ApproxOps.kmvDistinctByKey(rows.toDF("k", "v"), "k", "v", 64)
      .filter($"k" === "big").collect()(0).getAs[Double]("kmv_est")
    assert(again == est)
  }

  test("KMV set algebra: union/intersection estimates track known overlap; merge = bottom-k of union") {
    val a = (0 until 1000).map(i => Tuple1(s"w_$i")).toDF("v")
    val b = (500 until 1500).map(i => Tuple1(s"w_$i")).toDF("v")
    val r = ApproxOps.kmvUnionIntersect(a, b, "v", k = 64).collect()(0)
    val union = r.getAs[Double]("n_union_est")
    val jacc = r.getAs[Double]("jaccard_est")
    val inter = r.getAs[Double]("n_intersect_est")
    // truth: union 1500, jaccard 1/3, intersection 500. KMV sigma ~12.6%,
    // jaccard adds sampling noise — generous 3-sigma-ish bounds on the
    // deterministic fixture
    assert(math.abs(union - 1500.0) / 1500.0 < 0.38, s"union=$union")
    assert(math.abs(jacc - 1.0 / 3.0) < 0.2, s"jacc=$jacc")
    assert(math.abs(inter - 500.0) / 500.0 < 0.6, s"inter=$inter")
    // merge correctness: the sketch of the union equals bottom-k computed
    // directly over A UNION B — the mergeability KMV promises
    val direct = ApproxOps.kmvDistinctByKey(
      a.unionByName(b).select(lit("u").as("k"), $"v"), "k", "v", 64)
      .collect()(0).getAs[Double]("kmv_est")
    assert(direct == union, s"merged=$union direct=$direct")
    // disjoint sets: intersection terms collapse to zero exactly
    val c = (5000 until 6000).map(i => Tuple1(s"w_$i")).toDF("v")
    val rd = ApproxOps.kmvUnionIntersect(a, c, "v", k = 64).collect()(0)
    assert(rd.getAs[Long]("n_shared") == 0L)
    assert(rd.getAs[Double]("n_intersect_est") == 0.0)
    assert(rd.getAs[Double]("jaccard_est") == 0.0)
  }

  test("CMS: estimates equal exact counts at a collision-free width") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("item")
    val out = ApproxOps.cmsEstimates(df, "item", w = 4096, d = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 3 items in 4096 slots x 3 rows: a slice collision would need all
    // three 16-bit md5 slices to collide mod 4096 — est is exact here
    assert(out == Map("a" -> (5L, 5L), "b" -> (3L, 3L), "c" -> (1L, 1L)))
  }

  test("CMS: never undercounts, only overcounts, under forced collisions") {
    val df = (1 to 400).map(i => s"tok$i").toDF("item")
    val rows = ApproxOps.cmsEstimates(df, "item", w = 16, d = 2).collect()
    assert(rows.length == 400)
    // the defining one-sided guarantee holds for every item...
    assert(rows.forall(_.getAs[Boolean]("never_under")))
    // ...and at 400 items over 16 slots collisions MUST inflate some
    // estimate (each row's counters sum to 400, so some cell >= 25 > 1)
    assert(rows.exists(r => r.getAs[Long]("cms_est") > r.getAs[Long]("n_exact")))
  }

  test("CMS: sketch matrix is merge-order insensitive (split-union equals direct)") {
    val items = (1 to 200).map(i => s"w${i % 37}")
    val direct = items.toDF("item")
      .agg(graft.plans.GraftFunctions.countMin(col("item"), 32, 3))
      .head.getSeq[scala.collection.Seq[Long]](0).map(_.toList)
    val shuffled = scala.util.Random.shuffle(items).toDF("item").repartition(7)
      .agg(graft.plans.GraftFunctions.countMin(col("item"), 32, 3))
      .head.getSeq[scala.collection.Seq[Long]](0).map(_.toList)
    assert(direct == shuffled)
    // counters are sums: every row of the matrix totals the input size
    assert(direct.forall(_.sum == 200L))
  }

  test("sketches: 4 partitions merge through serialize to the 1-partition result") {
    import graft.plans.{GraftFunctions, VectorSumLong}
    // group 0 holds one heavy item; every item is also hashed for KMV
    val rows = (0 until 400).map { i =>
      val item = if (i % 4 == 0) "hot" else s"w${i % 53}"
      (i % 2, item, (i * 7919L) % 1000L, Seq(i.toLong, 1L))
    }
    val (k, n) = (4, 200)
    def run(partitions: Int) = rows.toDF("g", "item", "h", "vec")
      .repartition(partitions).groupBy("g").agg(
        GraftFunctions.kmvSketch(col("h"), 16),
        GraftFunctions.countMin(col("item"), 32, 3),
        VectorSumLong.vectorSum(col("vec")),
        GraftFunctions.misraGries(col("item"), k))
      .orderBy("g").collect().toSeq
    val (one, four) = (run(1), run(4))
    assert(one.map(r => (r.getSeq[Long](1), r.getSeq[Seq[Long]](2), r.getSeq[Long](3))) ==
      four.map(r => (r.getSeq[Long](1), r.getSeq[Seq[Long]](2), r.getSeq[Long](3))))
    assert(one.map(_.getSeq[Long](3)) == Seq(Seq(39800L, 200L), Seq(40000L, 200L)))
    // Misra-Gries candidates may differ by merge order; the contract may not:
    // an item over n/(k+1) is kept, and a count undercounts by at most that
    (one ++ four).foreach { r =>
      val exact = rows.filter(_._1 == r.getInt(0)).groupBy(_._2).view.mapValues(_.size.toLong)
      val mg = r.getMap[String, Long](4)
      exact.foreach { case (item, c) =>
        if (c > n / (k + 1)) assert(mg.contains(item), s"$item ($c) missing from $mg")
        mg.get(item).foreach(est => assert(est <= c && est >= c - n / (k + 1), s"$item: $est vs $c"))
      }
    }
    assert(one.head.getMap[String, Long](4).contains("hot"))
  }

  test("KMV sample quantiles: exact when the key fits in the sample") {
    val df = (1 to 50).map(i => ("a", i.toLong, i.toLong * 10)).toDF("k", "id", "v")
    val r = ApproxOps.kmvQuantilesByKey(df, "k", "id", "v",
      m = 64, qs = Seq(0.0, 0.5, 1.0), salt = "t").collect()(0)
    // 50 <= m: the sample IS the population -> exact order statistics
    assert(r.getAs[Long]("n_sample") == 50L)
    assert(r.getAs[Long]("q0") == 10L) // floor(0*(50-1)) -> index 0
    assert(r.getAs[Long]("q50") == 250L) // floor(0.5*49)=24 -> 25th value
    assert(r.getAs[Long]("q100") == 500L) // floor(1*49)=49 -> last value
  }

  test("KMV sample quantiles: mergeable and near the truth on a large key") {
    val df = (1 to 10000).map(i => ("a", i.toLong, i.toLong)).toDF("k", "id", "v")
    val r = ApproxOps.kmvQuantilesByKey(df, "k", "id", "v",
      m = 256, qs = Seq(0.5), salt = "t").collect()(0)
    assert(r.getAs[Long]("n_sample") == 256L)
    // binomial band sqrt(.25/256) ~ 3.1% rank sigma; allow ~4 sigma
    assert(math.abs(r.getAs[Long]("q50") - 5000L) < 1250L, r.toString)
    // mergeability: sampling each half then re-sampling the union of the
    // kept rows equals sampling the whole — bottom-m is a KMV merge
    val halves = Seq(df.filter($"id" % 2 === 0), df.filter($"id" % 2 === 1))
    val kept = halves.map(h => ApproxOps.kmvQuantilesByKey(h, "k", "id", "v",
      m = 256, qs = Seq(0.5), salt = "t"))
    // rebuild the kept row-sets by rerunning the rank filter directly
    import org.apache.spark.sql.expressions.Window
    def bottom(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("r", Dedup.hash48(concat(lit("t:"), $"id".cast("string"))))
      .withColumn("rn", row_number().over(Window.partitionBy($"k").orderBy($"r")))
      .filter($"rn" <= 256).select("k", "id", "v")
    val merged = ApproxOps.kmvQuantilesByKey(
      bottom(halves(0)).unionByName(bottom(halves(1))), "k", "id", "v",
      m = 256, qs = Seq(0.5), salt = "t").collect()(0)
    assert(merged.getAs[Long]("q50") == r.getAs[Long]("q50"),
      s"merged ${merged} != direct $r")
    assert(kept.forall(_.collect()(0).getAs[Long]("n_sample") == 256L))
  }

  test("exactGroupRank: exact order statistics, ties and skew, no window in the plan") {
    // crafted groups: heavy ties, skewed sizes, one singleton
    val rows = (1L to 100L).map(i => ("a", i % 7)) ++       // ties everywhere
      (1L to 31L).map(i => ("b", i * i)) ++                 // skewed values
      Seq(("c", 42L))                                       // singleton
    val df = rows.toDF("g", "v")
    def replay(q: (Long, Long)): Map[String, (Long, Long, Long)] =
      rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val n = sorted.length.toLong
        val r = (q._1 * n + q._2 - 1) / q._2
        g -> (n, r, sorted((r - 1).toInt))
      }
    for (q <- Seq((1L, 2L), (9L, 10L), (1L, 1L), (1L, 100L))) {
      val got = ApproxOps.exactGroupRank(df, "g", "v", q._1, q._2, buckets = 4)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(got == replay(q), s"q=$q")
    }
    // bucket count never changes the answer (only the driver walk's grain)
    val b1 = ApproxOps.exactGroupRank(df, "g", "v", 1, 2, buckets = 1)
      .as[(String, Long, Long, Long)].collect().toSet
    val b64 = ApproxOps.exactGroupRank(df, "g", "v", 1, 2, buckets = 64)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(b1 == b64)
    // empty input: empty result with the contract schema
    val none = ApproxOps.exactGroupRank(
      Seq.empty[(String, Long)].toDF("g", "v"), "g", "v", 1, 2)
    assert(none.columns.toSeq == Seq("grp", "n", "rank", "val") &&
      none.count() == 0)
    // the whole point: no window, no percentile buffer in the plan
    val p = ApproxOps.exactGroupRank(df, "g", "v", 1, 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Window") && !p.contains("percentile"), p)
  }

  test("exactGroupWeightedRank: weighted replay, weight-1 degeneracy, zero weights skipped") {
    val rows = Seq(("a", 1L, 1L), ("a", 2L, 8L), ("a", 3L, 1L), // W=10, r=5 -> 2
      ("b", 5L, 2L), ("b", 7L, 2L),                             // W=4, r=2 -> 5
      ("c", 9L, 3L), ("c", 4L, 0L))                             // zero-weight 4 can't host
    val df = rows.toDF("g", "v", "w")
    val got = ApproxOps.exactGroupWeightedRank(df, "g", "v", "w", 1, 2,
        buckets = 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map("a" -> (10L, 5L, 2L), "b" -> (4L, 2L, 5L),
      "c" -> (3L, 2L, 9L)))
    // all-ones weights degrade exactly to the unweighted operator
    val base = rows.map(r => (r._1, r._2)).toDF("g", "v")
    val unw = ApproxOps.exactGroupRank(base, "g", "v", 9, 10)
      .as[(String, Long, Long, Long)].collect().toSet
    val ones = ApproxOps.exactGroupWeightedRank(
        base.withColumn("w", lit(1L)), "g", "v", "w", 9, 10)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(ones == unw)
    // a group whose entire mass is zero has no rank to host: NO row, not
    // a bogus (0, 0, min-value) one
    val zeroed = Seq(("z", 5L, 0L), ("z", 9L, 0L), ("ok", 1L, 2L))
      .toDF("g", "v", "w")
    val zr = ApproxOps.exactGroupWeightedRank(zeroed, "g", "v", "w", 1, 2)
      .as[(String, Long, Long, Long)].collect()
    assert(zr.toSeq == Seq(("ok", 2L, 1L, 1L)))
    // negative and null weights fail loud in-scan, never a wrong value
    intercept[Exception] {
      ApproxOps.exactGroupWeightedRank(
        Seq(("a", 1L, -5L)).toDF("g", "v", "w"), "g", "v", "w", 1, 2).collect()
    }
  }

  test("exactGroupRank: full-Long value range (wide offsets) stays exact") {
    // MaxValue − MinValue wraps a BIGINT offset — the DECIMAL wide path
    // must keep buckets nonnegative so the driver walk finds true ranks
    val df = Seq(("g", Long.MinValue), ("g", -5L), ("g", 0L),
      ("g", 7L), ("g", Long.MaxValue)).toDF("k", "v")
    val r = ApproxOps.exactGroupRank(df, "k", "v", 1, 2, buckets = 4)
      .collect().head
    assert(r.getAs[Long]("n") == 5 && r.getAs[Long]("rank") == 3 &&
      r.getAs[Long]("val") == 0L, r.toString)
    val r2 = ApproxOps.exactGroupRank(df, "k", "v", 9, 10, buckets = 3)
      .collect().head
    assert(r2.getAs[Long]("val") == Long.MaxValue, r2.toString)
  }

  test("rank resolve stays exact under adversarial bucket skew (hot-bucket recursion)") {
    // one extreme outlier forces the global range so wide that EVERY real
    // value lands in level-one bucket 0; with buckets = 4 the resolve must
    // recurse INSIDE the hot bucket — the old shape collected a value-level
    // count for each of the 5000 distinct values on the driver, this one
    // collects at most pending x 4 sub-bucket rows per level
    val n = 5000
    val rows = (1 to n).map(i => ("g", i.toLong)) :+ (("g", Long.MaxValue))
    val df = rows.toDF("k", "v").repartition(4)
    val qs = Seq((1L, 4L), (1L, 2L), (3L, 4L), (1L, 1L))
    val got = ApproxOps.exactGroupQuantiles(df, "k", "v", qs, buckets = 4)
      .select($"q_num", $"q_den", $"val")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    qs.foreach { case (qn, qd) =>
      val r = (qn * (n + 1) + qd - 1) / qd
      val expect = if (r <= n) r.toLong else Long.MaxValue
      assert(got((qn, qd)) == expect, s"$qn/$qd: got ${got((qn, qd))}, want $expect")
    }
    // weighted single-rank path rides the same resolve: heavy weight on an
    // in-hot-bucket value moves the weighted median onto it
    val wdf = ((1 to 100).map(i => ("g", i.toLong, 1L)) :+ (("g", 42L, 1000L))
      :+ (("g", Long.MaxValue, 1L))).toDF("k", "v", "w")
    val wr = ApproxOps.exactGroupWeightedRank(wdf, "k", "v", "w", 1, 2, buckets = 4)
      .collect().head
    assert(wr.getAs[Long]("val") == 42L, wr.toString)
  }

  test("exactGroupQuantiles: one walk equals per-quantile exactGroupRank calls") {
    val rng = new scala.util.Random(11)
    val df = (0 until 500).map(i => (s"g${i % 3}", rng.nextInt(100).toLong))
      .toDF("k", "v").repartition(5)
    val qs = Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L))
    val multi = ApproxOps.exactGroupQuantiles(df, "k", "v", qs, buckets = 4)
      .select($"grp", $"q_num", $"q_den", $"n", $"rank", $"val")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5, r._6)).toMap
    assert(multi.size == 3 * qs.size)
    qs.foreach { case (qn, qd) =>
      val single = ApproxOps.exactGroupRank(df, "k", "v", qn, qd, buckets = 4)
        .select($"grp", $"n", $"rank", $"val")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      single.foreach { case (g, t) =>
        assert(multi((g, qn, qd)) == t, s"($g, $qn/$qd)")
      }
    }
    // bucket-count invariance carries over to the multi walk
    val b32 = ApproxOps.exactGroupQuantiles(df, "k", "v", qs, buckets = 32)
      .select($"grp", $"q_num", $"q_den", $"n", $"rank", $"val")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(b32 == multi.map { case ((g, qn, qd), (n, r, v)) =>
      (g, qn, qd, n, r, v) }.toSet)
    // duplicates and empty quantile lists fail loud; empty input is empty
    intercept[IllegalArgumentException] {
      ApproxOps.exactGroupQuantiles(df, "k", "v", Seq((1L, 2L), (1L, 2L)))
    }
    intercept[IllegalArgumentException] {
      ApproxOps.exactGroupQuantiles(df, "k", "v", Seq.empty)
    }
    assert(ApproxOps.exactGroupQuantiles(df.limit(0), "k", "v", qs)
      .collect().isEmpty)
    // null values fail loud with the column named (partial OR all-null) —
    // previously a partial null died as an opaque driver-side NPE
    val withNull = Seq(("g", Some(1L)), ("g", None)).toDF("k", "v")
    val e = intercept[Exception] {
      ApproxOps.exactGroupRank(withNull, "k", "v", 1, 2).collect()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("NULL"), e.toString)
  }
}
