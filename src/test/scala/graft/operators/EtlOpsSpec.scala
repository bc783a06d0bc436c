package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EtlOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cutoffBefore is half-open (strictly before)") {
    val df = Seq(
      (1L, "2024-01-14 23:00:00"),
      (2L, "2024-01-15 00:00:00"),
      (3L, "2024-01-15 01:00:00")
    ).toDF("id", "s").withColumn("ts", to_timestamp($"s"))
    val out = EtlOps.cutoffBefore("ts", java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))(df)
    assert(out.select("id").as[Long].collect().toSet == Set(1L))
  }

  test("semiJoinFilter keeps only rows with a reference match, no duplication") {
    val fact = Seq(("CISO", 1), ("CISO", 2), ("NOPE", 3)).toDF("ba", "v")
    val ref = Seq(("CISO"), ("ERCO"), ("CISO")).toDF("code") // dup in ref must not duplicate facts
    val out = EtlOps.semiJoinFilter(ref, "ba", "code")(fact)
    assert(out.count() == 2)
    assert(out.select("v").as[Int].collect().toSet == Set(1, 2))
  }

  test("lossyTimestamp coerces bad values to null (errors='coerce')") {
    val df = Seq("2024-01-01 05:00:00", "garbage", "2024-02-30 00:00:00").toDF("raw")
    val out = EtlOps.lossyTimestamp("raw", "ts")(df).select("ts").collect()
    assert(out(0).get(0) != null)
    assert(out(1).get(0) == null)
    assert(out(2).get(0) == null) // Feb 30 invalid
  }

  test("pivotSum dropIncomplete reproduces pandas pivot_table + dropna") {
    val df = Seq(
      ("h1", "D", "10"), ("h1", "NG", "5"), ("h2", "D", "3")
    ).toDF("date", "type", "value")
    val full = EtlOps.pivotSum(Seq("date"), "type", Seq("D", "NG"), "value", dropIncomplete = false)(df)
    assert(full.count() == 2)
    val dropped = EtlOps.pivotSum(Seq("date"), "type", Seq("D", "NG"), "value", dropIncomplete = true)(df)
    assert(dropped.count() == 1) // h2 lacks NG
    val r = dropped.collect()(0)
    assert(r.getAs[Double]("D") == 10.0 && r.getAs[Double]("NG") == 5.0)
  }

  test("quarterLabel formats like pandas to_period('Q')") {
    val df = Seq("1996-04-01", "1996-03-31", "1996-12-31").toDF("s")
      .withColumn("d", to_date($"s"))
      .select(EtlOps.quarterLabel($"d").as("q"))
    assert(df.as[String].collect().toSeq == Seq("1996-Q2", "1996-Q1", "1996-Q4"))
  }

  test("numericParsable keeps only parseable rows with coerced value") {
    val df = Seq("1.5", "x", "-2", "1e3", "").toDF("v")
    val out = EtlOps.numericParsable("v", "num")(df).select("num").as[Double].collect()
    assert(out.toSet == Set(1.5, -2.0, 1000.0))
  }

  test("unionPages preserves row count across pages (U1 invariant)") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val pages = Seq(0, 1, 2).map(i => li.filter($"l_orderkey" % 3 === i))
    assert(EtlOps.unionPages(pages).count() == li.count())
  }

  test("resampleFfill: full grid per key, forward fill across gaps, null before first obs") {
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val base = 1704067200000L // 2024-01-01T00Z
    val hour = 3600000L
    val obs = Seq(
      (1L, 10L, ts(base + hour + 600000), 5.0),      // key 10, slot 1
      (2L, 10L, ts(base + hour + 1200000), 7.0),     // same slot, later ts wins
      (3L, 10L, ts(base + 4 * hour), 9.0),           // slot 4 (slots 2,3 gap-filled with 7.0)
      (4L, 20L, ts(base + 2 * hour), 1.0)            // key 20, slot 2
    ).toDF("event_id", "uid", "ts", "v")
    val out = EtlOps.resampleFfill(obs, "uid", "ts", "event_id", Seq("v"),
      ts(base), ts(base + 6 * hour), stepSeconds = 3600)
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(1).getTime, if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.length == 12) // 2 keys x 6 hourly slots
    val k10 = out.filter(_._1 == 10L).sortBy(_._2).map(_._3).toSeq
    assert(k10 == Seq(None, Some(7.0), Some(7.0), Some(7.0), Some(9.0), Some(9.0)))
    val k20 = out.filter(_._1 == 20L).sortBy(_._2).map(_._3).toSeq
    assert(k20 == Seq(None, None, Some(1.0), Some(1.0), Some(1.0), Some(1.0)))
  }

  test("scd2 collapses no-change snapshots into validity ranges") {
    // key 1: A A B A -> three ranges (the repeat A at t2 collapses into t1's);
    // key 2: one all-NULL attr snapshot then a no-change NULL (collapses too)
    val df = Seq(
      (1L, 1, Some("A")), (1L, 2, Some("A")), (1L, 3, Some("B")), (1L, 4, Some("A")),
      (2L, 1, None), (2L, 2, None)
    ).toDF("k", "t", "attr")
    val out = EtlOps.scd2(df, "k", Seq("t"), Seq("attr"))
      .orderBy($"k", $"valid_from")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)), r.getBoolean(4)))
      .toSeq
    assert(out == Seq(
      (1L, Some("A"), 1, Some(3), false),
      (1L, Some("B"), 3, Some(4), false),
      (1L, Some("A"), 4, None, true),
      (2L, None, 1, None, true)))
  }

  test("snapshotDiff classifies I/U/D, drops unchanged, handles null attrs and keys") {
    val oldT = Seq(
      (Some(1L), Some("a")),  // unchanged
      (Some(2L), Some("b")),  // updated to null
      (Some(3L), Some("c")),  // deleted
      (None: Option[Long], Some("x")) // null key, unchanged
    ).toDF("k", "v")
    val newT = Seq(
      (Some(1L), Some("a")),
      (Some(2L), None: Option[String]),
      (Some(4L), Some("d")),  // inserted
      (None: Option[Long], Some("x"))
    ).toDF("k", "v")
    val out = EtlOps.snapshotDiff(oldT, newT, Seq("k"), Seq("v"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        Option(r.getString(2)))).toSet
    assert(out == Set(
      ("U", Some(2L), None),
      ("D", Some(3L), Some("c")),
      ("I", Some(4L), Some("d"))))
  }

  test("scd2 tracks multi-attribute changes null-safely") {
    val df = Seq(
      (1L, 1, Some("A"), Some(10)),
      (1L, 2, Some("A"), None),      // second attr changes to NULL -> new range
      (1L, 3, Some("A"), None)       // no change -> collapses
    ).toDF("k", "t", "a1", "a2")
    val out = EtlOps.scd2(df, "k", Seq("t"), Seq("a1", "a2")).collect()
    assert(out.length == 2)
  }

  test("cdcApply: update, delete, delete-then-reinsert, update-then-delete, fresh insert") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("k", "v")
    val changes = Seq(
      (1L, "a2", 1L, "U"),  // plain update
      (2L, "b", 1L, "D"),   // plain delete
      (3L, "c", 1L, "D"), (3L, "c2", 2L, "I"), // delete then reinsert
      (4L, "d2", 1L, "U"), (4L, "d2", 2L, "D"), // update then delete
      (9L, "new", 1L, "I")  // insert of an unseen key
    ).toDF("k", "v", "seq", "op")
    val out = EtlOps.cdcApply(base, changes, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a2", 3L -> "c2", 5L -> "e", 9L -> "new"))
  }

  test("cdcApply fails loud on duplicate (key, seq) pairs — nondeterministic winner") {
    val base = Seq((1L, "a")).toDF("k", "v")
    // an after-image and a delete tying on seq: row_number would pick one
    // silently, and the pick could flip between runs
    val dup = Seq((1L, "a2", 1L, "U"), (1L, "a2", 1L, "D"))
      .toDF("k", "v", "seq", "op")
    val e = intercept[Exception] {
      EtlOps.cdcApply(base, dup, Seq("k"), "seq", "op").collect()
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    // equal seq on DIFFERENT keys is fine (the window partitions by key+seq)
    val ok = Seq((1L, "a2", 1L, "U"), (2L, "b", 1L, "I"))
      .toDF("k", "v", "seq", "op")
    assert(EtlOps.cdcApply(base, ok, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toMap == Map(1L -> "a2", 2L -> "b"))
  }

  test("cohortRetention: first-activity cohorts, exact distinct-active counts by hand") {
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$day $h%02d:00:00")
    // u1 joins day 1, active days 1, 2, 4 (two events on day 1 count once);
    // u2 joins day 2, active day 2 only
    val e = Seq(
      (1L, ts(1, 9)), (1L, ts(1, 18)), (1L, ts(2, 9)), (1L, ts(4, 9)),
      (2L, ts(2, 9)))
      .toDF("user_id", "ts")
    val out = graft.operators.EventOps.cohortRetention(e, "user_id", "ts")
      .orderBy("cohort_date", "day_offset").collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_date").toString,
        r.getAs[Long]("day_offset"), r.getAs[Long]("n_active"))).toSeq
    assert(out == Seq(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L), ("2024-01-01", 3L, 1L),
      ("2024-01-02", 0L, 1L)))
  }

  test("stickiness: exact rolling distincts by hand; DAU/MAU ratio") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$day 09:00:00")
    // u1 active days 1 and 2 (twice on day 1 — counts once); u2 day 1 only
    val e = Seq((1L, ts(1)), (1L, ts(1)), (1L, ts(2)), (2L, ts(1)))
      .toDF("user_id", "ts")
    val out = graft.operators.EventOps.stickiness(e, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau"),
        r.getAs[Double]("stickiness")))
    assert(out.toSeq == Seq(
      ("2024-01-01", 2L, 2L, 2L, 1.0),
      ("2024-01-02", 1L, 2L, 2L, 0.5)))
  }

  test("twap: duration-weighted by hand; single-event key NULL") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // u1: 10 held 60s, 20 held 30s, 99 unobserved -> (600+600)/90 = 13.3...
    val df = Seq(
      (1L, ts(0), 1L, 10.0), (2L, ts(60), 1L, 20.0), (3L, ts(90), 1L, 99.0),
      (4L, ts(0), 2L, 5.0) // single event: no observed duration
    ).toDF("event_id", "ts", "user_id", "value")
    val out = graft.operators.EventOps.twap(df, "user_id", "ts", "event_id",
      "value").orderBy("user_id").collect()
    assert(out(0).getAs[Long]("n_events") == 3)
    assert(out(0).getAs[Long]("observed_us") == 90000000L)
    assert(out(0).getAs[Double]("twap") == 13.333333)
    assert(out(1).getAs[Long]("observed_us") == 0L)
    assert(out(1).isNullAt(out(1).fieldIndex("twap")))
  }
}
