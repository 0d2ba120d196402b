package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Salted two-phase aggregation equals the direct aggregation — including
  * the ordered argmin/argmax used for candle open/close. */
class SkewSpec extends SparkSpec {

  import spark.implicits._

  test("salted aggregate equals direct groupBy on a skewed key distribution") {
    // one hot key (90% of rows) + a tail
    val rows = (1 to 900).map(i => ("HOT", i.toLong, (i % 97).toDouble)) ++
      (1 to 100).map(i => (s"k${i % 7}", 1000L + i, i.toDouble))
    val df = rows.toDF("key", "uid", "value")

    val direct = df.groupBy("key")
      .agg(
        sum(col("value").cast("decimal(18,2)")).as("total"),
        count(lit(1)).as("n"),
        min("value").as("lo"),
        max("value").as("hi"),
        min_by(col("value"), col("uid")).as("open"),
        max_by(col("value"), col("uid")).as("close"))

    val salted = Skew.saltedAggregate(
      df,
      keys = Seq(col("key")),
      measures = Seq(
        Skew.sumOf(col("value").cast("decimal(18,2)"), "total"),
        Skew.countRows("n"),
        Skew.minOf(col("value"), "lo"),
        Skew.maxOf(col("value"), "hi"),
        Skew.minByOf(col("value"), col("uid"), "open"),
        Skew.maxByOf(col("value"), col("uid"), "close")),
      saltBuckets = 16,
      saltSource = col("uid"))

    val d = direct.orderBy("key").collect().map(_.toSeq).toSeq
    val s2 = salted.select(direct.columns.map(col).toIndexedSeq: _*).orderBy("key").collect().map(_.toSeq).toSeq
    assert(d == s2)
  }

  test("struct ordering key: argmin/argmax stay deterministic under duplicate uids") {
    // two rows share uid=1 with different values: a bare-uid argmin is
    // nondeterministic; the (uid, value) struct key pins the pick
    val df = Seq(("K", 1L, 9.0), ("K", 1L, 3.0), ("K", 2L, 5.0)).toDF("key", "uid", "value")
    val ord = struct(col("uid"), col("value"))
    val got = Skew.saltedAggregate(
      df,
      keys = Seq(col("key")),
      measures = Seq(
        Skew.minByOf(col("value"), ord, "open"),
        Skew.maxByOf(col("value"), ord, "close")),
      saltBuckets = 4,
      saltSource = col("value"))
      .select("open", "close").as[(Double, Double)].collect().head
    // open: min (uid, value) = (1, 3.0); close: max = (2, 5.0)
    assert(got == ((3.0, 5.0)))
  }

  test("salt actually spreads the hot key across partial groups") {
    val rows = (1 to 1000).map(i => ("HOT", i.toLong, 1.0))
    val df = rows.toDF("key", "uid", "value")
    val partials = df.withColumn("__salt", pmod(hash(col("uid")), lit(16)))
      .groupBy("key", "__salt").count()
    assert(partials.count() > 8) // hot key split over many buckets
  }

  test("sliced backward as-of equals the unsliced operator on a planted 100:1 hot key") {
    import graft.operators.AsofJoin
    // one hot key carrying 100× the tail's history, spanning many cells;
    // probes and refs interleave, with cells that have no reference at all
    // (forcing the cross-cell carry), equal-ts ties, and duplicate ref ts
    val hot = (1 to 2000).map(i => (i.toLong, "HOT", i.toLong * 37L))
    val tail = (1 to 20).map(i => (10000L + i, s"k${i % 5}", i.toLong * 1000L))
    val probe = (hot ++ tail).toDF("event_id", "k", "us")
    val hotRef = (1 to 500).map(i => ("HOT", i.toLong * 101L, i.toLong))
    val dupTs = Seq(("HOT", 101L, 9999L)) // duplicate ts 101 → MAX payload rule
    val tailRef = (1 to 10).map(i => (s"k${i % 5}", i.toLong * 1500L, 1000L + i))
    val ref = (hotRef ++ dupTs ++ tailRef).toDF("k", "us", "ref_id")
    val plain = AsofJoin.backward(probe, ref, Seq("k"), "us", Seq("ref_id"))
    // cellWidth 1000 → the hot key spans ~74 cells; many probe cells have
    // no in-cell ref (us step 37 vs ref step 101) and need the carry
    val sliced = AsofJoin.backwardSliced(probe, ref, Seq("k"), "us", Seq("ref_id"), cellWidth = 1000L)
    assert(plain.exceptAll(sliced).count() == 0 && sliced.exceptAll(plain).count() == 0,
      s"sliced as-of divergence:\n${plain.exceptAll(sliced).collect().take(5).mkString("\n")}")
    // the dup-ts MAX-payload rule survives slicing
    val at101 = sliced.filter(col("event_id") === 3L).select("ref_id")
      .as[Option[Long]].collect().head
    assert(at101.contains(9999L))
  }

  test("sliced forward as-of equals the unsliced operator on a planted 100:1 hot key") {
    import graft.operators.AsofJoin
    // the backward fixture mirrored: probes need refs from LATER cells
    // (cross-cell backward carry), equal-ts inclusivity, dup-ts MIN rule
    val hot = (1 to 2000).map(i => (i.toLong, "HOT", i.toLong * 37L))
    val tail = (1 to 20).map(i => (10000L + i, s"k${i % 5}", i.toLong * 1000L))
    val probe = (hot ++ tail).toDF("event_id", "k", "us")
    val hotRef = (1 to 500).map(i => ("HOT", i.toLong * 101L, i.toLong))
    val dupTs = Seq(("HOT", 101L, 9999L)) // duplicate ts 101 → MIN payload rule
    val tailRef = (1 to 10).map(i => (s"k${i % 5}", i.toLong * 1500L, 1000L + i))
    val ref = (hotRef ++ dupTs ++ tailRef).toDF("k", "us", "ref_id")
    val plain = AsofJoin.forward(probe, ref, Seq("k"), "us", Seq("ref_id"))
    val sliced = AsofJoin.forwardSliced(probe, ref, Seq("k"), "us", Seq("ref_id"), cellWidth = 1000L)
    assert(plain.exceptAll(sliced).count() == 0 && sliced.exceptAll(plain).count() == 0,
      s"sliced forward as-of divergence:\n${plain.exceptAll(sliced).collect().take(5).mkString("\n")}")
    // dup-ts MIN-payload: probe at us=74 (event 2) forward-matches ts 101
    // where refs 1 and 9999 collide → 1 wins
    val at74 = sliced.filter(col("event_id") === 2L).select("ref_id")
      .as[Option[Long]].collect().head
    assert(at74.contains(1L))
  }

  test("sliced nearest and tolerance as-of equal the unsliced operators on the hot-key fixture") {
    import graft.operators.AsofJoin
    // the backward fixture: hot key spanning ~74 cells at width 1000,
    // interleaved probe/ref steps so many probes need a cross-cell carry
    // in one or both directions, plus dup-ts ties on both sides
    val hot = (1 to 2000).map(i => (i.toLong, "HOT", i.toLong * 37L))
    val tail = (1 to 20).map(i => (10000L + i, s"k${i % 5}", i.toLong * 1000L))
    val probe = (hot ++ tail).toDF("event_id", "k", "us")
    val hotRef = (1 to 500).map(i => ("HOT", i.toLong * 101L, i.toLong))
    val dupTs = Seq(("HOT", 101L, 9999L))
    val tailRef = (1 to 10).map(i => (s"k${i % 5}", i.toLong * 1500L, 1000L + i))
    val ref = (hotRef ++ dupTs ++ tailRef).toDF("k", "us", "ref_id")

    val pn = AsofJoin.nearest(probe, ref, Seq("k"), "us", Seq("ref_id"))
    val sn = AsofJoin.nearestSliced(probe, ref, Seq("k"), "us", Seq("ref_id"), cellWidth = 1000L)
    assert(pn.exceptAll(sn).count() == 0 && sn.exceptAll(pn).count() == 0,
      s"sliced nearest divergence:\n${pn.exceptAll(sn).collect().take(5).mkString("\n")}")

    val pt = AsofJoin.backwardWithin(probe, ref, Seq("k"), "us", Seq("ref_id"), tolerance = 500L)
    val st = AsofJoin.backwardWithinSliced(probe, ref, Seq("k"), "us", Seq("ref_id"),
      tolerance = 500L, cellWidth = 1000L)
    assert(pt.exceptAll(st).count() == 0 && st.exceptAll(pt).count() == 0,
      s"sliced tolerance divergence:\n${pt.exceptAll(st).collect().take(5).mkString("\n")}")
    // the tolerance genuinely nulls stale matches through the sliced path
    assert(st.filter(col("ref_id").isNull).count() > 0)
    assert(st.filter(col("ref_id").isNotNull && col("us") - col("asof_ts") > 500L).isEmpty)
  }

  test("backwardAuto slices only past the hot-key threshold") {
    import graft.operators.AsofJoin
    val probe = (1 to 100).map(i => (i.toLong, "HOT", i.toLong * 10L)).toDF("event_id", "k", "us")
    val ref = (1 to 30).map(i => ("HOT", i.toLong * 33L, i.toLong)).toDF("k", "us", "ref_id")
    // under threshold: the plain single-window plan (its (key)-hash window,
    // no cell carry machinery — 2 exchanges incl. the implicit output sort)
    val plain = AsofJoin.backwardAuto(probe, ref, Seq("k"), "us", Seq("ref_id"),
      cellWidth = 100L, hotKeyRowThreshold = 1000L)
    assert(!plain.queryExecution.executedPlan.toString.contains("__cell"),
      "plain path must not build cell columns")
    // over threshold: the sliced plan kicks in, results identical
    val sliced = AsofJoin.backwardAuto(probe, ref, Seq("k"), "us", Seq("ref_id"),
      cellWidth = 100L, hotKeyRowThreshold = 50L)
    assert(sliced.queryExecution.executedPlan.toString.contains("__cell"),
      "hot key must route through the sliced operator")
    assert(plain.exceptAll(sliced).count() == 0 && sliced.exceptAll(plain).count() == 0)
  }

  test("sliced as-of variants match the plain operators on NULL key values") {
    import graft.operators.AsofJoin
    // SQL window partitioning groups NULL keys into ONE partition, so the
    // plain operators MATCH null-key probes to null-key refs; the sliced
    // carry reattachment must do the same (null-safe <=> join — ADVICE
    // r11 medium). The null-key ref sits many cells before its probes,
    // forcing the cross-cell carry for the null key specifically.
    val probe = Seq(
      (1L, Option("A"), 500L), (2L, Option.empty[String], 5500L),
      (3L, Option.empty[String], 9500L), (4L, Option("A"), 9800L)
    ).toDF("event_id", "k", "us")
    val ref = Seq(
      (Option("A"), 100L, 10L), (Option.empty[String], 200L, 20L)
    ).toDF("k", "us", "ref_id")
    val pb = AsofJoin.backward(probe, ref, Seq("k"), "us", Seq("ref_id"))
    val sb = AsofJoin.backwardSliced(probe, ref, Seq("k"), "us", Seq("ref_id"), cellWidth = 1000L)
    assert(pb.exceptAll(sb).count() == 0 && sb.exceptAll(pb).count() == 0,
      s"null-key backward divergence:\n${pb.exceptAll(sb).collect().mkString("\n")}")
    // the null-key probes genuinely carried the null-key ref across cells
    assert(sb.filter(col("event_id") === 2L).select("ref_id")
      .as[Option[Long]].collect().head.contains(20L))
    val pf = AsofJoin.forward(probe, ref.withColumn("us", col("us") + 100000L),
      Seq("k"), "us", Seq("ref_id"))
    val sf = AsofJoin.forwardSliced(probe, ref.withColumn("us", col("us") + 100000L),
      Seq("k"), "us", Seq("ref_id"), cellWidth = 1000L)
    assert(pf.exceptAll(sf).count() == 0 && sf.exceptAll(pf).count() == 0,
      s"null-key forward divergence:\n${pf.exceptAll(sf).collect().mkString("\n")}")
    assert(sf.filter(col("event_id") === 3L).select("ref_id")
      .as[Option[Long]].collect().head.contains(20L))
  }

  test("cell assignment is exact past 2^53 and floors negative epochs") {
    import graft.operators.TimeCells
    // 9007199254740993 mod 3 = 2 → numerator 9007199254740993 - 2 + 2 ...
    // the planted vector: c = 2^53 + 3, width 3. The double-division form
    // rounds the odd >2^53 numerator to its even neighbour and mis-cells
    // by one; the decimal form is exact (ADVICE r11 low).
    val df = Seq(
      (9007199254740995L, 3L, 3002399751580331L),   // odd multiple > 2^53
      (-1L, 1000L, -1L),                            // negative epoch floors down
      (-1000L, 1000L, -1L),
      (Long.MaxValue, 1L, Long.MaxValue)
    ).toDF("c", "w", "expect")
    val got = df.withColumn("cell", TimeCells.floorDiv(col("c"), col("w")))
      .filter(col("cell") =!= col("expect"))
    assert(got.isEmpty, s"floorDiv mismatch:\n${got.collect().mkString("\n")}")
  }

  test("span-split interval join equals the grid join with a planted degenerate long interval") {
    import graft.operators.IntervalJoin
    val pts = ((1 to 1000).map(i => (i.toLong, "HOT", i.toLong * 100L)) ++
      (1 to 50).map(i => (2000L + i, s"k${i % 3}", i.toLong * 777L))).toDF("event_id", "k", "us")
    // short intervals plus one week-equivalent degenerate interval that
    // would explode onto ~100k grid cells on the grid path
    val ivs = ((1 to 30).map(i => ("HOT", i.toLong, i.toLong * 3000L, i.toLong * 3000L + 2000L)) ++
      Seq(("HOT", 99L, 0L, 100000000L), ("k1", 50L, 0L, 40000L)))
      .toDF("k", "iv_id", "lo", "hi")
    val grid = IntervalJoin.containmentJoin(pts, ivs, Seq("k"), "us", "lo", "hi", cellWidth = 1000L)
    val split = IntervalJoin.containmentJoinSplit(
      pts, ivs, Seq("k"), "us", "lo", "hi", cellWidth = 1000L, maxCells = 5L)
    assert(grid.exceptAll(split).count() == 0 && split.exceptAll(grid).count() == 0,
      s"span-split divergence:\n${grid.exceptAll(split).collect().take(5).mkString("\n")}")
    // the degenerate interval genuinely routed through the broadcast tail
    // (its grid path would have produced 100k explode rows); the long
    // side's matches are present and exact
    assert(split.filter(col("iv_id") === 99L).count() == 1000L)
    // the long side plans as a broadcast HASH join (equi keys), never BNLJ
    val plan = split.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"long tail fell off the hash-join path:\n$plan")
    // auto dispatch: with the degenerate interval present the split path
    // engages (broadcast leg in plan); without it the plain grid join runs
    val auto = IntervalJoin.containmentJoinAuto(
      pts, ivs, Seq("k"), "us", "lo", "hi", cellWidth = 1000L, maxCells = 5L)
    // the split path is a UNION of the grid leg and the broadcast leg;
    // the plain grid join has no union — a size-independent plan signal
    assert(auto.queryExecution.executedPlan.toString.contains("Union"))
    assert(grid.exceptAll(auto).count() == 0 && auto.exceptAll(grid).count() == 0)
    val shortOnly = ivs.filter(col("iv_id") =!= 99L && col("iv_id") =!= 50L)
    val autoPlain = IntervalJoin.containmentJoinAuto(
      pts, shortOnly, Seq("k"), "us", "lo", "hi", cellWidth = 1000L, maxCells = 5L)
    assert(!autoPlain.queryExecution.executedPlan.toString.contains("Union"),
      "short-only interval table must take the plain grid path")
  }
}
