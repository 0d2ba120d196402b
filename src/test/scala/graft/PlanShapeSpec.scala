package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Candles
import graft.sources.Tables

/** Physical-plan regression guards: the shapes that matter at 100 TB —
  * shuffle counts, broadcast joins, filter/column pushdown — must not
  * silently regress. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def exchanges(df: DataFrame): Int =
    executed(df).linesIterator.count(_.contains("Exchange"))

  test("minute-candle aggregation is a single-shuffle hash aggregate") {
    val plan = executed(Candles.minuteCandles(Tables.trades(spark, dir)))
    assert(!plan.contains("SortMergeJoin"))
    // partial + final HashAggregate around exactly one exchange
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2)
    assert(exchanges(Candles.minuteCandles(Tables.trades(spark, dir))) <= 2)
  }

  test("pre-partitioned ladder chain adds no per-edge shuffles") {
    val c1m = Candles.partitionForLadder(Candles.minuteCandles(Tables.trades(spark, dir)))
    val c1h = Seq(("1m", "5m"), ("5m", "15m"), ("15m", "30m"), ("30m", "1h"))
      .foldLeft(c1m) { case (acc, (src, dst)) => Candles.ladderStep(acc, src, dst) }
    // one agg shuffle + one co-location repartition, zero for the 4 edges
    assert(exchanges(c1h) <= 3, s"ladder re-shuffles:\n${executed(c1h)}")
  }

  test("a2/a2b candle-gate plans are pinned at their exact exchange counts") {
    // The headline candle family had no wall-time tripwire: when the r8
    // bench window was dirty, a2 read 11× its floor and nothing in the
    // suite could say whether the PLAN had regressed (VERDICT r8 task 4).
    // Pin the exact exchange counts of the full gate queries. a2 = 3: the
    // minute-agg hash exchange, the ONE partitionForLadder co-location
    // repartition that makes all 12 ladder edges partition-local, and the
    // gate's deterministic-output range sort. a2b = 3: the 1m→1d
    // sub-ladder runs once at build time behind calendarIntervals'
    // localCheckpoint, so the gate plan is just the two calendar
    // aggregations over the materialized (small) 1d table plus the output
    // sort. Deliberately `==`, not `<=`: removing partitionForLadder
    // re-shuffles per edge and MUST fail here (a2); a2b reverting to the
    // allIntervals+filter form reads 5.
    // a2 = 4 since r15: the gates feed the minute agg through tradesPar's
    // round-robin repartition (the one-row-group fixture reads as a single
    // scan task, guide §2.5), adding exactly one exchange ahead of the
    // three pinned above. The repartition is INPUT-ADAPTIVE — a multi-file
    // fixture regeneration would flip it to its no-op branch — so the pin
    // reads the round-robin's presence from the plan itself instead of
    // assuming the fixture's layout (ADVICE r15): 3 structural exchanges
    // plus the proxy shuffle exactly when it fired.
    val a2Plan = executed(SparkEntry.queries("a2_candles_1h_ladder")(spark, dir))
    val a2 = a2Plan.linesIterator.count(_.contains("Exchange"))
    val a2rr = if (a2Plan.contains("RoundRobinPartitioning")) 1 else 0
    assert(a2 == 3 + a2rr,
      s"a2 ladder plan shape changed: $a2 exchanges (expected ${3 + a2rr}, round-robin fired: ${a2rr == 1})")
    val a2b = exchanges(SparkEntry.queries("a2b_candles_calendar")(spark, dir))
    assert(a2b == 3, s"a2b calendar plan shape changed: $a2b exchanges (expected 3)")
  }

  test("dimension joins broadcast; no sort-merge joins in the assets view path") {
    val q = SparkEntry.queries("view_assets")(spark, dir)
    val plan = executed(q)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), s"SMJ crept into view_assets:\n$plan")
  }

  test("filters and column pruning reach the parquet scan") {
    val q = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = executed(q)
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity,30.0)"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("segment-loaded state: height filter and column pruning reach the multi-path parquet scan") {
    // The incremental persist reads facts back as a MULTI-PATH scan over
    // frozen + tip segments of the chain family; at 100 TB the whole design
    // only works if the table tag and a height predicate prune at the scan
    // (segments are written sorted by table, then height, so row groups
    // carry tight min/max) and projection prunes columns to the tag plus
    // the projected ones. Guard both against regressing into a post-scan
    // filter. The scan node's metadata is read whole: the plan string cuts
    // each value at spark.sql.maxMetadataStringLength.
    import graft.operators.ChainSync
    import graft.convert.{RawBlock, RawUpdate}
    val sdir = java.nio.file.Files.createTempDirectory("graft-plan-seg-").toString
    val st = ChainSync.handleUpdates(spark, ChainSync.emptyState(spark), Seq[RawUpdate](
      RawBlock("p1", 100, Some(1704100000000L), Some(1L), Nil),
      RawBlock("p2", 1100, Some(1704100060000L), Some(1L), Nil),
      RawBlock("p3", 2100, Some(1704100120000L), Some(1L), Nil)))
    ChainSync.persist(st, sdir)
    val q = ChainSync.load(spark, sdir).blocks
      .filter(col("height") >= 1000).select("uid", "height")
    val Seq(scan) = executedScans(q)
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(height,1000)") &&
      pushed.contains("EqualTo(table,blocks_microblocks)"),
      s"height or table filter not pushed to the segment scan: $pushed")
    assert(scan.requiredSchema.simpleString == "struct<table:string,uid:bigint,height:int>",
      s"columns not pruned on the segment scan: ${scan.requiredSchema.simpleString}")
  }

  test("LSH candidate generation performs no cross joins") {
    val cands = graft.llm.Dedup.minhashLshCandidates(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val plan = executed(cands)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in LSH path:\n$plan")
  }

  test("LSH near-dup path has no cross join (bucketed candidates only)") {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val plan = executed(graft.llm.Similarity.lshNearDup(emb, dim = 64))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in LSH near-dup path:\n$plan")
  }

  test("IVF ANN path contains no single-partition exchange") {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val q = graft.llm.Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
    val plan = executed(q)
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition funnel in IVF path:\n$plan")
  }

  test("cell assignment is map-only: NO exchange between corpus scan and cell-id projection") {
    // the IVF/k-means assign step must be one row-local kernel projection
    // over the scan — the old crossJoin(broadcast) + Window.partitionBy(id)
    // argmax shuffled the ×k expansion once per build and per Lloyd
    // iteration (VERDICT r4 #1)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val centroids = graft.llm.Similarity.seedCentroids(emb, numCells = 8)
    val assigned = graft.llm.Similarity.assignCells(emb, centroids)
    val plan = executed(assigned)
    assert(exchanges(assigned) == 0, s"cell assignment shuffles:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"windowed/expanded argmax back in the assign path:\n$plan")
    assert(plan.contains("nearest_cells"), s"native kernel missing:\n$plan")
  }

  test("PQ encode is map-only: NO exchange between corpus scan and the code projection") {
    // the per-batch compression pass of the PQ path — one projection of m
    // L2 nearest_cells kernel calls over the scan, plan-constant codebook
    val emb = Tables.embeddings(spark, dir)
    val cb = graft.llm.Pq.train(emb, dim = 64, m = 8, ks = 16, iterations = 1)
    val codes = graft.llm.Pq.encode(emb, cb)
    val plan = executed(codes)
    assert(exchanges(codes) == 0, s"PQ encode shuffles:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"expanded argmin in the encode path:\n$plan")
    assert(plan.contains("nearest_cells"), s"native kernel missing:\n$plan")
  }

  test("s3 typed decode parses JSON exactly once and pushes the presence filter to the scan") {
    val q = SparkEntry.queries("s3_decode_typed")(spark, dir)
    val plan = executed(q)
    assert(plan.linesIterator.count(_.contains("from_json")) == 1,
      s"JSON parse duplicated (filter pushed below projection?):\n$plan")
    assert(plan.contains("StringContains(props"), s"presence filter not pushed to scan:\n$plan")
  }

  test("ingest extraction is map-only: no exchange in the asset/ticker explode paths") {
    import graft.convert._
    val pk = Array.tabulate[Byte](32)(_.toByte)
    val blocks = Seq(RawBlock("pb1", 10, Some(1704067200000L), None, Seq(
      graft.convert.RawTx(id = "t".getBytes, txType = 3, senderPublicKey = pk,
        timeStampMs = 1L,
        assetStateUpdates = Seq(RawAssetStateUpdate(assetId = "a".getBytes, issuer = pk,
          name = "n", description = "", decimals = 1, reissuable = true, nft = false, volume = 1L)),
        dataEntryUpdates = Seq(RawDataEntryUpdate("s".getBytes,
          Some(RawDataEntry("%s%s__assetId2ticker__X", stringValue = Some("T")))))))))
    import spark.implicits._
    val flat = TxConvert.withBlockUids(TxConvert.flatten(spark, blocks), Seq((1L, "pb1")).toDF("uid", "id"))
    // the flatten itself windows per height (one exchange); the extraction
    // on top must add NONE — it is a pure explode+filter+project
    val base = exchanges(flat)
    assert(exchanges(Extract.assetUpdates(flat)) == base,
      s"asset extraction added a shuffle:\n${executed(Extract.assetUpdates(flat))}")
    assert(exchanges(Extract.assetTickers(flat, "addr")) == base,
      s"ticker extraction added a shuffle:\n${executed(Extract.assetTickers(flat, "addr"))}")
  }

  test("globalRowNumber stays off RDDs: no DeserializeToObject / RDD scan in the plan") {
    val ev = Tables.events(spark, dir).select(col("event_id"))
    val plan = executed(graft.operators.Pipeline.globalRowNumber(ev, col("event_id")))
    assert(!plan.contains("DeserializeToObject") && !plan.contains("Scan ExistingRDD"),
      s"globalRowNumber dropped out of Tungsten:\n$plan")
  }

  test("similarity kernels run the native vector_dot (no zip_with intermediates)") {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val plan = executed(
      graft.llm.Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5))
    assert(plan.contains("vector_dot"), s"native dot product missing:\n$plan")
    assert(!plan.contains("zip_with"),
      s"builtin fold (per-pair intermediate array) back in the hot path:\n$plan")
  }

  test("text analysis stages are map-only: no exchange in repetition/PII/quality paths") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    assert(exchanges(graft.llm.TextAnalysis.repetitionSignals(docs)) == 0,
      "repetition signals added a shuffle")
    assert(exchanges(docs.select(graft.llm.TextAnalysis.redactPii(col("text")))) == 0,
      "PII redaction added a shuffle")
    assert(exchanges(graft.llm.TextAnalysis.qualityScore(docs)) == 0,
      "quality scoring added a shuffle")
    assert(exchanges(graft.llm.C4.clean(docs)) == 0,
      "C4 cleaning added a shuffle — it must stay a pure projection")
  }

  test("round-9 operator gates hold their exchange budgets") {
    // exact pins, the a2-ladder convention: a regression that re-adds a
    // corpus pass or drops a broadcast fails by name. fim/span are
    // map-only (+1 output sort); domain_cap = window + sort; entropy =
    // two aggs + sort; pmi/temperature materialize their aggregated
    // tables, so the visible plan is bounded-table joins only (the corpus
    // passes run once, at checkpoint time — plan peek showed 11 exchanges
    // for pmi before the lineage cut, the unigram pass ×3)
    val budgets = Seq(
      "llm_fim_split" -> 1, "llm_span_corrupt" -> 1, "llm_domain_cap" -> 2,
      "llm_entropy_profile" -> 3, "llm_temperature_mixture" -> 4, "llm_pmi" -> 6,
      // train tables materialized: score plans are one corpus scan +
      // broadcast probes (nb was 17 exchanges / 7 scans before the cut,
      // dsir 11 / 5)
      "llm_nb_quality" -> 5, "llm_dsir_resample" -> 7)
    budgets.foreach { case (name, budget) =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      assert(ex == budget, s"$name expected $budget exchanges, got $ex:\n$plan")
    }
  }

  test("round-10 operator gates hold their exchange budgets") {
    // llm_mm_align is a map-only pass (+1 output sort); llm_bpe_ids = the
    // same + 2 broadcasts (vocab segmentations, id table). llm_pack_bpe's
    // LIVE plan is 3 (window hash + offsets broadcast + output sort; the
    // count agg + prefix-sum range partition run once at the runningTotal
    // cache build) — the pin is higher because the plan STRING dumps the
    // InMemoryRelation's build plan twice (AQE final + initial), which is
    // deliberate: a regression inside the cached chain still moves the
    // number. llm_pack_emit tokenizes ONCE (checkpointed token table feeds
    // both the counts agg and the emit join — was 13 when counts re-ran
    // the corpus explode as a second pass).
    val budgets = Seq(
      "llm_mm_align" -> 1, "llm_bpe_ids" -> 3,
      "llm_pack_bpe" -> 9, "llm_pack_emit" -> 9)
    budgets.foreach { case (name, budget) =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      assert(ex == budget, s"$name expected $budget exchanges, got $ex:\n$plan")
    }
  }

  test("round-10 batch-3 operator gates hold their exchange budgets") {
    // o40: ONE user-hash exchange feeds both the session window and the
    // (user, session) rollup (the rollup's clustering is a superset of the
    // window's hash partitioning) + the output range sort — the
    // sessionization scale contract. llm_curriculum is map-only + sort.
    // llm_bpe_oov / llm_ctx_histogram: broadcast vocab probes + bounded
    // group-keyed aggs + output sort. llm_pack_waste inherits pack_bpe's
    // cached prefix-sum chain (plan dump counts the InMemoryRelation build
    // twice, the llm_pack_bpe convention) + the single-row rollup.
    // llm_audio_vad: the asset-hash exchange feeds frame windows AND the
    // (asset, segment) rollup — the o40 exchange-reuse shape — + the
    // output sort
    // o41 as-of: ONE user-hash exchange for the union-merge window + the
    // output sort — the whole point of the union-merge algorithm. o42:
    // session build (user hash) + the grid-cell equi-join (fixture-size
    // interval side broadcasts) + output sort. o43: range-frame window
    // hash + output sort.
    val budgets = Seq(
      "o40_sessionize" -> 2, "llm_curriculum" -> 1,
      "llm_bpe_oov" -> 3, "llm_ctx_histogram" -> 5,
      "llm_pack_waste" -> 9, "llm_audio_vad" -> 2,
      "o41_asof_join" -> 2, "o42_interval_join" -> 3, "o43_trailing_window" -> 2)
    budgets.foreach { case (name, budget) =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      assert(ex == budget, s"$name expected $budget exchanges, got $ex:\n$plan")
    }
  }

  test("round-10 batch-8 operator gates hold their exchange budgets") {
    // o46: the two-phase salted aggregate is EXACTLY phase-1 (keys+salt
    // hash) + phase-2 (keys hash) + output sort — the deliberate extra
    // shuffle that buys hot-key spreading; anything above 3 means a
    // regression re-shuffled a phase. o47: one expand+hash-agg exchange
    // for the rollup + output sort. llm_dedup_keeper: one content-hash
    // window exchange + output sort (same budget class as llm_dedup_exact).
    // llm_rrf_fusion composes the full BM25 chain (10 exchanges standalone,
    // minus its output sort inside the fusion) + the dense rank window +
    // the fused (query, doc) agg + fused rank + output sort = 12. The r11
    // per-(query, doc, system) contract-enforcement agg costs NO exchange:
    // both union branches end hashpartitioned on query_id (their rank
    // windows), the union propagates it, and {query_id} ⊆ every
    // downstream clustering key.
    // batch 9: o48 pivot = partial/final agg pair + output sort (explicit
    // value list — NO second value-discovery scan). o49 multi-distinct =
    // the expand's two-phase agg + output sort. llm_cluster_keeper reads
    // the materialized component labels (the iterative propagation runs at
    // build, its per-round plans pinned by Components' own discipline):
    // quality join + comp agg + output sort.
    // batch 10: o50/o51 semi/anti = the two join-side hash exchanges (the
    // orders side is the bigger relation — a broadcast would ship it).
    // o52 = orders⋈lineitem shuffle pair + the grouped-agg exchange; the
    // customer filter broadcasts BY SIZE at fixture scale (no hint — r11:
    // the segment filter is SF-proportional, so a pinned broadcast would
    // be wrong at 100 TB) and TakeOrdered never sorts globally.
    // llm_mmr's candidate pool and selection rounds materialize at build
    // (pool localCheckpoint + bounded per-step pick collects, r16) — the
    // final plan is one output sort. langid_confusion: cm agg + tot agg +
    // their join + output sort.
    val budgets = Seq(
      "o46_salted_agg" -> 3, "o47_rollup" -> 2,
      // rrf 12 → 14 in r15: Bm25.topK now semi-filters the postings with
      // the (tiny) distinct query-term set before the df agg, which
      // repeats the query-term subtree once more in the initial plan (+2
      // query-side exchanges over ~dozens of rows) in exchange for
      // dropping the full-vocabulary hash(term) shuffle of the corpus side
      "llm_dedup_keeper" -> 2, "llm_rrf_fusion" -> 14,
      "o48_pivot" -> 3, "o49_distinct_agg" -> 3, "llm_cluster_keeper" -> 3,
      "o50_semi_join" -> 2, "o51_anti_join" -> 2, "o52_multijoin_topk" -> 3,
      "llm_mmr" -> 1, "llm_langid_confusion" -> 4,
      // batch 11: o53 = nation-hash window + output sort. o54 = the two
      // set-op join shuffle pairs + output sort (each leg's filters reach
      // the scan). llm_pair_mining = ONE doc-hash exchange feeding both
      // self-join sides (co-located with the chunk key) + output sort
      "o53_ntile" -> 2, "o54_set_ops" -> 5, "llm_pair_mining" -> 2,
      // batch 12: forward/nearest share backward's contract — ONE key-hash
      // exchange for the union-merge window(s) + the output sort; nearest's
      // two frame windows ride the same sort, no second shuffle
      "o41b_asof_forward" -> 2, "o41c_asof_nearest" -> 2,
      "o41d_asof_tolerance" -> 2)
    budgets.foreach { case (name, budget) =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      assert(ex == budget, s"$name expected $budget exchanges, got $ex:\n$plan")
    }
  }

  test("round-11 skew-hatch gates hold their exchange budgets") {
    // o41e sliced as-of: the (key,cell) in-cell window exchange, the
    // cell-level carry chain (cellLast agg + probe-cell distinct + the
    // tiny per-key carry window + its broadcast back onto the merged
    // side), and the output sort — the ONE extra bounded pass that buys
    // hot-key slicing. o42b span-split: o42's budget + the long-tail
    // BroadcastExchange + the session-window exchange showing once more
    // (both split legs read the session build; the split filters are free).
    val budgets = Seq("o41e_asof_sliced" -> 6, "o41f_asof_forward_sliced" -> 6,
      "o42b_interval_split" -> 5)
    budgets.foreach { case (name, budget) =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      assert(ex == budget, s"$name expected $budget exchanges, got $ex:\n$plan")
    }
  }

  test("round-12 sliced nearest/tolerance hold their exchange budgets") {
    // o41h tolerance-sliced = o41e's shape exactly (the tolerance bound is
    // row-local). o41g nearest-sliced pays ONE (key,cell) event sort
    // serving both frames plus TWO cell-level carry chains (each: ref cell
    // agg + probe-cell distinct + tiny per-key window + broadcast back) —
    // the budget is o41e's 6 plus the second carry's extra agg exchange,
    // probe-cell reuse, window exchange, and broadcast.
    val budgets = Seq("o41g_asof_nearest_sliced" -> 10,
      "o41h_asof_tolerance_sliced" -> 6)
    budgets.foreach { case (name, budget) =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val ex = plan.linesIterator.count(_.contains("Exchange"))
      assert(ex == budget, s"$name expected $budget exchanges, got $ex:\n$plan")
    }
  }

  // ---- declared-layout read paths (r11 task 2): the reference's 60+
  // indexes encode read patterns (up.sql:530-719); the TableStore layout
  // must PROVABLY serve them — partition pruning standing in for btree
  // range scans, parquet min/max for clustered indexes. These run at
  // sf0.1 (the driver's scale) and go red if pruning regresses.

  /** Post-execution file scans, unwrapped from AQE if present. */
  private def executedScans(df: DataFrame): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
  }

  test("z-ordered layout skips row groups on the orthogonal dimension the single-sort control must read") {
    import graft.sinks.TableStore
    val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // two INDEPENDENT dimensions (multiplicative scramble decorrelates them
    // from id): a ~ address bucket [0,64), b ~ hour bucket over 30 days
    val n = 100000L
    val df = spark.range(n).select(
      col("id"),
      ((col("id") * 7919) % 64).as("a"),
      (lit(473352L) + (col("id") * 104729) % 720).as("b"))
    // dims normalized to comparable bit-widths (6-bit a, 60-bucket b):
    // the degenerate unbalanced interleave is what the scaladoc warns of
    TableStore.writeZOrdered(df, s"$out/z",
      col("a"), ((col("b") - 473352L) / 12).cast("long"), files = 32)
    // control: the single-dimension clustering a time-series table ships
    // with (sorted by hour only) — min/max on `a` is useless in every file
    df.repartitionByRange(32, col("b")).sortWithinPartitions(col("b"))
      .write.mode("overwrite").parquet(s"$out/t")
    // the box: narrow in a (3 of 64 buckets), full-width in b — the case
    // where ONLY a multi-dimensional clustering can skip anything
    def box(path: String) = TableStore.readBox(spark, path,
      "a", 10L, 12L, "b", 473352L, 474072L)
    val zq = box(s"$out/z"); val tq = box(s"$out/t")
    val zScan = executedScans(zq).map(_.metrics("numOutputRows").value).sum
    val tScan = executedScans(tq).map(_.metrics("numOutputRows").value).sum
    // identical results...
    assert(zq.exceptAll(tq).isEmpty && tq.exceptAll(zq).isEmpty)
    // ...but the control reads essentially the whole table while the Z
    // layout's row-group stats on `a` skip most groups
    assert(tScan > (n * 9) / 10, s"control unexpectedly skipped: $tScan of $n")
    assert(zScan * 2 <= tScan,
      s"z layout must scan at most half the control: z=$zScan t=$tScan")
  }

  test("hilbert layout skips a box read at least as well as the single-sort control") {
    import graft.sinks.TableStore
    val out = java.nio.file.Files.createTempDirectory("graft-hilbert").toString
    // same decorrelated dims as the z-order test above
    val n = 100000L
    val df = spark.range(n).select(
      col("id"),
      ((col("id") * 7919) % 64).as("a"),
      (lit(473352L) + (col("id") * 104729) % 720).as("b"))
    TableStore.writeHilbertOrdered(df, s"$out/h",
      col("a"), ((col("b") - 473352L) / 12).cast("long"), files = 32)
    TableStore.writeZOrdered(df, s"$out/z",
      col("a"), ((col("b") - 473352L) / 12).cast("long"), files = 32)
    df.repartitionByRange(32, col("b")).sortWithinPartitions(col("b"))
      .write.mode("overwrite").parquet(s"$out/t")
    def box(path: String) = TableStore.readBox(spark, path,
      "a", 10L, 12L, "b", 473352L, 474072L)
    def scanned(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      executedScans(q).map(_.metrics("numOutputRows").value).sum
    }
    val hScan = scanned(box(s"$out/h"))
    val zScan = scanned(box(s"$out/z"))
    val tScan = scanned(box(s"$out/t"))
    assert(box(s"$out/h").exceptAll(box(s"$out/z")).isEmpty &&
      box(s"$out/z").exceptAll(box(s"$out/h")).isEmpty)
    // hilbert must beat the control by the same margin as z-order...
    assert(hScan * 2 <= tScan,
      s"hilbert layout must scan at most half the control: h=$hScan t=$tScan")
    // ...and stay in z-order's ballpark (continuity should make it equal
    // or tighter; allow 25% slack for file-boundary noise)
    assert(hScan <= zScan * 5 / 4,
      s"hilbert should not skip materially worse than z: h=$hScan z=$zScan")
  }

  test("writeZOrderedAuto on unbalanced raw dims matches hand-normalized skipping") {
    import graft.sinks.TableStore
    val out = java.nio.file.Files.createTempDirectory("graft-zorder-auto").toString
    // same independent dims as the test above, but `b` is passed RAW —
    // its ~10-bit width would dominate the interleave and collapse the
    // key toward a b-only sort (the documented misuse VERDICT r12 #5
    // asks to make impossible); writeZOrderedAuto range-buckets each dim
    // to a balanced 64-cell grid internally
    val n = 100000L
    val df = spark.range(n).select(
      col("id"),
      ((col("id") * 7919) % 64).as("a"),
      (lit(473352L) + (col("id") * 104729) % 720).as("b"))
    TableStore.writeZOrderedAuto(df, s"$out/auto", col("a"), col("b"), files = 32)
    // the hand-normalized reference layout (the caller doing the contract
    // correctly themselves)
    TableStore.writeZOrdered(df, s"$out/hand",
      col("a"), ((col("b") - 473352L) / 12).cast("long"), files = 32)
    // the misuse the auto path exists to prevent: raw unbalanced dims
    TableStore.writeZOrdered(df, s"$out/raw", col("a"), col("b"), files = 32)
    def box(path: String) = TableStore.readBox(spark, path,
      "a", 10L, 12L, "b", 473352L, 474072L)
    def scanned(q: org.apache.spark.sql.DataFrame): Long = {
      val r = q.collect().length // force execution
      assert(r == box(s"$out/hand").collect().length)
      executedScans(q).map(_.metrics("numOutputRows").value).sum
    }
    val handScan = scanned(box(s"$out/hand"))
    val autoScan = scanned(box(s"$out/auto"))
    val rawScan = scanned(box(s"$out/raw"))
    // identical results across all three layouts
    assert(box(s"$out/auto").exceptAll(box(s"$out/hand")).isEmpty &&
      box(s"$out/hand").exceptAll(box(s"$out/auto")).isEmpty)
    // skipping parity: auto within 1.5x of the hand-normalized scan
    assert(autoScan <= handScan * 3 / 2,
      s"auto z-order must match hand-normalized skipping: auto=$autoScan hand=$handScan")
    // and the raw misuse demonstrably degrades, proving the test can tell
    assert(rawScan > autoScan,
      s"unbalanced raw interleave should scan more: raw=$rawScan auto=$autoScan")
  }

  test("writeHilbertOrderedAuto on unbalanced raw dims matches hand-normalized skipping") {
    // the Hilbert mirror of the test above (VERDICT r13 #6: the Z-order
    // path got self-enforcing normalization in r13 while Hilbert carried
    // the comparable-width contract as documentation only — both curves
    // now share one range-ID pass and this pins the parity)
    import graft.sinks.TableStore
    val out = java.nio.file.Files.createTempDirectory("graft-hilbert-auto").toString
    val n = 100000L
    val df = spark.range(n).select(
      col("id"),
      ((col("id") * 7919) % 64).as("a"),
      (lit(473352L) + (col("id") * 104729) % 720).as("b"))
    TableStore.writeHilbertOrderedAuto(df, s"$out/auto", col("a"), col("b"), files = 32)
    TableStore.writeHilbertOrdered(df, s"$out/hand",
      col("a"), ((col("b") - 473352L) / 12).cast("long"), files = 32)
    TableStore.writeHilbertOrdered(df, s"$out/raw", col("a"), col("b"), files = 32)
    def box(path: String) = TableStore.readBox(spark, path,
      "a", 10L, 12L, "b", 473352L, 474072L)
    def scanned(q: org.apache.spark.sql.DataFrame): Long = {
      val r = q.collect().length
      assert(r == box(s"$out/hand").collect().length)
      executedScans(q).map(_.metrics("numOutputRows").value).sum
    }
    val handScan = scanned(box(s"$out/hand"))
    val autoScan = scanned(box(s"$out/auto"))
    val rawScan = scanned(box(s"$out/raw"))
    assert(box(s"$out/auto").exceptAll(box(s"$out/hand")).isEmpty &&
      box(s"$out/hand").exceptAll(box(s"$out/auto")).isEmpty)
    assert(autoScan <= handScan * 3 / 2,
      s"auto hilbert must match hand-normalized skipping: auto=$autoScan hand=$handScan")
    assert(rawScan > autoScan,
      s"unbalanced raw hilbert interleave should scan more: raw=$rawScan auto=$autoScan")
  }

  test("candle (pair, time-range) read prunes to one interval partition with pushed pair/time filters") {
    import graft.sinks.TableStore
    val out = java.nio.file.Files.createTempDirectory("graft-candle-prune").toString
    val m = Candles.minuteCandles(Tables.trades(spark, "/root/testdata/sf0.1"))
    val h = Candles.ladderStep(m, "1m", "1h")
    val d = Candles.ladderStep(h, "1h", "1d")
    TableStore.writeCandles(m.unionByName(h).unionByName(d), s"$out/candles")
    // the reference's hottest read: one interval, one pair, a time range
    // (pg.rs:760 — every candle query hits exactly one interval)
    // Instant-based: Timestamp.valueOf parses in the JVM default TZ and
    // would shift the window on a non-UTC host (ADVICE r11)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2030-01-01T00:00:00Z"))
    val q = TableStore.readAny(spark, s"$out/candles")
      .filter(col("interval") === "1h" &&
        col("amount_asset_id") === "A1" && col("price_asset_id") === "P2" &&
        col("time_start").between(lo, hi))
      .select("time_start", "open", "close", "volume")
    val plan = executed(q)
    // the interval predicate must be a PARTITION filter (directory-level
    // pruning), never a post-scan filter
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("interval"), s"interval not in PartitionFilters:\n$plan")
    // pair + time bounds must reach the parquet reader as pushed filters
    // (the scan node's metadata — the toString truncates the list)
    val scans = executedScans(q)
    assert(scans.nonEmpty, s"no file scan found:\n$plan")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("EqualTo(amount_asset_id,A1)") &&
      pushed.contains("GreaterThanOrEqual(time_start"),
      s"pair/time not pushed: $pushed")
    // and pruning must ACTUALLY fire: of the 3 interval partitions
    // written, the scan reads exactly 1
    val partsRead = scans.map(_.metrics("numPartitions").value).sum
    assert(partsRead == 1, s"expected 1 interval partition read, got $partsRead:\n$plan")
  }

  test("fact (sender, uid-range) read prunes height buckets with pushed uid/sender filters") {
    import graft.sinks.TableStore
    val out = java.nio.file.Files.createTempDirectory("graft-fact-prune").toString
    // chain-convention facts from the sf0.1 fixture: 20k heights over 20
    // height buckets, uid = height * 100000 + idx, a bounded sender set
    val facts = Tables.events(spark, "/root/testdata/sf0.1").select(
      (col("event_id") % 20000).cast("int").as("height"),
      ((col("event_id") % 20000) * TableStore.UidPerHeight +
        (col("event_id") / lit(20000)).cast("long")).as("uid"),
      concat(lit("addr"), (col("user_id") % 50).cast("string")).as("sender"),
      col("value").as("payload"))
    TableStore.writeFact(facts, s"$out/txs")
    // the reference's (address, uid) pagination read: a sender filter over
    // a uid keyset range (up.sql:530-719's btree shape)
    val loUid = 3000L * TableStore.UidPerHeight
    val hiUid = 5000L * TableStore.UidPerHeight - 1
    val q = TableStore.readFactUidRange(spark, s"$out/txs", loUid, hiUid)
      .filter(col("sender") === "addr7")
      .select("uid", "height", "payload")
    val plan = executed(q)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("height_bucket"), s"height_bucket not in PartitionFilters:\n$plan")
    val scans = executedScans(q)
    assert(scans.nonEmpty, s"no file scan found:\n$plan")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("GreaterThanOrEqual(uid," + loUid) &&
      pushed.contains("LessThanOrEqual(uid," + hiUid) &&
      pushed.contains("EqualTo(sender,addr7)"),
      s"uid/sender not pushed: $pushed")
    // uid range [3000, 5000) heights = buckets 3 and 4 of the 20 written
    val partsRead = scans.map(_.metrics("numPartitions").value).sum
    assert(partsRead == 2, s"expected 2 height buckets read, got $partsRead:\n$plan")
    // pruning must be invisible to results: same rows as the unpruned scan
    val expected = TableStore.readAny(spark, s"$out/txs")
      .filter(col("uid").between(loUid, hiUid) && col("sender") === "addr7")
      .select("uid", "height", "payload")
    assert(q.exceptAll(expected).count() == 0 && expected.exceptAll(q).count() == 0)
  }

  test("parallelizeKernelInput: adaptive branch contract, probed without running jobs") {
    // VERDICT r15 #7: the NO-OP-at-scale contract previously lived only in
    // scale_out numbers, and the partition probe used df.rdd — which on an
    // adaptive plan materializes upstream stages at CONSTRUCTION time
    // (ADVICE r15). Pin both branches and the job-free construction here.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // multi-split parquet input (2 files, each its own split under a 1 MB
    // split target) — the scaled-fixture / cluster shape
    val out = java.nio.file.Files.createTempDirectory("graft-pki").toString
    Tables.documents(spark, dir).select(col("doc_id")).limit(100)
      .repartition(2).write.mode("overwrite").parquet(out)
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    // resolve the reads BEFORE the job counter: spark.read.parquet itself
    // may run a footer/schema job, which is not what this test pins
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    val singleIn = Tables.documents(spark, dir).select(col("doc_id"))
    val multiIn = spark.read.parquet(out).select(col("doc_id"))
    spark.sparkContext.addSparkListener(listener)
    try {
      // construction must not run jobs (the plan-local scan-split probe)
      val single = Tables.parallelizeKernelInput(singleIn)
      val multi = Tables.parallelizeKernelInput(multiIn)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"parallelizeKernelInput ran ${jobs.get()} job(s) at query construction")
      // one-row-group fixture = single scan task -> the round-robin fires
      assert(executed(single).contains("RoundRobinPartitioning"),
        s"repartition branch did not fire on a single-task scan:\n${executed(single)}")
      // 2 splits >= half the 4-partition test knob -> NO-OP
      assert(!executed(multi).contains("RoundRobinPartitioning"),
        s"no-op branch re-shuffled an already-parallel input:\n${executed(multi)}")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("single-partition windows are banned from query plans") {
    // a global window/sort demands Exchange SinglePartition via
    // ENSURE_REQUIREMENTS — the representative paths that historically
    // carried one (j4's ranked zip) must stay free of it
    Seq("j4_zip_join", "o22_uid_window", "llm_ann_bruteforce").foreach { name =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"$name funnels through a single partition:\n$plan")
    }
  }

  test("suite-wide sweep: no cartesian products; single-partition/nested-loop only where scalar") {
    // every BATCH gate query's physical plan, audited in one pass. The
    // streaming/fold queries are excluded (building them RUNS a replay or
    // the chain-fold fixture); their shapes are pinned by their own tests.
    // Allowlists are the legitimately-degenerate shapes: a SCALAR aggregate
    // funnels to one partition by definition, and a one-row broadcast
    // (corpus totals / tmin / the brute-force oracles' deliberate
    // all-pairs) plans as BroadcastNestedLoopJoin. Anything new joining
    // these lists needs the same justification.
    val spOk = Set("a4_scalar_minmax", "llm_curation_report", "llm_lm_score",
      "llm_lm_buckets", "llm_mixture", "llm_tfidf", "view_assets",
      // the spark.sql catalog twin of view_assets — same plan, same one-row
      // waves-quantity scalar aggregate
      "sql_view_assets",
      // nbTrain's token/doc totals are scalar aggregates (one row each);
      // the calibration audit runs the same score chain + a 21-bin agg
      "llm_nb_quality", "llm_nb_calibration",
      // DSIR: the distribution totals are scalar aggregates, and the rank
      // window runs AFTER TakeOrdered bounds the input to n=100 rows
      "llm_dsir_resample",
      // temperature mixture / PMI / bigram LM: corpus totals are scalar
      // one-row aggregates (n_min, n_uni/n_bi) — the llm_mixture class
      "llm_temperature_mixture", "llm_pmi", "llm_bigram_lm",
      // packing-efficiency audit: a single-row corpus rollup — scalar
      // aggregate by definition
      "llm_pack_waste",
      // BM25: corpus stats (N, avgdl) are a one-row scalar aggregate
      "llm_bm25",
      // RRF fusion runs the BM25 chain (same scalar stats aggregate)
      "llm_rrf_fusion")
    val bnljOk = Set("llm_ann_bruteforce", "llm_embed_neardup", "llm_jaccard",
      "llm_lm_score", "llm_lm_buckets", "llm_mixture", "llm_tfidf", "view_assets",
      // the spark.sql twin: same one-row latestQuantity broadcast crossJoin
      "sql_view_assets",
      // one-row broadcast composition (smoothing totals / priors crossJoin
      // onto the probe side) — the llm_lm_score class, never corpus×corpus
      "llm_nb_quality", "llm_nb_calibration", "llm_dsir_resample",
      // bounded brute-force over the dequantized corpus: query side capped
      // (<100 rows) before the crossJoin, the llm_hard_negatives class
      "llm_int8_topk",
      // llm_hard_negatives is a deliberate bounded brute-force oracle: the
      // query side is capped (<100 rows) before the crossJoin
      // (Similarity.hardNegatives), so BNLJ is the intended shape; the
      // corpus-scale path is the cell-keyed equi-join hardNegativesIvf
      // (gated separately as llm_hard_negatives_ivf).
      "llm_hard_negatives",
      // one-row broadcast composition again (n_min / corpus totals
      // crossJoin onto a bounded counts table) — never corpus×corpus
      "llm_temperature_mixture", "llm_pmi", "llm_bigram_lm",
      // BM25: the one-row (N, avgdl) stats broadcast crossJoins onto the
      // bounded (query-term × postings) probe result — the llm_lm_score
      // class, never corpus×corpus
      "llm_bm25",
      // RRF fusion composes the BM25 stats broadcast AND the bounded dense
      // brute-force (query side capped to vec_id % 100 before the
      // crossJoin — the llm_ann_bruteforce class); corpus-scale dense path
      // is the IVF probe, gated separately
      "llm_rrf_fusion",
      // MMR pools candidates via the same bounded brute-force (capped query
      // side); the selection loop itself is bounded joins over the pool
      "llm_mmr")
    // Skip ONLY the queries whose lambda runs work at build time (streaming
    // replays, the chain-fold fixture, DSv2 replay, driver fixtures) — an
    // explicit list, not a prefix: the old `startsWith("s")` silently
    // excluded ~24 pure batch builders (s2..s10, scd2_*) from the audit
    // (ADVICE r5).
    val skipExact = Set("s1b_dsv2_size_close", "convert_txs_union", "extract_tickers",
      // sql_chain_candles RUNS the chain-fold fixture (persist included) at
      // plan-build time — same class as the chain_fold_* prefix below
      "sql_chain_candles",
      // the PQ builders RUN codebook training (seed + Lloyd collects) at
      // plan-build time; their shapes are pinned by the dedicated tests
      // (map-only encode here, bucketed-probe differential in SinksSpec)
      "llm_pq_codes", "llm_pq_topk", "llm_pq_rerank", "llm_pq_ivf")
    val skip = (n: String) => n.startsWith("st") || n.startsWith("chain_fold") ||
      n.contains("stream") || skipExact(n)
    val failures = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).flatMap { name =>
      val plan = executed(SparkEntry.queries(name)(spark, dir))
      val bad = Seq(
        (plan.contains("CartesianProduct")) -> "CartesianProduct",
        (plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS") && !spOk(name)) ->
          "single-partition exchange",
        (plan.contains("BroadcastNestedLoopJoin") && !bnljOk(name)) ->
          "nested-loop join")
      bad.collect { case (true, what) => s"$name: $what" }
    }
    assert(failures.isEmpty, s"plan-shape regressions:\n${failures.mkString("\n")}")
  }

  test("bloom novelty probe side carries no exchange before the filter") {
    // the 100 TB contract: a novel document is decided map-side — the only
    // exchanges in the plan belong to the union's verification branch
    // (bloom-positives), never between the docs scan and the bloom probe
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val seen = docs.filter(col("doc_id") % 3 === 0)
    val plan = executed(graft.llm.Dedup.novelAgainst(docs, seen, expectedItems = 200L))
    assert(!plan.contains("SortMergeJoin"),
      s"novelty verify join must stay hash/broadcast at fixture scale:\n$plan")
    // the negative (definitely-novel) branch: scan → filter → union, map-only
    val negativeBranch = plan.split("Union").last
    assert(negativeBranch.linesIterator.exists(_.contains("Scan parquet")),
      s"unexpected plan layout:\n$plan")
  }

  test("LM scoring and fuzzy decontamination probe broadcast tables, never shuffle the corpus side") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val lm = graft.llm.CorpusStats.unigramLm(docs.filter(col("doc_id") % 2 === 0))
    val lmPlan = executed(graft.llm.CorpusStats.lmScore(docs, lm))
    assert(lmPlan.contains("BroadcastHashJoin"), s"LM join not broadcast:\n$lmPlan")
    assert(!lmPlan.contains("SortMergeJoin"), s"corpus shuffled for the LM probe:\n$lmPlan")

    val fuzzy = graft.llm.Decontaminate.fuzzyContamination(docs, docs.filter(col("doc_id") % 41 === 0))
    val fuzzyPlan = executed(fuzzy)
    assert(fuzzyPlan.contains("BroadcastHashJoin"),
      s"eval-side band join not broadcast:\n$fuzzyPlan")
    assert(!fuzzyPlan.contains("CartesianProduct") && !fuzzyPlan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in fuzzy decontamination:\n$fuzzyPlan")
  }

  test("mixture sampling keeps the corpus side to one scan with broadcast rate joins") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val plan = executed(graft.llm.Sampling.mixtureSample(docs,
      Seq("src0" -> 500000L, "src1" -> 500000L), "source", "planshape"))
    assert(plan.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus shuffled for the rate lookup:\n$plan")
  }

  test("boilerplate strip: keyed joins only, no cartesian, bounded shuffles") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val q = graft.llm.Curation.stripBoilerplate(docs)
    val plan = executed(q)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join in boilerplate path:\n$plan")
    // line counting (distinct agg = 2) + stratum counts + anti-join sides +
    // rebuild: a fixed number of keyed exchanges, independent of corpus size
    assert(exchanges(q) <= 6, s"boilerplate shuffle count grew:\n$plan")
  }

  test("tf-idf aggregations partial-aggregate map-side; N is a broadcast one-row aggregate") {
    val plan = executed(graft.llm.CorpusStats.tfIdfTopTerms(
      Tables.documents(spark, dir), k = 3))
    // tf and df both partial+final — at least 4 HashAggregates total
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"missing map-side partials in tf-idf:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"tf-idf cross join must broadcast:\n$plan")
    // the only single-partition exchange allowed is the scalar N aggregate
    // (it carries one partial-count row, not data); the top-k window must
    // partition by doc_id, never globally
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach { case (_, i) =>
      assert(lines.drop(i + 1).take(1).exists(_.contains("partial_count")),
        s"non-scalar single-partition funnel in tf-idf:\n$plan")
    }
  }

  test("packShards: one seq-keyed shuffle, no object/sort aggregation") {
    // The r15 regression guard: the shard emit used to be
    // groupBy(seq_id).agg(sort_array(collect_list(struct(...)))), whose
    // partial ObjectHashAggregate silently fell back to
    // SortBasedAggregator past 128 keys/task and re-serialized every row
    // through UnsafeKVExternalSorter (jstack-attributed allocation storm,
    // NOTES r15). The scan-based emit must keep exactly one
    // hashpartitioning(seq_id) exchange (the plan string may dump it
    // twice, AQE final + initial) and no object/sort aggregate anywhere.
    import spark.implicits._
    val tok = (0L until 2000L)
      .map(i => (i / 40, (i % 40) / 4, i % 4, i % 7))
      .toDF("doc_id", "word_idx", "tok_idx", "token_id")
    val counts = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    val pack = graft.llm.Curation.packByTokenCounts(counts, seqLen = 64L, tokensCol = "n_toks")
    val df = graft.llm.Curation.packShards(tok, pack, seqLen = 64L)
    df.queryExecution.toRdd.count()
    val plan = executed(df)
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"shard emit must stay a sorted partition scan, not an object agg:\n$plan")
    val seqShuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning(seq_id"))
    assert(seqShuffles >= 1 && seqShuffles <= 2,
      s"expected the single seq_id shard-write shuffle, got $seqShuffles:\n$plan")
  }
}
