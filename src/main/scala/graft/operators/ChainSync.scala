package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{concurrently, cut}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.convert.{Extract, RawBlock, RawRollback, RawUpdate, TxConvert}
import graft.schema.ReferenceSchemas

/** The production batch orchestrator ≙ `handle_updates` (`mod.rs:190-251`):
  * fold a micro-batch of decoded updates into runs of appends and rollbacks,
  * then per run compose squash → block append → 18-way conversion → asset /
  * ticker SCD-2 → incremental candles, or the rollback correction.
  *
  * State is a set of DataFrames (the engine's tables); every step is a pure
  * transform so `handleUpdates` is usable identically from a batch driver, a
  * test replay, or [[graft.streaming.MicroBatchPipeline]]'s foreachBatch.
  * Every state frame is [[org.apache.spark.sql.GraftColumnBridge.cut]] once
  * per micro-batch so lineage does not grow unboundedly across batches —
  * the same role the reference's per-batch Postgres COMMIT plays
  * (`mod.rs:168-186`).
  */
object ChainSync {

  /** Engine tables threaded through the fold. `maxBlockUid` is the
    * RETURNING-equivalent high-water mark (F22, `pg.rs:143-149`). */
  final case class ChainState(
      blocks: DataFrame,
      facts: Map[String, DataFrame],
      assetUpdates: DataFrame,
      assetTickers: DataFrame,
      assetOrigins: DataFrame,
      wavesData: DataFrame,
      candles: DataFrame,
      maxBlockUid: Long,
      // the tx-uid generator's persistent state (≙ the global static
      // TxUidGenerator, mod.rs:41): index continues across batches while
      // the height stays the same, resets when it changes
      uidLastHeight: Int = -1,
      uidNextIdx: Long = 0L)

  /** Child detail tables → owning parent (SURVEY §1.3): children carry no
    * block_uid and follow their parent through squash/rollback. */
  val ChildParent: Map[String, String] = Map(
    "txs_11_transfers" -> "txs_11", "txs_12_data" -> "txs_12",
    "txs_16_args" -> "txs_16", "txs_16_payment" -> "txs_16",
    "txs_18_args" -> "txs_18", "txs_18_payment" -> "txs_18")

  /** Ticker extraction needs the asset-storage account; configurable like
    * the reference's `asset_storage_address` env (`config/consumer.rs`). */
  final case class Config(assetStorageAddress: Option[String] = None)

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def emptyState(spark: SparkSession): ChainState = {
    def empty(schema: StructType): DataFrame = emptyFrame(spark, schema)
    ChainState(
      blocks = empty(ReferenceSchemas.blocksMicroblocks),
      facts = ReferenceSchemas.tables.view
        .filterKeys(k => k.startsWith("txs_")).toMap
        .map { case (k, v) => k -> empty(v) },
      assetUpdates = empty(ReferenceSchemas.assetUpdates),
      assetTickers = empty(ReferenceSchemas.assetTickers),
      assetOrigins = empty(ReferenceSchemas.assetOrigins),
      wavesData = empty(ReferenceSchemas.wavesData),
      candles = empty(ReferenceSchemas.candles),
      maxBlockUid = 0L)
  }

  /** ≙ the two folds of `handle_updates` (`mod.rs:197-251`): group
    * consecutive key blocks into one run (microblocks and rollbacks close
    * runs), then apply each run, then cut every state frame's lineage. The
    * ~30 per-table cuts are independent Spark jobs and run concurrently
    * ([[org.apache.spark.sql.GraftColumnBridge.concurrently]]). */
  def handleUpdates(spark: SparkSession, state: ChainState, updates: Seq[RawUpdate],
      config: Config = Config()): ChainState = {
    val runs = updates.foldLeft(Vector.empty[Either[Seq[RawBlock], RawRollback]]) {
      case (acc, b: RawBlock) if b.timeStampMs.isDefined =>
        acc.lastOption match {
          case Some(Left(blocks)) if blocks.forall(_.timeStampMs.isDefined) =>
            acc.init :+ Left(blocks :+ b)
          case _ => acc :+ Left(Seq(b))
        }
      case (acc, b: RawBlock) => acc :+ Left(Seq(b)) // microblock: own run (mod.rs:220-223)
      case (acc, r: RawRollback) => acc :+ Right(r)
    }
    val folded = runs.foldLeft(state) {
      case (s, Left(blocks)) =>
        // key-block runs squash pending microblocks first (mod.rs:233-235)
        val squashed = if (blocks.head.timeStampMs.isDefined) squash(s) else s
        appendRun(spark, squashed, blocks, config)
      case (s, Right(r)) => rollbackTo(s, r.toBlockId)
    }
    // one lineage cut per micro-batch ≙ the reference's per-batch COMMIT
    val factNames = folded.facts.keys.toSeq
    val frames = Seq(folded.blocks, folded.assetUpdates, folded.assetTickers, folded.assetOrigins,
      folded.wavesData, folded.candles) ++ factNames.map(folded.facts)
    val Seq(blocks, assetUpdates, assetTickers, assetOrigins, wavesData, candles, facts @ _*) =
      concurrently(spark, frames.map(df => () => cut(df)))
    folded.copy(blocks = blocks, facts = factNames.zip(facts).toMap, assetUpdates = assetUpdates,
      assetTickers = assetTickers, assetOrigins = assetOrigins, wavesData = wavesData, candles = candles)
  }

  /** Microblock squash ≙ `squash_microblocks` (`mod.rs:769-792`): facts that
    * landed on provisional microblock uids are re-pointed at the LAST KEY
    * block (the block the microblocks extended), microblock rows are
    * deleted, and the key block takes over the last microblock's id
    * (total-block id rename, `pg.rs:151-158`). No-op without microblocks. */
  def squash(state: ChainState): ChainState = {
    // one blocking job per batch, not three: last microblock id, the key
    // block uid, and the presence check come from a single aggregation
    // (VERDICT r2 "driver-side scalar actions" — batch them)
    val probe = state.blocks.agg(
      max_by(when(col("time_stamp").isNull, col("id")),
        when(col("time_stamp").isNull, col("uid"))).as("last_micro_id"),
      max(when(col("time_stamp").isNotNull, col("uid"))).as("key_uid")).first()
    if (probe.isNullAt(0) || probe.isNullAt(1)) state
    else {
      val lastMicroId = probe.getString(0)
      val keyUid = probe.getLong(1)
      val remap = state.blocks.filter(col("time_stamp").isNull)
        .select(col("uid").as("old_block_uid"), lit(keyUid).as("new_block_uid"))
      val (kept, _) = Merge.deleteWhere(state.blocks, col("time_stamp").isNull)
      val renamed = Merge.updateWhere(kept, col("uid") === keyUid, Map("id" -> lit(lastMicroId)))
      state.copy(
        blocks = renamed,
        // child tables carry no block_uid (they cascade from their parent,
        // up.sql FKs) — only block-referencing frames are re-pointed
        facts = state.facts.map { case (n, df) =>
          n -> (if (df.columns.contains("block_uid")) Pipeline.repointBlockUids(df, remap) else df)
        },
        assetUpdates = Pipeline.repointBlockUids(state.assetUpdates, remap),
        assetTickers = Pipeline.repointBlockUids(state.assetTickers, remap))
    }
  }

  /** One append run ≙ `handle_appends` (`mod.rs:253-357`): insert blocks
    * with allocated uids, convert txs 18 ways, extract + SCD-2-apply asset
    * and ticker updates, then incremental candles from the first exchange
    * trade of the run (`pg.rs:660-678`). */
  def appendRun(spark: SparkSession, state: ChainState, blocks: Seq[RawBlock],
      config: Config): ChainState = {
    import spark.implicits._
    val uids = Pipeline.nextUidRange(state.maxBlockUid, blocks.length)
    val blockRows = blocks.zip(uids).map { case (b, uid) => (uid, b.id, b.height, b.timeStampMs) }
      .toDF("uid", "id", "height", "ts")
      .select(col("uid"), col("id"), col("height"),
        timestamp_millis(col("ts")).as("time_stamp"))

    // continue the per-height tx index if this run starts at the height the
    // previous append ended on (microblocks extending a key block)
    val heightOffset =
      if (blocks.head.height == state.uidLastHeight) Some(state.uidLastHeight -> state.uidNextIdx)
      else None
    val flat = TxConvert.withBlockUids(
      TxConvert.flatten(spark, blocks, heightOffset),
      blockRows.select(col("id"), col("uid")))
    val convertedRaw = TxConvert.convert(flat)
    // lease-cancel uid resolution happens at append time (J1, pg.rs:472-505);
    // the transient lease_id working column does not persist to the table
    val leases = state.facts("txs_8").unionByName(convertedRaw("txs_8"))
    val converted = convertedRaw + ("txs_9" ->
      TxConvert.resolveLeaseUids(convertedRaw("txs_9"), leases)
        .select(state.facts("txs_9").columns.map(col).toIndexedSeq: _*))
    val facts = state.facts.map { case (name, df) =>
      name -> converted.get(name).map(df.unionByName(_)).getOrElse(df)
    }

    val assetDim = Scd2.applyBatch(state.assetUpdates, Extract.assetUpdates(flat))
    val tickerDim = config.assetStorageAddress match {
      case Some(addr) => Scd2.applyBatch(state.assetTickers, Extract.assetTickers(flat, addr))
      case None => state.assetTickers
    }
    // insert-ignore tables: origins keep the FIRST update per asset
    // (pg.rs:205-214). In-batch the winner is picked with min_by on the
    // update uid — dropDuplicates alone keeps an ARBITRARY row under
    // parallelism, which would make origins partitioning-dependent.
    val originCandidates = Extract.assetOrigins(flat)
    val originCols = originCandidates.columns.filterNot(_ == "asset_id")
    val firstPerAsset = originCandidates
      .groupBy("asset_id")
      .agg(min_by(struct(originCols.map(col).toIndexedSeq: _*), col("first_asset_update_uid")).as("__o"))
      .select(col("asset_id") +: originCols.map(c => col(s"__o.$c").as(c)).toIndexedSeq: _*)
      .select(state.assetOrigins.columns.map(col).toIndexedSeq: _*)
    val origins = Merge.insertIgnore(state.assetOrigins, firstPerAsset, Seq("asset_id"))
    // waves_data dedups on quantity (pg.rs:176-184); in-batch, block order
    // decides the winner — resolved here on the driver-side run Seq
    val wavesRows = blocks.flatMap(b => b.updatedWavesAmount.map(q => (b.height, BigDecimal(q))))
      .groupBy(_._2).map { case (_, rs) => rs.head }.toSeq.sortBy(_._1)
    val wavesData = Merge.insertIgnore(
      state.wavesData,
      wavesRows.toDF("height", "quantity")
        .select(col("height"), col("quantity").cast(ReferenceSchemas.wavesData("quantity").dataType)),
      Seq("quantity"))

    // candles recompute only when the run contained exchange txs, from the
    // run's first trade timestamp truncated to the minute (pg.rs:660-678).
    // The CURRENT decimals view over the just-applied asset dimension feeds
    // the tx_version > 2 price rescale exactly as the reference's
    // get_decimals_or_exception reads live asset_updates state
    // (pg.rs:708-713, up.sql:420-430) — in-batch issues are visible because
    // assetDim is the post-SCD2 dimension of this very run
    val newTrades = converted.get("txs_7")
    val firstTradeTs = blocks.iterator
      .flatMap(_.txs).filter(_.txType == 7).map(_.timeStampMs)
      .minOption
    val candles = (newTrades, firstTradeTs) match {
      case (Some(_), Some(ts)) =>
        Candles.recomputeSince(state.candles, facts("txs_7"), new Timestamp(ts),
          Some(Views.decimals(spark, assetDim)))
      case _ => state.candles
    }

    val lastHeight = blocks.last.height
    val txsAtLastHeight = blocks.filter(_.height == lastHeight).map(_.txs.size.toLong).sum
    val nextIdx =
      (if (lastHeight == blocks.head.height) heightOffset.map(_._2).getOrElse(0L) else 0L) +
        txsAtLastHeight
    state.copy(
      blocks = state.blocks.unionByName(blockRows),
      facts = facts,
      assetUpdates = assetDim,
      assetTickers = tickerDim,
      assetOrigins = origins,
      wavesData = wavesData,
      candles = candles,
      maxBlockUid = uids.lastOption.getOrElse(state.maxBlockUid),
      uidLastHeight = lastHeight,
      uidNextIdx = nextIdx)
  }

  /** Rollback ≙ `rollback` (`mod.rs:794-863`): resolve the cut uid from the
    * block id, drop facts/blocks past it, re-open the dimensions'
    * superseded chains, recompute candles from the first dropped trade. */
  def rollbackTo(state: ChainState, toBlockId: String): ChainState = {
    val cutRow = state.blocks.filter(col("id") === toBlockId).agg(max("uid")).first()
    require(!cutRow.isNullAt(0), s"rollback target block not found: $toBlockId")
    rollbackToCut(state, cutRow.getLong(0))
  }

  /** Startup safety rollback (ST5) ≙ `mod.rs:103-137`: on resume, rewind
    * `depth` key blocks from the tip before consuming the stream, so a
    * reorg that happened while the consumer was down (or a partially
    * re-served stream) lands on a clean prefix. No-op on an empty state. */
  def startupRollback(state: ChainState, depth: Int): ChainState =
    Pipeline.startupRollbackCut(state.blocks, depth) match {
      case Some(cut) if cut < state.maxBlockUid => rollbackToCut(state, cut)
      case _ => state
    }

  /** Resume-batch dedup: drop RawBlocks whose id is already present in
    * `state.blocks` — the at-least-once guard for a source that re-serves
    * already-applied blocks after a restart (ADVICE r3). One bounded probe
    * (the batch is ≤256 ids, pushed down as an IN-list scan filter).
    * Note a squashed key block no longer carries its original id (the
    * total-block rename gives it the last microblock's id) — replays that
    * straddle an unsquashed microblock run are the [[startupRollback]]
    * path's job, not this filter's. */
  def dropAppliedBlocks(state: ChainState, updates: Seq[RawUpdate]): Seq[RawUpdate] = {
    val ids = updates.collect { case b: RawBlock => b.id }
    if (ids.isEmpty) updates
    else {
      val applied = state.blocks.filter(col("id").isin(ids: _*))
        .select("id").collect().map(_.getString(0)).toSet
      if (applied.isEmpty) updates
      else updates.filter {
        case b: RawBlock => !applied.contains(b.id)
        case _ => true
      }
    }
  }

  private def rollbackToCut(state: ChainState, cut: Long): ChainState = {
    val droppedTrades = state.facts("txs_7").filter(col("block_uid") > cut)
    val firstDropped = droppedTrades.agg(min("time_stamp")).collect()
      .headOption.flatMap(r => Option(r.getTimestamp(0)))
    // parents roll back on block_uid; children cascade on the surviving
    // parent uids (≙ the FK ON DELETE CASCADE of up.sql:212 etc.)
    val parents = state.facts.filter(_._2.columns.contains("block_uid"))
    val rolledParents = Pipeline.rollbackFacts(parents, cut)
    val rolledChildren = ChildParent.map { case (c, p) =>
      val child = state.facts(c)
      c -> child.join(rolledParents(p).select(col("uid").as("tx_uid")), Seq("tx_uid"), "left_semi")
        .select(child.columns.map(col).toIndexedSeq: _*)
    }
    val facts = rolledParents ++ rolledChildren
    val assetDim = Scd2.rollback(state.assetUpdates, cut)
    // post-rollback decimals: the re-opened dimension is the current state
    // the reference's get_decimals_or_exception would read during the
    // post-rollback candle recompute (mod.rs:860-863)
    val candles = firstDropped match {
      case Some(ts) =>
        Candles.rollback(state.candles, facts("txs_7"), ts,
          Some(Views.decimals(state.blocks.sparkSession, assetDim)))
      case None => state.candles
    }
    state.copy(
      blocks = Merge.deleteWhere(state.blocks, col("uid") > cut)._1,
      facts = facts,
      assetUpdates = assetDim,
      assetTickers = Scd2.rollback(state.assetTickers, cut),
      // origins cascade with their asset_update row (FK ON DELETE CASCADE,
      // up.sql:38); waves_data has no block reference and survives — its
      // insert-ignore keying makes any re-append idempotent
      assetOrigins = state.assetOrigins.join(
        assetDim.select(col("uid").as("first_asset_update_uid")),
        Seq("first_asset_update_uid"), "left_semi")
        .select(state.assetOrigins.columns.map(col).toIndexedSeq: _*),
      candles = candles,
      maxBlockUid = cut)
  }

  /** Durable between-batches form of the fold state — INCREMENTAL
    * (VERDICT r5 #1): the height-keyed history is persisted as immutable
    * height-bucket SEGMENTS under `dir/segments/` that later versions
    * reference from their manifest instead of rewriting, so a persist writes
    * O(batch) new bytes, not O(corpus) — the reference appends one batch per
    * transaction (`pg.rs:841-872`).
    *
    * The 25 height-keyed tables (`blocks_microblocks` and the 24 tx tables)
    * share ONE segment family, [[Chain]]: each segment is a single Parquet
    * file holding every table's rows of its buckets, each row tagged with
    * its table name in the `table` column ([[Family]]) and
    * sorted by (`table`, `height`, `uid`, `tx_uid`), so a table's rows are
    * contiguous and its reads prune row groups on the tag. One file per
    * segment instead of one per table saves 24 write jobs, 24 footers and
    * 24 sets of dictionaries per commit. Candles segment the same way keyed
    * by `time_start` WEEK — the fold only mutates them from a recent cut-off
    * (recomputeSince / rollback), so past weeks freeze. `waves_data`
    * segments by height; it keeps its own family because its `quantity`
    * is DECIMAL(38,0) where `txs_3`/`txs_5` have BIGINT. The three
    * dimension tables (SCD-2 dims, origins — small, MERGE semantics) are
    * rewritten per version as one tagged family file, `v<N>/dimensions`
    * ([[Dimensions]]), sorted by (`table`, `asset_id`, `uid`). Every file is
    * zstd-compressed Parquet ([[graft.sinks.TableStore.writeParquet]]).
    *
    * Which frozen segments are reusable is decided by per-bucket
    * [[Fingerprint]]s of the three segmented families — the blocks stand
    * for `chain`, every column for `candles` and `waves_data`. ONE collected
    * query computes them all (a row per bucket and family, not per row);
    * they go into the version's `_MANIFEST` as `fp` lines, and the next
    * persist compares against those on the driver: the first bucket whose
    * (count, hash) differs — a bucket on one side only differs — or the
    * tip bucket, whichever is lower, is the family's rewrite boundary, and
    * frozen segments wholly below it are reused by reference. Facts below
    * the tip mutate ONLY via rollback (squash touches tip-height rows;
    * appends only grow the tip), and a rollback always deletes the
    * affected buckets' block rows too, so their fingerprints change. (A
    * re-appended block with identical (uid,id,height,ts) but different
    * transactions would evade this, which cannot happen upstream: the
    * block id commits to the content.) Candle weeks below the recompute
    * cut-off keep their fingerprints; `waves_data` rows are never deleted,
    * and a row re-appended below its tip after a rollback changes that
    * bucket's fingerprint. The tip bucket itself is rewritten every persist
    * — bounded by the bucket size, and squash may legitimately mutate it.
    *
    * ATOMIC across tables (≙ the reference's one transaction around
    * blocks+txs+candles and the consumer state, `mod.rs:168-186` /
    * `pg.rs:51-63`): segments and version files are written first, then the
    * version's `_MANIFEST` (its segments, fingerprints and the consumer
    * cursor, [[SyncMeta]]), and only then is the version PUBLISHED by an
    * atomic rename of the `_CURRENT` pointer file. A crash anywhere
    * mid-write leaves the pointer on the previous version — orphaned
    * segments/dirs are swept by the next successful persist. Rename
    * atomicity: POSIX rename(2) locally / HDFS rename via
    * `FileContext(Options.Rename.OVERWRITE)` — an object store would need a
    * conditional put or a commit service instead.
    *
    * The previous version is KEPT through one more persist (ADVICE r5):
    * lazy DataFrames returned by an earlier [[load]] — or a concurrent
    * reader that resolved the old pointer — keep resolving; only versions
    * older than N-1 (and segments no kept manifest references) are swept.
    * Single-writer is still assumed (two concurrent persists would race on
    * the same v<N>).
    *
    * The writes (the chain family, candles, the dimensions, waves_data) are
    * independent, so they run as one
    * [[org.apache.spark.sql.GraftColumnBridge.concurrently]] fan-out of
    * Spark jobs; the manifest keeps their input order. Atomicity is
    * unchanged: `concurrently` joins every write before it returns or
    * throws, and only then are the manifest written and `_CURRENT` swapped.
    *
    * `onTableWritten` is a progress hook (called with each written unit's
    * name — `chain`, `candles`, `dimensions`, `waves_data` — after its write
    * completes) — also how the crash-injection test severs a persist
    * mid-way. It runs on pool threads, possibly several at once and in any
    * order. */
  def persist(state: ChainState, dir: String, lastBatchId: Long = -1L,
      onTableWritten: String => Unit = _ => ()): Unit = {
    import graft.sinks.TableStore
    val spark = state.blocks.sparkSession
    val prevVersion = currentVersion(spark, dir)
    val version = prevVersion.getOrElse(0L) + 1L
    val vdir = s"$dir/v$version"
    val prevManifest = prevVersion.flatMap(v => readManifest(spark, s"$dir/v$v"))
    val heightBucketCol = (col("height") / TableStore.HeightBucketSize).cast("int")
    val candleBucketCol = floor(unix_millis(col("time_start")) / lit(CandleBucketMs)).cast("int")
    val fps = fingerprints(Seq(
      (Chain.name, state.blocks, heightBucketCol, Seq(col("uid"), col("id"), col("height"),
        coalesce(unix_millis(col("time_stamp")), lit(-1L)))),
      ("candles", state.candles, candleBucketCol, ReferenceSchemas.candles.fieldNames.map(col).toSeq),
      ("waves_data", state.wavesData, heightBucketCol, ReferenceSchemas.wavesData.fieldNames.map(col).toSeq)))

    // Shared segment planner for every suffix-mutating keyspace (the chain
    // family and waves_data by height bucket, candles by time_start week):
    // reuse the previous version's frozen segments below the rewrite
    // boundary, freeze newly-passed buckets, rewrite the tip.
    // Frozen writes are SPAN-CAPPED into absolute-aligned windows of
    // FrozenSegmentSpan buckets: a single wide segment (the bootstrap
    // persist would freeze [0, tip-1] in one piece) turns any later
    // sub-tip rollback into an O(corpus) rewrite, because a frozen segment
    // whose hi reaches past the rewrite boundary is invalidated WHOLE.
    // With the cap, a rollback re-writes at most (span - 1) clean buckets
    // plus the genuinely invalidated ones; steady-state tip advances still
    // freeze exactly one bucket per segment. Absolute alignment (window =
    // bucket/span) keeps window boundaries stable across persists.
    def writeFamily(name: String, df: DataFrame, bucketCol: Column, sortCols: Seq[Column]): Seq[SegmentRef] = {
      val cur = fps.filter(_.family == name)
      val buckets = cur.map(_.bucket)
      val tip = buckets.maxOption.getOrElse(-1)
      val prev = prevManifest.map(_.fingerprints.filter(_.family == name)).getOrElse(Nil)
      val boundary = math.min(firstChangedBucket(cur, prev), tip.toLong)
      val kept = prevManifest.map(_.segments.filter(s => s.table == name && s.frozen && s.hi < boundary))
        .getOrElse(Nil)
      val freezeLo: Long = kept.map(_.hi).maxOption.map(_ + 1L).getOrElse(Long.MinValue)
      val freeze = buckets.filter(b => b >= freezeLo && b < tip)
      val refs = Seq.newBuilder[SegmentRef]
      refs ++= kept
      if (freeze.nonEmpty) {
        val lo = freeze.min
        (lo / FrozenSegmentSpan to (tip - 1) / FrozenSegmentSpan).foreach { w =>
          val clipLo = math.max(lo, w * FrozenSegmentSpan)
          val clipHi = math.min(tip - 1, (w + 1) * FrozenSegmentSpan - 1)
          if (freeze.exists(b => b >= clipLo && b <= clipHi)) {
            val rel = s"segments/$name/s$version-f$w"
            TableStore.writeBucketSegment(df, s"$dir/$rel", bucketCol, clipLo, clipHi, sortCols)
            refs += SegmentRef(name, rel, clipLo, clipHi, frozen = true)
          }
        }
      }
      // tip segment: rewritten every persist (squash/rollback may mutate it)
      if (tip >= 0) {
        val rel = s"segments/$name/s$version-t"
        TableStore.writeBucketSegment(df, s"$dir/$rel", bucketCol, tip, tip, sortCols)
        refs += SegmentRef(name, rel, tip, tip, frozen = false)
      }
      onTableWritten(name)
      refs.result()
    }

    // the dimensions: one file, sorted within its one partition (a global
    // sort would add a range-sampling job)
    def writeDimensions(): Seq[SegmentRef] = {
      TableStore.writeParquet(Dimensions.frame(Map(
        "asset_updates" -> state.assetUpdates,
        "asset_tickers" -> state.assetTickers,
        "asset_origins" -> state.assetOrigins)).coalesce(1)
        .sortWithinPartitions("table", "asset_id", "uid"), s"$vdir/${Dimensions.name}")
      onTableWritten(Dimensions.name)
      Nil
    }
    // every write is independent of the others': they run as one
    // concurrent fan-out, and their segment lists come back in this order,
    // which is the manifest's
    val segs = concurrently(spark, Seq(
      () => writeFamily(Chain.name, Chain.frame(state.facts + ("blocks_microblocks" -> state.blocks)),
        heightBucketCol, Seq("table", "height", "uid", "tx_uid").map(col)),
      () => writeFamily("candles", state.candles, candleBucketCol,
        Seq("time_start", "interval", "amount_asset_id", "price_asset_id", "matcher_address").map(col)),
      () => writeDimensions(),
      () => writeFamily("waves_data", state.wavesData, heightBucketCol, Seq(col("height"))))).flatten
    writeManifest(spark, vdir,
      Manifest(segs, fps, SyncMeta(state.uidLastHeight, state.uidNextIdx, lastBatchId)))
    publishVersion(spark, dir, version)
    cleanupVersions(spark, dir, current = version)
  }

  /** Each family's per-bucket fingerprints from ONE collected query: the
    * frames' `(family, bucket, xxhash64(hashCols))` rows, unioned, grouped by
    * (family, bucket), summed exactly as DECIMAL(38,0). Sorted by (family,
    * bucket). */
  private def fingerprints(families: Seq[(String, DataFrame, Column, Seq[Column])]): Seq[Fingerprint] =
    families.map { case (name, df, bucketCol, hashCols) =>
      df.select(lit(name).as("family"), bucketCol.as("b"), xxhash64(hashCols: _*).as("x"))
    }.reduce(_.union(_))
      .groupBy("family", "b")
      .agg(count(lit(1)), sum(col("x").cast("decimal(38,0)")))
      .collect().toSeq
      .map(r => Fingerprint(r.getString(0), r.getInt(1), r.getLong(2), r.getDecimal(3)))
      .sortBy(f => (f.family, f.bucket))

  /** The first bucket whose fingerprint differs between `cur` and `prev`
    * (one family's); a bucket on one side only differs. Long.MaxValue ⇔ no
    * difference. */
  private def firstChangedBucket(cur: Seq[Fingerprint], prev: Seq[Fingerprint]): Long = {
    val c = cur.map(f => f.bucket -> f).toMap
    val p = prev.map(f => f.bucket -> f).toMap
    (c.keySet ++ p.keySet).filterNot(b => (c.get(b), p.get(b)) match {
      case (Some(x), Some(y)) => x.count == y.count && x.hash.compareTo(y.hash) == 0
      case _ => false
    }).minOption.fold(Long.MaxValue)(_.toLong)
  }

  /** Several tables persisted as one Parquet frame, each row tagged with
    * its table name in the `table` column. The file schema is derived from
    * [[ReferenceSchemas]]: the tag, then every column of the tables by
    * name, in first-seen order, nullable (a table without the column stores
    * null). A column name that two tables type differently fails here, at
    * class initialization, before any state is written. */
  private[graft] final case class Family(name: String, tables: Seq[String]) {
    val schema: StructType = {
      val fields = tables.flatMap(t => ReferenceSchemas.tables(t).fields)
      val columns = fields.map(_.name).distinct.map { c =>
        val types = fields.filter(_.name == c).map(_.dataType).distinct
        require(types.size == 1, s"$name family: column $c has types ${types.mkString(", ")}")
        StructField(c, types.head, nullable = true)
      }
      require(!columns.exists(_.name == "table"), s"$name family: a table has a column named `table`")
      StructType(StructField("table", StringType, nullable = false) +: columns)
    }

    /** `frames` (by table) tagged with their table names, unioned by name. */
    def frame(frames: Map[String, DataFrame]): DataFrame =
      tables.map(t => frames(t).withColumn("table", lit(t)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)

    /** Table `name` read back from the family files at `paths`: its rows by
      * the tag (a filter the Parquet scan pushes down), projected to its
      * [[ReferenceSchemas]] columns; an empty frame of that schema when
      * there are no files. */
    def read(spark: SparkSession, paths: Seq[String], name: String): DataFrame = {
      val table = ReferenceSchemas.tables(name)
      if (paths.isEmpty) emptyFrame(spark, table)
      else spark.read.schema(schema).parquet(paths: _*).filter(col("table") === name)
        .select(table.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** The height-keyed tables' segment family: blocks and the 24 tx tables
    * (18 typed + 6 children), in manifest order. */
  private[graft] val Chain: Family = Family("chain",
    "blocks_microblocks" +: ReferenceSchemas.tables.keys.filter(_.startsWith("txs_")).toSeq.sorted)

  /** The three dimension tables' version-local family. */
  private[graft] val Dimensions = Family("dimensions", Seq("asset_updates", "asset_tickers", "asset_origins"))

  // ---- versioned-layout plumbing (two-phase commit) ----------------------

  /** Maximum height buckets one frozen segment may cover (rollback
    * invalidates frozen segments WHOLE, so the span bounds the rewrite
    * amplification of a sub-tip rollback at O(span), not O(history)). */
  private[graft] val FrozenSegmentSpan = 8

  /** Candle history segments by `time_start` week (the candle analog of the
    * height bucket: the fold only mutates candles from a recent cut-off). */
  private[graft] val CandleBucketMs = 7L * 86400000L

  /** One immutable segment: rows of family `table` whose bucket lies
    * in [lo, hi], written once at some version, referenced (not rewritten)
    * by later manifests while frozen. The tip segment (frozen = false) is
    * rewritten every persist. */
  private[graft] final case class SegmentRef(
      table: String, relPath: String, lo: Int, hi: Int, frozen: Boolean)

  /** The consumer state the tables cannot give back: the tx-uid cursor (a
    * resume at the same height CONTINUES the per-height index) and the last
    * applied streaming batch id (a replayed batch is skipped — ADVICE r3). */
  private[graft] final case class SyncMeta(uidLastHeight: Int, uidNextIdx: Long, lastBatchId: Long)

  /** One bucket's fingerprint in segment family `family`: its row count
    * and the exact Σ xxhash64 of its rows (a DECIMAL(38,0) sum, kept as
    * BigDecimal text in the manifest and compared with `compareTo`). */
  private[graft] final case class Fingerprint(family: String, bucket: Int, count: Long, hash: java.math.BigDecimal)

  /** Per-version manifest: one `seg <family> <rel> <lo> <hi> <frozen>`
    * line per segment of the segmented families (`chain`, `candles`,
    * `waves_data`), one `fp <family> <bucket> <count> <hash>` line per
    * bucket of theirs ([[Fingerprint]]) and exactly one
    * `meta <uid_last_height> <uid_next_idx> <last_batch_id>` line. */
  private[graft] final case class Manifest(segments: Seq[SegmentRef], fingerprints: Seq[Fingerprint],
      meta: SyncMeta)

  private def writeManifest(spark: SparkSession, vdir: String, manifest: Manifest): Unit = {
    val segs = manifest.segments.map(s =>
      s"seg ${s.table} ${s.relPath} ${s.lo} ${s.hi} ${if (s.frozen) 1 else 0}\n")
    val fps = manifest.fingerprints.map(f => s"fp ${f.family} ${f.bucket} ${f.count} ${f.hash.toPlainString}\n")
    val m = manifest.meta
    writeText(spark, vdir, "_MANIFEST",
      segs.mkString + fps.mkString + s"meta ${m.uidLastHeight} ${m.uidNextIdx} ${m.lastBatchId}\n")
  }

  /** None ⇔ `vdir` has no manifest (a crashed persist that never got to
    * phase 2). A manifest with a line that is not one of the three forms —
    * unknown, with the wrong field count, a non-numeric number or a frozen
    * flag other than 0/1 — or without exactly one `meta` line, fails. */
  private[graft] def readManifest(spark: SparkSession, vdir: String): Option[Manifest] =
    readText(spark, vdir, "_MANIFEST").map { text =>
      val segs = Seq.newBuilder[SegmentRef]
      val fps = Seq.newBuilder[Fingerprint]
      val metas = Seq.newBuilder[SyncMeta]
      def corrupt(line: String) = new IllegalStateException(s"corrupt manifest line in $vdir: $line")
      text.linesIterator.filter(_.nonEmpty).foreach { line =>
        try line.split(' ') match {
          case Array("seg", t, p, lo, hi, fz @ ("0" | "1")) => segs += SegmentRef(t, p, lo.toInt, hi.toInt, fz == "1")
          case Array("fp", f, b, n, h) => fps += Fingerprint(f, b.toInt, n.toLong, new java.math.BigDecimal(h))
          case Array("meta", h, i, b) => metas += SyncMeta(h.toInt, i.toLong, b.toLong)
          case _ => throw corrupt(line)
        } catch { case _: NumberFormatException => throw corrupt(line) }
      }
      val meta = metas.result()
      if (meta.size != 1) throw new IllegalStateException(
        s"manifest in $vdir has ${meta.size} meta lines, expected exactly one")
      Manifest(segs.result(), fps.result(), meta.head)
    }

  private def fileContext(spark: SparkSession, dir: String): (org.apache.hadoop.fs.FileContext, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, spark.sessionState.newHadoopConf()), p)
  }

  /** The UTF-8 text of `dir/name` (None = no such file). */
  private def readText(spark: SparkSession, dir: String, name: String): Option[String] = {
    val (fc, base) = fileContext(spark, dir)
    try {
      val in = fc.open(new org.apache.hadoop.fs.Path(base, name))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
        Some(new String(bos.toByteArray, "UTF-8"))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Write `text` to `dir/name`, overwriting, and hsync it. */
  private def writeText(spark: SparkSession, dir: String, name: String, text: String): Unit = {
    import org.apache.hadoop.fs.CreateFlag
    val (fc, base) = fileContext(spark, dir)
    val out = fc.create(new org.apache.hadoop.fs.Path(base, name),
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try { out.write(text.getBytes("UTF-8")); out.hsync() } finally out.close()
  }

  /** The published version (None = nothing published). */
  private def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    readText(spark, dir, "_CURRENT").map(_.trim.toLong)

  /** Phase 2: atomically point `_CURRENT` at `version` (write-tmp + rename
    * with OVERWRITE — rename(2) locally, atomic HDFS rename on a cluster). */
  private def publishVersion(spark: SparkSession, dir: String, version: Long): Unit = {
    import org.apache.hadoop.fs.{Options, Path}
    writeText(spark, dir, "_CURRENT.tmp", version.toString)
    val (fc, base) = fileContext(spark, dir)
    fc.rename(new Path(base, "_CURRENT.tmp"), new Path(base, "_CURRENT"), Options.Rename.OVERWRITE)
  }

  /** Best-effort sweep after the swap (a crash here only leaves orphans for
    * the next persist to remove): version directories older than `current`
    * AND its predecessor are deleted — keeping N-1 alive lets lazy frames
    * from an earlier [[load]] (or a concurrent reader on the old pointer)
    * finish (ADVICE r5) — and segment directories referenced by NO kept
    * manifest (crash orphans, rollback-invalidated segments) go with them. */
  private def cleanupVersions(spark: SparkSession, dir: String, current: Long): Unit = {
    val (fc, base) = fileContext(spark, dir)
    val keep = Set(current, current - 1).filter(_ >= 1)
    try {
      val it = fc.listStatus(base)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isDirectory && name.matches("v\\d+") && !keep(name.drop(1).toLong)) {
          try { fc.delete(st.getPath, true); () } catch { case _: java.io.IOException => () }
        }
      }
      val referenced: Set[String] = keep
        .flatMap(v => readManifest(spark, s"$dir/v$v"))
        .flatMap(_.segments.map(_.relPath))
      val segBase = new org.apache.hadoop.fs.Path(base, "segments")
      if (fc.util.exists(segBase)) {
        val tables = fc.listStatus(segBase)
        while (tables.hasNext) {
          val t = tables.next()
          if (t.isDirectory) {
            val segDirs = fc.listStatus(t.getPath)
            while (segDirs.hasNext) {
              val sd = segDirs.next()
              val rel = s"segments/${t.getPath.getName}/${sd.getPath.getName}"
              if (!referenced(rel)) {
                try { fc.delete(sd.getPath, true); () } catch { case _: java.io.IOException => () }
              }
            }
          }
        }
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Resume a fold state persisted by [[persist]]. Each of the 25
    * height-keyed tables reads the [[Chain]] segments the manifest lists
    * (each an explicit path — no directory listing of the whole history)
    * and the three dimensions read the version's [[Dimensions]] file
    * ([[Family.read]]). Candles and waves_data read their own segments. The
    * manifest's `meta` line gives back the uid-generator cursor, so txs
    * appended at the resumed tip height continue the per-height index
    * rather than re-issuing uids that collide with persisted rows (ADVICE
    * r3). Fails when nothing is published under `dir`, or the published
    * version's manifest is missing or has no `meta` line. */
  def load(spark: SparkSession, dir: String): ChainState = {
    val (vdir, manifest) = published(spark, dir).getOrElse(
      throw new IllegalStateException(s"no published fold state under $dir"))
    def paths(family: String): Seq[String] =
      manifest.segments.filter(_.table == family).map(s => s"$dir/${s.relPath}")
    def segmented(name: String, schema: StructType): DataFrame =
      if (paths(name).isEmpty) emptyFrame(spark, schema) else spark.read.schema(schema).parquet(paths(name): _*)
    def chainTable(name: String): DataFrame = Chain.read(spark, paths(Chain.name), name)
    def dimension(name: String): DataFrame = Dimensions.read(spark, Seq(s"$vdir/${Dimensions.name}"), name)
    val blocks = chainTable("blocks_microblocks")
    ChainState(
      blocks = blocks,
      facts = Chain.tables.tail.map(t => t -> chainTable(t)).toMap,
      assetUpdates = dimension("asset_updates"),
      assetTickers = dimension("asset_tickers"),
      assetOrigins = dimension("asset_origins"),
      wavesData = segmented("waves_data", ReferenceSchemas.wavesData),
      candles = segmented("candles", ReferenceSchemas.candles),
      maxBlockUid = blocks.agg(coalesce(max("uid"), lit(0L))).first().getLong(0),
      uidLastHeight = manifest.meta.uidLastHeight,
      uidNextIdx = manifest.meta.uidNextIdx)
  }

  /** The last streaming batch id recorded by [[persist]] (-1 if nothing is
    * published), read from the published manifest without a Spark job:
    * seed [[graft.streaming.MicroBatchPipeline.startChainSync]] with it so
    * the checkpoint-replayed batch after a restart is skipped. Fails
    * like [[load]] on a published version without its cursor. */
  def lastAppliedBatch(spark: SparkSession, dir: String): Long =
    published(spark, dir).fold(-1L)(_._2.meta.lastBatchId)

  /** The published version's directory and manifest (None = nothing
    * published); a published version without its manifest fails. */
  private def published(spark: SparkSession, dir: String): Option[(String, Manifest)] =
    currentVersion(spark, dir).map { v =>
      val vdir = s"$dir/v$v"
      vdir -> readManifest(spark, vdir).getOrElse(
        throw new IllegalStateException(s"published version $vdir has no _MANIFEST"))
    }

  /** The reference's three SQL views over the fold state
    * (`up.sql:420-485`): (decimals, tickers, assets). */
  def views(spark: SparkSession, state: ChainState): (DataFrame, DataFrame, DataFrame) = (
    Views.decimals(spark, state.assetUpdates),
    Views.tickers(state.assetTickers),
    Views.assets(spark, state.assetUpdates, state.assetTickers, state.assetOrigins, state.wavesData))
}
