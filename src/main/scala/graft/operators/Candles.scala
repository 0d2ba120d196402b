package graft.operators

import java.sql.Timestamp
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.cut
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{CandleIntervals, GraftFunctions}
import graft.schema.ReferenceSchemas

/** OHLCV candle engine — the analytical heart of the reference
  * (SURVEY.md §2.4 A1-A3; `pg.rs:660-815`, `candles.rs:24-70`).
  *
  * Input contract (columns of the trades frame, ≙ `txs_7`):
  *   uid Long · time_stamp Timestamp · amount_asset_id String ·
  *   price_asset_id String · sender String (matcher) · height Int ·
  *   amount numeric-castable · price numeric-castable · tx_version Short?
  *
  * Scale shape: one hash aggregation keyed (minute, pair, matcher) — Spark
  * plans partial (map-side) aggregation before the single shuffle, and every
  * ladder step re-aggregates the *previous interval's output* (12 small aggs
  * over candle rows), never re-scanning the trades fact — exactly the
  * reference's incremental design, and the plan that survives 100 TB.
  */
object Candles {

  private val money = ReferenceSchemas.money

  /** Minute-candle aggregation (A1) ≙ `calculate_minute_candles` `pg.rs:680-738`.
    *
    * @param decimals optional (asset_id, decimals) dimension enabling the
    *        `tx_version > 2` price rescale (`pg.rs:708-713`). Broadcast inner
    *        join; per J3/`get_decimals_or_exception`, a missing asset must
    *        FAIL the job, which [[requireAllMatched]] enforces.
    */
  def minuteCandles(
      trades: DataFrame,
      decimals: Option[DataFrame] = None,
      since: Option[Timestamp] = None): DataFrame = {

    val filtered = since.map(ts => trades.filter(col("time_stamp") >= lit(ts))).getOrElse(trades)
    pricedTrades(filtered, decimals)
      .select(
        date_trunc("minute", col("time_stamp")).as("time_start"),
        col("amount_asset_id"), col("price_asset_id"),
        col("sender").as("matcher_address"),
        col("uid"), col("height"),
        col("amount").cast(money).as("__amount"),
        col("__price"))
      .groupBy("time_start", "amount_asset_id", "price_asset_id", "matcher_address")
      .agg(minuteAggs.head, minuteAggs.tail: _*)
      .withColumn("interval", lit("1m"))
      .select(ReferenceSchemas.candles.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The minute-candle measures over the prepared (__amount/__price/uid/
    * height) frame — shared by the batch aggregation above and the
    * streaming-native windowed aggregation
    * ([[graft.streaming.StreamingCandles]]); keeping one list guarantees
    * the two paths stay definitionally identical. open/close =
    * (array_agg(price ORDER BY uid))[1]/DESC, deterministic under
    * parallelism via min_by/max_by on uid (SURVEY §7.4.2). */
  private[graft] val minuteAggs: Seq[Column] = Seq(
    min(col("__price")).as("low"),
    max(col("__price")).as("high"),
    sum(col("__amount")).cast(money).as("volume"),
    sum(col("__amount") * col("__price")).cast(money).as("quote_volume"),
    max(col("height")).as("max_height"),
    count(col("__price")).cast("int").as("txs_count"),
    floor(sum(col("__amount") * col("__price")) / sum(col("__amount")))
      .cast(money).as("weighted_average_price"),
    min_by(col("__price"), col("uid")).as("open"),
    max_by(col("__price"), col("uid")).as("close"))

  /** One ladder edge (A2) ≙ `calculate_non_minute_candles` `pg.rs:740-815`:
    * re-aggregate `src`-interval candles (time_start >= since) into `dst`. */
  def ladderStep(candles: DataFrame, src: String, dst: String, since: Option[Timestamp] = None): DataFrame = {
    val base = candles.filter(col("interval") === src)
    val filtered = since.map(ts => base.filter(col("time_start") >= lit(ts))).getOrElse(base)
    filtered
      .groupBy(
        GraftFunctions.toRawTimestamp(col("time_start"), dst).as("time_start"),
        col("amount_asset_id"), col("price_asset_id"), col("matcher_address"))
      .agg(
        min(col("low")).as("low"),
        max(col("high")).as("high"),
        sum(col("volume")).cast(money).as("volume"),
        sum(col("quote_volume")).cast(money).as("quote_volume"),
        max(col("max_height")).as("max_height"),
        sum(col("txs_count")).cast("int").as("txs_count"),
        floor(sum(col("weighted_average_price") * col("volume")) / sum(col("volume")))
          .cast(money).as("weighted_average_price"),
        min_by(col("open"), col("time_start")).as("open"),
        max_by(col("close"), col("time_start")).as("close"))
      .withColumn("interval", lit(dst))
      .select(ReferenceSchemas.candles.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The `__price` column: raw price, or the tx_version > 2 decimal rescale
    * against a broadcast decimals dim with fail-on-miss (J3, pg.rs:708-713).
    * Works unchanged on a streaming frame (stream-static broadcast join). */
  private[graft] def pricedTrades(filtered: DataFrame, decimals: Option[DataFrame]): DataFrame =
    decimals match {
      case Some(dim) =>
        val aDec = broadcast(dim.select(col("asset_id"), col("decimals").as("__a_dec")))
        val pDec = broadcast(dim.select(col("asset_id"), col("decimals").as("__p_dec")))
        val joined = filtered
          .join(aDec, filtered("amount_asset_id") === aDec("asset_id"), "left").drop(aDec("asset_id"))
          .join(pDec, col("price_asset_id") === pDec("asset_id"), "left").drop(pDec("asset_id"))
        // Single tight-typed multiply by 10^(p_dec - a_dec). Chaining two
        // money-typed multiplies lets Spark's decimal promotion clip the
        // intermediate to scale 6 (38,18)x(38,18)->(38,6), silently
        // rounding rescales with a_dec - p_dec > 6 — Postgres numeric
        // (pg.rs:708-713) keeps every digit. (18,0)x(19,0)->(38,0) and
        // (18,0)x(19,18)->(38,18) both fit precision 38 with NO scale
        // adjustment, so the product is exact; the trailing cast pins the
        // declared money type so candle columns (and the persisted parquet
        // layout) never drift from ReferenceSchemas.candles.
        val diff = col("__p_dec").cast("int") - col("__a_dec").cast("int")
        val price18 = col("price").cast(DecimalType(18, 0))
        val posFactor = (0 to 18).foldLeft(lit(null).cast(DecimalType(19, 0))) { case (acc, i) =>
          when(diff === i, lit(BigDecimal(10).pow(i).bigDecimal).cast(DecimalType(19, 0))).otherwise(acc)
        }
        val negFactor = (1 to 18).foldLeft(lit(null).cast(DecimalType(19, 18))) { case (acc, i) =>
          when(diff === -i,
            lit((BigDecimal(1) / BigDecimal(10).pow(i)).setScale(18).bigDecimal).cast(DecimalType(19, 18)))
            .otherwise(acc)
        }
        requireAllMatched(joined)
          .withColumn("__price",
            when(col("tx_version") > 2,
              when(diff >= 0, (price18 * posFactor).cast(money))
                .otherwise((price18 * negFactor).cast(money)))
              .otherwise(col("price").cast(money)))
          .drop("__a_dec", "__p_dec")
      case None =>
        filtered.withColumn("__price", col("price").cast(money))
    }

  /** One hash-repartition on (pair, matcher) that makes every downstream
    * ladder aggregation shuffle-free: HashPartitioning on a subset of the
    * grouping keys satisfies the grouping's ClusteredDistribution, so the
    * 12 re-aggs run partition-local (measured: 5 exchanges → 2 and 2.3×
    * wall-clock on the 1m→1h chain at sf0.01). */
  def partitionForLadder(candles: DataFrame): DataFrame =
    candles.repartition(col("amount_asset_id"), col("price_asset_id"), col("matcher_address"))

  /** Full 13-interval candle set from trades (fresh compute, no prior state):
    * minute agg then the 12-edge ladder, each edge reading the previous
    * edge's output — one shuffle for the minute agg, one to co-locate pairs,
    * zero for the 12 ladder edges. Returns the union of all intervals. */
  def allIntervals(trades: DataFrame, decimals: Option[DataFrame] = None): DataFrame = {
    val byInterval = scala.collection.mutable.Map(
      "1m" -> partitionForLadder(minuteCandles(trades, decimals)))
    CandleIntervals.ladder.foreach { case (src, dst) =>
      byInterval(dst) = ladderStep(byInterval(src), src, dst)
    }
    byInterval.values.reduce(_.unionByName(_))
  }

  /** Calendar intervals (1w + 1M) with the shared 1m→1d sub-ladder
    * computed ONCE. Building them as `allIntervals(...).filter(calendar)`
    * leaves two union branches that each re-execute the 8 chained
    * partition-local aggregations up to 1d — exchange reuse dedups the
    * SHUFFLES across branches, not the in-stage agg chains (measured as
    * a2b's floor, NOTES r06). The 1d frame is [[cut]] and both edges read
    * the materialized table; an adaptive plan reports no partitioning to
    * the checkpoint, so each calendar edge shuffles the small 1d table
    * once (a2b pins the count). Values are bit-identical to the filter
    * form (the cut only ends the lineage). */
  def calendarIntervals(trades: DataFrame, decimals: Option[DataFrame] = None): DataFrame = {
    val byInterval = scala.collection.mutable.Map(
      "1m" -> partitionForLadder(minuteCandles(trades, decimals)))
    CandleIntervals.ladder.takeWhile(_._2 != "1w").foreach { case (src, dst) =>
      byInterval(dst) = ladderStep(byInterval(src), src, dst)
    }
    val d1 = cut(byInterval("1d"))
    ladderStep(d1, "1d", "1w").unionByName(ladderStep(d1, "1d", "1M"))
  }

  /** Incremental maintenance (A3) ≙ `calculate_candles_since_block_uid`
    * `pg.rs:660-678` + interval-start snapping `pg.rs:776-803`: recompute
    * candles from the first affected minute and MERGE into prior state.
    *
    * Only the rows since each interval's snapped cutoff are recomputed:
    * the minute step reads every trade since the cutoff, and [[rollback]]
    * deletes each interval from its snapped start first, so an interval's
    * recomputed rows cover every one of its groups from that start on. A
    * `dst` edge therefore aggregates the source interval's untouched rows
    * in `[snap(dst), snap(src))` plus the source's recomputed rows. Each
    * recomputed frame is [[cut]] (it is small: rows since the cutoff only,
    * and a lazy 12-edge chain re-plans every level below it), and one
    * upsert merges all 13 into the state, left lazy for the caller's cut. */
  def recomputeSince(
      existing: DataFrame,
      trades: DataFrame,
      firstAffectedTs: Timestamp,
      decimals: Option[DataFrame] = None): DataFrame = {
    val minuteCutoff = truncateToMinute(firstAffectedTs)
    val keys = Seq("interval", "time_start", "amount_asset_id", "price_asset_id", "matcher_address")
    val recomputed = scala.collection.mutable.Map(
      "1m" -> cut(minuteCandles(trades, decimals, Some(minuteCutoff))))
    CandleIntervals.ladder.foreach { case (src, dst) =>
      val untouched = existing.filter(col("interval") === src &&
        col("time_start") >= lit(intervalStart(minuteCutoff, dst)) &&
        col("time_start") < lit(intervalStart(minuteCutoff, src)))
      recomputed(dst) = cut(ladderStep(untouched.unionByName(recomputed(src)), src, dst))
    }
    Merge.upsert(existing, CandleIntervals.all.map(recomputed).reduce(_.unionByName(_)), keys)
  }

  /** Candle rollback ≙ `pg.rs:817-838` + the post-rollback recompute
    * (`mod.rs:860-863`), with one deliberate correctness improvement: the
    * reference deletes only `time_start > cutoff`, so a coarse bucket that
    * starts before the cutoff but contained only rolled-back trades keeps its
    * stale aggregate (the recompute upsert never regenerates a group with no
    * surviving source rows). We delete each interval from its snapped bucket
    * boundary instead, which makes rollback∘append an exact identity. */
  def rollback(
      existing: DataFrame,
      trades: DataFrame,
      firstAffectedTs: Timestamp,
      decimals: Option[DataFrame] = None): DataFrame = {
    val minuteCutoff = truncateToMinute(firstAffectedTs)
    val affected = CandleIntervals.all.map { ivl =>
      col("interval") === ivl && col("time_start") >= lit(intervalStart(minuteCutoff, ivl))
    }.reduce(_ || _)
    val (kept, _) = Merge.deleteWhere(existing, affected)
    recomputeSince(kept, trades, minuteCutoff, decimals)
  }

  /** `with_second(0).with_nanosecond(0)` (`pg.rs:669-673`). */
  def truncateToMinute(ts: Timestamp): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(ts.toInstant.getEpochSecond / 60 * 60))

  /** Ladder cut-off snap (`pg.rs:776-803`): epoch-floor for fixed-width
    * intervals; Monday 00:00 for 1w; first-of-month 00:00 for 1M. */
  def intervalStart(since: Timestamp, interval: String): Timestamp =
    CandleIntervals.seconds.get(interval) match {
      case Some(secs) =>
        Timestamp.from(Instant.ofEpochSecond(since.toInstant.getEpochSecond / secs * secs))
      case None =>
        val dt = LocalDateTime.ofInstant(since.toInstant, ZoneOffset.UTC)
        val day: LocalDate = interval match {
          case "1w" => dt.toLocalDate.minusDays(dt.getDayOfWeek.getValue - 1L)
          case "1M" => dt.toLocalDate.withDayOfMonth(1)
          case other => throw new IllegalArgumentException(s"unknown interval $other")
        }
        Timestamp.from(day.atStartOfDay.toInstant(ZoneOffset.UTC))
    }

  /** J3 / `get_decimals_or_exception` semantics: any trade whose asset missed
    * the decimals dimension must fail the computation, not be dropped. The
    * check compiles to a codegen'd assert inside the scan — no extra action. */
  private def requireAllMatched(joined: DataFrame): DataFrame = {
    // the reference's CASE guard (pg.rs:708-713) invokes
    // get_decimals_or_exception only for tx_version > 2 rows — a v2 trade
    // on an asset absent from the dimension is legal and keeps raw price
    // NULL tx_version falls to the CASE's ELSE in Postgres → not a v3 row
    val ok = coalesce(col("tx_version") <= 2, lit(true)) ||
      (col("__a_dec").isNotNull && col("__p_dec").isNotNull)
    joined.withColumn("__a_dec",
      when(ok, col("__a_dec")).otherwise(raise_error(
        concat(lit("decimals not found for asset "),
          coalesce(col("amount_asset_id"), col("price_asset_id"))))))
  }
}
