package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.convert._
import graft.operators.{Candles, ChainSync}

/** Randomized model-based check of the production orchestrator: any history
  * of key blocks / microblocks / rollbacks, split across arbitrary
  * micro-batches, must fold to the same analytical state as ONE clean
  * replay of the model's surviving merged chain — the reference's whole
  * correction semantics (`mod.rs:190-251`) as a property.
  *
  * Block uids are excluded from comparison: microblocks consume uids that
  * squash then deletes, so the clean replay's allocator produces different
  * block uids by design (tx uids, candles, and SCD-2 chains must still be
  * IDENTICAL — they derive from heights and per-height indices).
  */
class ChainSyncPropertySpec extends SparkSpec {

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private val pk = Array.tabulate[Byte](32)(_.toByte)
  private val pairs = Vector(("AA", "PP"), ("BB", "PP"), ("CC", "QQ"))

  private def mkTx(rnd: Random, n: Int, tsMs: Long): RawTx = {
    val pair = pairs(rnd.nextInt(pairs.length))
    RawTx(id = bytes(s"tx$n"), txType = 7, senderPublicKey = pk, timeStampMs = tsMs,
      fee = 1L, txVersion = Some(2),
      order1 = Some(RawOrder(id = bytes(s"o$n"), version = 1)),
      order2 = Some(RawOrder(id = bytes(s"p$n"), version = 1, orderSide = 1)),
      amount = Some(rnd.nextInt(100) + 1L), price = Some(rnd.nextInt(900) + 100L),
      amountAssetId = Some(bytes(pair._1)), priceAssetId = Some(bytes(pair._2)),
      buyMatcherFee = Some(0L), sellMatcherFee = Some(0L),
      feeAssetId = Some(Array.emptyByteArray),
      assetStateUpdates =
        if (rnd.nextInt(3) == 0)
          Seq(RawAssetStateUpdate(assetId = bytes(pair._1), issuer = pk,
            name = s"n$n", description = "", decimals = 2, reissuable = true,
            nft = false, volume = n * 10L))
        else Nil)
  }

  /** Generate a random update history plus the model's merged clean chain. */
  private def history(rnd: Random): (Seq[RawUpdate], Seq[RawBlock]) = {
    val t0 = 1704100000000L
    var height = 100
    var txN = 0
    var ts = t0
    def txs(max: Int): Seq[RawTx] =
      (0 until rnd.nextInt(max) + 1).map { _ =>
        txN += 1; ts += 30000; mkTx(rnd, txN, ts)
      }
    var events = Vector.empty[RawUpdate]
    // model: surviving merged key blocks + pending microblocks
    var chain = Vector.empty[RawBlock]
    var pending = Vector.empty[RawBlock]
    def squashModel(): Unit = if (pending.nonEmpty) {
      val last = chain.last
      chain = chain.init :+ last.copy(id = pending.last.id, txs = last.txs ++ pending.flatMap(_.txs))
      pending = Vector.empty
    }
    val steps = rnd.nextInt(4) + 5
    (0 until steps).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 | 1 => // key block
          squashModel()
          height += 1
          val b = RawBlock(s"b$height", height, Some(ts + 1000), None, txs(3))
          events :+= b; chain :+= b
        case 2 if chain.nonEmpty => // microblock extending the tip
          val m = RawBlock(s"m$txN-$height", height, None, None, txs(2))
          events :+= m; pending :+= m
        case 3 if chain.length >= 2 => // rollback to an earlier surviving block
          val target = chain(rnd.nextInt(chain.length - 1))
          events :+= RawRollback(target.id)
          chain = chain.take(chain.indexWhere(_.id == target.id) + 1)
          pending = Vector.empty
        case _ => ()
      }
    }
    // end on a fresh key block so no provisional state dangles
    squashModel()
    height += 1
    val closing = RawBlock(s"b$height", height, Some(ts + 2000), None, txs(2))
    (events :+ closing, chain :+ closing)
  }

  private def same(a: DataFrame, b: DataFrame, label: String): Unit =
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$label diverged:\nfolded-only:\n${a.exceptAll(b).collect().take(5).mkString("\n")}\n" +
        s"clean-only:\n${b.exceptAll(a).collect().take(5).mkString("\n")}")

  Seq(11, 23, 47).foreach { seed =>
    test(s"random history equals the clean replay of the merged chain (seed $seed)") {
      val rnd = new Random(seed)
      val (events, mergedChain) = history(rnd)
      // fold the history in random batch splits (exercises run grouping)
      var folded = ChainSync.emptyState(spark)
      var rest = events
      while (rest.nonEmpty) {
        val n = math.min(rest.length, rnd.nextInt(3) + 1)
        folded = ChainSync.handleUpdates(spark, folded, rest.take(n))
        rest = rest.drop(n)
      }
      val clean = ChainSync.handleUpdates(spark, ChainSync.emptyState(spark), mergedChain)
      same(folded.candles, clean.candles, s"candles (seed $seed)")
      // both sides above fold through recomputeSince; the one-shot ladder
      // over the surviving trades does not
      same(folded.candles, Candles.allIntervals(clean.facts("txs_7")), s"candles vs one-shot (seed $seed)")
      same(folded.facts("txs_7").drop("block_uid"),
        clean.facts("txs_7").drop("block_uid"), s"txs_7 (seed $seed)")
      same(folded.assetUpdates.drop("block_uid"),
        clean.assetUpdates.drop("block_uid"), s"asset_updates (seed $seed)")
      same(folded.blocks.select("id", "height", "time_stamp"),
        clean.blocks.select("id", "height", "time_stamp"), s"blocks (seed $seed)")
    }
  }
}
