package syncbench

import scala.util.Random

import graft.convert._
import graft.convert.UpdatesProto.{IntArg, StrArg, TxMeta}
import graft.functions.Base58

/** One blockchain update as the node sends it: protobuf wire bytes, plus
  * what the benchmark (never the program) knows about it. */
final case class Wire(bytes: Array[Byte], kind: Char, txs: Int, update: RawUpdate) {
  def isKey: Boolean = kind == 'k'
}

/** Seeded Waves update-stream generator with a chain model.
  *
  * The stream mixes all 18 tx types with assumed weights (exchange,
  * transfer and invoke dominate; the shares are not taken from a measured
  * mainnet mix), trades a skewed set of asset pairs, carries asset state
  * updates, and writes ticker data entries from the asset-storage account
  * so the ticker SCD-2 runs.
  *
  * The model mirrors the fold's correction semantics: a key block squashes
  * the pending microblocks into the previous key block (which takes the last
  * microblock's id), and a rollback drops every block after its target. It
  * therefore knows which blocks and txs survive, and from them the row
  * count each table must hold.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new Random(seed)

  /** Continue the same chain with a new stream of randomness: a run's own
    * updates on top of a shared history. */
  def reseed(s: Long): Unit = rnd.setSeed(s)
  private def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  private val accounts = Vector.fill(64)(Account(bytes(32), address()))
  private def address(): Array[Byte] = Array[Byte](1, TxConvert.ChainId) ++ bytes(24)
  private val storage = Account(bytes(32), address())
  private val matchers = Vector.fill(2)(Account(bytes(32), address()))
  /** The fold's config: `storage` is the asset-storage account whose data
    * entries carry tickers. */
  val config: graft.operators.ChainSync.Config =
    graft.operators.ChainSync.Config(assetStorageAddress = Some(Base58.encode(storage.address)))

  // traded assets are issued in the first block and never rolled back, so
  // the v3 price rescale always finds their decimals
  private val tradedAssets = Vector.fill(PairAssets)(bytes(32))
  private val pairs: Vector[(Array[Byte], Array[Byte])] = {
    val waves = Array.emptyByteArray
    val ps = for (i <- tradedAssets.indices; j <- -1 until i) yield
      (tradedAssets(i), if (j < 0) waves else tradedAssets(j))
    rnd.shuffle(ps.toVector)
  }
  // Zipf(1.1) popularity over the pairs
  private val pairCdf: Array[Double] = {
    val w = pairs.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def pickPair(): (Array[Byte], Array[Byte]) = {
    val i = pairCdf.indexWhere(_ >= rnd.nextDouble())
    pairs(if (i < 0) pairs.length - 1 else i) // the cdf's last entry may round below 1
  }
  private def b58Asset(id: Array[Byte]): String = if (id.isEmpty) "WAVES" else Base58.encode(id)
  /** Traded pairs as the tables spell them, most popular first. */
  def pairIds: Seq[(String, String)] = pairs.map { case (a, p) => (b58Asset(a), b58Asset(p)) }
  def tradedIds: Seq[String] = tradedAssets.map(b58Asset)
  /** Sender addresses of the accounts, as the tables spell them. */
  def senders: Seq[String] = accounts.map(a => graft.functions.Waves.addressFromPublicKey(a.pk, TxConvert.ChainId))

  private var assetVolume = Map.empty[Seq[Byte], Long]
  private var leases = Vector.empty[Array[Byte]]

  // ---- chain model ----------------------------------------------------
  private final case class MBlock(id: String, height: Int, ts: Option[Long], waves: Option[Long], txs: Vector[RawTx])
  private var chain = Vector.empty[MBlock]
  private var pending = Vector.empty[MBlock]
  private var wavesHeights = Set.empty[Int]
  private var height = 0
  private var txTime = T0

  /** Wire bytes ingested so far. */
  var wireBytes = 0L

  def tipHeight: Int = height

  /** The next key block; the first one issues the traded assets. */
  def keyBlock(nTxs: Int): Wire = {
    squashModel()
    height += 1
    val ts = T0 + height * BlockMs
    txTime = math.max(txTime, ts - BlockMs)
    val txs =
      if (chain.isEmpty) genesis()
      else Vector.fill(nTxs)(tx())
    val b = RawBlock(blockId(), height, Some(ts), Some(WavesBase + height * 1000L), txs.map(_._1))
    chain :+= MBlock(b.id, height, b.timeStampMs, b.updatedWavesAmount, b.txs.toVector)
    wavesHeights += height
    wire(b, txs.map(_._2), 'k')
  }

  /** A microblock extending the current key block. */
  def microBlock(nTxs: Int): Wire = {
    val txs = Vector.fill(nTxs)(tx())
    val b = RawBlock(blockId(), height, None, None, txs.map(_._1))
    pending :+= MBlock(b.id, height, None, None, b.txs.toVector)
    wire(b, txs.map(_._2), 'm')
  }

  /** Roll back `depth` key blocks (the target survives). */
  def rollback(depth: Int): Wire = {
    require(chain.length > depth + 1, "rollback deeper than the chain")
    val target = chain(chain.length - 1 - depth)
    chain = chain.take(chain.length - depth)
    pending = Vector.empty
    height = target.height
    val r = RawRollback(target.id)
    val bs = UpdatesProto.encodeRollback(r)
    wireBytes += bs.length
    Wire(bs, 'r', 0, r)
  }

  private def squashModel(): Unit = if (pending.nonEmpty) {
    val last = chain.last
    chain = chain.init :+ last.copy(id = pending.last.id, txs = last.txs ++ pending.flatMap(_.txs))
    pending = Vector.empty
  }

  /** The chain the fold must end on: surviving key blocks, squashed, plus
    * the pending microblocks (a key block that would squash them has not
    * arrived yet). */
  def survivingTxs: Vector[RawTx] = (chain ++ pending).flatMap(_.txs)

  /** The surviving chain as blocks, squashed: what a clean replay folds. */
  def survivingBlocks: Vector[RawBlock] =
    (chain ++ pending).map(b => RawBlock(b.id, b.height, b.ts, b.waves, b.txs))

  /** Row count every table must hold after folding the stream so far.
    * Candles are not counted here: their content is checked by hash. */
  def expectedCounts: Map[String, Long] = {
    val txs = survivingTxs
    def n(f: RawTx => Int): Long = txs.iterator.map(f).sum.toLong
    val byType = (1 to 18).map(t => s"txs_$t" -> n(tx => if (tx.txType == t) 1 else 0))
    val assetUpdates = txs.flatMap(_.assetStateUpdates).filter(_.assetId.nonEmpty)
    Map(
      "blocks_microblocks" -> (chain.length + pending.length).toLong,
      "txs_11_transfers" -> n(_.transfers.size),
      "txs_12_data" -> n(_.dataEntries.size),
      "txs_16_args" -> n(tx => if (tx.txType == 16) tx.args.size else 0),
      "txs_16_payment" -> n(tx => if (tx.txType == 16) tx.payments.size else 0),
      "txs_18_args" -> 0L,
      "txs_18_payment" -> 0L,
      "asset_updates" -> assetUpdates.size.toLong,
      "asset_origins" -> assetUpdates.map(_.assetId.toSeq).distinct.size.toLong,
      "asset_tickers" -> n(_.dataEntryUpdates.count(isTicker)),
      "waves_data" -> wavesHeights.size.toLong) ++ byType
  }

  private def isTicker(u: RawDataEntryUpdate): Boolean =
    java.util.Arrays.equals(u.address, storage.address) &&
      u.entry.exists(_.key.startsWith(Extract.TickerKeyPrefix))

  private def blockId(): String = Base58.encode(Array[Byte](1) ++ bytes(31))

  private def wire(b: RawBlock, metas: Seq[TxMeta], kind: Char): Wire = {
    val bs = UpdatesProto.encodeBlock(b, metas)
    wireBytes += bs.length
    Wire(bs, kind, b.txs.size, b)
  }

  // ---- transactions ---------------------------------------------------

  private def genesis(): Vector[(RawTx, TxMeta)] =
    accounts.take(4).map(a => base(1, a).copy(senderPublicKey = Array.emptyByteArray,
      txVersion = Some(1), fee = 0L, recipient = Some(bytes(20)), amount = Some(1000000000L)) -> meta(a)) ++
      tradedAssets.zipWithIndex.map { case (id, i) => issue(accounts(i % accounts.length), id, tradedDecimals(i)) } ++
      tradedAssets.zipWithIndex.map { case (id, i) => ticker(id, Some(s"TKN$i")) }

  private def tradedDecimals(i: Int): Short = Vector[Short](8, 6, 2, 0, 4).apply(i % 5)

  private def account(): Account = accounts(rnd.nextInt(accounts.length))
  private def anyAsset(): Array[Byte] = tradedAssets(rnd.nextInt(tradedAssets.length))

  private def nextTs(): Long = { txTime += 1 + rnd.nextInt(900); txTime }

  private def base(t: Int, a: Account): RawTx =
    RawTx(id = bytes(32), txType = t.toShort, senderPublicKey = a.pk, proofs = Seq(bytes(64)),
      txVersion = Some(2), fee = 100000L + rnd.nextInt(400000), feeAssetId = Some(Array.emptyByteArray),
      timeStampMs = nextTs())

  private def meta(a: Account): TxMeta = TxMeta(senderAddress = a.address)

  private def assetUpdate(a: Account, id: Array[Byte], decimals: Short, volume: Long,
      name: String = "", sponsorship: Long = 0L, script: Option[Array[Byte]] = None): RawAssetStateUpdate =
    RawAssetStateUpdate(assetId = id, issuer = a.pk, name = name, description = s"d-$name",
      decimals = decimals, reissuable = true, nft = false, volume = volume,
      script = script, sponsorship = sponsorship)

  private def issue(a: Account, id: Array[Byte], decimals: Short): (RawTx, TxMeta) = {
    val q = 1000000000L + rnd.nextInt(1000000)
    assetVolume += id.toSeq -> q
    val name = s"A${Base58.encode(id).take(6)}"
    base(3, a).copy(id = id, assetId = Some(id), assetName = Some(name), description = Some(s"d-$name"),
      quantity = Some(q), decimals = Some(decimals), reissuable = Some(true),
      assetStateUpdates = Seq(assetUpdate(a, id, decimals, q, name))) -> meta(a)
  }

  /** A data tx of the asset-storage account: set (or delete) a ticker. */
  private def ticker(asset: Array[Byte], value: Option[String]): (RawTx, TxMeta) = {
    val e = RawDataEntry(Extract.TickerKeyPrefix + Base58.encode(asset), stringValue = value)
    base(12, storage).copy(dataEntries = Seq(e),
      dataEntryUpdates = Seq(RawDataEntryUpdate(storage.address, Some(e)))) -> meta(storage)
  }

  /** Assets touched by state-changing txs: the traded set (decimals and
    * issue stay fixed, so a later v3 trade never misses its decimals). */
  private def touch(a: Account, id: Array[Byte], dv: Long, sponsorship: Long = 0L,
      script: Option[Array[Byte]] = None): Seq[RawAssetStateUpdate] = {
    val i = tradedAssets.indexWhere(java.util.Arrays.equals(_, id))
    val v = math.max(1L, assetVolume.getOrElse(id.toSeq, 1000000000L) + dv)
    assetVolume += id.toSeq -> v
    Seq(assetUpdate(a, id, tradedDecimals(i), v, s"A${Base58.encode(id).take(6)}", sponsorship, script))
  }

  private def tx(): (RawTx, TxMeta) = {
    val a = account()
    val u = rnd.nextInt(WeightSum)
    Weights(WeightCdf.indexWhere(_ > u))._1 match {
      case 7 => exchange()
      case 4 =>
        val r = account()
        base(4, a).copy(recipient = Some(r.address),
          assetId = Some(if (rnd.nextBoolean()) Array.emptyByteArray else anyAsset()),
          amount = Some(1L + rnd.nextInt(1000000)),
          attachment = Some(if (rnd.nextInt(4) == 0) bytes(8) else Array.emptyByteArray)) ->
          meta(a).copy(recipientAddress = Some(r.address))
      case 16 =>
        val d = account()
        val fn = Functions(rnd.nextInt(Functions.length))
        val i = rnd.nextInt(1000).toLong
        val str = s"s${rnd.nextInt(100)}"
        base(16, a).copy(dappAddress = Some(d.address), functionName = Some(fn),
          args = Seq(RawInvokeArg("integer", integerValue = Some(i)),
            RawInvokeArg("string", stringValue = Some(str))),
          payments = if (rnd.nextBoolean()) Seq(RawPayment(1L + rnd.nextInt(10000), Array.emptyByteArray)) else Nil) ->
          meta(a).copy(dappAddress = Some(d.address), functionName = Some(fn), args = Seq(IntArg(i), StrArg(str)))
      case 12 =>
        if (rnd.nextInt(3) == 0) ticker(anyAsset(), if (rnd.nextInt(5) == 0) None else Some(s"T${rnd.nextInt(1000)}"))
        else {
          val es = Seq.tabulate(1 + rnd.nextInt(3)) { k =>
            if (k == 0) RawDataEntry(s"k${rnd.nextInt(50)}", integerValue = Some(rnd.nextInt(1000).toLong))
            else RawDataEntry(s"s${rnd.nextInt(50)}", stringValue = Some(s"v${rnd.nextInt(1000)}"))
          }
          base(12, a).copy(dataEntries = es,
            dataEntryUpdates = es.map(e => RawDataEntryUpdate(a.address, Some(e)))) -> meta(a)
        }
      case 11 =>
        val rs = Vector.fill(2 + rnd.nextInt(6))(account().address)
        base(11, a).copy(assetId = Some(Array.emptyByteArray), attachment = Some(Array.emptyByteArray),
          transfers = rs.map(r => RawTransfer(r, 1L + rnd.nextInt(10000)))) ->
          meta(a).copy(massTransferRecipients = rs)
      case 3 => issue(a, bytes(32), (rnd.nextInt(9)).toShort)
      case 5 =>
        val id = anyAsset(); val q = 1L + rnd.nextInt(100000)
        base(5, a).copy(assetId = Some(id), quantity = Some(q), reissuable = Some(true),
          assetStateUpdates = touch(a, id, q)) -> meta(a)
      case 6 =>
        val id = anyAsset(); val q = 1L + rnd.nextInt(1000)
        base(6, a).copy(assetId = Some(id), amount = Some(q), assetStateUpdates = touch(a, id, -q)) -> meta(a)
      case 8 =>
        val r = account()
        val t = base(8, a).copy(recipient = Some(r.address), amount = Some(1L + rnd.nextInt(1000000)))
        leases :+= t.id
        t -> meta(a).copy(recipientAddress = Some(r.address))
      case 9 =>
        // cancel an older lease (none yet: a dangling id, as on a fresh node)
        val l = if (leases.length > 8) leases(rnd.nextInt(leases.length - 8)) else bytes(32)
        base(9, a).copy(leaseTxId = Some(l)) -> meta(a)
      case 10 => base(10, a).copy(alias = Some(s"alias${rnd.nextInt(1000000)}")) -> meta(a)
      case 13 => base(13, a).copy(script = Some(bytes(24))) -> meta(a)
      case 14 =>
        val id = anyAsset(); val fee = 1L + rnd.nextInt(1000)
        base(14, a).copy(assetId = Some(id), minSponsoredAssetFee = Some(fee),
          assetStateUpdates = touch(a, id, 0L, sponsorship = fee)) -> meta(a)
      case 15 =>
        val id = anyAsset(); val s = bytes(16)
        base(15, a).copy(assetId = Some(id), script = Some(s),
          assetStateUpdates = touch(a, id, 0L, script = Some(s))) -> meta(a)
      case 17 =>
        val id = anyAsset()
        base(17, a).copy(assetId = Some(id), assetName = Some(s"A${Base58.encode(id).take(6)}"),
          description = Some(s"u${rnd.nextInt(100)}"), assetStateUpdates = touch(a, id, 0L)) -> meta(a)
      case 18 =>
        val ts = nextTs(); val fee = 100000L + rnd.nextInt(100000)
        RawTx(id = bytes(32), txType = 18, senderPublicKey = Array.emptyByteArray, fee = fee,
          timeStampMs = ts, txVersion = Some(1), functionName = Some("transfer"),
          ethereumBytes = Some(bytes(120))) ->
          meta(a).copy(ethereumFee = Some(fee), ethereumTimestamp = Some(ts), ethereumVersion = Some(1),
            functionName = Some("transfer"))
      case 2 =>
        base(2, a).copy(recipient = Some(bytes(20)), amount = Some(1L + rnd.nextInt(1000))) -> meta(a)
      case 1 =>
        base(1, a).copy(senderPublicKey = Array.emptyByteArray, txVersion = Some(1), fee = 0L,
          recipient = Some(bytes(20)), amount = Some(1L + rnd.nextInt(1000))) -> meta(a)
    }
  }

  private def exchange(): (RawTx, TxMeta) = {
    val m = matchers(rnd.nextInt(matchers.length))
    val (amountAsset, priceAsset) = pickPair()
    val buyer = account(); val seller = account()
    val amount = 1L + rnd.nextInt(100000)
    val price = 1000L + rnd.nextInt(100000)
    val ts = nextTs()
    def order(o: Account, side: Int): RawOrder =
      RawOrder(id = bytes(32), version = 3, senderAddress = o.address, senderPublicKey = o.pk,
        matcherPublicKey = m.pk, amountAssetId = amountAsset, priceAssetId = priceAsset,
        orderSide = side, amount = amount, price = price, timestamp = ts - 1000,
        expiration = ts + 86400000L, matcherFee = 300000L, proofs = Seq(bytes(64)))
    val o1 = order(buyer, 0); val o2 = order(seller, 1)
    val v: Short = if (rnd.nextInt(3) == 0) 2 else 3
    base(7, m).copy(txVersion = Some(v), timeStampMs = ts, order1 = Some(o1), order2 = Some(o2),
      amount = Some(amount), price = Some(price), amountAssetId = Some(amountAsset),
      priceAssetId = Some(priceAsset), buyMatcherFee = Some(300000L), sellMatcherFee = Some(300000L)) ->
      meta(m).copy(orderIds = Seq(o1.id, o2.id), orderSenderAddresses = Seq(o1.senderAddress, o2.senderAddress))
  }
}

object Gen {
  final case class Account(pk: Array[Byte], address: Array[Byte])

  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val BlockMs = 60000L
  val WavesBase = 10000000000000000L
  val PairAssets = 8
  val Functions: Vector[String] = Vector("swap", "stake", "claim", "deposit")

  /** (tx type, weight): an assumed mix in which exchange, transfer and
    * invoke dominate; not measured from mainnet. */
  val Weights: Seq[(Int, Int)] = Seq(7 -> 300, 4 -> 200, 16 -> 180, 12 -> 70, 11 -> 40, 8 -> 35,
    9 -> 25, 18 -> 30, 3 -> 15, 5 -> 15, 6 -> 15, 10 -> 10, 13 -> 15, 14 -> 10, 15 -> 5, 17 -> 10,
    2 -> 5, 1 -> 5)
  val WeightSum: Int = Weights.map(_._2).sum
  private val WeightCdf: Array[Int] = Weights.map(_._2).scanLeft(0)(_ + _).tail.toArray
}
