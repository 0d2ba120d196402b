package graft.convert

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.cut
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.schema.ReferenceSchemas

/** The 18-way transaction conversion ≙ `models/txs/convert.rs:74-729`:
  * typed events → per-type tables with the shared txs prefix, plus the
  * exploded child tables (transfers / data entries / invoke args+payments).
  *
  * Spark-first shape: one pass assigns deterministic uids (O22 window,
  * partitioned by height — bounded partitions), each type is a *filtered
  * projection* of the same flattened frame (Catalyst prunes the per-type
  * columns each table doesn't keep), and children are `posexplode`s keyed
  * (tx_uid, position). Everything stays whole-stage-codegen except the
  * base58/address UDF calls — exactly the custom surface SURVEY §2.9 allows.
  */
object TxConvert {

  val ChainId: Byte = 'W'.toByte

  /** Flatten blocks → one row per tx with block columns + assigned uids.
    * `heightOffset` continues the per-height index for the FIRST height of
    * the batch: the reference's uid generator is a process-global static
    * (`mod.rs:41`) whose index resets only when the height CHANGES
    * (`convert.rs:51-58` maybe_update_height) — so a microblock appended
    * after a key block at the same height continues where it left off
    * rather than colliding. [[graft.operators.ChainSync]] threads this. */
  def flatten(spark: SparkSession, blocks: Seq[RawBlock],
      heightOffset: Option[(Int, Long)] = None): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, Int, Option[Long], Long, RawTx)] = for {
      (b, bi) <- blocks.zipWithIndex
      (tx, ti) <- b.txs.zipWithIndex
    } yield (b.id, b.height, b.timeStampMs, bi.toLong * 1000000 + ti, tx)
    val ds = rows.toDF("block_id", "height", "block_ts_ms", "arrival_order", "tx")
    withUids(ds, heightOffset)
  }

  /** uid = height * 100000 + idx-within-height in arrival order
    * (`convert.rs:45-72`; collisions >100000/height preserved verbatim). */
  private def withUids(flat: DataFrame, heightOffset: Option[(Int, Long)]): DataFrame = {
    val w = Window.partitionBy(col("height")).orderBy(col("arrival_order"))
    val continued = heightOffset match {
      case Some((h, off)) => when(col("height") === h, lit(off)).otherwise(lit(0L))
      case None => lit(0L)
    }
    flat.withColumn("uid",
      col("height").cast("long") * ReferenceSchemas.UidsPerHeight
        + (row_number().over(w) - 1) + continued)
  }

  // native Catalyst expressions (whole-stage codegen), not the UDF fallbacks
  private def b58(c: Column): Column = graft.plans.GraftExtensions.base58Encode(c)
  private def optB58(c: Column): Column = when(c.isNotNull, b58(c))
  private def wavesAddr(pk: Column): Column =
    graft.plans.GraftExtensions.wavesAddress(pk, lit(ChainId.toInt))
  private def wavesAddrPkh(pkh: Column): Column =
    graft.plans.GraftExtensions.wavesAddressFromPkh(pkh, lit(ChainId.toInt))

  /** The txs common prefix (`up.sql:45-62`): every type shares it.
    * Genesis semantics (`convert.rs:254-277`): an empty sender public key
    * (genesis txs have none) yields NULL sender/sender_public_key — never a
    * fabricated hash of empty bytes; tx_version is forced NULL for type 1
    * and suppressed-when-1 for type 2. */
  private def common(flat: DataFrame): DataFrame = {
    val pkPresent = length(col("tx.senderPublicKey")) > 0
    flat.select(
      col("uid"),
      col("tx.txType").as("tx_type"),
      when(pkPresent, wavesAddr(col("tx.senderPublicKey"))).as("sender"),
      when(pkPresent, b58(col("tx.senderPublicKey"))).as("sender_public_key"),
      timestamp_millis(col("tx.timeStampMs")).as("time_stamp"),
      col("height"),
      b58(col("tx.id")).as("id"),
      optB58(col("tx.signature")).as("signature"),
      base58EncodeArray(col("tx.proofs")).as("proofs"),
      when(col("tx.txType") === 1, lit(null).cast("short"))
        .when(col("tx.txType") === 2 && col("tx.txVersion") === 1, lit(null).cast("short"))
        .otherwise(col("tx.txVersion")).as("tx_version"),
      col("tx.fee").as("fee"),
      col("tx.status").as("status"),
      col("block_uid"),
      // per-type payload carried along; pruned away by Catalyst per table
      col("tx"))
  }

  /** Attach block uids (RETURNING-equivalent: blocks frame carries uid). */
  def withBlockUids(flat: DataFrame, blocks: DataFrame): DataFrame =
    flat.join(broadcast(blocks.select(col("id").as("block_id"), col("uid").as("block_uid"))),
      Seq("block_id"), "inner")

  /** All 18 typed tables + children, by reference table name. */
  def convert(flat: DataFrame): Map[String, DataFrame] = {
    // the lineage cut, not .cache(): a cached relation stays registered in
    // the session's CacheManager until unpersisted, one per appended run
    val base = cut(common(flat))
    def typed(t: Int): DataFrame = base.filter(col("tx_type") === t)
    val prefix = ReferenceSchemas.txsCommon.map(f => col(f.name))

    def table(t: Int, extra: Column*): DataFrame =
      typed(t).select(prefix ++ extra: _*)

    // Two recipient conventions (ADVICE r2): genesis/payment carry a 20-byte
    // public-key HASH (convert.rs:258-285, Address::from(PublicKeyHash));
    // every other recipient field carries NODE-RESOLVED address bytes from tx
    // meta (convert.rs:337,444,514,647) — base58 passthrough, never re-hashed
    // (alias-only recipients have no recoverable key to hash).
    val pkhRecipientCols = Seq(
      wavesAddrPkh(col("tx.recipient")).as("recipient_address"),
      col("tx.recipientAlias").as("recipient_alias"))
    val resolvedRecipientCols = Seq(
      optB58(col("tx.recipient")).as("recipient_address"),
      col("tx.recipientAlias").as("recipient_alias"))

    val tables = Map(
      "txs_1" -> table(1, pkhRecipientCols :+ col("tx.amount").as("amount"): _*),
      "txs_2" -> table(2, pkhRecipientCols :+ col("tx.amount").as("amount"): _*),
      "txs_3" -> table(3,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        escapeUnicodeNull(col("tx.assetName")).as("asset_name"),
        escapeUnicodeNull(col("tx.description")).as("description"),
        col("tx.quantity").as("quantity"),
        col("tx.decimals").as("decimals"),
        col("tx.reissuable").as("reissuable"),
        when(col("tx.script").isNotNull, prefixedBase64(col("tx.script"))).as("script")),
      "txs_4" -> table(4,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        col("tx.amount").as("amount"),
        optB58(col("tx.recipient")).as("recipient_address"), // resolved bytes, convert.rs:337
        col("tx.recipientAlias").as("recipient_alias"),
        extractAssetId(col("tx.feeAssetId")).as("fee_asset_id"),
        when(col("tx.attachment").isNotNull, b58(col("tx.attachment"))).otherwise("").as("attachment")),
      "txs_5" -> table(5,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        col("tx.quantity").as("quantity"),
        col("tx.reissuable").as("reissuable")),
      "txs_6" -> table(6,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        col("tx.amount").as("amount")),
      "txs_7" -> table(7,
        // version-dependent canonical order JSON (models.rs:101-192, F19)
        OrderJson.orderJson(col("tx.order1")).as("order1"),
        OrderJson.orderJson(col("tx.order2")).as("order2"),
        col("tx.amount").as("amount"),
        col("tx.price").as("price"),
        extractAssetId(col("tx.amountAssetId")).as("amount_asset_id"),
        extractAssetId(col("tx.priceAssetId")).as("price_asset_id"),
        col("tx.buyMatcherFee").as("buy_matcher_fee"),
        col("tx.sellMatcherFee").as("sell_matcher_fee"),
        extractAssetId(col("tx.feeAssetId")).as("fee_asset_id")),
      "txs_8" -> table(8, resolvedRecipientCols :+ col("tx.amount").as("amount"): _*),
      "txs_9" -> table(9,
        // lease_tx_uid resolved by the J1 lookup join downstream
        lit(null).cast("long").as("lease_tx_uid"),
        optB58(col("tx.leaseTxId")).as("lease_id")),
      "txs_10" -> table(10, escapeUnicodeNull(col("tx.alias")).as("alias")),
      "txs_11" -> table(11,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        when(col("tx.attachment").isNotNull, b58(col("tx.attachment"))).otherwise("").as("attachment")),
      "txs_12" -> table(12),
      "txs_13" -> table(13,
        when(col("tx.script").isNotNull, prefixedBase64(col("tx.script"))).as("script")),
      "txs_14" -> table(14,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        col("tx.minSponsoredAssetFee").as("min_sponsored_asset_fee")),
      "txs_15" -> table(15,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        when(col("tx.script").isNotNull, prefixedBase64(col("tx.script"))).as("script")),
      "txs_16" -> table(16,
        optB58(col("tx.dappAddress")).as("dapp_address"), // resolved bytes, convert.rs:646

        col("tx.dappAlias").as("dapp_alias"),
        col("tx.functionName").as("function_name"),
        extractAssetId(col("tx.feeAssetId")).as("fee_asset_id")),
      "txs_17" -> table(17,
        extractAssetId(col("tx.assetId")).as("asset_id"),
        escapeUnicodeNull(col("tx.assetName")).as("asset_name"),
        escapeUnicodeNull(col("tx.description")).as("description")),
      "txs_18" -> table(18,
        col("tx.ethereumBytes").as("bytes"),
        col("tx.functionName").as("function_name")))

    val children = Map(
      // txs_11_transfers (convert.rs:507-520)
      "txs_11_transfers" -> typed(11)
        .select(col("uid").as("tx_uid"), col("height"),
          posexplode(col("tx.transfers")).as(Seq("position_in_tx", "t")))
        .select(col("tx_uid"),
          b58(col("t.recipient")).as("recipient_address"), // resolved bytes, convert.rs:514
          lit(null).cast("string").as("recipient_alias"),
          col("t.amount").as("amount"),
          col("position_in_tx").cast("short").as("position_in_tx"),
          col("height")),
      // txs_12_data (convert.rs:539-571)
      "txs_12_data" -> typed(12)
        .select(col("uid").as("tx_uid"), col("height"),
          posexplode(col("tx.dataEntries")).as(Seq("position_in_tx", "d")))
        .select(col("tx_uid"),
          escapeUnicodeNull(col("d.key")).as("data_key"),
          dataType(col("d")).as("data_type"),
          col("d.integerValue").as("data_value_integer"),
          col("d.booleanValue").as("data_value_boolean"),
          when(col("d.binaryValue").isNotNull, prefixedBase64(col("d.binaryValue"))).as("data_value_binary"),
          escapeUnicodeNull(col("d.stringValue")).as("data_value_string"),
          col("position_in_tx").cast("short").as("position_in_tx"),
          col("height")),
      "txs_16_args" -> argsChild(typed(16)),
      "txs_16_payment" -> paymentChild(typed(16)),
      "txs_18_args" -> argsChild(typed(18)),
      "txs_18_payment" -> paymentChild(typed(18)))

    tables ++ children
  }

  /** Tagged-union data-entry type tag (`convert.rs:544-558`). */
  private def dataType(d: Column): Column =
    when(d.getField("integerValue").isNotNull, "integer")
      .when(d.getField("booleanValue").isNotNull, "boolean")
      .when(d.getField("binaryValue").isNotNull, "binary")
      .when(d.getField("stringValue").isNotNull, "string")

  /** Invoke args explosion (`convert.rs:656-693`). */
  private def argsChild(txs: DataFrame): DataFrame =
    txs.select(col("uid").as("tx_uid"), col("height"),
      posexplode(col("tx.args")).as(Seq("position_in_args", "a")))
      .select(
        col("a.argType").as("arg_type"),
        col("a.integerValue").as("arg_value_integer"),
        col("a.booleanValue").as("arg_value_boolean"),
        when(col("a.binaryValue").isNotNull, prefixedBase64(col("a.binaryValue"))).as("arg_value_binary"),
        escapeUnicodeNull(col("a.stringValue")).as("arg_value_string"),
        col("a.listJson").as("arg_value_list"),
        col("position_in_args").cast("short").as("position_in_args"),
        col("tx_uid"),
        col("height"))

  /** Invoke payments explosion (`convert.rs:694-705`). */
  private def paymentChild(txs: DataFrame): DataFrame =
    txs.select(col("uid").as("tx_uid"), col("height"),
      posexplode(col("tx.payments")).as(Seq("position_in_payment", "p")))
      .select(
        col("tx_uid"),
        col("p.amount").as("amount"),
        col("position_in_payment").cast("short").as("position_in_payment"),
        col("height"),
        extractAssetId(col("p.assetId")).as("asset_id"))

  /** The `txs` parent-scan view: UNION ALL of the common prefix of every
    * child — the inheritance-scan equivalent (SURVEY §1.3). */
  def txsUnionView(tables: Map[String, DataFrame]): DataFrame = {
    val prefix = ReferenceSchemas.txsCommon.map(f => col(f.name))
    (1 to 18).map(i => tables(s"txs_$i").select(prefix: _*)).reduce(_.unionByName(_))
  }

  /** LeaseCancel lease_id → lease tx uid resolution (J1, `pg.rs:472-505`):
    * broadcast left join against the lease table's (id, uid). */
  def resolveLeaseUids(txs9: DataFrame, txs8: DataFrame): DataFrame = {
    val leases = txs8.select(col("id").as("lease_id"), col("uid").as("__lease_uid"))
    txs9.drop("lease_tx_uid")
      .join(broadcast(leases), Seq("lease_id"), "left")
      .withColumnRenamed("__lease_uid", "lease_tx_uid")
  }
}
