package graft.convert

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.schema.ReferenceSchemas.MaxUid

/** Ingest-side dimension extraction from the typed block stream:
  * asset updates ≙ `extract_base_asset_info_updates` (`mod.rs:476-546`),
  * asset tickers ≙ `extract_asset_tickers_updates` (`mod.rs:548-581`).
  *
  * Both operate on the flattened per-tx frame [[TxConvert.flatten]] produces
  * (uid-assigned, block-uid-attached) and are pure map-side explodes —
  * posexplode + filter + project, no shuffle. The SCD-2 linking that turns
  * these into versioned dimension rows is [[graft.operators.Scd2]].
  */
object Extract {

  private def b58(c: Column): Column = graft.plans.GraftExtensions.base58Encode(c)

  /** Version-row uid for extracted updates: `tx_uid * 1000 + position`.
    * The reference allocates from a global Postgres sequence
    * (`get_next_assets_uid`, `pg.rs:190-194`); any numbering that is
    * monotone in (tx arrival, position-in-tx) is semantically equivalent for
    * the SCD-2 chain (only relative order within an entity matters) and this
    * one needs no sequence round-trip. Declared deviation.
    *
    * A tx carrying ≥1000 state updates would collide with the next tx's uid
    * space and silently corrupt SCD-2 ordering — fail fast instead (the
    * reference's global sequence cannot collide, so neither may we). */
  private def updateUid: Column =
    when(col("position") < 1000, col("uid") * 1000 + col("position"))
      .otherwise(raise_error(concat(
        lit("state-update position exceeds uid headroom (999): "),
        col("position").cast("string"))))

  /** Asset updates from per-tx asset state updates (`mod.rs:476-546`):
    * skip WAVES (`mod.rs:491-494`), derive the issuer address from the
    * issuer public key, escape NULs in names/descriptions, sponsorship > 0
    * gates min_sponsored_fee. Output matches the `asset_updates` schema
    * (`up.sql:19-34`) with `superseded_by` open (MAX_UID) — batch linking
    * is `Scd2.linkBatch/applyBatch`. */
  def assetUpdates(flat: DataFrame): DataFrame =
    flat
      .select(col("uid"), col("block_uid"), col("height"),
        posexplode(col("tx.assetStateUpdates")).as(Seq("position", "au")))
      .filter(length(col("au.assetId")) > 0) // skip WAVES, mod.rs:491-494
      .select(
        col("block_uid"),
        updateUid.as("uid"),
        lit(MaxUid).as("superseded_by"),
        b58(col("au.assetId")).as("asset_id"),
        col("au.decimals").as("decimals"),
        escapeUnicodeNull(col("au.name")).as("name"),
        escapeUnicodeNull(col("au.description")).as("description"),
        col("au.reissuable").as("reissuable"),
        col("au.volume").as("volume"),
        when(col("au.script").isNotNull, prefixedBase64(col("au.script"))).as("script"),
        when(col("au.sponsorship") > 0, col("au.sponsorship")).as("sponsorship"),
        col("au.nft").as("nft"))

  /** Asset-origin candidates ≙ `mod.rs:290-311`: one row per asset update
    * carrying the issue provenance; insert-ignore on asset_id keeps only
    * the FIRST update's row (`pg.rs:205-214`), which
    * [[graft.operators.ChainSync]] applies via `Merge.insertIgnore`.
    * Output matches `asset_origins` (`up.sql:36-43`). */
  def assetOrigins(flat: DataFrame): DataFrame =
    flat
      .select(col("uid"), col("height"),
        col("tx.id").as("__tx_id"), col("tx.timeStampMs").as("__ts"),
        posexplode(col("tx.assetStateUpdates")).as(Seq("position", "au")))
      .filter(length(col("au.assetId")) > 0)
      .select(
        b58(col("au.assetId")).as("asset_id"),
        updateUid.as("first_asset_update_uid"),
        b58(col("__tx_id")).as("origin_transaction_id"),
        graft.plans.GraftExtensions.wavesAddress(col("au.issuer"), lit(TxConvert.ChainId.toInt)).as("issuer"),
        col("height").as("issue_height"),
        timestamp_millis(col("__ts")).as("issue_time_stamp"))

  /** The `%s%s__assetId2ticker__<id>` data-entry key prefix (`mod.rs:554`). */
  val TickerKeyPrefix = "%s%s__assetId2ticker__"

  /** Asset tickers from data-entry state updates (`mod.rs:548-581`): only
    * entries written by the asset-storage account whose key matches the
    * fragstring pattern; a string value sets the ticker, a deleted key
    * clears it to "". Output matches `asset_tickers` (`up.sql:410-418`). */
  def assetTickers(flat: DataFrame, storageAddress: String): DataFrame =
    flat
      .select(col("uid"), col("block_uid"),
        posexplode(col("tx.dataEntryUpdates")).as(Seq("position", "de")))
      .filter(b58(col("de.address")) === storageAddress)
      .filter(col("de.entry").isNotNull && col("de.entry.key").startsWith(TickerKeyPrefix))
      // non-string values are dropped (mod.rs:566); a missing value means
      // key deletion → ticker "" (mod.rs:568-573)
      .filter(col("de.entry.stringValue").isNotNull ||
        (col("de.entry.integerValue").isNull && col("de.entry.booleanValue").isNull &&
          col("de.entry.binaryValue").isNull))
      .select(
        updateUid.as("uid"),
        lit(MaxUid).as("superseded_by"),
        col("block_uid"),
        tickerKeyAssetId(col("de.entry.key")).as("asset_id"),
        coalesce(col("de.entry.stringValue"), lit("")).as("ticker"))
}
