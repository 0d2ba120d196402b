package graft.functions

/** Waves-chain domain helpers: address derivation, asset-id normalization,
  * prefixed encodings, unicode-NUL escaping.
  *
  * Semantics mirrored from `/root/reference/src/lib/waves.rs:15-85` and
  * `/root/reference/src/lib/utils.rs:3-24`; implementations are from public
  * specs (see [[Blake2b256]], [[Keccak256]], [[Base58]]).
  */
object Waves {
  final val WavesId = "WAVES"
  final val AddressVersion: Byte = 1

  /** `secure_hash` = keccak256(blake2b256(m)) — `waves.rs:36` composition. */
  def secureHash(message: Array[Byte]): Array[Byte] =
    Keccak256.hash(Blake2b256.hash(message))

  /** Address derivation `waves.rs:35-50`:
    * bytes = version(1) ‖ chainId ‖ secureHash(pk)[0,20) ‖ secureHash(bytes[0,22))[0,4); base58.
    */
  def addressFromPublicKey(publicKey: Array[Byte], chainId: Byte): String = {
    val pkh = secureHash(publicKey)
    val addr = new Array[Byte](26)
    addr(0) = AddressVersion
    addr(1) = chainId
    System.arraycopy(pkh, 0, addr, 2, 20)
    val chk = secureHash(java.util.Arrays.copyOfRange(addr, 0, 22))
    System.arraycopy(chk, 0, addr, 22, 4)
    Base58.encode(addr)
  }

  /** `waves.rs:52-66` — address from a precomputed 20-byte public key hash. */
  def addressFromPublicKeyHash(pkh: Array[Byte], chainId: Byte): String = {
    val addr = new Array[Byte](26)
    addr(0) = AddressVersion
    addr(1) = chainId
    System.arraycopy(pkh, 0, addr, 2, 20)
    val chk = secureHash(java.util.Arrays.copyOfRange(addr, 0, 22))
    System.arraycopy(chk, 0, addr, 22, 4)
    Base58.encode(addr)
  }

  /** Structural validity of a base58 address: version, length, checksum. */
  def isValidAddress(address: String, chainId: Option[Byte] = None): Boolean =
    Base58.decode(address).exists { bytes =>
      bytes.length == 26 &&
      bytes(0) == AddressVersion &&
      chainId.forall(_ == bytes(1)) && {
        val chk = secureHash(java.util.Arrays.copyOfRange(bytes, 0, 22))
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(chk, 0, 4),
          java.util.Arrays.copyOfRange(bytes, 22, 26))
      }
    }

  /** `extract_asset_id` (`waves.rs:79-85`): empty bytes ⇒ "WAVES" sentinel. */
  def extractAssetId(assetId: Array[Byte]): String =
    if (assetId == null || assetId.isEmpty) WavesId else Base58.encode(assetId)

  /** `into_prefixed_base64` (`utils.rs:7-15`): empty ⇒ "", else "base64:…". */
  def prefixedBase64(b: Array[Byte]): String =
    if (b == null || b.isEmpty) ""
    else "base64:" + java.util.Base64.getEncoder.encodeToString(b)

  /** `models.rs:180-182`: 0x-prefixed lowercase hex (eip712 signatures). */
  def prefixedHex(b: Array[Byte]): String = {
    val sb = new StringBuilder("0x")
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  /** `escape_unicode_null` (`utils.rs:22-24`): `\0` → `\\0`. */
  def escapeUnicodeNull(s: String): String =
    if (s == null) null else s.replace("\u0000", "\\0")

  /** Data-entry ticker key parser — `frag_parse!("%s%s__assetId2ticker__<id>")`
    * (`mod.rs:548-581`). Returns the trailing asset id, or None. */
  private val TickerKey = "^(.*?)__assetId2ticker__(.+)$".r
  def parseTickerKey(key: String): Option[String] = key match {
    case TickerKey(_, assetId) => Some(assetId)
    case _ => None
  }
}
