package graft

/** One-time generator for golden-snapshot fixtures committed under
  * `fixtures/` (VERDICT r12 #3: convert the f12 rows-only gate to a full
  * hash gate by "hashing the equality, not the crypto").
  *
  * `fixtures/f12_expected.parquet` maps `md5_hex` (the hex digest of a
  * customer name — the gate's synthetic "public key" source) to the
  * expected Waves address. Expected values are computed HERE with the
  * pure-Scala library path ([[graft.functions.Waves.addressFromPublicKey]],
  * whose blake2b/keccak kernels are pinned by public known-answer vectors
  * in FunctionsSpec), while the f12 gate runs the NATIVE codegen
  * expression — so the gate additionally cross-checks the Catalyst
  * expression against the library implementation through the fixture.
  * The DuckDB oracle then just joins the fixture and re-emits the
  * expected column: a hash mismatch means either crypto drift or
  * expression/library divergence.
  *
  * Covers every customer name in all passed fixture dirs (defaults: the
  * three driver SFs), de-duplicated by digest, so the same committed
  * fixture serves sf0.001/sf0.01/sf0.1 verify runs. Rerun after a
  * fixture regeneration; an unknown name surfaces as an oracle row-count
  * FAIL, never a silent pass.
  */
object GoldenFixtures {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    import spark.implicits._

    val names = dirs
      .map(d => sources.Tables.load(spark, d, "customer").select("c_name"))
      .reduce(_ unionByName _)
      .distinct().as[String].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = names.map { n =>
      val digest = md.digest(n.getBytes("UTF-8"))
      val hexStr = digest.map(b => f"$b%02x").mkString
      (hexStr, graft.functions.Waves.addressFromPublicKey(digest, 'W'.toByte))
    }.distinct.sortBy(_._1).toSeq
    rows.toDF("md5_hex", "address")
      .coalesce(1)
      .write.mode("overwrite").parquet("fixtures/f12_expected.parquet")
    spark.stop()
    println(s"""{"fixture":"fixtures/f12_expected.parquet","names":${rows.size}}""")
  }
}
