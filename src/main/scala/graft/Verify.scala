package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); the driver runs unset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Gate-set completeness: a registration bug (dropped `++` operand, a
    // deleted QueryDef) must fail the WHOLE verify run loudly, not shrink
    // the artifact silently (VERDICT r7 task 6). Checked before any query
    // runs; skipped only under the dev-only subset filter.
    if (only.isEmpty) {
      val missing = GateManifest.expected -- SparkEntry.queries.keySet
      if (missing.nonEmpty) {
        System.err.println(
          s"[verify] FATAL: ${missing.size} manifest gates missing from SparkEntry.queries: " +
            missing.toSeq.sorted.mkString(", "))
        spark.stop()
        sys.exit(2)
      }
    }
    // A crashed query must leave a loud, per-gate trace — round 6 shipped a
    // 57-gate silent collapse because failures only went to stderr and the
    // driver's compare never saw the query at all (VERDICT r6 #2). On
    // failure: write `<name>/_ERROR` (so the gate shows up as err, not
    // absent), print a FAILED line, and summarize at the end.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] FAILED $name: ${e.getMessage}")
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // clear any stale parquet from a previous run so the driver can't
        // read old results for a now-broken query
        Option(d.listFiles()).foreach(_.filterNot(_.getName == "_ERROR").foreach(_.delete()))
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"),
          s"$name failed:\n${e.toString}\n")
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED gates: ${failed.mkString(", ")}")
    else
      System.err.println(s"[verify] all gates wrote output")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
