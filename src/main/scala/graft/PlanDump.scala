package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named gates to files — the r15
  * optimization round's before/after plan evidence (`plans/r15/`).
  *
  * Usage: `runMain graft.PlanDump <gate1,gate2,...> <outSuffix> [dir]`
  * writes `plans/r15/<gate>_<outSuffix>.txt` per gate.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val suffix = args(1)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Paths.get("plans/r15")
    java.nio.file.Files.createDirectories(out)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown gate: $name")
        case Some(fn) =>
          val df = fn(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(out.resolve(s"${name}_$suffix.txt"), txt)
          println(s"wrote plans/r15/${name}_$suffix.txt (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
