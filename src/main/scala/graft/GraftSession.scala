package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy of the project's mains (Verify, Bench,
  * Trace, ScaleBench, ScaleFixture, GoldenFixtures), so a gate is timed
  * under the same settings it is checked under. */
object GraftSession {

  /** Cores the session runs on: `SPARK_GRAFT_CPUS`, or every core of the
    * host when that is unset. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time zone,
    * no UI and WARN logging. One warm-up query absorbs session start-up, so
    * it is not billed to whichever query runs first. */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }
}
