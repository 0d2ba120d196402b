package graft

import java.nio.file.{Files, Paths}

/** [[Trace.Recorder]] on the sf0.001 fixture, and the one session policy
  * of the mains ([[GraftSession.local]]). */
class TraceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def traced(gate: String, planPrefix: Option[String] = None) = {
    val recorder = new Trace.Recorder(spark)
    try recorder.record(gate, dir, rep = 1, planPrefix) finally recorder.close()
  }

  test("batch gate: jobs, Catalyst phases, the planned exchange count and a plan file") {
    val prefix = Files.createTempDirectory("graft-trace-").resolve("plans-").toString
    val r = traced("a1_candles_minute", Some(prefix))
    assert(r("jobs").asInstanceOf[Long] >= 1)
    assert(r("stages").asInstanceOf[Long] >= 1)
    Seq("analysis", "optimization", "planning").foreach(k => assert(r.contains(k), k))
    val planned = SparkEntry.queries("a1_candles_minute")(spark, dir).queryExecution.executedPlan.toString
    assert(r("exchanges") == planned.linesIterator.count(_.contains("Exchange")))
    assert(r("batches") == 0L)
    assert(Files.readString(Paths.get(s"${prefix}a1_candles_minute.txt")).contains("== Physical Plan =="))
    assert(Trace.json(r).startsWith("""{"gate":"a1_candles_minute","rep":1,"wall":"""))
  }

  test("streaming gate: micro-batch count and the summed durationMs parts") {
    val r = traced("s1_stream_source")
    assert(r("batches").asInstanceOf[Long] >= 1)
    assert(r.contains("addBatch") && r.contains("triggerExecution"))
  }

  test("GraftSession.local(): UTC session time zone and one shuffle partition per cpu") {
    val keys = Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.shuffle.partitions", GraftSession.cpus + 1L)
    try {
      // the shared test session is the active one: local() must re-apply
      // its runtime settings to it
      val s = GraftSession.local()
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == GraftSession.cpus.toString)
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sparkContext.setLogLevel("ERROR")
    }
  }
}
