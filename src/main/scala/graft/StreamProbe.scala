package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch duration attribution for the streaming replay gates
  * (r15 optimization round). Attaches a session-wide StreamingQueryListener,
  * runs the named gates once each, and prints the summed `durationMs`
  * components (addBatch / queryPlanning / walCommit / getBatch /
  * triggerExecution / commitOffsets) plus batch count — so the replay
  * floor can be attributed to state commit vs per-batch re-planning vs
  * offset-log I/O instead of guessed.
  *
  * Usage: `runMain graft.StreamProbe <gate1,gate2,...> [dir]`
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val sums = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        e.progress.durationMs.forEach { (k, v) =>
          sums.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong(0L))
            .addAndGet(v)
        }
      }
    })

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown gate: $name")
        case Some(fn) =>
          sums.clear(); batches.set(0)
          val t0 = System.nanoTime()
          fn(spark, dir).queryExecution.toRdd.count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // listener events drain async
          val parts = {
            import scala.jdk.CollectionConverters._
            sums.asScala.toSeq.sortBy(-_._2.get)
              .map { case (k, v) => s""""$k":${v.get / 1000.0}""" }.mkString(",")
          }
          println(f"""{"gate":"$name","wall":$wall%.3f,"batches":${batches.get},$parts}""")
      }
    }
    spark.stop()
  }
}
