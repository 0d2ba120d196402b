package graft

import org.apache.spark.sql.SparkSession

/** Per-gate cost decomposition for the r15 optimization round (guide §1:
  * measure first). For each named gate, runs `reps` timed executions and
  * attributes wall time to
  *   - Catalyst phases (analysis / optimization / physical planning) from
  *     QueryPlanningTracker — driver-side, single-threaded;
  *   - job count and summed stage wall (scheduler-side floor: a gate that
  *     launches 40 jobs of 20 ms pays scheduling, not compute);
  *   - executed-plan shape (exchange count, codegen span count).
  *
  * The suite at sf0.1 runs 226 gates over ≤600k-row inputs, so per-gate
  * CONSTANT cost (planning, codegen, job rounds) is a first-class suspect
  * next to the usual shuffle/skew levers — this main decides which lever a
  * given slow gate actually needs.
  *
  * Usage: `runMain graft.PhaseProbe <gate1,gate2,...|top:N> [dir] [reps]`
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sel = args.headOption.getOrElse("top:15")
    val dir = args.lift(1).getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.sources.Tables.load(spark, dir, "region").count()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stageWallMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = sc.stageInfo
        stageWallMs.addAndGet(
          (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(0L))
      }
    })

    val names: Seq[String] =
      if (sel.startsWith("top:")) {
        // read the latest bench_out.json and take the N slowest gates
        val n = sel.stripPrefix("top:").toInt
        val line = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_out.json")), "UTF-8")
        Bench.parseQueries(line).toSeq.sortBy(-_._2).take(n).map(_._1)
      } else sel.split(",").toSeq
    val qmap = SparkEntry.queries

    names.foreach { name =>
      qmap.get(name) match {
        case None => System.err.println(s"unknown gate: $name")
        case Some(fn) =>
          (1 to reps).foreach { rep =>
            jobs.set(0); stageWallMs.set(0L); stages.set(0)
            val t0 = System.nanoTime()
            val df = fn(spark, dir)
            val qe = df.queryExecution
            val plan = qe.executedPlan // forces analysis→planning
            val tPlanned = System.nanoTime()
            qe.toRdd.count()
            val t1 = System.nanoTime()
            Thread.sleep(50) // let listener events drain
            val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
            val planStr = plan.toString
            def cnt(s: String) = planStr.sliding(s.length).count(_ == s)
            val wall = (t1 - t0) / 1e9
            val build = (tPlanned - t0) / 1e9
            println(f"""{"gate":"$name","rep":$rep,"wall":$wall%.3f,"build":$build%.3f,""" +
              f""""exec":${(t1 - tPlanned) / 1e9}%.3f,""" +
              phases.toSeq.sortBy(_._1).map { case (k, ms) => s""""$k":${ms / 1000.0}""" }.mkString(",") +
              s""","jobs":${jobs.get},"stages":${stages.get},"stage_wall_s":${stageWallMs.get / 1000.0},""" +
              s""""exchanges":${cnt("Exchange")},"codegen_spans":${cnt("WholeStageCodegen")}}""")
          }
      }
    }
    spark.stop()
  }
}
