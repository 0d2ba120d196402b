package graft

import org.apache.spark.sql.SparkSession

/** Per-window GC attribution for a single gate (VERDICT r14 #3): runs the
  * gate N times at one dir and prints, per window, wall seconds, the GC
  * time that elapsed INSIDE the window, and heap high-water — so a spread
  * like a2@100x's 16.4–40.4× can be pinned on collector/page-cache
  * pressure (GC seconds tracking the slow windows) or exonerated (flat GC,
  * spread must come from elsewhere).
  *
  * Usage: `runMain graft.GcProbe <gate> <dir> [reps]`
  */
object GcProbe {
  def main(args: Array[String]): Unit = {
    val gate = args(0)
    val dir = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    // SPARK_GRAFT_LOCAL_DIR moves shuffle/spill files (spark.local.dir)
    // off /tmp — e.g. onto /dev/shm — to A/B-test whether a gate's wall
    // variance is shuffle-write I/O on the container's disk rather than
    // compute (the r15 llm_pack_shards attribution).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(d => builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean

    // process CPU seconds per window: wall that moves while CPU stays
    // flat is blocked time (I/O, allocation stalls), not compute
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // Optional 4th arg: a DIFFERENT gate run once first. If the probe
    // gate's rep1 is then fast, the cold-rep cost is JIT warm-up of
    // SHARED engine code (sorters, agg iterators, row serializers) —
    // not the gate's own work (r15 llm_pack_shards attribution).
    args.lift(3).foreach { warmGate =>
      val w0 = System.nanoTime()
      SparkEntry.queries(warmGate)(spark, dir).queryExecution.toRdd.count()
      println(f"""{"warmup_gate":"$warmGate","dir":"$dir","sec":${(System.nanoTime() - w0) / 1e9}%.3f}""")
    }

    val fn = SparkEntry.queries(gate)
    (1 to reps).foreach { i =>
      val gc0 = gcMillis()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      fn(spark, dir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val cpuSec = (os.getProcessCpuTime - cpu0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      val heapMb = memory.getHeapMemoryUsage.getUsed / (1024 * 1024)
      println(f"""{"gate":"$gate","dir":"$dir","rep":$i,"sec":$sec%.3f,"cpu_sec":$cpuSec%.3f,"gc_sec":$gcSec%.3f,"heap_used_mb":$heapMb}""")
    }
    spark.stop()
  }
}
