package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FormattedMode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-gate cost attribution: runs named gates `reps` times each and prints
  * one JSON line per (gate, rep) that splits its wall time into
  *   - plan build vs execution, and the Catalyst phases (analysis /
  *     optimization / planning) from the query's `QueryPlanningTracker`;
  *   - Spark jobs, stages and summed stage wall (a gate that launches 40
  *     jobs of 20 ms pays scheduling, not compute);
  *   - task run time, executor CPU, task GC, shuffle read/write bytes,
  *     bytes spilled to disk and shuffle fetch wait, summed over stages;
  *   - process CPU and JVM GC seconds inside the window and the heap used
  *     at its end (wall that moves while CPU stays flat is blocked time);
  *   - executed-plan shape: `Exchange` lines of the planned physical plan
  *     (the count PlanShapeSpec pins) and `WholeStageCodegen` stages of the
  *     plan as executed;
  *   - for streaming gates, micro-batch count and the summed `durationMs`
  *     parts (addBatch, queryPlanning, walCommit, …) of their progress.
  * With `planPrefix`, the executed plan's `explain("formatted")` goes to
  * `<planPrefix><gate>.txt`. `top:N` traces the N slowest gates of
  * `bench_out.json`.
  *
  * Usage: `runMain graft.Trace <gate,…|top:N> [dir] [reps] [planPrefix]`
  */
object Trace {

  def main(args: Array[String]): Unit = {
    val sel = args.headOption.getOrElse("top:15")
    val dir = args.lift(1).getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = args.lift(2).fold(2)(_.toInt)
    val planPrefix = args.lift(3)
    val gates =
      if (sel.startsWith("top:")) {
        val line = new String(Files.readAllBytes(Paths.get("bench_out.json")), "UTF-8")
        Bench.parseQueries(line).toSeq.sortBy(-_._2).take(sel.stripPrefix("top:").toInt).map(_._1)
      } else sel.split(",").toSeq
    val spark = GraftSession.local()
    sources.Tables.load(spark, dir, "region").count() // parquet-reader init
    val recorder = new Recorder(spark)
    try for (gate <- gates; rep <- 1 to reps) println(json(recorder.record(gate, dir, rep, planPrefix)))
    finally { recorder.close(); spark.stop() }
  }

  /** One JSON object; doubles are seconds (3 decimals). */
  def json(record: ListMap[String, Any]): String = record.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) => s""""$k":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  /** One [[SparkListener]] and one [[StreamingQueryListener]] on `spark`,
    * summing into counters that each [[record]] window starts from zero. */
  final class Recorder(spark: SparkSession) extends AutoCloseable with AdaptiveSparkPlanHelper {
    private val queries = SparkEntry.queries
    private val sums = new ConcurrentHashMap[String, AtomicLong]()
    private def add(key: String, v: Long): Unit =
      sums.computeIfAbsent(key, _ => new AtomicLong).addAndGet(v)
    private def sum(key: String): Long = Option(sums.get(key)).fold(0L)(_.get)

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        add("stages", 1)
        add("stage_wall_ms", (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L))
        Option(i.taskMetrics).foreach { m =>
          add("task_ms", m.executorRunTime)
          add("executor_cpu_ns", m.executorCpuTime)
          add("task_gc_ms", m.jvmGCTime)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("spill_bytes", m.diskBytesSpilled)
          add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        }
      }
    }
    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        add("batches", 1)
        e.progress.durationMs.forEach((k, v) => add(s"stream.$k", v))
      }
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)

    def close(): Unit = {
      spark.streams.removeListener(streamListener)
      spark.sparkContext.removeSparkListener(sparkListener)
    }

    /** Runs `gate` once, timed from building its DataFrame to the last row
      * of `toRdd` (every result column evaluated, as Bench times it). */
    def record(gate: String, dir: String, rep: Int, planPrefix: Option[String] = None): ListMap[String, Any] = {
      val fn = queries.getOrElse(gate, throw new IllegalArgumentException(s"unknown gate: $gate"))
      val sc = spark.sparkContext
      GraftListenerBus.drain(sc) // earlier windows' events stay out of this one
      sums.clear()
      val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val gc0 = beans.map(_.getCollectionTime).sum
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val qe = fn(spark, dir).queryExecution
      val planned = qe.executedPlan.toString // forces analysis → physical planning
      val t1 = System.nanoTime()
      qe.toRdd.count()
      val t2 = System.nanoTime()
      val cpuNs = os.getProcessCpuTime - cpu0
      val gcMs = beans.map(_.getCollectionTime).sum - gc0
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
      GraftListenerBus.drain(sc)
      planPrefix.foreach { p =>
        val out = Paths.get(s"$p$gate.txt").toAbsolutePath
        Files.createDirectories(out.getParent)
        Files.writeString(out, qe.explainString(FormattedMode))
      }
      val phases = qe.tracker.phases
      val streamParts = sums.keySet.asScala.toSeq.filter(_.startsWith("stream.")).sorted
      ListMap[String, Any](
        "gate" -> gate, "rep" -> rep,
        "wall" -> (t2 - t0) / 1e9, "build" -> (t1 - t0) / 1e9, "exec" -> (t2 - t1) / 1e9) ++
        Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
          .flatMap(k => phases.get(k).map(p => k -> (p.endTimeMs - p.startTimeMs) / 1e3)) ++
        ListMap[String, Any](
          "jobs" -> sum("jobs"), "stages" -> sum("stages"), "stage_wall_s" -> sum("stage_wall_ms") / 1e3,
          "task_s" -> sum("task_ms") / 1e3, "executor_cpu_s" -> sum("executor_cpu_ns") / 1e9,
          "task_gc_s" -> sum("task_gc_ms") / 1e3,
          "shuffle_read_bytes" -> sum("shuffle_read_bytes"), "shuffle_write_bytes" -> sum("shuffle_write_bytes"),
          "spill_bytes" -> sum("spill_bytes"), "fetch_wait_s" -> sum("fetch_wait_ms") / 1e3,
          "process_cpu_s" -> cpuNs / 1e9, "jvm_gc_s" -> gcMs / 1e3, "heap_used_mb" -> heapMb,
          "exchanges" -> planned.linesIterator.count(_.contains("Exchange")),
          "codegen_spans" -> collect(qe.executedPlan) { case w: WholeStageCodegenExec => w }.size,
          "batches" -> sum("batches")) ++
        streamParts.map(k => k.stripPrefix("stream.") -> sum(k) / 1e3)
    }
  }
}
