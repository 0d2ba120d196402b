package syncbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** Everything one run reports: metrics with units and sample counts, the
  * operations attempted and failed, and the run stamp. */
final class Report(o: SyncBench.Opts) {
  final case class M(value: Double, unit: String, samples: Int)
  private val e2eMetrics = mutable.LinkedHashMap.empty[String, M]
  private val layerMetrics = mutable.LinkedHashMap.empty[String, M]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failedChecks = 0L
  var stateHash = ""
  var referenceHash = ""
  private var setupS = Double.NaN

  /** Set-up runs from JVM start (Spark session; on tip, the history copy,
    * its load and the stream start) to the first timed operation. */
  def setupDone(): Unit =
    setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def attempt(): Unit = attempted += 1
  def fail(msg: String): Unit = { failures += msg; failedChecks += 1 }
  def check(ok: Boolean, msg: => String): Unit = { attempted += 1; if (!ok) fail(msg) }
  def ok: Boolean = failures.isEmpty && attempted > 0

  def e2e(name: String, v: Double, unit: String, n: Int): Unit = e2eMetrics(name) = M(v, unit, n)
  def layer(name: String, v: Double, unit: String, n: Int): Unit = layerMetrics(name) = M(v, unit, n)

  /** GC, heap and a fixed CPU probe at 1 and `nproc` threads: separates a
    * slow container from slow code. */
  def jvmAndHost(): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    layer("jvm.gc_s", gcMs / 1000.0, "s", 1)
    layer("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB", 1)
    layer("host.cpu_probe_1t_s", Report.cpuProbe(1), "s", 1)
    layer("host.cpu_probe_nt_s", Report.cpuProbe(Report.Cpus), "s", 1)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(ms: Iterable[(String, M)]): String =
    ms.map { case (k, m) => s""""$k":{"value":${fmt(m.value)},"unit":"${m.unit}"}""" }.mkString("{", ",", "}")

  def emit(): Unit = {
    if (!setupS.isNaN) e2e("setup_s", setupS, "s", 1)
    val failed = failedChecks
    e2e("error_rate", if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio", attempted.toInt)
    val stamp = Seq(
      "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"), "commit" -> s""""${o.commit}"""",
      "cpus" -> Report.Cpus.toString, "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_master" -> s""""local[${Report.Cpus}]"""",
      "shape" -> SyncBench.Shape.getClass.getDeclaredFields.filterNot(_.getName == "MODULE$").map { f =>
        f.setAccessible(true); s""""${f.getName}":${f.get(SyncBench.Shape)}"""
      }.mkString("{", ",", "}"),
      "state_hash" -> s""""$stateHash"""", "reference_hash" -> s""""$referenceHash"""")
    println(s"# syncbench ${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0} " +
      s"cpus=${Report.Cpus} heap=${Runtime.getRuntime.maxMemory / 1048576}MB commit=${o.commit}")
    (e2eMetrics ++ layerMetrics).foreach { case (k, m) =>
      println(f"# $k%-32s ${fmt(m.value)}%14s ${m.unit}%-6s (n=${m.samples})")
    }
    failures.foreach(f => println(s"# CHECK FAILED: $f"))
    val line = (stamp ++ Seq(
      "correct" -> ok.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> metricsJson(e2eMetrics), "per_layer" -> metricsJson(layerMetrics),
      "samples" -> (e2eMetrics ++ layerMetrics).map { case (k, m) => s""""$k":${m.samples}""" }.mkString("{", ",", "}")))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.createDirectories(o.out)
    Files.write(o.out.resolve("history.jsonl"), (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // the result line carries exactly the declared metrics; a layer that
    // does not run on this workload reads 0
    val shown =
      if (o.trace) Report.PerLayer.map { case (k, u) => k -> layerMetrics.getOrElse(k, M(0.0, u, 0)) }
      else Report.EndToEnd.flatMap { case (k, _) => e2eMetrics.get(k).map(k -> _) }
    println(s"""{"correct":$ok,"attempted":${math.max(attempted, 1)},"failed":$failed,"metrics":${metricsJson(shown)}}""")
  }
}

object Report {
  val Cpus: Int = Runtime.getRuntime.availableProcessors

  /** The metrics the result line declares, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "blocks_per_s" -> "1/s",
    "commit_p50_s" -> "s", "lag_p50_s" -> "s", "disk_bytes_per_wire_byte" -> "ratio")
  val PerLayer: Seq[(String, String)] = Seq(
    "convert.decode_us_per_tx" -> "us", "convert.skipped_txs" -> "count", "convert.flatten_s" -> "s",
    "operators.fold_s" -> "s", "operators.fold_jobs" -> "count", "operators.fold_tasks" -> "count",
    "operators.fold_shuffle_bytes" -> "bytes", "operators.squash_s" -> "s", "operators.squash_jobs" -> "count",
    "operators.append_s" -> "s", "operators.append_jobs" -> "count", "operators.cut_s" -> "s",
    "operators.cut_jobs" -> "count", "operators.candles_s" -> "s", "operators.candles_jobs" -> "count",
    "operators.state_partitions" -> "count",
    "sinks.persist_s" -> "s", "sinks.persist_jobs" -> "count", "sinks.persist_bytes" -> "bytes",
    "sinks.persist_files" -> "count", "sinks.load_s" -> "s",
    "streaming.trigger_ms" -> "ms", "streaming.planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.updates_per_batch" -> "count", "streaming.backlog_max" -> "count", "streaming.gen_late_ms" -> "ms") ++
    Serve.Kinds.map(k => s"query.${k}_ms" -> "ms") ++ Seq(
    "query.mix_p50_ms" -> "ms", "query.p50_ms" -> "ms", "query.p95_ms" -> "ms", "query.plan_ms" -> "ms", "query.exec_ms" -> "ms", "query.jobs" -> "count",
    "query.bytes_read" -> "bytes", "query.files_read" -> "count",
    "convert.self_s" -> "s", "operators.self_s" -> "s", "sinks.self_s" -> "s", "streaming.self_s" -> "s",
    "trace.commit_s" -> "s", "trace.unattributed_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "host.cpu_probe_1t_s" -> "s", "host.cpu_probe_nt_s" -> "s")
  private val started = System.nanoTime()

  /** A progress line on stderr. */
  def log(msg: String): Unit = System.err.println(f"[syncbench ${(System.nanoTime() - started) / 1e9}%8.2fs] $msg")

  /** Wall time of a fixed integer workload on `threads` threads. */
  def cpuProbe(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        var x = i.toLong
        var k = 0
        while (k < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        if (x == 42) println(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
