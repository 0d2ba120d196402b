package graft
object Bench {

  /** Extract the `"queries":{...}` per-query map out of one of our own
    * bench JSON lines (the format is ours, written below — a regex is
    * enough; no JSON library in the unmanaged classpath contract). */
  private[graft] def parseQueries(line: String): Map[String, Double] = parseMap(line, "queries")

  /** The `"first_rep":{...}` map of a bench line: each gate's first-rep
    * wall time (empty on lines written before the field existed). */
  private[graft] def parseFirstReps(line: String): Map[String, Double] = parseMap(line, "first_rep")

  /** The per-gate map of field `name` of one of our own bench lines. */
  private def parseMap(line: String, name: String): Map[String, Double] = {
    val key = "\"" + name + "\":{"
    val start = line.indexOf(key)
    if (start < 0) Map.empty
    else {
      val body = line.substring(start + key.length, line.indexOf('}', start))
      """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  private def jsonMap(qs: Map[String, Double]): String =
    qs.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** One bench line: `qs` (per-gate medians) as `queries` and their total,
    * then `first_rep`, each gate's first-rep wall time — the cold cost
    * (per-session memoized work, first JIT) that the median of the reps
    * hides — then `extra`. */
  private[graft] def jsonLine(qs: Map[String, Double], firstReps: Map[String, Double],
      sfDir: String, extra: String = ""): String = {
    val total = if (qs.nonEmpty) qs.values.sum else 0.0
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jsonMap(qs)},"sf":"$sfDir",""" +
      s""""first_rep":${jsonMap(firstReps)}$extra}"""
  }

  /** Numeric field extractor for our own bench JSON lines (same regex
    * contract as [[parseQueries]]): the value of `"name":1.23`, if present. */
  private[graft] def parseField(line: String, name: String): Option[Double] =
    ("\"" + name + "\":(-?[0-9.]+)").r.findFirstMatchIn(line).map(_.group(1).toDouble)

  /** LOWER median (even lengths take the smaller middle element): timing
    * noise on a shared container is one-sided — contention inflates a
    * sample, nothing deflates one — so when two samples disagree the
    * smaller is the better estimate of the true cost. The upper-median
    * variant let a single dirty prior run dominate a clean rerun
    * (median-of-2 = max; that is exactly how the r8 dirty window poisoned
    * the r9 clean rerun's merged artifact). */
  private def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.length - 1) / 2)

  /** Uniform-drift (contended-window) detector. Container contention
    * inflates EVERY query in a window by roughly the same factor —
    * r8-r10 all diagnosed such windows by hand from NOTES narrative.
    * This makes the artifact self-identifying: per shared query compute
    * this run's time over its HISTORICAL FLOOR (the min across prior
    * clean same-sf runs — contention only ever inflates, so the min is
    * the best true-cost estimate), restrict to queries with a
    * non-trivial floor (tiny queries are JVM-noise-dominated), and flag
    * contended when the MEDIAN ratio exceeds `threshold`: a real
    * regression moves few queries, contention moves the middle of the
    * whole distribution. Returns None (unknown) when fewer than
    * `minShared` queries qualify — a fresh history or a gate-set break
    * must not masquerade as a clean verdict. */
  private[graft] def contendedFlag(
      current: Map[String, Double],
      priors: Seq[Map[String, Double]],
      threshold: Double = 1.15,
      minFloorSec: Double = 0.2,
      minShared: Int = 20): Option[Boolean] = {
    val floors: Map[String, Double] = priors.flatten
      .groupMapReduce(_._1)(_._2)(math.min)
      .filter { case (_, f) => f >= minFloorSec }
    val ratios = current.toSeq.collect {
      case (q, v) if v > 0 && floors.contains(q) => v / floors(q)
    }
    if (ratios.size < minShared) None else Some(median(ratios) > threshold)
  }

  /** Code-independent container speed probe: a fixed xorshift64 ALU loop,
    * timed single-threaded and at `threads`-wide saturation. Motivated by
    * the r15 attribution: the SAME r13 binary re-run on the r15 container
    * read a 1.32× median over its own clean-era window (1.97× over
    * all-time floors) — the contended flag compares against floors set on
    * faster container instantiations (host clock/turbo drift; this VM
    * exposes no cpufreq and steal reads ~2%, so drift is otherwise
    * invisible). Recording a deterministic probe per window lets any later
    * reader separate "container slow" (probe up, uniform query inflation)
    * from "code slow" (probe flat, specific queries up) without needing a
    * same-code rerun. Pure ALU with the result kept observable, so neither
    * JIT elision nor allocation/GC state can skew it; one warm-up pass so
    * the measured loop is compiled code. */
  private[graft] def cpuProbe(
      threads: Int,
      Iters: Long = 1000000000L): (Double, Double) = {
    def burn(iters: Long, seed: Long): Long = {
      var x = seed | 1L
      var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    var sink = burn(Iters / 20, 0x9E3779B97F4A7CL) // JIT warm-up
    val t1 = System.nanoTime()
    sink ^= burn(Iters, 42L)
    val oneT = (System.nanoTime() - t1) / 1e9
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t2 = System.nanoTime()
    val futs = (1 to threads).map { s =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = burn(Iters, s.toLong)
      })
    }
    sink ^= futs.map(_.get()).reduce(_ ^ _)
    val nT = (System.nanoTime() - t2) / 1e9
    pool.shutdown()
    if (sink == 0) System.err.println("cpuProbe sink") // keep `sink` live
    (oneT, nT)
  }

  /** The cpu count of the record window (the 8-cpu window is a second,
    * separate run). */
  private[graft] val RecordCpus = 32

  /** bench_out.json is the artifact of record AT THE RECORD'S SCALE (sf0.1,
    * [[RecordCpus]]) — only clean FULL runs at that scale replace it. A
    * clean full run at another sf (an sf0.001 smoke) or another cpu count
    * (the 8-cpu window) writes its own `bench_out[_<sf>][_c<cpus>].json`
    * instead of clobbering the record. */
  private[graft] def outFileName(sfDir: String, cpus: Int): String = {
    val base = java.nio.file.Paths.get(sfDir).getFileName.toString
    "bench_out" + (if (base == "sf0.1") "" else s"_$base") +
      (if (cpus == RecordCpus) "" else s"_c$cpus") + ".json"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local()
    // absorb parquet-reader init so it isn't billed to whichever query
    // happens to run first; iterate in name order for stable runs
    graft.sources.Tables.load(spark, sfDir, "region").count()
    // median of 3 runs per query: single-shot timings vary ±20% on this
    // container (BASELINE.md), which round 2 showed is enough to turn a
    // sub-second query into a phantom outlier
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // dev knobs: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the set;
    // SPARK_GRAFT_BENCH_VERBOSE=1 prints per-rep times to stderr
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val verbose = sys.env.contains("SPARK_GRAFT_BENCH_VERBOSE")
    val timed = scala.collection.immutable.ListMap(
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => only.forall(_.contains(q._1))): _*).map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // toRdd.count() evaluates the FULL result rows; a DataFrame
        // .count() would let column pruning skip every projected column a
        // map-only query exists to compute (a 38 s/row-pass operator once
        // benched as 0.2 s this way — NOTES.md round 4)
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            // a swallowed throw "runs" in ~0.05 s and corrupts every
            // downstream median (VERDICT r6 #3) — record the failure
            System.err.println(s"BENCH FAILED $name: ${e.toString.linesIterator.next()}")
            false
          }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      if (verbose) System.err.println(s"BENCHREP $name ${times.map(t => f"$t%.2f").mkString(" ")}")
      name -> ((if (times.contains(-1.0)) -1.0 else median(times), times.head))
    }
    val results = timed.map { case (name, (m, _)) => name -> m }
    val firstReps = timed.map { case (name, (_, first)) => name -> first }
    val failedNames = results.collect { case (n, v) if v < 0 => n }.toSeq
    if (failedNames.nonEmpty)
      System.err.println(s"BENCH ${failedNames.size} FAILED queries: ${failedNames.mkString(", ")}")

    // The artifact of record is the per-query MEDIAN across runs, not one
    // noisy sample (VERDICT r5 #3): each invocation appends its own
    // (already median-of-reps) map to bench_history.jsonl, and bench_out
    // .json + the final stdout line report the per-query median over the
    // last <=3 same-sf runs — one run passes through unchanged; repeated
    // end-of-round runs converge on the cross-run median automatically.
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val histPath = Paths.get("bench_history.jsonl")
    // heap_gb: -Xmx actually in force. Windows get collected on both the
    // 8 g default and the 48 g bench heap; allocation-heavy gates read
    // differently across those regimes, so the artifact records which one
    // it ran under instead of leaving it to narrative.
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // probe AFTER the queries (a ~3 s saturated-CPU burn in front of the
    // first measured query would perturb it, and here it times the same
    // container state the window just ran under) but BEFORE the history
    // append, so every history line carries its own calibration — floors
    // read back later can be normalized for container drift.
    val (probe1t, probeNt) = cpuProbe(cpus)
    // cpus is part of the calibration record (VERDICT r15 #2): the driver
    // runs Bench at BOTH 32 and 8 cpus against the same history file, and
    // before this field existed the 8-cpu window was merged into the 32-cpu
    // cross-run medians (bench_out.json r15) — same-sf is not enough.
    val envExtra = s""","cpus":$cpus,"heap_gb":${fmt(heapGb)},""" +
      s""""cpu_probe_1t":${fmt(probe1t)},"cpu_probe_nt":${fmt(probeNt)}"""
    val thisRun = jsonLine(results, firstReps, sfDir, envExtra)
    // dev subset runs (BENCH_ONLY) stay out of the history — a 4-query
    // warm-JVM sample would contaminate the full run's cross-run medians —
    // and so does ANY run with failures: r6's history carried 57 ~0.05 s
    // "timings" of queries that threw at analysis (VERDICT r6 #3)
    if (only.isEmpty && failedNames.isEmpty) {
      try Files.write(histPath, (thisRun + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      catch { case e: java.io.IOException => System.err.println(s"bench_history append failed: $e") }
    }
    val allPriorLines: Seq[String] =
      try {
        if (only.isEmpty && Files.exists(histPath)) {
          import scala.jdk.CollectionConverters._
          Files.readAllLines(histPath).asScala.toSeq
            .filter(_.contains("\"sf\":\"" + sfDir + "\""))
            // cross-run merging is PER QUERY, so runs don't need identical
            // key sets — requiring equality is exactly what let BENCH_r09
            // record one contended raw window: the gate set grew 164 → 165
            // on the session's last commit, every prior clean run was
            // discarded, and the driver's single noisy sample shipped
            // unsmoothed. History holds only clean FULL runs (subset runs
            // are never appended), so any run covering most of the current
            // set is a valid sample for the queries it shares; the 80%
            // floor keeps ancient small-era runs out.
            .filter(parseQueries(_).keySet.intersect(results.keySet).size >= results.size * 8 / 10)
            // a failing run was never appended, so this run is on disk only
            // when it was clean
            .dropRight(if (failedNames.isEmpty) 1 else 0)
        } else Nil
      } catch { case _: java.io.IOException => Nil }
    // the contended detector sees ALL prior clean same-cpus runs — its
    // floor is historical, not windowed. Lines recording a DIFFERENT cpu
    // count are excluded (per-query floors at 8 cpus are not floors for a
    // 32-cpu window); legacy lines with no cpus field stay in the floor
    // pool — min-aggregation means a slower-era line can't poison a floor.
    val cpusTag = "\"cpus\":" + cpus + ","
    val floorLines = allPriorLines.filter(l => !l.contains("\"cpus\":") || l.contains(cpusTag))
    val contended = contendedFlag(results, floorLines.map(parseQueries))
    // Merging window = 3 runs (this + last 2 CLEAN MATCHED runs). Matched =
    // records the same cpus explicitly (legacy lines predate the field and
    // include one 8-cpu driver window — retired from merging wholesale) AND
    // its cpu_probe_nt is within 15% of the era median probe (a contended
    // container inflates every query uniformly; r15's 247 s window sat at
    // the worst probe on record and poisoned the 3-window median set —
    // VERDICT r15 #2).
    val sameCpuLines = allPriorLines.filter(_.contains(cpusTag))
    val probeEra = sameCpuLines.flatMap(parseField(_, "cpu_probe_nt")) :+ probeNt
    val probeCut = median(probeEra) * 1.15
    val priorRuns = sameCpuLines
      .filter(parseField(_, "cpu_probe_nt").forall(_ <= probeCut))
      .map(parseQueries)
      .takeRight(2)
    // the replay-harness config that shaped every st* line (VERDICT r13
    // #7): without it in the artifact, a harness change (partitions, tmpfs
    // vs local checkpoints) is indistinguishable from code drift in a
    // later regression hunt
    val contendedExtra = s""","contended":${contended.map(_.toString).getOrElse("null")},""" +
      s""""replay_partitions":${graft.streaming.ReplayEnv.DefaultPartitions},""" +
      s""""ckpt_backend":"${graft.streaming.ReplayEnv.checkpointBackend}"""" +
      envExtra
    val merged = results.map { case (name, v) =>
      // a failure stays a visible -1 — merging it into clean prior medians
      // would hide the breakage from the driver's artifact
      name -> (if (v < 0) -1.0 else median(priorRuns.flatMap(_.get(name)).filter(_ >= 0) :+ v))
    }
    // first_rep stays this run's own: a cold cost is not merged across runs
    val line = jsonLine(merged, firstReps, sfDir, contendedExtra)
    if (only.isEmpty && failedNames.isEmpty) {
      val outName = outFileName(sfDir, cpus)
      try Files.write(Paths.get(outName), (line + "\n").getBytes("UTF-8"))
      catch { case e: java.io.IOException => System.err.println(s"$outName write failed: $e") }
    }
    // stop FIRST so nothing (shutdown warnings, progress lines) can land on
    // stdout after the JSON: the driver parses the FINAL stdout line, and
    // BENCH_r05's tail captured the line head-truncated (VERDICT r5 #3).
    // ERROR level first: the streaming StateStore maintenance thread logs a
    // WARN + stack trace AFTER stop() (SparkEnv already gone — a benign
    // shutdown race) which would otherwise be the last thing in a merged
    // stdout+stderr capture.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(line)
    // The full per-query line is ~8 KB at 140+ queries and overflows the
    // driver's tail capture, which then starts mid-line and fails to parse
    // (BENCH_r05..r07 all have "parsed": null — VERDICT r7 #3). The driver
    // parses the FINAL stdout line, so emit a short summary line last; the
    // full per-query map stays above (and in bench_out.json / history).
    val total = merged.values.filter(_ >= 0).sum
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{},"sf":"$sfDir","nq":${merged.size},"failed":${failedNames.size}$contendedExtra}""")
    System.out.flush()
  }
}
