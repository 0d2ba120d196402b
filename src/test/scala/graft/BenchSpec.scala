package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure tests for the bench harness's self-diagnostics — no Spark.
  * The contended-window detector (VERDICT r10 task 5) must classify a
  * uniformly-inflated window as contended, a clean window as clean, a
  * single-query regression as NOT contended, and refuse a verdict when
  * the shared history is too thin to mean anything. */
class BenchSpec extends AnyFunSuite {

  // 30 queries with floors 0.3..3.2 s — all above the 0.2 s noise cut
  private val floor: Map[String, Double] =
    (1 to 30).map(i => f"q$i%02d" -> (0.2 + i * 0.1)).toMap
  private val history = Seq(
    floor.map { case (k, v) => k -> v * 1.05 }, // a slightly-warm run
    floor)                                      // the floor run

  test("uniform 30% inflation over the historical floor flags contended") {
    val noisy = floor.map { case (k, v) => k -> v * 1.30 }
    assert(Bench.contendedFlag(noisy, history).contains(true))
  }

  test("a clean window at floor is not contended") {
    val clean = floor.map { case (k, v) => k -> v * 1.02 }
    assert(Bench.contendedFlag(clean, history).contains(false))
  }

  test("one real 5x regression does not flag the window (median, not mean)") {
    val oneBad = floor.updated("q15", floor("q15") * 5.0)
    assert(Bench.contendedFlag(oneBad, history).contains(false))
  }

  test("the floor is the MIN across all prior runs, not the latest") {
    // latest run was itself contended at 1.4x; current at 1.3x over the
    // true floor must still flag — a dirty prior must not raise the bar
    val dirtyLatest = floor.map { case (k, v) => k -> v * 1.4 }
    val noisy = floor.map { case (k, v) => k -> v * 1.30 }
    assert(Bench.contendedFlag(noisy, history :+ dirtyLatest).contains(true))
  }

  test("no verdict without enough shared non-trivial queries") {
    // empty history
    assert(Bench.contendedFlag(floor, Nil).isEmpty)
    // only 5 shared queries — below the minShared floor
    val tiny = floor.take(5)
    assert(Bench.contendedFlag(tiny, Seq(tiny)).isEmpty)
    // floors all below the 0.2 s cut: JVM noise, no verdict
    val sub = (1 to 30).map(i => f"s$i%02d" -> 0.05).toMap
    assert(Bench.contendedFlag(sub, Seq(sub)).isEmpty)
  }

  test("failed (-1) entries in the current run are excluded from the ratio pool") {
    val noisy = floor.map { case (k, v) => k -> v * 1.30 }.updated("q01", -1.0)
    assert(Bench.contendedFlag(noisy, history).contains(true))
  }

  test("parseQueries survives the contended suffix on a bench line") {
    val line = """{"metric":"total","value":1.5,"unit":"sec","queries":{"a":0.5,"b":1.0},"sf":"/x/sf0.1","contended":false}"""
    assert(Bench.parseQueries(line) == Map("a" -> 0.5, "b" -> 1.0))
  }

  test("cpuProbe returns positive single- and multi-thread timings") {
    // tiny iteration count: the test checks mechanics (warm-up, pool
    // teardown, sink liveness), not container speed
    val (one, many) = Bench.cpuProbe(threads = 4, Iters = 2000000L)
    assert(one > 0.0 && many > 0.0)
    assert(one < 30.0 && many < 30.0) // sanity: 2M ALU iterations are fast
  }

  test("only a run at the record's sf and cpus writes bench_out.json") {
    assert(Bench.outFileName("/x/sf0.1", Bench.RecordCpus) == "bench_out.json")
    assert(Bench.outFileName("/x/sf0.1", 8) == "bench_out_c8.json")
    assert(Bench.outFileName("/x/sf0.001", Bench.RecordCpus) == "bench_out_sf0.001.json")
    assert(Bench.outFileName("/x/sf0.001", 4) == "bench_out_sf0.001_c4.json")
  }

  test("parseField extracts calibration fields from a history line") {
    val line = """{"metric":"total","value":1.5,"queries":{"a":0.5},"sf":"/x/sf0.1","cpus":32,"heap_gb":48.0000,"cpu_probe_1t":1.9064,"cpu_probe_nt":2.4444}"""
    assert(Bench.parseField(line, "cpu_probe_nt").contains(2.4444))
    assert(Bench.parseField(line, "cpus").contains(32.0))
    assert(Bench.parseField(line, "not_there").isEmpty)
    // legacy lines predate the cpus field entirely
    val legacy = """{"metric":"total","value":1.5,"queries":{"a":0.5},"sf":"/x/sf0.1"}"""
    assert(Bench.parseField(legacy, "cpus").isEmpty)
  }

  test("parseQueries ignores the env-calibration suffix on a history line") {
    val line = """{"metric":"total","value":1.5,"unit":"sec","queries":{"a":0.5},"sf":"/x/sf0.1","heap_gb":48.0,"cpu_probe_1t":1.23,"cpu_probe_nt":1.45}"""
    assert(Bench.parseQueries(line) == Map("a" -> 0.5))
  }

  test("a bench line carries each gate's first rep next to its median") {
    val line = Bench.jsonLine(Map("a" -> 0.5, "b" -> 1.0), Map("a" -> 9.6, "b" -> 1.25), "/x/sf0.1",
      ""","cpus":4,"heap_gb":4.0000""")
    assert(line.startsWith("""{"metric":"total","value":1.5000,"unit":"sec","queries":{"a":0.5000,"b":1.0000},"sf":"/x/sf0.1","""))
    assert(Bench.parseQueries(line) == Map("a" -> 0.5, "b" -> 1.0))
    assert(Bench.parseFirstReps(line) == Map("a" -> 9.6, "b" -> 1.25))
    assert(Bench.parseField(line, "cpus").contains(4.0))
    // history lines written before the field have no first reps
    assert(Bench.parseFirstReps("""{"metric":"total","queries":{"a":0.5},"sf":"/x/sf0.1"}""").isEmpty)
  }
}
