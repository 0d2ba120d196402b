package syncbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.convert.{RawBlock, RawUpdate, TxConvert, UpdatesProto}
import graft.operators.ChainSync
import graft.operators.ChainSync.ChainState
import graft.streaming.MicroBatchPipeline
import graft.streaming.MicroBatchPipeline.UpdateEvent

/** SyncBench: replays a seeded Waves update stream through the engine's
  * sync path and serves the data-service reads from what it persisted.
  *
  *   SyncBench --workload catchup|tip --seed N --seconds S --trace 0|1
  *             --history DIR --work DIR --out DIR
  *   SyncBench --prepare DIR
  *
  * `--prepare` folds and persists the shared deep history that `tip`
  * resumes from. A run prints a report (`# ` lines), appends one stamped
  * JSON line to `<out>/history.jsonl`, writes the trace as JSONL when
  * tracing, and ends stdout with the result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. It exits 1 when
  * any output check fails.
  */
object SyncBench {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, history: Path, commit: String)

  /** Workload shape. */
  object Shape {
    val BatchBlocks = 256 // catchup batch: the reference's UPDATES_PER_REQUEST
    val TxsPerBlock = 8
    val HistorySeed = 20240101L // tip: the shared history's seed
    val HistoryBlocks = 64 // tip: key blocks of persisted history
    val PeriodMs = 2000L // tip: key block period
    val MicroTxs = 4 // tip: txs of the history's pending microblock
    val MaxWaitMs = 5000L // the production batch close
  }

  /** Trigger phases that run before the foreachBatch handler. */
  private val PreHandler = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit")
  import Shape._

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    kv.get("prepare") match {
      case Some(dir) => prepare(State.path(dir))
      case None => run(parse(kv))
    }
  }

  private def parse(kv: Map[String, String]): Opts = {
    val w = kv.getOrElse("workload", "")
    require(Set("catchup", "tip")(w), s"unknown workload '$w' (catchup|tip)")
    val work = State.path(kv.getOrElse("work", ".bench_work"))
    Files.createDirectories(work)
    Opts(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "4").toInt,
      kv.getOrElse("trace", "0") == "1", work, State.path(kv.getOrElse("out", ".bench_out")),
      State.path(kv.getOrElse("history", ".bench_build/history")), kv.getOrElse("commit", "unknown"))
  }

  private def run(o: Opts): Unit = {
    val rep = new Report(o)
    val spark = session(o.work)
    val trace = new Trace(spark, o.trace)
    try {
      if (o.workload == "catchup") catchup(spark, trace, o, rep) else tip(spark, trace, o, rep)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.fail(s"run aborted: $e")
    }
    Report.log("report")
    trace.close()
    rep.jvmAndHost()
    if (o.trace) trace.writeJsonl(o.out.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
    spark.stop()
    Report.log("stopped")
    rep.emit()
    sys.exit(if (rep.ok) 0 else 1)
  }

  /** A local session sized from the host, not from fixed core counts. */
  private def session(work: Path): SparkSession = {
    val cpus = Report.Cpus
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("syncbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** The shared history's generator: regenerates its chain model (no
    * fold), ready to continue the chain. The history ends on a microblock
    * that the first key block of the stream squashes. */
  private def historyGen(): (Gen, Vector[Wire]) = {
    val gen = new Gen(HistorySeed)
    (gen, Vector.fill(HistoryBlocks)(gen.keyBlock(TxsPerBlock)) :+ gen.microBlock(MicroTxs))
  }

  /** Fold the shared history in one call and persist it. */
  private def prepare(dir: Path): Unit = {
    val spark = session(dir.resolveSibling(dir.getFileName.toString + ".work"))
    val (gen, wires) = historyGen()
    val (ups, skipped) = State.decode(wires.map(_.bytes))
    require(skipped == 0, s"$skipped txs skipped in the history")
    ChainSync.persist(ChainSync.handleUpdates(spark, ChainSync.emptyState(spark), ups, gen.config), dir.toString)
    spark.stop()
  }

  // ---- catchup: backfill from genesis, one 256-block batch in flight ------

  private def catchup(spark: SparkSession, trace: Trace, o: Opts, rep: Report): Unit = {
    import spark.implicits._
    val gen = new Gen(o.seed)
    val dir = o.work.resolve("state")
    var state = ChainSync.emptyState(spark)
    var skipped = 0
    final case class B(commitS: Double, blocks: Int, txs: Int, decodeS: Double)
    val done = mutable.ArrayBuffer.empty[B]
    val persisted = mutable.ArrayBuffer.empty[Long]
    val applied = mutable.ArrayBuffer.empty[Seq[RawUpdate]] // traced: each batch's updates
    rep.setupDone()

    // closed loop: the next batch is handed in when the previous one is
    // published; the source always has it ready (generated off the clock)
    while (done.map(_.commitS).sum < o.seconds || done.isEmpty) {
      val b = done.size
      val wires = Vector.fill(BatchBlocks)(gen.keyBlock(TxsPerBlock))
      rep.attempt()
      Report.log(s"catchup: batch $b")
      done += trace.span("batch", b) {
        val t0 = now()
        val (ups, sk) = trace.span("convert.decode", b)(State.decode(wires.map(_.bytes)))
        val t1 = now()
        skipped += sk
        if (trace.enabled) applied += ups
        val folded =
          if (trace.enabled) State.tracedFold(spark, trace, state, ups, gen.config, b)
          else ChainSync.handleUpdates(spark, state, ups, gen.config)
        trace.span("sinks.persist", b)(ChainSync.persist(folded, dir.toString, b.toLong))
        state = folded
        B(secs(t0, now()), wires.count(_.isKey), wires.map(_.txs).sum, secs(t0, t1))
      }
      if (trace.enabled) {
        persisted += State.versionFiles(dir, State.currentVersion(dir))
        // the convert layer alone: flatten + 18-way convert of the batch,
        // forced by a noop write, off the commit path
        trace.span("convert.flatten", b) {
          val blocks = wires.map(w => UpdatesProto.decode(w.bytes)._1).collect { case r: RawBlock => r }
          val ids = blocks.zipWithIndex.map { case (r, i) => (r.id, i.toLong) }.toDF("id", "uid")
          TxConvert.convert(TxConvert.withBlockUids(TxConvert.flatten(spark, blocks), ids))
            .values.foreach(_.write.format("noop").mode("overwrite").save())
        }
      }
    }

    Report.log("catchup: checks")
    val n = done.size
    val commits = done.map(_.commitS)
    rep.e2e("blocks_per_s", done.map(_.blocks).sum / commits.sum, "1/s", n)
    rep.e2e("commit_p50_s", Stats.median(commits), "s", n)
    // closed loop: a block is due when its batch is handed in
    rep.e2e("lag_p50_s", Stats.median(commits), "s", n)
    rep.e2e("disk_bytes_per_wire_byte", State.publishedBytes(dir).toDouble / gen.wireBytes, "ratio", 1)
    rep.layer("convert.decode_us_per_tx", Stats.median(done.map(b => b.decodeS * 1e6 / b.txs)), "us", n)
    rep.layer("convert.skipped_txs", skipped, "count", n)
    rep.check(skipped == 0, s"$skipped txs skipped in decode")
    val loaded = timedLoad(spark, trace, rep, dir)
    checkState(rep, gen, state, loaded, referenceFold(spark, trace, ChainSync.emptyState(spark), applied, gen))
    if (trace.enabled) {
      trace.drain()
      foldLayers(trace, rep, done.indices)
      rep.layer("convert.flatten_s", Stats.median(trace.named("convert.flatten").map(_.durS)), "s", n)
      rep.layer("sinks.persist_files", Stats.median(persisted.map(_.toDouble)), "count", n)
      rep.layer("operators.state_partitions", State.maxPartitions(state), "count", 1)
      selfTimes(trace, rep, trace.named("batch").map(r => (r, trace.spans.filter(_.parent == r.id).toSeq, Map.empty)))
    }
  }

  private def timedLoad(spark: SparkSession, trace: Trace, rep: Report, dir: Path): ChainState = {
    val t0 = now()
    val loaded = trace.span("sinks.load")(ChainSync.load(spark, dir.toString))
    rep.layer("sinks.load_s", secs(t0, now()), "s", 1)
    loaded
  }

  private val Layers = Seq("convert", "operators", "sinks", "streaming")

  /** Per batch, each layer's self time: that of its spans under the batch's
    * root, plus `extra` time measured outside any span (the trigger's own
    * phases). The root itself is booked to no layer: the part of the traced
    * commit (`trace.commit_s`) that no layer accounts for is reported as
    * `trace.unattributed_s`. */
  private def selfTimes(trace: Trace, rep: Report,
      batches: Seq[(Trace.Span, Seq[Trace.Span], Map[String, Double])]): Unit = {
    val perBatch = batches.map { case (root, tops, extra) =>
      val self = trace.layerSelf(tops)
      root.durS -> Layers.map(l => l -> (self.getOrElse(l, 0.0) + extra.getOrElse(l, 0.0))).toMap
    }
    val n = perBatch.size
    Layers.foreach(l => rep.layer(s"$l.self_s", Stats.median(perBatch.map(_._2(l))), "s", n))
    rep.layer("trace.commit_s", Stats.median(perBatch.map(_._1)), "s", n)
    rep.layer("trace.unattributed_s", Stats.median(perBatch.map { case (c, s) => c - s.values.sum }), "s", n)
  }

  /** Traced runs only: the same batches folded by `ChainSync.handleUpdates`
    * itself, one call per batch as the untraced run makes them, off the
    * clock. The traced fold must end in the same state. */
  private def referenceFold(spark: SparkSession, trace: Trace, initial: => ChainState,
      batches: Iterable[Seq[RawUpdate]], gen: Gen): Option[ChainState] =
    if (!trace.enabled) None
    else {
      Report.log("reference fold")
      Some(batches.foldLeft(initial)((s, ups) => ChainSync.handleUpdates(spark, s, ups, gen.config)))
    }

  /** Per-batch fold and persist attribution from the trace. */
  private def foldLayers(trace: Trace, rep: Report, batches: Seq[Int]): Unit = {
    val n = batches.size
    def perBatch(name: String)(f: Seq[Trace.Span] => Double): Double = {
      val byBatch = trace.named(name).groupBy(_.batch)
      Stats.median(batches.map(b => f(byBatch.getOrElse(b, Nil))))
    }
    def jobs(ss: Seq[Trace.Span]): Seq[Trace.Job] = ss.flatMap(trace.jobsUnder)
    def time(name: String) = perBatch(name)(_.map(_.durS).sum)
    def count(name: String) = perBatch(name)(jobs(_).size.toDouble)
    rep.layer("operators.fold_s", time("operators.fold"), "s", n)
    rep.layer("operators.fold_jobs", count("operators.fold"), "count", n)
    rep.layer("operators.fold_tasks", perBatch("operators.fold")(jobs(_).map(_.tasks).sum.toDouble), "count", n)
    rep.layer("operators.fold_shuffle_bytes",
      perBatch("operators.fold")(jobs(_).map(j => j.shuffleRead + j.shuffleWrite).sum.toDouble), "bytes", n)
    Seq("squash", "append", "cut").foreach { k =>
      rep.layer(s"operators.${k}_s", time(s"operators.$k"), "s", n)
      rep.layer(s"operators.${k}_jobs", count(s"operators.$k"), "count", n)
    }
    def candles(ss: Seq[Trace.Span]) = jobs(ss).filter(_.site.startsWith("Candles.scala"))
    rep.layer("operators.candles_s", perBatch("operators.fold")(candles(_).map(_.durS).sum), "s", n)
    rep.layer("operators.candles_jobs", perBatch("operators.fold")(candles(_).size.toDouble), "count", n)
    rep.layer("sinks.persist_s", time("sinks.persist"), "s", n)
    rep.layer("sinks.persist_jobs", count("sinks.persist"), "count", n)
    rep.layer("sinks.persist_bytes", perBatch("sinks.persist")(jobs(_).map(_.bytesWritten).sum.toDouble), "bytes", n)
  }

  // ---- tip: live following through the streaming trigger -----------------

  private def tip(spark: SparkSession, trace: Trace, o: Opts, rep: Report): Unit = {
    import spark.implicits._
    val (gen, _) = historyGen()
    gen.reseed(o.seed)
    val dir = o.work.resolve("state")
    copyTree(o.history, dir)
    val resumed = timedLoad(spark, trace, rep, dir)

    val baseNs = now()
    def ms(t: Long): Double = (t - baseNs) / 1e6
    val published = new ConcurrentHashMap[Long, Double]()
    @volatile var last: ChainState = resumed
    @volatile var persistFiles = 0L
    val onBatch = (s: ChainState, id: Long) => {
      Report.log(s"tip: batch $id folded")
      trace.span("sinks.persist", id.toInt)(ChainSync.persist(s, dir.toString, id))
      published.put(id, ms(now()))
      if (trace.enabled) persistFiles = State.versionFiles(dir, State.currentVersion(dir))
      last = s
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Array[Byte]]
    val events = input.toDS().map(b => UpdateEvent(UpdatesProto.decode(b)._1))
    val lastApplied = ChainSync.lastAppliedBatch(spark, dir.toString)
    val applied = mutable.ArrayBuffer.empty[Seq[RawUpdate]] // traced: each batch's updates
    Report.log("tip: stream starts")
    val query =
      if (!trace.enabled)
        MicroBatchPipeline.startChainSync(spark, events, resumed, gen.config, onBatch,
          MaxWaitMs, lastAppliedBatch = lastApplied)
      else {
        // startChainSync's loop over the same source and plan, with the fold
        // through the program's public pieces, one span each
        var state = resumed
        var resumeCheck = resumed.maxBlockUid > 0
        MicroBatchPipeline.start[UpdateEvent](events, (df, id) => {
          // jobs report their own call sites, not the query's start site
          spark.sparkContext.clearCallSite()
          val b = id.toInt
          // decode runs inside this collect, in the source's map
          val raw = trace.span("streaming.collect", b)(df.as[UpdateEvent].collect().toSeq.map(_.toUpdate))
          val updates =
            if (resumeCheck) trace.span("operators.dedup", b)(ChainSync.dropAppliedBlocks(state, raw))
            else raw
          if (raw.nonEmpty) resumeCheck = false
          if (updates.nonEmpty) {
            applied += updates
            state = State.tracedFold(spark, trace, state, updates, gen.config, b)
            onBatch(state, id)
          }
        }, MaxWaitMs, queryName = "graft-chain-sync", lastAppliedBatch = lastApplied)
      }

    // open loop: a key block per period, generated ahead and sent when due;
    // the first squashes the history's pending microblock. The window ends a
    // second before a batch-close boundary, so a window shorter than the
    // close lands in one micro-batch.
    val schedule = (0L until math.max(1L, o.seconds * 1000L / PeriodMs))
      .map(k => (k * PeriodMs.toDouble, gen.keyBlock(TxsPerBlock)))
    rep.setupDone()
    val lead = schedule.last._1.toLong + 1000L
    val wall = System.currentTimeMillis() + lead
    Thread.sleep(MaxWaitMs - wall % MaxWaitMs)
    val emitted = mutable.ArrayBuffer.empty[(Double, Double, Int)] // (due, sent, txs) ms
    val t0 = ms(now())
    val sender = new Thread(() => schedule.foreach { case (at, w) =>
      val wait = t0 + at - ms(now())
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      input.addData(w.bytes)
      emitted.synchronized(emitted += ((t0 + at, ms(now()), w.txs)))
    }, "syncbench-generator")
    Report.log("tip: generator starts")
    sender.start()
    sender.join()
    query.processAllAvailable()
    Report.log("tip: drained")
    query.stop()
    schedule.foreach(_ => rep.attempt())

    // per batch: the updates it carried (MemoryStream offsets count
    // addData calls), when it was handed in, and when it was published
    final case class Batch(id: Long, from: Int, to: Int, startMs: Double, pubMs: Double,
        planMs: Double, triggerMs: Double, addMs: Double, preMs: Double)
    val epochOffsetMs = System.currentTimeMillis() - ms(now())
    val batches = query.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && published.containsKey(p.batchId)).map { p =>
      val src = p.sources.head
      def offset(s: String): Int = Option(s).map(_.trim).filter(_.matches("-?\\d+")).map(_.toInt).getOrElse(-1)
      def d(key: String): Double = Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)
      Batch(p.batchId, offset(src.startOffset) + 1, offset(src.endOffset),
        java.time.Instant.parse(p.timestamp).toEpochMilli - epochOffsetMs, published.get(p.batchId),
        d("queryPlanning"), d("triggerExecution"), d("addBatch"), PreHandler.map(d).sum)
    }.sortBy(_.id)
    val lags = emitted.indices.flatMap { i =>
      batches.find(b => i >= b.from && i <= b.to).map(b => (b.pubMs - emitted(i)._1) / 1000.0)
    }
    rep.check(lags.size == emitted.size, s"${emitted.size - lags.size} updates were never published")
    val commits = batches.map(b => (b.pubMs - b.startMs) / 1000.0)
    val n = batches.size
    rep.e2e("blocks_per_s", schedule.size / ((batches.map(_.pubMs).max - t0) / 1000.0), "1/s", n)
    rep.e2e("commit_p50_s", Stats.median(commits), "s", n)
    rep.e2e("lag_p50_s", Stats.median(lags), "s", lags.size)
    rep.e2e("disk_bytes_per_wire_byte", State.publishedBytes(dir).toDouble / gen.wireBytes, "ratio", 1)

    Report.log("tip: serve")
    val loaded = timedLoad(spark, trace, rep, dir)
    serve(spark, trace, o, rep, gen, last, loaded)
    Report.log("tip: checks")
    // the history as persisted, not the run's copy: later persists may sweep
    // the version `resumed` was read from
    checkState(rep, gen, last, loaded,
      referenceFold(spark, trace, ChainSync.load(spark, o.history.toString), applied, gen))

    if (trace.enabled) {
      trace.drain()
      // a batch span from trigger start to publish, over the handler's spans
      val roots = batches.map(b => trace.record("streaming.batch", b.id.toInt,
        baseNs + (b.startMs * 1e6).toLong, baseNs + (b.pubMs * 1e6).toLong))
      foldLayers(trace, rep, batches.map(_.id.toInt))
      rep.layer("streaming.trigger_ms", Stats.median(batches.map(_.triggerMs)), "ms", n)
      rep.layer("streaming.planning_ms", Stats.median(batches.map(_.planMs)), "ms", n)
      rep.layer("streaming.add_batch_ms", Stats.median(batches.map(_.addMs)), "ms", n)
      rep.layer("streaming.updates_per_batch", Stats.median(batches.map(b => (b.to - b.from + 1).toDouble)), "count", n)
      rep.layer("streaming.backlog_max", batches.map(b => emitted.count(_._2 <= b.pubMs) - (b.to + 1)).max, "count", n)
      rep.layer("streaming.gen_late_ms", emitted.map(e => e._2 - e._1).max, "ms", emitted.size)
      rep.layer("operators.state_partitions", State.maxPartitions(last), "count", 1)
      rep.layer("sinks.persist_files", persistFiles.toDouble, "count", n)
      // decode runs inside the stream's collect; timed alone here, off the clock
      val decodeUs = batches.map { b =>
        val ws = schedule.slice(b.from, b.to + 1).map(_._2)
        val d0 = now()
        State.decode(ws.map(_.bytes))
        secs(d0, now()) * 1e6 / math.max(1, ws.map(_.txs).sum)
      }
      rep.layer("convert.decode_us_per_tx", Stats.median(decodeUs), "us", n)
      // the handler's spans ran in the stream thread, outside any root; the
      // trigger's phases before the handler are streaming's own time
      selfTimes(trace, rep, roots.zip(batches).map { case (r, b) =>
        (r, trace.spans.filter(s => s.parent == 0 && s.batch == r.batch && s.name != r.name &&
          s.t0 >= r.t0 && s.t1 <= r.t1).toSeq, Map("streaming" -> b.preMs / 1000.0))
      })
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    require(Files.isDirectory(from), s"no prepared history at $from")
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally w.close()
  }

  // ---- serve: the read mix over the published state ----------------------

  /** One client, closed loop, in rounds of one instance of each query kind,
    * for `seconds` and at least three rounds; the median over rounds keeps
    * the first, cold round out. Every answer over the loaded state must
    * equal the answer over the in-memory state. */
  private def serve(spark: SparkSession, trace: Trace, o: Opts, rep: Report, gen: Gen,
      mem: ChainState, loaded: ChainState): Unit = {
    val pool = Serve.pool(gen, o.seed)
    Serve.register(spark, mem)
    val expected = pool.map(q => Serve.run(spark, q).rows)
    Serve.register(spark, loaded)
    final case class R(kind: String, s: Double, planS: Double, execS: Double, files: Long)
    def round(r: Int): Seq[R] = pool.zip(expected).map { case (q, e) =>
      val a0 = now()
      val a = trace.span(s"query.${q.kind}", r)(Serve.run(spark, q))
      rep.check(a.rows == e, s"serve answer differs from the in-memory state: ${q.sql}")
      R(q.kind, secs(a0, now()), a.planS, a.execS, a.files)
    }
    val rounds = mutable.ArrayBuffer.empty[Seq[R]]
    val t0 = now()
    while (rounds.size < 3 || secs(t0, now()) < o.seconds) rounds += round(rounds.size)
    val results = rounds.flatten
    val n = results.size
    // per round, the mean latency of the mix; its median over rounds
    rep.layer("query.mix_p50_ms", Stats.median(rounds.map(_.map(_.s * 1000).sum / pool.size)), "ms", rounds.size)
    rep.layer("query.p50_ms", Stats.median(results.map(_.s * 1000)), "ms", n)
    rep.layer("query.p95_ms", Stats.quantile(results.map(_.s * 1000), 0.95), "ms", n)
    Serve.Kinds.foreach { k =>
      val rs = results.filter(_.kind == k)
      rep.layer(s"query.${k}_ms", Stats.median(rs.map(_.s * 1000)), "ms", rs.size)
    }
    rep.layer("query.plan_ms", Stats.median(results.map(_.planS * 1000)), "ms", n)
    rep.layer("query.exec_ms", Stats.median(results.map(_.execS * 1000)), "ms", n)
    rep.layer("query.files_read", Stats.median(results.map(_.files.toDouble)), "count", n)
    if (trace.enabled) {
      trace.drain()
      val qs = trace.spans.filter(_.name.startsWith("query.")).toSeq
      rep.layer("query.jobs", Stats.median(qs.map(s => trace.jobsUnder(s).size.toDouble)), "count", n)
      rep.layer("query.bytes_read", Stats.median(qs.map(s => trace.jobsUnder(s).map(_.bytesRead).sum.toDouble)), "bytes", n)
    }
  }

  // ---- output checks ------------------------------------------------------

  /** Row counts against the generator's model, the published version
    * loaded back against the in-memory state, and on traced runs the
    * in-memory state against the `handleUpdates` reference, table by table. */
  private def checkState(rep: Report, gen: Gen, state: ChainState, loaded: ChainState,
      reference: Option[ChainState]): Unit = {
    val mem +: disk +: ref = State.digest(Seq(state, loaded) ++ reference: _*)
    gen.expectedCounts.toSeq.sortBy(_._1).foreach { case (t, n) =>
      rep.check(mem(t)._1 == n, s"$t holds ${mem(t)._1} rows, the model expects $n")
    }
    State.tables(state).keys.toSeq.sorted.foreach { t =>
      rep.check(disk(t) == mem(t), s"$t loaded from the published version differs from the in-memory state")
      ref.foreach(r => rep.check(r(t) == mem(t), s"$t of the traced fold differs from the handleUpdates fold"))
    }
    def hash(d: Map[String, (Long, BigDecimal)]) = d.toSeq.sortBy(_._1).map(_._2._2).sum.toString
    rep.stateHash = hash(mem)
    rep.referenceHash = ref.headOption.map(hash).getOrElse("")
  }
}
