package syncbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in trace of one run.
  *
  * Spans are opened by the benchmark around its own calls into each layer's
  * public functions; the program is not instrumented. A span records its
  * name, start, end, parent and batch, and tags the calling thread with a
  * local property, so Spark jobs started inside it carry the span id. AQE
  * query-stage jobs are submitted from other threads and report
  * `CompletableFuture.java` as their call site; they are attributed through
  * `spark.sql.execution.id` to the span and call site their SQL execution
  * started from. Job, task, shuffle, I/O and spill counters therefore sit at
  * the same boundaries as the spans.
  *
  * Everything is kept in memory and written as JSONL at the end.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobs: mutable.Map[Int, Job] = mutable.Map.empty
  val queries: mutable.ArrayBuffer[QueryRec] = mutable.ArrayBuffer.empty
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] = mutable.ArrayBuffer.empty
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val execSpan = mutable.Map.empty[Long, Long]

  /** Run `f` inside a span named `layer.what`; a no-op when tracing is off. */
  def span[T](name: String, batch: Int = -1)(f: => T): T =
    if (!enabled) f
    else {
      val parents = stack.get
      val s = Span(ids.incrementAndGet(), name, parents.headOption.getOrElse(0L), batch, System.nanoTime())
      spans.synchronized(spans += s)
      stack.set(s.id :: parents)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.t1 = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(SpanKey, parents.headOption.map(_.toString).orNull)
      }
    }

  /** A span whose bounds are known only afterwards (a streaming trigger). */
  def record(name: String, batch: Int, t0: Long, t1: Long): Span = {
    val s = Span(ids.incrementAndGet(), name, 0L, batch, t0)
    s.t1 = t1
    spans.synchronized(spans += s)
    s
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      val own = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)
      val span = own.orElse(execSpan.get(exec)).getOrElse(0L)
      if (exec >= 0 && own.isDefined) execSpan.getOrElseUpdate(exec, span)
      val stackSite = e.stageInfos.headOption.flatMap(s => siteOf(s.details))
      val site = stackSite.orElse(execSite.get(exec)).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, span, exec, site, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        siteOf(s.details).foreach(execSite(s.executionId) = _)
      }
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      queries.synchronized(queries += QueryRec(funcName, qe.id, phases, durationNs / 1000000L))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.SyncBenchBus.drain(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- aggregation ------------------------------------------------------

  private def children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Jobs started inside `s` or any of its descendants. */
  def jobsUnder(s: Span): Seq[Job] = {
    val ch = children
    val ids = mutable.Set(s.id)
    var frontier = Seq(s.id)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(id => ch.getOrElse(id, Nil).map(_.id))
      ids ++= frontier
    }
    jobs.values.filter(j => ids(j.span)).toSeq
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time per layer of `tops` and every span under them: a span's
    * duration minus its children's, booked to its layer. */
  def layerSelf(tops: Seq[Span]): Map[String, Double] = {
    val ch = children
    def walk(s: Span): Seq[(String, Double)] = {
      val kids = ch.getOrElse(s.id, Nil)
      (s.layer -> (s.durS - kids.map(_.durS).sum).max(0.0)) +: kids.flatMap(walk)
    }
    tops.flatMap(walk).groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    val ch = children
    spans.foreach { s =>
      val self = (s.durS - ch.getOrElse(s.id, Nil).map(_.durS).sum).max(0.0)
      sb ++= s"""{"kind":"span","id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        s""""start_ns":${s.t0},"end_ns":${s.t1},"self_s":$self}""" + "\n"
    }
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      sb ++= s"""{"kind":"job","id":${j.id},"span":${j.span},"execution":${j.exec},"site":"${j.site}",""" +
        s""""start_ms":${j.t0},"end_ms":${j.t1},"tasks":${j.tasks},"shuffle_read":${j.shuffleRead},""" +
        s""""shuffle_write":${j.shuffleWrite},"bytes_read":${j.bytesRead},"bytes_written":${j.bytesWritten},""" +
        s""""spill":${j.spill}}""" + "\n"
    }
    queries.foreach { q =>
      sb ++= s"""{"kind":"query_execution","func":"${q.func}","id":${q.id},"phases_ms":${q.phasesMs},"duration_ms":${q.durationMs}}""" + "\n"
    }
    progress.foreach { e =>
      sb ++= s"""{"kind":"stream_progress","progress":${e.progress.json}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "syncbench.span"

  final case class Span(id: Long, name: String, parent: Long, batch: Int, t0: Long) {
    @volatile var t1: Long = -1L
    def durS: Double = (t1 - t0) / 1e9
    def layer: String = name.takeWhile(_ != '.')
  }

  final case class Job(id: Int, span: Long, exec: Long, site: String, t0: Long) {
    var t1: Long = -1L
    var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
    var spill = 0L
    def durS: Double = if (t1 < 0) 0.0 else (t1 - t0) / 1e3
  }

  final case class QueryRec(func: String, id: Long, phasesMs: Long, durationMs: Long)

  private val Frame = """graft\.[\w.$]+\((\w+\.scala:\d+)\)""".r

  /** The program's own frame nearest the call: `Candles.scala:288`. */
  def siteOf(details: String): Option[String] =
    Option(details).flatMap(d => Frame.findFirstMatchIn(d).map(_.group(1)))
}
