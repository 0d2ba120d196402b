package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.GraftColumnBridge.{concurrently, cut}

/** The commit path's fan-out helper: input-ordered results, a failure
  * surfaced only after every sibling has finished, and Spark jobs that
  * carry the caller's local properties, also from inside a streaming
  * micro-batch. */
class ConcurrentlySpec extends SparkSpec {

  test("results come back in input order, whatever order the thunks finish in") {
    val out = concurrently(spark, (0 until 8).map { i =>
      () => { Thread.sleep((8 - i) * 25L); spark.range(i.toLong).count() }
    })
    assert(out == (0L until 8L))
  }

  test("a failing thunk's own exception is rethrown, after its slow sibling finished") {
    final class Boom extends RuntimeException("boom")
    val failed = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    intercept[Boom] {
      concurrently(spark, Seq(
        // starts its job only once the other thunk has thrown
        () => { failed.await(); Thread.sleep(300); spark.range(10).count(); siblingDone.set(true); 1L },
        () => { failed.countDown(); throw new Boom }))
    }
    assert(siblingDone.get, "concurrently returned before every thunk had finished")
  }

  test("a caller's local properties reach the jobs started inside a thunk") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.properties)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", "concurrently-tag")
    sc.setJobGroup("concurrently-group", "ConcurrentlySpec")
    try {
      concurrently(spark, Seq(() => spark.range(100).count(), () => spark.range(50).count()))
      GraftListenerBus.drain(sc)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val tagged = seen.asScala.filter(p => p != null && p.getProperty("graft.test.tag") == "concurrently-tag")
    assert(tagged.size >= 2, s"jobs without the caller's tag: ${seen.asScala.map(String.valueOf)}")
    assert(tagged.forall(_.getProperty("spark.jobGroup.id") == "concurrently-group"))
    // the caller's own properties are untouched by the pool threads
    assert(sc.getLocalProperty("graft.test.tag") == null)
  }

  test("works inside foreachBatch, where spark.sql.execution.id is set") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val results = new ConcurrentLinkedQueue[(String, Seq[Long])]()
    val q = stream.toDS().writeStream
      .foreachBatch { (ds: Dataset[Int], _: Long) =>
        val df: DataFrame = ds.toDF("v")
        val execId = df.sparkSession.sparkContext.getLocalProperty("spark.sql.execution.id")
        results.add(execId -> concurrently(df.sparkSession, Seq(
          () => df.count(),
          () => cut(df.filter($"v" % 2 === 0)).count(),
          () => df.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0))))
        ()
      }
      .start()
    try {
      stream.addData(1 to 10)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"batch failed: ${q.exception}")
    val Seq((execId, counts)) = results.asScala.toSeq
    assert(execId != null, "foreachBatch ran outside a SQL execution; the case is not exercised")
    assert(counts == Seq(10L, 5L, 55L))
  }
}
