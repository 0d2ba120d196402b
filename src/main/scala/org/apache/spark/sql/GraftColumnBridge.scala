package org.apache.spark.sql

import java.util.concurrent.CompletionException

import scala.util.{Failure, Try}

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.util.ThreadUtils

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters so
  * graft's native Catalyst expressions can surface as `Column`s under
  * Spark 4's Column-node API split. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The engine's one lineage cut (≙ the reference's per-batch COMMIT): an
    * eager `localCheckpoint`, rebased onto fresh attribute ids. A bare
    * checkpoint keeps the source plan's ids, so mixing it with plans
    * re-derived from the same lineage mis-binds columns by id; rebuilding
    * from `chk.rdd` refreshes the ids but drops the checkpoint's
    * outputPartitioning and reads every row through an external-Row
    * conversion. `LogicalRDD.newInstance` refreshes the ids and carries the
    * partitioning and ordering over to them. */
  def cut(df: DataFrame): DataFrame = {
    val chk = df.localCheckpoint(true).asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(chk.sparkSession, chk.logicalPlan.asInstanceOf[LogicalRDD].newInstance())
  }

  /** Cached, so a nested [[concurrently]] never waits for a free thread;
    * how many tasks run at once is the scheduler's business, not the
    * pool's. */
  private lazy val pool = ThreadUtils.newDaemonCachedThreadPool("graft-concurrently")

  /** Run each thunk on its own pool thread, so the Spark jobs of
    * independent commit steps (per-table cuts, per-table segment writes)
    * overlap instead of queueing behind one driver thread. Each thread runs
    * with the caller's local properties (job group, scheduler pool, trace
    * tags, the enclosing `spark.sql.execution.id`) and active session,
    * captured by `SQLExecution.withThreadLocalCaptured`. Results come back
    * in input order. Every thunk is waited for before anything is thrown,
    * so no write is still running when the caller sees a failure; the
    * first failure in input order is rethrown as the thunk threw it, with
    * any later ones attached as suppressed. */
  def concurrently[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    // strict: every thunk is submitted before the first join, whatever Seq
    val futures = tasks.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(t())).toVector
    val outcomes = futures.map(f => Try(f.join()) match {
      case Failure(e: CompletionException) if e.getCause != null => Failure(e.getCause)
      case outcome => outcome
    })
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.map(_.get)
    }
  }
}
