package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot grouping keys (SURVEY.md §4 watch list: SCD-2 and
  * candle aggregations keyed on asset pairs skew badly at 100× — a handful
  * of pairs carry most trades).
  *
  * Two-phase salted aggregation: phase 1 groups on (keys, salt) so a hot
  * key's rows spread over `saltBuckets` reducers; phase 2 combines the
  * partials on the true keys. Correct for algebraic aggregates
  * (sum/count/min/max — exactly the candle measures; ordered open/close stay
  * correct because min_by/max_by carry their ordering key through both
  * phases). AQE's skew-join handling covers joins; this covers aggregations.
  */
object Skew {

  /** An aggregate measure expressed as (phase-1 partial, phase-2 combiner). */
  final case class TwoPhase(name: String, partial: Column, combine: String => Column)

  def sumOf(c: Column, name: String): TwoPhase =
    TwoPhase(name, sum(c).as(name), n => sum(col(n)).as(n))
  def countRows(name: String): TwoPhase =
    TwoPhase(name, count(lit(1)).as(name), n => sum(col(n)).as(n))
  def minOf(c: Column, name: String): TwoPhase =
    TwoPhase(name, min(c).as(name), n => min(col(n)).as(n))
  def maxOf(c: Column, name: String): TwoPhase =
    TwoPhase(name, max(c).as(name), n => max(col(n)).as(n))
  /** argmin/argmax (ordered first/last — open/close): partials carry the
    * (value, order) struct so phase 2 re-argmins over partial winners. */
  def minByOf(value: Column, ord: Column, name: String): TwoPhase =
    TwoPhase(name,
      min_by(struct(value.as("v"), ord.as("o")), ord).as(name),
      n => min_by(col(n), col(s"$n.o")).as(n))
  def maxByOf(value: Column, ord: Column, name: String): TwoPhase =
    TwoPhase(name,
      max_by(struct(value.as("v"), ord.as("o")), ord).as(name),
      n => max_by(col(n), col(s"$n.o")).as(n))

  /** groupBy(keys).agg(measures) with a salt spreading each key over
    * `saltBuckets` partial groups. Deterministic salt (hash of all columns
    * via spark_partition_id-independent pmod) keeps results reproducible. */
  def saltedAggregate(
      df: DataFrame,
      keys: Seq[Column],
      measures: Seq[TwoPhase],
      saltBuckets: Int = 16,
      saltSource: Column): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltSource), lit(saltBuckets)))
    val phase1 = salted
      .groupBy(keys :+ col("__salt"): _*)
      .agg(measures.head.partial, measures.tail.map(_.partial): _*)
    val phase2 = phase1
      .groupBy(keys: _*)
      .agg(measures.head.combine(measures.head.name),
        measures.tail.map(m => m.combine(m.name)): _*)
    // unwrap argmin/argmax structs back to their value
    measures.foldLeft(phase2) { (acc, m) =>
      if (acc.schema(m.name).dataType.isInstanceOf[org.apache.spark.sql.types.StructType]
        && acc.schema(m.name).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.sameElements(Array("v", "o")))
        acc.withColumn(m.name, col(s"${m.name}.v"))
      else acc
    }
  }
}
