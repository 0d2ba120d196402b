package graft

import org.apache.spark.sql.GraftColumnBridge.cut
import org.apache.spark.sql.functions._

/** The engine's one lineage cut: fresh attribute ids, kept partitioning. */
class CutSpec extends SparkSpec {

  private def source =
    spark.range(0, 200, 1, 4).select((col("id") % 7).as("k"), col("id").as("v")).repartition(col("k"))

  test("cut rebases onto fresh attribute ids, so a self-join with its source binds") {
    val src = source
    val chk = cut(src)
    val srcIds = src.queryExecution.analyzed.output.map(_.exprId).toSet
    val chkIds = chk.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(srcIds.intersect(chkIds).isEmpty)
    // each v joins exactly its own row
    val joined = chk.join(src, chk("v") === src("v"))
    assert(joined.count() == 200)
    assert(joined.filter(chk("k") =!= src("k")).count() == 0)
  }

  test("cut keeps the checkpoint's hash partitioning: a groupBy on its keys adds no exchange") {
    // an adaptive plan reports no output partitioning to the checkpoint, so
    // the source is checkpointed with AQE off to give it one to keep
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val grouped = cut(source).groupBy("k").agg(sum("v").as("s"))
      val plan = grouped.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"cut lost its partitioning:\n$plan")
      assert(grouped.collect().map(_.getLong(1)).sum == (0L until 200L).sum)
    } finally spark.conf.set(key, prev)
  }
}
