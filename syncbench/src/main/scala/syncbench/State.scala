package syncbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.convert.{RawBlock, RawRollback, RawUpdate, UpdatesProto}
import graft.operators.ChainSync
import graft.operators.ChainSync.ChainState
import graft.schema.ReferenceSchemas

/** The benchmark's calls into the program's sync layers, and the checks on
  * what they produce. */
object State {

  /** Every table of the fold state, by reference name. */
  def tables(s: ChainState): Map[String, DataFrame] =
    s.facts ++ Map(
      "blocks_microblocks" -> s.blocks, "asset_updates" -> s.assetUpdates,
      "asset_tickers" -> s.assetTickers, "asset_origins" -> s.assetOrigins,
      "waves_data" -> s.wavesData, "candles" -> s.candles)

  /** Row count and an order-independent content hash per table of each
    * state, all in one Spark job. The check is the benchmark's, not the
    * program's: it runs interpreted, which saves compiling ~60 one-shot
    * codegen stages on these small tables. */
  def digest(states: ChainState*): Seq[Map[String, (Long, BigDecimal)]] = digestTables(states.map(tables))

  /** [[digest]] over any tables; each is hashed over the columns it has,
    * in the reference schema's order. */
  def digestTables(states: Seq[Map[String, DataFrame]]): Seq[Map[String, (Long, BigDecimal)]] = {
    val spark = states.head.values.head.sparkSession
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try digestAll(states) finally spark.conf.set(key, prev)
  }

  private def digestAll(states: Seq[Map[String, DataFrame]]): Seq[Map[String, (Long, BigDecimal)]] = {
    val parts = for ((s, i) <- states.zipWithIndex; (name, df) <- s.toSeq.sortBy(_._1)) yield {
      val cols = ReferenceSchemas.tables(name).fieldNames.toSeq.filter(df.columns.contains).map(col)
      df.select(lit(i).as("s"), lit(name).as("t"), xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
    }
    val rows = parts.reduce(_.unionByName(_)).groupBy("s", "t")
      .agg(count(lit(1)).as("n"), sum("h").as("h")).collect()
    states.indices.map { i =>
      rows.filter(_.getInt(0) == i)
        .map(r => r.getString(1) -> ((r.getLong(2), BigDecimal(r.getDecimal(3))))).toMap
        .withDefaultValue((0L, BigDecimal(0)))
    }
  }

  /** Decode wire updates; returns the updates and the txs skipped for
    * missing metadata. */
  def decode(wires: Seq[Array[Byte]]): (Seq[RawUpdate], Int) = {
    val decoded = wires.map(UpdatesProto.decode)
    (decoded.map(_._1), decoded.map(_._2).sum)
  }

  /** The fold of one batch through the program's public pieces, one span
    * per call, grouped into runs exactly as `ChainSync.handleUpdates` does;
    * `handleUpdates(state, Nil)` is the per-batch lineage cut. */
  def tracedFold(spark: SparkSession, trace: Trace, state: ChainState, updates: Seq[RawUpdate],
      config: ChainSync.Config, batch: Int): ChainState = trace.span("operators.fold", batch) {
    val runs = updates.foldLeft(Vector.empty[Either[Seq[RawBlock], RawRollback]]) {
      case (acc, b: RawBlock) if b.timeStampMs.isDefined =>
        acc.lastOption match {
          case Some(Left(blocks)) if blocks.forall(_.timeStampMs.isDefined) => acc.init :+ Left(blocks :+ b)
          case _ => acc :+ Left(Seq(b))
        }
      case (acc, b: RawBlock) => acc :+ Left(Seq(b))
      case (acc, r: RawRollback) => acc :+ Right(r)
    }
    val folded = runs.foldLeft(state) {
      case (s, Left(blocks)) =>
        val squashed =
          if (blocks.head.timeStampMs.isDefined) trace.span("operators.squash", batch)(ChainSync.squash(s))
          else s
        trace.span("operators.append", batch)(ChainSync.appendRun(spark, squashed, blocks, config))
      case (s, Right(r)) => trace.span("operators.rollback", batch)(ChainSync.rollbackTo(s, r.toBlockId))
    }
    trace.span("operators.cut", batch)(ChainSync.handleUpdates(spark, folded, Nil, config))
  }

  /** Bytes of every file the published manifest references: the version
    * directory plus each segment it lists. */
  def publishedBytes(dir: Path): Long = {
    val v = new String(Files.readAllBytes(dir.resolve("_CURRENT")), "UTF-8").trim
    val vdir = dir.resolve(s"v$v")
    val segs = new String(Files.readAllBytes(vdir.resolve("_MANIFEST")), "UTF-8").linesIterator
      .map(_.split(' ')).collect { case Array("seg", _, rel, _, _, _) => dir.resolve(rel) }.toSeq
    val files = (vdir +: segs).filter(Files.exists(_)).flatMap { p =>
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
    }
    files.map(Files.size).sum
  }

  /** Files written by persist `version`: its version directory and the
    * segments named after it. */
  def versionFiles(dir: Path, version: Long): Long = {
    val w = Files.walk(dir)
    val fs = try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
    val mine = fs.filter { p =>
      val rel = dir.relativize(p).toString
      rel.startsWith(s"v$version/") || rel.contains(s"/s$version-")
    }
    mine.size.toLong
  }

  def currentVersion(dir: Path): Long =
    new String(Files.readAllBytes(dir.resolve("_CURRENT")), "UTF-8").trim.toLong

  /** Max partitions over the state frames. */
  def maxPartitions(s: ChainState): Int = tables(s).values.map(_.rdd.getNumPartitions).max

  def path(s: String): Path = Paths.get(s).toAbsolutePath
}
