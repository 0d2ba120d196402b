package syncbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SqlCatalog
import graft.convert.TxConvert
import graft.operators.ChainSync.ChainState

/** The data-service read mix behind the reference's indexes, as SQL over
  * the engine's catalog. */
object Serve {

  final case class Query(kind: String, sql: String)

  val Kinds: Seq[String] = Seq("pair_candles", "assets", "tickers", "decimals",
    "exchanges_pair", "txs_by_sender", "tx_by_id", "liveness")

  /** Put `state`'s tables and the reference views in the session catalog,
    * plus the `txs` parent scan over the 18 typed tables. */
  def register(spark: SparkSession, state: ChainState): Unit = {
    SqlCatalog.register(spark, State.tables(state))
    TxConvert.txsUnionView(state.facts).createOrReplaceTempView("txs")
  }

  /** One seeded instance of each query kind, with parameters drawn from
    * the generator's model of the chain. */
  def pool(gen: Gen, seed: Long): Seq[Query] = {
    val rnd = new Random(seed ^ 0x5e77e)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    val senders = gen.senders
    val ids = gen.survivingTxs.map(tx => graft.functions.Base58.encode(tx.id))
    val pairs = gen.pairIds.take(12)
    val intervals = Seq("1m", "5m", "15m", "30m", "1h", "4h", "1d")
    def q(kind: String): Query = kind match {
      case "pair_candles" =>
        val (a, p) = pick(pairs)
        val from = new java.sql.Timestamp(Gen.T0 + rnd.nextInt(gen.tipHeight.max(1)) * Gen.BlockMs)
        val to = new java.sql.Timestamp(from.getTime + (30 + rnd.nextInt(600)) * Gen.BlockMs)
        Query(kind, s"SELECT * FROM candles WHERE amount_asset_id = '$a' AND price_asset_id = '$p' " +
          s"AND interval = '${pick(intervals)}' AND time_start >= TIMESTAMP '$from' " +
          s"AND time_start < TIMESTAMP '$to' ORDER BY time_start")
      case "assets" => Query(kind, s"SELECT * FROM assets WHERE asset_id = '${pick(gen.tradedIds)}'")
      case "tickers" => Query(kind, s"SELECT * FROM tickers WHERE ticker = 'TKN${rnd.nextInt(Gen.PairAssets)}'")
      case "decimals" => Query(kind, s"SELECT * FROM decimals WHERE asset_id = '${pick(gen.tradedIds)}'")
      case "exchanges_pair" =>
        val (a, p) = pick(pairs)
        Query(kind, s"SELECT * FROM txs_7 WHERE amount_asset_id = '$a' AND price_asset_id = '$p' " +
          "ORDER BY uid DESC LIMIT 20")
      case "txs_by_sender" =>
        Query(kind, s"SELECT * FROM txs_4 WHERE sender = '${pick(senders)}' ORDER BY uid DESC LIMIT 20")
      case "tx_by_id" => Query(kind, s"SELECT * FROM txs WHERE id = '${pick(ids)}'")
      case "liveness" =>
        Query(kind, "SELECT unix_millis(time_stamp) FROM blocks_microblocks " +
          "WHERE time_stamp IS NOT NULL ORDER BY uid DESC LIMIT 1")
    }
    Kinds.map(q)
  }

  /** One answer, order-independent, with its planning and execution time
    * and the files its scans opened. */
  final case class Answer(rows: Seq[String], planS: Double, execS: Double, files: Long)

  def run(spark: SparkSession, q: Query): Answer = {
    val t0 = System.nanoTime()
    val df = spark.sql(q.sql)
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect().map(_.toString).toSeq.sorted
    val t2 = System.nanoTime()
    Answer(rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9, scanFiles(df.queryExecution.executedPlan))
  }

  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case s: QueryStageExec => scanFiles(s.plan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        other.children.map(scanFiles).sum + other.subqueries.map(scanFiles).sum
  }
}
