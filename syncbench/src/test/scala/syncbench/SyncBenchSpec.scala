package syncbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.convert.{RawBlock, RawUpdate, UpdatesProto}
import graft.operators.ChainSync

/** The benchmark's own checks: its stream survives the wire, its chain
  * model predicts what the fold keeps, and the fold of the stream equals a
  * clean replay of the chain that survives it. */
class SyncBenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("syncbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Structural rendering with byte arrays as hex, so equal updates print
    * equal. */
  private def canon(x: Any): String = x match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case i: Iterable[_] => i.map(canon).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(canon).mkString(s"${p.productPrefix}(", ",", ")")
    case other => String.valueOf(other)
  }

  /** Key blocks, microblocks and 1-2 deep rollbacks, ending on a key block. */
  private def stream(gen: Gen, keys: Int): Vector[Wire] = {
    val rnd = new scala.util.Random(7)
    val out = Vector.newBuilder[Wire]
    out += gen.keyBlock(6)
    (1 until keys).foreach { k =>
      out += gen.keyBlock(6)
      if (rnd.nextInt(3) == 0) out += gen.microBlock(3)
      if (rnd.nextInt(3) == 0) out += gen.microBlock(3)
      if (k > 3 && rnd.nextInt(4) == 0) out += gen.rollback(1 + rnd.nextInt(2))
    }
    out += gen.keyBlock(6)
    out.result()
  }

  test("decode inverts encode over the generated stream") {
    val gen = new Gen(3)
    val wires = stream(gen, 40)
    assert(wires.exists(_.kind == 'm') && wires.exists(_.kind == 'r'))
    (1 to 18).foreach(t => assert(gen.survivingTxs.exists(_.txType == t) || t <= 2, s"type $t missing"))
    wires.foreach { w =>
      val (decoded, skipped) = UpdatesProto.decode(w.bytes)
      assert(skipped == 0)
      val (got, want) = (canon(decoded), canon(w.update))
      val at = got.zip(want).indexWhere { case (a, b) => a != b }
      assert(got == want, s"differs at $at: ${got.slice(at - 80, at + 80)} vs ${want.slice(at - 80, at + 80)}")
    }
  }

  private def fold(gen: Gen, wires: Seq[Wire], batch: Int): ChainSync.ChainState =
    wires.grouped(batch).foldLeft(ChainSync.emptyState(spark)) { (s, ws) =>
      ChainSync.handleUpdates(spark, s, State.decode(ws.map(_.bytes))._1, gen.config)
    }

  test("the model's row counts and a clean replay match the fold of the stream") {
    val gen = new Gen(5)
    val wires = stream(gen, 12)
    val folded = fold(gen, wires, 5)
    val Seq(digest) = State.digest(folded)
    gen.expectedCounts.foreach { case (t, n) => assert(digest(t)._1 == n, s"$t rows") }

    // one-shot fold of the surviving chain; block uids differ by design
    // (microblocks and rolled-back blocks consume uids)
    val updates: Seq[RawUpdate] = gen.survivingBlocks
    val clean = ChainSync.handleUpdates(spark, ChainSync.emptyState(spark), updates, gen.config)
    def withoutBlockUids(s: ChainSync.ChainState): Map[String, DataFrame] = State.tables(s).map { case (t, df) =>
      t -> df.drop("block_uid").drop(if (t == "blocks_microblocks") "uid" else "block_uid")
    }
    val Seq(a, b) = State.digestTables(Seq(withoutBlockUids(folded), withoutBlockUids(clean)))
    State.tables(folded).keys.foreach(t => assert(a(t) == b(t), s"$t differs from the clean replay"))
  }
}
