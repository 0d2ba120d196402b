package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic K× scale-up of a driver fixture (VERDICT r12 #1: the
  * 100×-scale story was argued from plan shapes only — nothing had been
  * MEASURED above sf0.1). Reads a source fixture dir and writes a
  * `K`-times-larger sibling with the same table names/schemas, so every
  * gate runs against it unchanged via its `(spark, dir)` signature.
  *
  * Replication strategy per table — chosen so each operator's WORK
  * scales the way real growth would scale it, not so the data is
  * statistically novel:
  *
  *   - ids (`event_id`, `l_orderkey`/`o_orderkey`, `doc_id`, `vec_id`)
  *     offset by `replica * Stride` (1e8 — far above any fixture id and
  *     above the +100000 planted-dup offset the llm corpus slice adds),
  *     so uid arithmetic (`orderkey*100+linenumber`, trades uid) stays
  *     collision-free;
  *   - `events.ts` shifts by `replica * span`: history grows K× LONGER
  *     (K× more candle minutes / as-of cells of unchanged density) —
  *     the way a chain actually grows — rather than K× denser minutes;
  *   - `user_id` is kept, so hot keys stay hot: the skew hatches
  *     (salted agg, sliced as-of) face K× bigger hot groups, which is
  *     exactly the failure mode they exist for;
  *   - `documents.text` gets a per-replica `translate` over ten letters:
  *     nearly every shingle changes, so MinHash/SimHash find no
  *     cross-replica near-dups and the dup-cluster structure replicates
  *     K× (linear work growth), instead of every doc becoming a
  *     K-member near-dup cluster (quadratic pair blow-up that real
  *     corpus growth does not have);
  *   - `embeddings.embedding` gets small deterministic per-replica
  *     sinusoidal noise, so IVF cells stay populated and balanced
  *     instead of containing K exact copies of each point.
  *
  * Dimensions (region/nation/customer/supplier/part) are copied
  * verbatim — they are the broadcast side everywhere and real
  * deployments grow facts, not dimensions.
  */
object ScaleFixture {

  val Stride = 100000000L

  private def replicate(k: Int)(one: Int => DataFrame): DataFrame =
    (0 until k).map(one).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("scale/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    require(k >= 2, s"factor must be >= 2: $k")
    // the two independent letter rotations below give 10 x 10 distinct
    // full-text substitutions; past that, replica i would repeat replica
    // i-100's text EXACTLY and re-introduce the cross-replica near-dup
    // quadratic blow-up the rotation exists to prevent (ADVICE r13)
    require(k <= 100, s"factor must be <= 100 (substitution space is 10x10): $k")
    val spark = GraftSession.local()

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scale] wrote $name x$k")
    }

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(Tables.load(spark, src, t), t, 1)

    // events: time-shifted replicas (normalized ts; written back as µs TZ
    // timestamps, which Tables.events reads through its `case _` branch)
    val ev = Tables.events(spark, src)
    val bounds = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val spanUs = bounds.getLong(1) - bounds.getLong(0) + 60L * 1000000L
    write(replicate(k) { i =>
      ev.select(
        (col("event_id") + i * Stride).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + i * spanUs).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }, "events", 32)

    write(replicate(k) { i =>
      Tables.lineitem(spark, src).withColumn("l_orderkey", col("l_orderkey") + i * Stride)
    }, "lineitem", 32)

    write(replicate(k) { i =>
      Tables.orders(spark, src).withColumn("o_orderkey", col("o_orderkey") + i * Stride)
    }, "orders", 16)

    // TWO independent letter rotations (units digit rotates the vowel-ish
    // set, tens digit a consonant set): 100 distinct full-text
    // substitutions, each changing nearly every shingle of every document
    // — one rotation alone repeats every 10 replicas, which at k=100 would
    // make replica i an EXACT copy of replica i-10 (ADVICE r13)
    val alpha = "aeiousnrtl"
    val beta = "bcdfghmpvw"
    def rot(s: String, by: Int): String = s.drop(by % s.length) + s.take(by % s.length)
    write(replicate(k) { i =>
      val sub1 = if (i % 10 == 0) col("text")
                 else translate(col("text"), alpha, rot(alpha, i % 10))
      val sub2 = if (i / 10 == 0) sub1
                 else translate(sub1, beta, rot(beta, i / 10))
      Tables.documents(spark, src).select(
        (col("doc_id") + i * Stride).as("doc_id"),
        sub2.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents", 16)

    write(replicate(k) { i =>
      Tables.embeddings(spark, src).select(
        (col("vec_id") + i * Stride).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"), (x, j) =>
           (x + lit(0.05) * sin(col("vec_id") * 0.61 + j.cast("double") * 0.37 + lit(i * 1.1)))
             .cast("float"))).as("embedding"),
        col("label"))
    }, "embeddings", 16)

    spark.stop()
    println(s"""{"scale_fixture":"$dst","factor":$k,"src":"$src"}""")
  }
}
