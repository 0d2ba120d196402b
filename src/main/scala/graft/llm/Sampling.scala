package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling and dataset splits for training pipelines.
  *
  * Everything here is a PURE FUNCTION OF (id, seed) — no RNG state, no
  * partition dependence: re-running on a different cluster, a different
  * partitioning, or a GROWN corpus yields the same decision for every
  * existing id (new ids never reshuffle old ones — the property that keeps
  * train/test splits honest across dataset versions). `Dataset.sample`'s
  * per-partition RNG guarantees none of this.
  *
  * The hash is the first 8 hex chars of md5(id ++ "-" ++ seed) — chosen
  * over xxhash64 because every engine computes the identical md5, so split
  * assignment is verifiable outside Spark (the gate's DuckDB oracle
  * recomputes it bit-for-bit). Map-only, codegen'd builtins.
  */
object Sampling {

  /** Bucket resolution: parts-per-million. */
  val Buckets: Long = 1000000L

  /** Deterministic bucket in [0, 1e6) for an id under a seed. */
  def bucket(idCol: Column, seed: String): Column =
    conv(substring(md5(concat(idCol.cast("string"), lit("-"), lit(seed))), 1, 8), 16, 10)
      .cast("long") % Buckets

  /** Keep ~`fraction` of rows, decided per id: reproducible, stable under
    * corpus growth, disjointness across seeds ≈ independent draws. */
  def deterministicSample(
      df: DataFrame,
      fraction: Double,
      seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of range: $fraction")
    df.filter(bucket(col(idCol), seed) < math.round(fraction * Buckets))
  }

  /** Assign every row to a named split by contiguous bucket ranges of
    * cumulative weight (weights must sum to 1). E.g.
    * `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`. */
  def assignSplit(
      df: DataFrame,
      splits: Seq[(String, Double)],
      seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val b = bucket(col(idCol), seed)
    var cum = 0.0
    var chain: Column = null
    splits.foreach { case (name, w) =>
      cum += w
      val cond = b < math.round(cum * Buckets)
      chain = if (chain == null) when(cond, lit(name)) else chain.when(cond, lit(name))
    }
    // rounding guard: bucket == last threshold lands in the last split
    df.withColumn("split", chain.otherwise(lit(splits.last._1)))
  }

  /** Per-stratum deterministic sampling: each stratum (language, source,
    * domain…) keeps its own fraction — the rebalancing primitive for
    * hitting a target corpus mix. Same (id, seed) bucket hash as
    * [[deterministicSample]], so assignments stay stable under corpus
    * growth and across strata-rate changes (changing one stratum's rate
    * never reshuffles another's). Map-only; the rate lookup is a literal
    * CASE chain, not a join. */
  def stratifiedSample(
      df: DataFrame,
      rates: Seq[(String, Double)],
      defaultRate: Double,
      strataCol: String,
      seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0.0 && r <= 1.0),
      s"rates out of range: $rates default=$defaultRate")
    val threshold = rates.foldLeft(null: Column) { case (chain, (name, r)) =>
      val c = col(strataCol) === name
      val t = lit(math.round(r * Buckets))
      if (chain == null) when(c, t) else chain.when(c, t)
    }
    val thr = if (threshold == null) lit(math.round(defaultRate * Buckets))
              else threshold.otherwise(math.round(defaultRate * Buckets))
    df.filter(bucket(col(idCol), seed) < thr)
  }

  /** Sample a corpus DOWN to a target per-stratum mixture — the
    * training-mix constructor: `targetsPpm` gives each stratum's share of
    * the output in parts-per-million; the achievable total is bounded by
    * the scarcest stratum (T = min over strata of available·1e6/share) and
    * every stratum keeps the deterministic-bucket fraction that hits its
    * share of T. Strata absent from `targetsPpm` are dropped.
    *
    * All share arithmetic is BIGINT floor division — both engines (and the
    * DuckDB oracle) compute identical thresholds, no float rounding at the
    * boundary. The per-row decision is the same (id, seed) bucket as
    * [[deterministicSample]], so the realized mixture is exact in
    * expectation and the draw reproducible anywhere. Shape: one
    * count-per-stratum aggregation, a broadcast one-row min, a broadcast
    * rates join — the corpus side stays one scan. */
  def mixtureSample(
      df: DataFrame,
      targetsPpm: Seq[(String, Long)],
      strataCol: String,
      seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require(targetsPpm.nonEmpty && targetsPpm.forall(_._2 > 0L)
      && targetsPpm.map(_._2).sum <= Buckets,
      s"shares must be positive ppm summing to <= $Buckets: $targetsPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = targetsPpm.toDF("__stratum", "__ppm")
    // targets LEFT JOIN counts with coalesce(n, 0): a stratum listed in
    // targetsPpm but ABSENT from df must bind the achievable total to 0
    // ("bounded by the scarcest stratum" — an empty stratum is scarcest),
    // not silently drop out of the min (ADVICE r4)
    val counts = targets
      .join(broadcast(df.groupBy(col(strataCol).as("__stratum")).agg(count(lit(1)).as("__n"))),
        Seq("__stratum"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val tmin = counts.agg(min(expr(s"__n * ${Buckets}L div __ppm")).as("__t"))
    val rates = counts.crossJoin(broadcast(tmin))
      .withColumn("__keep", expr(s"__t * __ppm div ${Buckets}L"))
      .withColumn("__thr",
        when(col("__n") === 0L, lit(0L)).otherwise(expr(s"__keep * ${Buckets}L div __n")))
      .select(col("__stratum").as(strataCol), col("__thr"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(bucket(col(idCol), seed) < col("__thr"))
      .drop("__thr")
  }

  /** Data-constrained mixture allocation (Muennighoff et al. NeurIPS 2023,
    * scaling data-constrained LMs — public method): when the target mix
    * wants MORE documents from a stratum than exist, the stratum is
    * REPEATED for multiple training passes (up to `maxEpochs`, past which
    * repetition stops paying) instead of the mix silently shrinking to the
    * scarcest stratum. Per stratum, all BIGINT floor math (replayable
    * exactly, no float boundaries): `target = budget·ppm ÷ 1e6`,
    * allocation clamped to `maxEpochs·n`, `full_epochs = allocated ÷ n`,
    * `tail_docs = allocated mod n` (the final partial pass — drawn with
    * [[deterministicSample]] downstream), `capped` flags strata whose
    * target exceeded repeatable capacity. Shape: ONE count-per-stratum
    * aggregation, broadcast into a left join from the literal target
    * table (the preserved left side of a left join cannot be the build
    * side) — the allocation table is strata-bounded. */
  def epochAllocation(
      df: DataFrame,
      targetsPpm: Seq[(String, Long)],
      budget: Long,
      maxEpochs: Int,
      strataCol: String): DataFrame = {
    require(budget > 0 && maxEpochs >= 1, s"budget/maxEpochs must be positive: $budget/$maxEpochs")
    require(targetsPpm.nonEmpty && targetsPpm.forall(_._2 > 0L)
      && targetsPpm.map(_._2).sum <= Buckets,
      s"shares must be positive ppm summing to <= $Buckets: $targetsPpm")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = targetsPpm.toDF("__stratum", "__ppm")
    targets
      .join(broadcast(df.groupBy(col(strataCol).as("__stratum")).agg(count(lit(1)).as("n_docs"))),
        Seq("__stratum"), "left")
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .withColumn("target_docs", expr(s"${budget}L * __ppm div ${Buckets}L"))
      .withColumn("n_allocated", least(col("target_docs"), col("n_docs") * maxEpochs))
      .withColumn("full_epochs",
        when(col("n_docs") === 0L, lit(0L)).otherwise(expr("n_allocated div n_docs")))
      .withColumn("tail_docs", col("n_allocated") - col("full_epochs") * col("n_docs"))
      .withColumn("capped", col("target_docs") > col("n_docs") * maxEpochs)
      .select(col("__stratum").as(strataCol), col("n_docs"), col("target_docs"),
        col("n_allocated"), col("full_epochs"), col("tail_docs"), col("capped"))
  }

  /** Weighted sampling WITHOUT replacement — Efraimidis–Spirakis A-ES
    * (Inf. Proc. Letters 2006; public method): each row draws
    * `key = ln(u) / w` (the log form of u^(1/w)) with `u` from the portable
    * md5 [[bucket]] hash, and the top `n` keys per stratum are the sample —
    * inclusion probability proportional to weight, reproducible on any
    * cluster/partitioning (the [[deterministicSample]] property, extended
    * to weighted draws; the general primitive behind quality-weighted
    * corpus subsetting, DSIR being the importance-weighted special case).
    *
    * Keys are rounded to 6 dp BEFORE ranking with id as the tiebreak
    * (engine and oracle compute the identical IEEE expression; rounding
    * removes any residual libm-ulp concern at rank boundaries). The rank
    * window partitions by stratum — no single-partition funnel; for a
    * global draw pass a constant stratum column. Weights must be > 0. */
  def weightedSamplePerStratum(
      df: DataFrame,
      n: Int,
      weightCol: String,
      strataCol: String,
      seed: String,
      idCol: String = "doc_id"): DataFrame = {
    val u = (bucket(col(idCol), seed).cast("double") + 0.5) / Buckets
    val keyed = df.withColumn("sample_key", round(log(u) / col(weightCol), 6))
    keyed
      .withColumn("rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(strataCol))
            .orderBy(col("sample_key").desc, col(idCol))))
      .filter(col("rank") <= n)
  }

  /** Temperature-based mixture rebalancing (the multilingual-sampling rule
    * of XLM-R / mBERT — Conneau et al. 2020 §3.1, Devlin et al. 2019;
    * public method): resample so stratum shares follow `p_s^alpha`
    * (alpha < 1 flattens the head, upweights scarce strata). Framed as a
    * corpus-subsetting draw, the largest achievable output keeps
    * `keep_s = n_min^(1-alpha) * n_s^alpha` rows of stratum s (the
    * smallest stratum is the binding constraint and is kept whole).
    *
    * At the default `alpha = 0.5` the kept count is
    * `floor(sqrt(n_min * n_s))`: one exact integer product and one sqrt —
    * and IEEE-754 sqrt is EXACTLY rounded, so engine and oracle compute
    * bit-identical counts with no float-sum normalization anywhere (the
    * naive `p^alpha / sum p^alpha` form needs a cross-strata float sum
    * whose order is engine-dependent). Other alphas go through `pow`
    * (correctly-rounded on every libm for these magnitudes in practice,
    * but not guaranteed — the gate pins 0.5).
    *
    * Per-row decisions are the [[deterministicSample]] (id, seed) bucket
    * against `thr_s = keep_s * 1e6 div n_s` (BIGINT floor math, the
    * [[mixtureSample]] convention). Shape: one count-per-stratum agg, a
    * broadcast one-row min, a broadcast threshold join — one corpus scan. */
  def temperatureMixture(
      df: DataFrame,
      alpha: Double,
      strataCol: String,
      seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1]: $alpha")
    // strata-bounded; materialized because both nmin and the threshold
    // table read it — otherwise the corpus count-per-stratum pass runs twice
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val nmin = counts.agg(min(col("__n")).as("__nmin"))
    val keepExpr =
      // cast BEFORE the multiply: a long*long product silently wraps past
      // ~9.2e18 (strata ~3e9 each) while DuckDB errors loudly — double
      // products are exact below 2^53 and identically rounded in both
      // engines above it
      if (alpha == 0.5)
        floor(sqrt(col("__nmin").cast("double") * col("__n").cast("double"))).cast("long")
      else floor(pow(col("__nmin").cast("double"), 1.0 - alpha)
        * pow(col("__n").cast("double"), alpha)).cast("long")
    val rates = counts.crossJoin(broadcast(nmin))
      .withColumn("__keep", keepExpr)
      .withColumn("__thr", expr(s"__keep * ${Buckets}L div __n"))
      .select(col(strataCol), col("__thr"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(bucket(col(idCol), seed) < col("__thr"))
      .drop("__thr")
  }

  /** Deterministic global shuffle key for training-example order: the full
    * md5 hex of (id, seed) is a stable pseudo-random total order — the
    * same epoch order on any cluster, any partitioning, any engine
    * (`ORDER BY shuffle_key, id`). Different seeds = different epoch
    * orders. Map-only; the sort itself is the downstream consumer's
    * range-partitioned write. */
  def shuffleKey(idCol: Column, seed: String): Column =
    md5(concat(idCol.cast("string"), lit("-"), lit(seed)))
}
