package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join — the feature-assembly primitive time-series
  * and training-data pipelines need constantly (join every observation to
  * the LATEST reference row at or before it) and one Spark has no built-in
  * for. Expressed Spark-first as the UNION-MERGE algorithm rather than a
  * per-row range probe or a custom physical operator:
  *
  *   1. tag both sides and union them into one (key, ts)-ordered stream,
  *      reference rows sorting BEFORE probe rows at equal timestamps
  *      (inclusive `ref.ts <= probe.ts` semantics);
  *   2. per key, carry the reference payload forward with
  *      `last(value, ignoreNulls = true)` over rows-unbounded-preceding;
  *   3. keep the probe rows: each now holds the latest visible reference.
  *
  * ONE key-hash shuffle + per-key sorts — no all-pairs, no broadcast
  * requirement on either side, no range-bucketing tuning knob; the merge
  * scales with (probe + reference) like a sort-merge join would. Catalyst
  * sees a plain window plan, so AQE/skew handling applies as usual. Ties
  * inside one side are broken by the payload struct (max wins for
  * backward, min for forward), making the result fully deterministic on
  * duplicate reference timestamps.
  *
  * All three pandas `merge_asof` directions are provided: [[backward]],
  * [[forward]], and [[nearest]] (closer match by |Δts|, ties to backward).
  */
object AsofJoin {

  /** Tag + union the two sides. `refFirstAtTies` controls which side sorts
    * first at equal timestamps: true → reference first (inclusive backward
    * visibility), false → probe first (inclusive forward visibility).
    * Returns (union, probe's original columns, ref side tag value). */
  private def unionTagged(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      refFirstAtTies: Boolean): (DataFrame, Seq[String], Int) = {
    require(payloadCols.nonEmpty, "payloadCols must name at least one reference column")
    val probeCols = probe.columns.toSeq
    require(payloadCols.forall(!probeCols.contains(_)),
      s"payload columns collide with probe columns: ${payloadCols.filter(probeCols.contains)}")
    val pay = struct(payloadCols.map(col): _*)
    val (refTag, probeTag) = if (refFirstAtTies) (0, 1) else (1, 0)
    val refSide = reference
      .select((keyCols.map(col) :+ col(tsCol) :+ lit(refTag).as("__side") :+ pay.as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol)
          .map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val probeSide = probe
      .select((keyCols.map(col) :+ col(tsCol) :+ lit(probeTag).as("__side") :+
        lit(null).cast(refSide.schema("__pay").dataType).as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol).map(col): _*)
    (refSide.unionByName(probeSide), probeCols, refTag)
  }

  private def orderCols(tsCol: String): Seq[Column] =
    Seq(col(tsCol), col("__side"), col("__pay"))

  /** Reattach the cell-level carry to the merged probe rows — with
    * NULL-SAFE key equality. The plain operators' carry runs through a
    * window whose `partitionBy` groups NULL key values into ONE partition
    * (SQL window semantics: NULL keys match each other), so the sliced
    * variants' carry reattachment must match NULL keys too; a plain
    * equi-join (`NULL = NULL` → false) would silently drop a NULL-key
    * probe's cross-cell carry and break the sliced ≡ plain equivalence
    * [[backwardAuto]]'s "dispatch can never change results" contract
    * rests on. Hence `<=>` on every key and on the cell (whose NULL
    * mirrors a NULL probe timestamp). */
  private def joinCarry(
      merged: DataFrame,
      carry: DataFrame,
      keyCols: Seq[String],
      carryCol: String = "__carry",
      tag: String = ""): DataFrame = {
    val renamed = carry.select(
      keyCols.zipWithIndex.map { case (k, i) => col(k).as(s"__ck$tag$i") } ++
        Seq(col("__cell").as(s"__ccell$tag"), col(carryCol)): _*)
    val cond = (keyCols.zipWithIndex.map { case (k, i) => col(k) <=> col(s"__ck$tag$i") } :+
      (col("__cell") <=> col(s"__ccell$tag"))).reduce(_ && _)
    merged.join(renamed, cond, "left")
  }

  /** Backward as-of join: for each `probe` row, the `reference` row with
    * the greatest `tsCol` satisfying `ref.ts <= probe.ts` on the same
    * `keyCols`; probe rows with no visible reference keep NULL (left-join
    * semantics). `payloadCols` are the reference columns carried onto the
    * probe side (must not collide with probe column names). */
  def backward(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val (u, probeCols, refTag) =
      unionTagged(probe, reference, keyCols, tsCol, payloadCols, refFirstAtTies = true)
    // total order inside one (key, ts): reference first, then by payload —
    // duplicate reference timestamps resolve to the MAX payload struct
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols(tsCol): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__asof", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") =!= refTag)
      .select(probeCols.map(col) ++
        payloadCols.map(c => col(s"__asof.$c").as(c)): _*)
  }

  /** Forward as-of join: for each `probe` row, the `reference` row with
    * the SMALLEST `tsCol` satisfying `ref.ts >= probe.ts` (inclusive).
    * The mirror of [[backward]]: probe rows sort BEFORE reference rows at
    * equal timestamps, and the payload is carried backward with
    * `first(ignoreNulls)` over the following frame; duplicate reference
    * timestamps resolve to the MIN payload struct. */
  def forward(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val (u, probeCols, refTag) =
      unionTagged(probe, reference, keyCols, tsCol, payloadCols, refFirstAtTies = false)
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols(tsCol): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u.withColumn("__asof", first(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") =!= refTag)
      .select(probeCols.map(col) ++
        payloadCols.map(c => col(s"__asof.$c").as(c)): _*)
  }

  /** Backward as-of join with a TOLERANCE bound (pandas `merge_asof`
    * tolerance): a reference older than `tolerance` time units below the
    * probe is treated as no match (payload NULL) — the staleness guard a
    * feature-assembly pipeline puts on slowly-updating reference feeds.
    * Same single-shuffle union-merge as [[backward]]; the bound is one
    * row-local predicate on the carried match, and `asof_ts` (the matched
    * reference timestamp, NULL when out of tolerance) is emitted for
    * auditability. `tsCol` must be numeric (e.g. epoch micros). */
  def backwardWithin(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      tolerance: Long): DataFrame = {
    require(tolerance >= 0, s"tolerance must be non-negative: $tolerance")
    require(!probe.columns.contains("asof_ts"),
      "probe must not already carry an asof_ts column")
    val payAll = payloadCols :+ "__ref_ts"
    val (u, probeCols, refTag) = unionTagged(
      probe, reference.withColumn("__ref_ts", col(tsCol)),
      keyCols, tsCol, payAll, refFirstAtTies = true)
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols(tsCol): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__asof", last(col("__pay"), ignoreNulls = true).over(w))
      .withColumn("__ok",
        col("__asof").isNotNull && col(tsCol) - col("__asof.__ref_ts") <= tolerance)
      .filter(col("__side") =!= refTag)
      .select(probeCols.map(col) ++
        payloadCols.map(c => when(col("__ok"), col(s"__asof.$c")).as(c)) :+
        when(col("__ok"), col("__asof.__ref_ts")).as("asof_ts"): _*)
  }

  /** Time-SLICED backward as-of join — the skew hatch for [[backward]].
    *
    * [[backward]] partitions its carry-forward window by key only, so ONE
    * hot key (one asset pair, one power user) serializes its entire
    * history through a single window task. This variant breaks the hot
    * key across fixed-width time cells (`cellWidth` units of `tsCol`):
    *
    *   1. IN-CELL merge: the same union-merge window, but partitioned by
    *      (key, cell) — a hot key's history now spreads over as many
    *      tasks as it spans cells;
    *   2. CELL CARRY: per (key, cell) the last reference payload is
    *      aggregated (max (ts, payload) struct — the [[backward]] dup-ts
    *      rule), then carried forward across cells with one window over
    *      the CELL-level table (rows ≈ distinct (key, cell), orders of
    *      magnitude smaller than the event table, so the per-key sort is
    *      trivially cheap even for the hot key);
    *   3. each probe takes its in-cell match, else the carry-in from the
    *      latest earlier cell.
    *
    * Exactly [[backward]]'s semantics (inclusive `ref.ts <= probe.ts`,
    * left-join NULLs, dup-ts → MAX payload) at the cost of one extra
    * bounded pass over the reference side. Pick `cellWidth` so a hot
    * key's per-cell row count fits one task comfortably; the cell-level
    * carry table stays bounded by (keys × observed cells). */
  def backwardSliced(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long): DataFrame = {
    val (merged, probeCols) =
      backwardSlicedCore(probe, reference, keyCols, tsCol, payloadCols, cellWidth)
    merged.select(probeCols.map(col) ++
      payloadCols.map(c => col(s"__asof.$c").as(c)): _*)
  }

  /** Shared core of the sliced backward join: emits the probe columns plus
    * `__asof` — a struct of `payloadCols` and `__ref_ts` (the matched
    * reference timestamp), NULL when no reference is visible. The extra
    * trailing `__ref_ts` field cannot change which reference wins any
    * tie: every struct comparison that reaches it has already tied on the
    * timestamp and the full payload. */
  private def backwardSlicedCore(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long): (DataFrame, Seq[String]) = {
    require(cellWidth > 0, s"cellWidth must be positive: $cellWidth")
    require(payloadCols.nonEmpty, "payloadCols must name at least one reference column")
    val probeCols = probe.columns.toSeq
    require(payloadCols.forall(!probeCols.contains(_)),
      s"payload columns collide with probe columns: ${payloadCols.filter(probeCols.contains)}")
    require(!probeCols.contains("__cell"), "probe must not already carry a __cell column")
    def cellOf(c: Column): Column = TimeCells.floorDiv(c, lit(cellWidth))
    val pay = struct(payloadCols.map(col) :+ col(tsCol).as("__ref_ts"): _*)
    val refC = reference.withColumn("__cell", cellOf(col(tsCol)))
    val probeC = probe.withColumn("__cell", cellOf(col(tsCol)))

    // (2) cell-level carry: last reference payload per (key, cell),
    // carried forward so a probe cell sees the latest STRICTLY-EARLIER
    // cell's last payload (probe rows sort before ref rows at the same
    // cell: the in-cell merge owns same-cell references)
    val cellLast = refC
      .groupBy((keyCols :+ "__cell").map(col): _*)
      .agg(max(struct(col(tsCol).as("__t"), pay.as("__p"))).as("__m"))
      .select((keyCols :+ "__cell").map(col) :+ lit(1).as("__cside") :+
        col("__m.__p").as("__cpay"): _*)
    val probeCells = probeC
      .select((keyCols :+ "__cell").map(col): _*).distinct()
      .select((keyCols :+ "__cell").map(col) :+ lit(0).as("__cside") :+
        lit(null).cast(cellLast.schema("__cpay").dataType).as("__cpay"): _*)
    val wCarry = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__cell"), col("__cside"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = probeCells.unionByName(cellLast)
      .withColumn("__carry", last(col("__cpay"), ignoreNulls = true).over(wCarry))
      .filter(col("__cside") === 0)
      .select((keyCols :+ "__cell").map(col) :+ col("__carry"): _*)

    // (1) in-cell union-merge, partitioned by (key, cell)
    val refSide = refC
      .select((keyCols.map(col) :+ col("__cell") :+ col(tsCol) :+
        lit(0).as("__side") :+ pay.as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol)
          .map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val probeSide = probeC
      .select((keyCols.map(col) :+ col("__cell") :+ col(tsCol) :+
        lit(1).as("__side") :+
        lit(null).cast(refSide.schema("__pay").dataType).as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol).map(col): _*)
    val wCell = Window
      .partitionBy((keyCols :+ "__cell").map(col): _*)
      .orderBy(orderCols(tsCol): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = refSide.unionByName(probeSide)
      .withColumn("__in", last(col("__pay"), ignoreNulls = true).over(wCell))
      .filter(col("__side") =!= 0)

    // (3) in-cell match wins; else the carry-in from earlier cells
    (joinCarry(merged, carry, keyCols)
      .withColumn("__asof", coalesce(col("__in"), col("__carry"))), probeCols)
  }

  /** Time-SLICED forward as-of join — [[backwardSliced]]'s mirror for
    * [[forward]]: the in-cell union-merge partitions by (key, cell) with
    * the forward frame (probe before ref at equal ts — inclusive; dup-ts
    * refs → MIN payload via the (ts, payload)-ascending order), and the
    * cell-level carry runs BACKWARD: per (key, cell) the FIRST reference
    * (min (ts, payload) struct) is aggregated, then each probe cell takes
    * the earliest reference of the nearest LATER cell over the tiny
    * (key, cell) table — any ref in a later cell is strictly after every
    * probe ts in this cell, so the carry is exact. Same cost shape as the
    * backward hatch: one extra bounded pass over the reference side. */
  def forwardSliced(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long): DataFrame = {
    val (merged, probeCols) =
      forwardSlicedCore(probe, reference, keyCols, tsCol, payloadCols, cellWidth)
    merged.select(probeCols.map(col) ++
      payloadCols.map(c => col(s"__asof.$c").as(c)): _*)
  }

  /** [[backwardSlicedCore]]'s forward mirror: probe columns + `__asof`
    * struct of `payloadCols` and `__ref_ts`. */
  private def forwardSlicedCore(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long): (DataFrame, Seq[String]) = {
    require(cellWidth > 0, s"cellWidth must be positive: $cellWidth")
    require(payloadCols.nonEmpty, "payloadCols must name at least one reference column")
    val probeCols = probe.columns.toSeq
    require(payloadCols.forall(!probeCols.contains(_)),
      s"payload columns collide with probe columns: ${payloadCols.filter(probeCols.contains)}")
    require(!probeCols.contains("__cell"), "probe must not already carry a __cell column")
    def cellOf(c: Column): Column = TimeCells.floorDiv(c, lit(cellWidth))
    val pay = struct(payloadCols.map(col) :+ col(tsCol).as("__ref_ts"): _*)
    val refC = reference.withColumn("__cell", cellOf(col(tsCol)))
    val probeC = probe.withColumn("__cell", cellOf(col(tsCol)))

    // (2) cell-level carry: FIRST reference payload per (key, cell),
    // carried backward so a probe cell sees the nearest STRICTLY-LATER
    // cell's first payload (ref rows sort before probe rows at the same
    // cell, so the following frame from a probe starts at the next cell:
    // the in-cell merge owns same-cell references)
    val cellFirst = refC
      .groupBy((keyCols :+ "__cell").map(col): _*)
      .agg(min(struct(col(tsCol).as("__t"), pay.as("__p"))).as("__m"))
      .select((keyCols :+ "__cell").map(col) :+ lit(0).as("__cside") :+
        col("__m.__p").as("__cpay"): _*)
    val probeCells = probeC
      .select((keyCols :+ "__cell").map(col): _*).distinct()
      .select((keyCols :+ "__cell").map(col) :+ lit(1).as("__cside") :+
        lit(null).cast(cellFirst.schema("__cpay").dataType).as("__cpay"): _*)
    val wCarry = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__cell"), col("__cside"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carry = cellFirst.unionByName(probeCells)
      .withColumn("__carry", first(col("__cpay"), ignoreNulls = true).over(wCarry))
      .filter(col("__cside") === 1)
      .select((keyCols :+ "__cell").map(col) :+ col("__carry"): _*)

    // (1) in-cell union-merge, partitioned by (key, cell) — the forward
    // frame: probe (side 0) before ref (side 1) at equal ts, first
    // payload at-or-after wins, dup-ts refs resolve to MIN payload
    val refSide = refC
      .select((keyCols.map(col) :+ col("__cell") :+ col(tsCol) :+
        lit(1).as("__side") :+ pay.as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol)
          .map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val probeSide = probeC
      .select((keyCols.map(col) :+ col("__cell") :+ col(tsCol) :+
        lit(0).as("__side") :+
        lit(null).cast(refSide.schema("__pay").dataType).as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol).map(col): _*)
    val wCell = Window
      .partitionBy((keyCols :+ "__cell").map(col): _*)
      .orderBy(orderCols(tsCol): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val merged = refSide.unionByName(probeSide)
      .withColumn("__in", first(col("__pay"), ignoreNulls = true).over(wCell))
      .filter(col("__side") =!= 1)

    // (3) in-cell match wins; else the carry-in from later cells
    (joinCarry(merged, carry, keyCols)
      .withColumn("__asof", coalesce(col("__in"), col("__carry"))), probeCols)
  }

  /** Time-sliced [[backwardWithin]] — the tolerance-bounded backward join
    * through the skew hatch. The slicing machinery already carries the
    * matched reference timestamp (`__ref_ts` in the core's `__asof`
    * struct), so the staleness bound stays a row-local predicate on the
    * reattached match, exactly as in the plain operator: same output
    * schema (payload columns NULLed when out of tolerance, plus
    * `asof_ts`). */
  def backwardWithinSliced(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      tolerance: Long,
      cellWidth: Long): DataFrame = {
    require(tolerance >= 0, s"tolerance must be non-negative: $tolerance")
    require(!probe.columns.contains("asof_ts"),
      "probe must not already carry an asof_ts column")
    val (merged, probeCols) =
      backwardSlicedCore(probe, reference, keyCols, tsCol, payloadCols, cellWidth)
    merged
      .withColumn("__ok",
        col("__asof").isNotNull && col(tsCol) - col("__asof.__ref_ts") <= tolerance)
      .select(probeCols.map(col) ++
        payloadCols.map(c => when(col("__ok"), col(s"__asof.$c")).as(c)) :+
        when(col("__ok"), col("__asof.__ref_ts")).as("asof_ts"): _*)
  }

  /** Time-sliced [[nearest]] — the skew hatch for the bidirectional
    * variant, in ONE pass over the event table: the in-cell union-merge
    * sorts once per (key, cell) and serves BOTH frames (inclusive
    * backward, exclusive-at-equal-ts forward — exact because an equal-ts
    * reference is distance zero and the backward frame already claims
    * it), and the two cross-cell carries (last-earlier-cell reference
    * forward, first-later-cell reference backward) run over the tiny
    * (key, cell) table. Output schema matches [[nearest]]: probe columns,
    * payload columns, `asof_ts`. */
  def nearestSliced(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long): DataFrame = {
    require(cellWidth > 0, s"cellWidth must be positive: $cellWidth")
    require(payloadCols.nonEmpty, "payloadCols must name at least one reference column")
    val probeCols = probe.columns.toSeq
    require(payloadCols.forall(!probeCols.contains(_)),
      s"payload columns collide with probe columns: ${payloadCols.filter(probeCols.contains)}")
    require(!probeCols.contains("__cell"), "probe must not already carry a __cell column")
    require(!probeCols.contains("asof_ts"),
      "probe must not already carry an asof_ts column")
    def cellOf(c: Column): Column = TimeCells.floorDiv(c, lit(cellWidth))
    val pay = struct(payloadCols.map(col) :+ col(tsCol).as("__ref_ts"): _*)
    val refC = reference.withColumn("__cell", cellOf(col(tsCol)))
    val probeC = probe.withColumn("__cell", cellOf(col(tsCol)))

    // ONE cell-level aggregation pass serves both carries: per (key, cell)
    // the LAST reference (max (ts, pay) — the backward dup-ts rule) and
    // the FIRST (min (ts, pay) — the forward rule)
    val cellAgg = refC
      .groupBy((keyCols :+ "__cell").map(col): _*)
      .agg(max(struct(col(tsCol).as("__t"), pay.as("__p"))).as("__mx"),
        min(struct(col(tsCol).as("__t"), pay.as("__p"))).as("__mn"))
    val probeCells = probeC.select((keyCols :+ "__cell").map(col): _*).distinct()
    val payType = refC.select(pay.as("__pay")).schema("__pay").dataType

    // backward carry: probe cells sort BEFORE the same cell's aggregate
    // (the in-cell merge owns same-cell refs), last earlier-cell payload
    val bUnion = probeCells
      .select((keyCols :+ "__cell").map(col) :+ lit(0).as("__cside") :+
        lit(null).cast(payType).as("__cpay"): _*)
      .unionByName(cellAgg.select((keyCols :+ "__cell").map(col) :+
        lit(1).as("__cside") :+ col("__mx.__p").as("__cpay"): _*))
    val wB = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__cell"), col("__cside"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carryB = bUnion
      .withColumn("__bcarry", last(col("__cpay"), ignoreNulls = true).over(wB))
      .filter(col("__cside") === 0)
      .select((keyCols :+ "__cell").map(col) :+ col("__bcarry"): _*)

    // forward carry: the mirror — cell aggregates sort BEFORE probe cells,
    // first later-cell payload
    val fUnion = cellAgg
      .select((keyCols :+ "__cell").map(col) :+ lit(0).as("__cside") :+
        col("__mn.__p").as("__cpay"): _*)
      .unionByName(probeCells.select((keyCols :+ "__cell").map(col) :+
        lit(1).as("__cside") :+ lit(null).cast(payType).as("__cpay"): _*))
    val wF = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__cell"), col("__cside"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carryF = fUnion
      .withColumn("__fcarry", first(col("__cpay"), ignoreNulls = true).over(wF))
      .filter(col("__cside") === 1)
      .select((keyCols :+ "__cell").map(col) :+ col("__fcarry"): _*)

    // in-cell union-merge: reference rows first at equal timestamps (the
    // [[nearest]] ordering); one (key, cell) sort, two frames
    val refSide = refC
      .select((keyCols.map(col) :+ col("__cell") :+ col(tsCol) :+
        lit(0).as("__side") :+ pay.as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol)
          .map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val probeSide = probeC
      .select((keyCols.map(col) :+ col("__cell") :+ col(tsCol) :+
        lit(1).as("__side") :+
        lit(null).cast(refSide.schema("__pay").dataType).as("__pay")) ++
        probeCols.filterNot(c => keyCols.contains(c) || c == tsCol).map(col): _*)
    val part = Window.partitionBy((keyCols :+ "__cell").map(col): _*)
      .orderBy(orderCols(tsCol): _*)
    val merged = refSide.unionByName(probeSide)
      .withColumn("__b_in", last(col("__pay"), ignoreNulls = true)
        .over(part.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__f_in", first(col("__pay"), ignoreNulls = true)
        .over(part.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("__side") =!= 0)

    val chosen = when(col("__f").isNull, col("__b"))
      .when(col("__b").isNull, col("__f"))
      .when(col(tsCol) - col("__b.__ref_ts") <= col("__f.__ref_ts") - col(tsCol), col("__b"))
      .otherwise(col("__f"))
    joinCarry(joinCarry(merged, carryB, keyCols, "__bcarry", tag = "b"),
        carryF, keyCols, "__fcarry", tag = "f")
      .withColumn("__b", coalesce(col("__b_in"), col("__bcarry")))
      .withColumn("__f", coalesce(col("__f_in"), col("__fcarry")))
      .withColumn("__n", chosen)
      .select(probeCols.map(col) ++
        payloadCols.map(c => col(s"__n.$c").as(c)) :+
        col("__n.__ref_ts").as("asof_ts"): _*)
  }

  /** Skew-aware [[backwardWithin]]: the [[backwardAuto]] dispatch applied
    * to the tolerance variant — both paths share the output schema and
    * semantics, so the dispatch only ever changes the plan. */
  def backwardWithinAuto(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      tolerance: Long,
      cellWidth: Long,
      hotKeyRowThreshold: Long = 10000000L): DataFrame =
    if (hotKeys(probe, reference, keyCols, hotKeyRowThreshold).isEmpty)
      backwardWithin(probe, reference, keyCols, tsCol, payloadCols, tolerance)
    else
      backwardWithinSliced(probe, reference, keyCols, tsCol, payloadCols, tolerance, cellWidth)

  /** Skew-aware [[nearest]]: plain single-sort plan until a key crosses
    * the hot-key threshold, then [[nearestSliced]]. */
  def nearestAuto(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long,
      hotKeyRowThreshold: Long = 10000000L): DataFrame =
    if (hotKeys(probe, reference, keyCols, hotKeyRowThreshold).isEmpty)
      nearest(probe, reference, keyCols, tsCol, payloadCols)
    else
      nearestSliced(probe, reference, keyCols, tsCol, payloadCols, cellWidth)

  /** Hot-key audit for the as-of family: keys whose combined probe+ref
    * row count exceeds `threshold` — one cheap map-side-partial count per
    * live key, so the shuffle carries one row per key. */
  def hotKeys(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      threshold: Long): DataFrame =
    probe.select(keyCols.map(col): _*)
      .unionByName(reference.select(keyCols.map(col): _*))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("rows"))
      .filter(col("rows") > threshold)

  /** Skew-aware backward as-of: time-slice ([[backwardSliced]]) only when
    * some key exceeds `hotKeyRowThreshold` rows across both sides (one
    * cheap count-per-key pass), else the plain single-window
    * [[backward]] — the same [[hotKeys]] dispatch as [[nearestAuto]] and
    * [[backwardWithinAuto]]. Both paths are
    * hash-identical (o41e reuses o41's oracle verbatim), so the dispatch
    * can never change results, only the plan. */
  def backwardAuto(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String],
      cellWidth: Long,
      hotKeyRowThreshold: Long = 10000000L): DataFrame =
    if (hotKeys(probe, reference, keyCols, hotKeyRowThreshold).isEmpty)
      backward(probe, reference, keyCols, tsCol, payloadCols)
    else
      backwardSliced(probe, reference, keyCols, tsCol, payloadCols, cellWidth)

  /** Nearest as-of join: the closer of the backward and forward matches by
    * |ref.ts − probe.ts|, equal distance → backward (the pandas
    * `merge_asof` nearest tie rule). ONE union and two frame windows over
    * the SAME key-hash sort — the forward window is exclusive at equal
    * timestamps, which is exact because an equal-ts reference is distance
    * zero and the inclusive backward window already claims it. Emits the
    * probe columns, the payload columns, and `asof_ts` (the matched
    * reference timestamp; NULL when the key has no reference at all). */
  def nearest(
      probe: DataFrame,
      reference: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(!probe.columns.contains("asof_ts"),
      "probe must not already carry an asof_ts column")
    val payAll = payloadCols :+ "__ref_ts"
    val (u, probeCols, refTag) = unionTagged(
      probe, reference.withColumn("__ref_ts", col(tsCol)),
      keyCols, tsCol, payAll, refFirstAtTies = true)
    val part = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols(tsCol): _*)
    val wb = part.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = part.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val chosen = when(col("__f").isNull, col("__b"))
      .when(col("__b").isNull, col("__f"))
      .when(col(tsCol) - col("__b.__ref_ts") <= col("__f.__ref_ts") - col(tsCol), col("__b"))
      .otherwise(col("__f"))
    u.withColumn("__b", last(col("__pay"), ignoreNulls = true).over(wb))
      .withColumn("__f", first(col("__pay"), ignoreNulls = true).over(wf))
      .filter(col("__side") =!= refTag)
      .withColumn("__n", chosen)
      .select(probeCols.map(col) ++
        payloadCols.map(c => col(s"__n.$c").as(c)) :+
        col("__n.__ref_ts").as("asof_ts"): _*)
  }
}
