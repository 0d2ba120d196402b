package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.cut
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composition a training-data pipeline
  * actually runs — annotate (one map-only pass: quality + repetition +
  * language signals), filter (length → quality → repetition → language),
  * then dedup. Every stage is one of the engine's already-verified
  * operators; this module only fixes the composition and makes the
  * per-stage attrition observable ([[report]]) so a capped/filtered corpus
  * is never a silent surprise.
  *
  * Scale shape: annotation and filtering are a single map-only projection
  * over the corpus scan (no shuffle until dedup); the dedup stage inherits
  * its operator's shape (exact: one md5 shuffle; minhash: banded LSH).
  */
object Curation {

  /** Filter thresholds; `keepLangs = None` disables the language stage,
    * `maxBitsPerToken = None` disables the LM-fluency stage (requires an
    * `lm` passed to [[annotate]]/[[curate]]/[[report]]),
    * `maxContamination = None` disables the benchmark-decontamination stage
    * (requires `evalDocs`), `blockDomains = None` disables the domain
    * blocklist stage (requires a `urlCol` passed to
    * [[annotate]]/[[curate]]/[[report]] — the stage runs FIRST, the
    * RefinedWeb ordering: URL filtering before any content signal is paid),
    * `minNbScore = None` disables the NB-classifier stage (requires an
    * `nbModel` — a [[Classifier.nbTrain]] table),
    * `dedup` ∈ none | exact | minhash | minhash-clustered. */
  final case class Config(
      minWords: Int = 5,
      maxWords: Int = 100000,
      minQuality: Double = 0.3,
      maxDupWordFrac: Double = 0.9,
      maxTopBigramFrac: Double = 0.5,
      keepLangs: Option[Seq[String]] = None,
      maxBitsPerToken: Option[Double] = None,
      maxContamination: Option[Double] = None,
      blockDomains: Option[Seq[String]] = None,
      minNbScore: Option[Double] = None,
      dedup: String = "exact")

  /** All signals in one row-local pass: quality score, repetition
    * fractions, predicted language.
    *
    * WARNING (plan trap, NOTES.md): filtering directly on these computed
    * columns lets PushPredicateThroughNonJoin substitute the full signal
    * expressions into the predicate; the combined tree falls out of
    * whole-stage codegen and the higher-order-function chains evaluate
    * interpreted, per row (measured 80× on the filter stage). [[curate]] /
    * [[report]] therefore materialize the annotated frame first — which is
    * also the natural persistence point of a real pipeline (annotations are
    * written once, consumed by many downstream passes). */
  def annotate(
      docs: DataFrame,
      textCol: String = "text",
      lm: Option[DataFrame] = None,
      evalDocs: Option[DataFrame] = None,
      urlCol: Option[String] = None,
      nbModel: Option[DataFrame] = None): DataFrame = {
    val base = TextAnalysis.repetitionSignals(TextAnalysis.qualityScore(docs, textCol), textCol)
      .withColumn("lang_pred", TextAnalysis.languageId(col(textCol)))
    // LM vocabulary, NB model, and eval n-gram set all ride broadcast
    // structures — the annotation stays ONE map-only pass however many
    // stages are on
    val withLm = lm.map(m =>
      base.withColumn("bits_per_token", CorpusStats.lmScoreColumn(m, col(textCol))))
      .getOrElse(base)
    val withNb = nbModel.map(m =>
      withLm.withColumn("nb_score", Classifier.nbScoreColumn(m, col(textCol))))
      .getOrElse(withLm)
    val withDecon = evalDocs.map(e => withNb.withColumn("contamination_frac",
        Decontaminate.contaminationColumn(e, col(textCol), textCol = textCol)))
      .getOrElse(withNb)
    // canonical_url + domain are regexp builtins — still one map-only pass
    urlCol.map(u => Web.withUrlColumns(withDecon, u)).getOrElse(withDecon)
  }

  /** Cumulative stage predicates over an [[annotate]]d frame, in pipeline
    * order — each entry includes all previous stages' conditions, so the
    * funnel counts in [[report]] read directly off them. */
  def stageConditions(config: Config): Seq[(String, Column)] = {
    val length = col("n_words") >= config.minWords && col("n_words") <= config.maxWords
    val quality = col("quality_score") >= config.minQuality
    val repetition = col("dup_word_frac") <= config.maxDupWordFrac &&
      col("top_bigram_frac") <= config.maxTopBigramFrac
    val language = config.keepLangs
      .map(ls => col("lang_pred").isin(ls: _*)).getOrElse(lit(true))
    // per-stage predicates in pipeline order: the domain blocklist (when
    // on) runs FIRST — URL filtering is the cheapest signal and gates the
    // rest (RefinedWeb ordering); the tail stages are opt-in as before
    val perStage: Seq[(String, Column)] =
      config.blockDomains.map(bs => "domain" -> !col("domain").isin(bs: _*)).toSeq ++
        Seq("length" -> length, "quality" -> quality,
          "repetition" -> repetition, "language" -> language) ++
        config.maxBitsPerToken.map(m => "fluency" -> (col("bits_per_token") <= m)) ++
        config.minNbScore.map(m => "classifier" -> (col("nb_score") >= m)) ++
        config.maxContamination.map(m => "decontamination" -> (col("contamination_frac") <= m))
    // cumulative AND chain: each stage includes every previous condition
    perStage.tail.scanLeft(perStage.head) { case ((_, acc), (name, c)) => name -> (acc && c) }
  }

  /** The curated corpus: annotated, filtered, deduplicated. Survivor rows
    * keep their signal columns for downstream sampling/weighting. */
  def curate(
      docs: DataFrame,
      config: Config = Config(),
      idCol: String = "doc_id",
      textCol: String = "text",
      lm: Option[DataFrame] = None,
      evalDocs: Option[DataFrame] = None,
      urlCol: Option[String] = None,
      nbModel: Option[DataFrame] = None): DataFrame = {
    val filtered = cut(annotate(docs, textCol, lm, evalDocs, urlCol, nbModel))
      .filter(stageConditions(config).last._2)
    config.dedup match {
      case "none" => filtered
      case "exact" => Dedup.exact(filtered, idCol, textCol)
      case "minhash" => Dedup.nearDedupMinhash(filtered, idCol, textCol)
      case "minhash-clustered" => Dedup.nearDedupMinhashClustered(filtered, idCol, textCol)
      case other => throw new IllegalArgumentException(s"unknown dedup mode: $other")
    }
  }

  /** Streaming curation: the same annotate → filter funnel over a
    * STREAMING frame (every signal is a row-local projection, so the whole
    * stage chain is streaming-safe), with first-occurrence dedup via
    * [[graft.streaming.StreamingDedup.exactWithinWatermark]] — state
    * bounded by the watermark horizon. The per-batch predicate pays the
    * expression-inlining tax [[annotate]] documents (no materialization
    * point inside a streaming plan); at production scale put the annotated
    * stream through a sink and run [[curate]] downstream if that tax
    * matters. */
  def curateStream(
      docs: DataFrame,
      eventTimeCol: String,
      config: Config = Config(),
      textCol: String = "text",
      dedupDelay: String = "1 hour",
      lm: Option[DataFrame] = None,
      evalDocs: Option[DataFrame] = None): DataFrame =
    graft.streaming.StreamingDedup.exactWithinWatermark(
      annotate(docs, textCol, lm, evalDocs).filter(stageConditions(config).last._2),
      eventTimeCol, textCol, dedupDelay)

  /** Bounded deterministic replay of [[curateStream]] (the ST11 gate form,
    * ≙ [[graft.streaming.StreamingDedup.replayExact]]): drive `events`
    * through the streaming funnel in `chunk`-sized micro-batches and return
    * the surviving rows' text. Only arrival-order-INDEPENDENT columns are
    * returned — which duplicate instance survives the watermark dedup is
    * arrival-dependent by definition, the surviving CONTENT set is not. */
  def replayCurateStream(
      spark: org.apache.spark.sql.SparkSession,
      events: Seq[graft.streaming.StreamingDedup.DocEvent],
      chunk: Int,
      config: Config = Config(),
      delay: String = "1 hour",
      lm: Option[DataFrame] = None,
      evalDocs: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.StreamingDedup.DocEvent]
    val src = stream.toDS()
      .select(timestamp_millis(col("timeStampMs")).as("event_time"), col("text"))
    val name = s"graft_curate_replay_${replaySeq.incrementAndGet()}"
    // bounded replay at 4 state partitions (one state file per partition
    // per micro-batch — the StreamingCandles/StreamingDedup rationale)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val query = curateStream(src, "event_time", config, dedupDelay = delay,
          lm = lm, evalDocs = evalDocs)
        .select("text")
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10L))
        .start()
      try {
        events.grouped(chunk).foreach { g => stream.addData(g); query.processAllAvailable() }
      } finally query.stop()
    } finally spark.conf.set(key, prev)
    spark.table(name)
  }

  private val replaySeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Token-budget corpus selection: keep the highest-priority prefix whose
    * cumulative whitespace-token count fits `budgetTokens` — the greedy
    * training-mix primitive ("best documents up to N tokens"). Priority is
    * quality_score descending with doc id as the total-order tiebreak; the
    * cumulative sum runs as a DISTRIBUTED prefix sum
    * ([[graft.operators.Pipeline.runningTotal]]: range partition +
    * partition-local windows + broadcast offsets), never a global
    * single-partition window. Input must be [[annotate]]d (or any frame
    * with a `quality_score`). Output keeps `n_tokens` and the inclusive
    * `running_total` for auditability. */
  def tokenBudgetSample(
      annotated: DataFrame,
      budgetTokens: Long,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val withTokens = annotated
      .withColumn("n_tokens", TextAnalysis.tokenCountWhitespace(col(textCol)).cast("long"))
    graft.operators.Pipeline
      .runningTotal(withTokens, Seq(col("quality_score").desc, col(idCol)), col("n_tokens"))
      .withColumnRenamed("__running_total", "running_total")
      .filter(col("running_total") <= budgetTokens)
  }

  /** Concat-and-chunk sequence packing — the standard LLM pre-training
    * layout: documents are concatenated in a deterministic order (`idCol`)
    * and the token stream is sliced into fixed `seqLen`-token training
    * sequences. Each document gets its global token span and the range of
    * sequences it lands in:
    * `tok_start` (inclusive, 0-based), `first_seq`/`last_seq` (a doc
    * straddling a boundary spans several), `offset_in_first`.
    *
    * The global offset is a DISTRIBUTED prefix sum
    * ([[graft.operators.Pipeline.runningTotal]]: range partition +
    * partition-local windows + broadcast per-partition offsets) — never a
    * single-partition window, so the layout step scales with the corpus.
    * Downstream writers emit sequence shards by `first_seq` range, which
    * the range partitioning has already co-located. */
  def packSequences(
      docs: DataFrame,
      seqLen: Long,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    packByTokenCounts(
      docs.withColumn("n_tokens", TextAnalysis.tokenCountWhitespace(col(textCol)).cast("long")),
      seqLen, idCol)

  /** [[packSequences]] over PRECOMPUTED per-document token counts — the
    * form a real pipeline runs after tokenizer induction, e.g. packing by
    * [[graft.llm.Bpe.encodeCounts]] BPE token counts instead of the
    * whitespace approximation (pass `tokensCol = "n_bpe_tokens"`). Same
    * distributed-prefix-sum layout; counts column is cast to long. */
  def packByTokenCounts(
      counts: DataFrame,
      seqLen: Long,
      idCol: String = "doc_id",
      tokensCol: String = "n_tokens"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val withTokens = counts.withColumn("n_tokens", col(tokensCol).cast("long"))
    graft.operators.Pipeline
      .runningTotal(withTokens, Seq(col(idCol)), col("n_tokens"))
      .withColumn("tok_start", col("__running_total") - col("n_tokens"))
      // integer `div`, not floor(double /): exact past 2^53 tokens
      .withColumn("first_seq", expr(s"tok_start div ${seqLen}L"))
      .withColumn("last_seq", expr(s"(__running_total - 1) div ${seqLen}L"))
      .withColumn("offset_in_first", col("tok_start") % seqLen)
      .select(col(idCol), col("n_tokens"), col("tok_start"),
        col("first_seq"), col("last_seq"), col("offset_in_first"))
  }

  /** Materialize the packed training sequences themselves — the shard
    * content a pre-training pipeline physically writes after
    * tokenize → pack: every token id lands at its global stream position,
    * sliced into `seqLen`-token sequences as (seq_id, pos_in_seq,
    * token_id, doc_id) rows.
    *
    * `tokenRows` is [[graft.llm.Bpe.encodeIds]] output (doc_id, word_idx,
    * tok_idx, token_id); `pack` is [[packByTokenCounts]] output over the
    * MATCHING counts (doc_id, tok_start) — same segmentation on both
    * sides, so each document's row count equals its packed token span by
    * construction. The within-document token index is a window partitioned
    * BY DOCUMENT (narrow rows, bounded by the longest document — never a
    * global single-partition sort), the global position is
    * `tok_start + idx`, and the doc-keyed join to the pack table is a
    * plain equi-join both sides already key on (Spark broadcasts the
    * doc-level side when small; at corpus scale it shuffle-joins on
    * doc_id). Downstream writers shard by `seq_id` range — contiguous
    * under the range partitioning the prefix sum already produced. */
  def packEmit(
      tokenRows: DataFrame,
      pack: DataFrame,
      seqLen: Long,
      idCol: String = "doc_id"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("word_idx"), col("tok_idx"))
    tokenRows
      .join(pack.select(col(idCol), col("tok_start")), Seq(idCol))
      .withColumn("__gpos", col("tok_start") + row_number().over(w).cast("long") - lit(1L))
      .select(
        expr(s"__gpos div ${seqLen}L").as("seq_id"),
        (col("__gpos") % seqLen).as("pos_in_seq"),
        col("token_id"),
        col(idCol))
  }

  /** Roll [[packEmit]]'s position rows up into one row per training
    * sequence — the shard records a writer ships: (seq_id, n_tokens,
    * ids_csv) with the token ids comma-joined in stream order. The single
    * seq_id-keyed shuffle IS the shard-write shuffle — sequences land
    * grouped for the writer, sorted (seq_id, pos) inside each partition,
    * and a partition-local linear scan cuts the stream at sequence
    * boundaries exactly the way a physical shard writer does. A trailing
    * partial sequence (< seqLen tokens) is emitted as-is; the writer pads
    * or drops it by policy. CSV (not array) output keeps the artifact
    * trivially hashable and diffable across engines.
    *
    * Deliberately NOT `groupBy(seq_id).agg(sort_array(collect_list(
    * struct(pos, id))))`: with thousands of sequences per task the
    * partial ObjectHashAggregate exceeds the 128-key
    * `objectHashAggregate.sortBased.fallbackThreshold` and silently
    * degrades to SortBasedAggregator — every row re-serialized through
    * UnsafeKVExternalSorter.insertKV with its partially-built array
    * buffer (jstack-attributed, r15), an allocation storm that fed ~20
    * cores of G1 *concurrent* GC work at 10× scale. And partial
    * collect_list performs no reduction, so that cost bought nothing. The
    * explicit repartition + sortWithinPartitions + mapPartitions form
    * does one narrow-row shuffle and a zero-copy scan; every seq_id's
    * rows land in one partition (AQE may coalesce partitions but never
    * splits a hash bucket), so the group-contiguity the scan relies on is
    * a partitioning invariant, not luck. */
  def packShards(
      tokenRows: DataFrame,
      pack: DataFrame,
      seqLen: Long,
      idCol: String = "doc_id"): DataFrame = {
    val emitted = packEmit(tokenRows, pack, seqLen, idCol)
      .select(col("seq_id"), col("pos_in_seq"), col("token_id"))
    val spark = emitted.sparkSession
    import spark.implicits._
    emitted
      .repartition(col("seq_id"))
      .sortWithinPartitions(col("seq_id"), col("pos_in_seq"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[(Long, Long, String)] {
          def hasNext: Boolean = in.hasNext
          def next(): (Long, Long, String) = {
            val seq = in.head._1
            val sb = new java.lang.StringBuilder
            var n = 0L
            while (in.hasNext && in.head._1 == seq) {
              val (_, _, tok) = in.next()
              if (n > 0) sb.append(',')
              sb.append(tok)
              n += 1
            }
            (seq, n, sb.toString)
          }
        }
      }
      .toDF("seq_id", "n_tokens", "ids_csv")
  }

  /** Packing-efficiency audit over a [[packByTokenCounts]] layout — the
    * numbers a pre-training pipeline checks before burning GPU-hours on the
    * shards: how many sequences the layout produces, how much of the last
    * one is padding, what fraction of documents straddle a sequence
    * boundary (fragmented attention context), and the overall fill rate.
    * One global rollup over the doc-level pack table (map-side partials →
    * a single-row agg); at corpus scale this reads the already-persisted
    * layout, never the token stream. Integer outputs except the 6dp fill
    * rate, so the single-row artifact hashes identically across engines. */
  def packWaste(pack: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    pack
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
          .as("fragmented_docs"),
        max(col("last_seq") - col("first_seq") + 1).as("max_doc_span_seqs"))
      .withColumn("n_seqs", expr(s"(total_tokens + ${seqLen - 1}L) div ${seqLen}L"))
      .withColumn("tail_padding",
        (lit(seqLen) - col("total_tokens") % seqLen) % seqLen)
      .withColumn("fill_rate",
        round(col("total_tokens").cast("double") / (col("n_seqs") * seqLen), 6))
      .select("n_docs", "total_tokens", "n_seqs", "tail_padding",
        "fragmented_docs", "max_doc_span_seqs", "fill_rate")
  }

  /** Deterministic curriculum order — the training-order artifact of a
    * quality-annealed schedule: documents are banded by quality score
    * (fixed thresholds, so banding is pure integer/4dp-rounded comparison
    * — no cross-engine float risk) and shuffled hash-deterministically
    * WITHIN each band ([[Sampling.shuffleKey]]), yielding a total order
    * `(band asc, shuffle_key, id)` that feeds low-quality data early and
    * saves the highest band for the anneal phase (the curriculum shape of
    * data-constrained recipes). Map-only: the order is an emitted SORT KEY,
    * not a global rank — writers range-partition on it exactly like the
    * shuffle-order pass, so no single-partition window exists at any
    * scale. `bands` are ascending lower-bound thresholds; band k means
    * `quality_score >= bands(k-1)` (band 0 = below all thresholds). */
  def curriculumOrder(
      annotated: DataFrame,
      bands: Seq[Double] = Seq(0.25, 0.5, 0.8),
      seed: String = "cur0",
      idCol: String = "doc_id"): DataFrame = {
    require(bands.nonEmpty && bands == bands.sorted,
      s"bands must be ascending thresholds: $bands")
    val band = bands.zipWithIndex.foldLeft(lit(0)) { case (acc, (thr, i)) =>
      when(col("quality_score") >= thr, lit(i + 1)).otherwise(acc)
    }
    annotated
      .withColumn("band", band.cast("long"))
      .withColumn("curriculum_key", Sampling.shuffleKey(col(idCol), seed))
  }

  /** Split each document into fixed-size token chunks with `overlap`
    * carried tokens between consecutive chunks — the context-window prep
    * for embedding/retrieval pipelines (chunk k covers tokens
    * [k·(size−overlap), k·(size−overlap)+size)). Row-local explode: a
    * document's chunks never leave its row's task, so the pass is map-only
    * at any corpus size. The last chunk keeps the tail even when shorter
    * than `size`; documents shorter than `size` yield one chunk. */
  def chunkDocuments(
      docs: DataFrame,
      chunkSize: Int,
      overlap: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize: chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    val words = split(trim(col(textCol)), "\\s+")
    val nChunks = greatest(ceil((size(words) - lit(overlap)).cast("double") / step).cast("int"), lit(1))
    docs
      .withColumn("__words", words)
      .withColumn("__chunk", explode(transform(sequence(lit(0), nChunks - 1), k =>
        struct(k.as("chunk_idx"),
          array_join(slice(col("__words"), k * step + 1, lit(chunkSize)), " ").as("chunk_text"),
          least(size(col("__words")) - k * step, lit(chunkSize)).as("chunk_tokens")))))
      .select(col(idCol),
        col("__chunk.chunk_idx").as("chunk_idx"),
        col("__chunk.chunk_text").as("chunk_text"),
        col("__chunk.chunk_tokens").as("chunk_tokens"))
  }

  /** Strip per-stratum boilerplate lines — the web-curation pass that
    * removes navigation/footer text shared across a domain's pages: a line
    * is boilerplate in a stratum (domain, source) when it appears in
    * ≥ `minDocs` documents AND ≥ `minFrac` of the stratum's documents.
    * Returns the documents with surviving lines rejoined in order;
    * documents whose every line was boilerplate are dropped.
    *
    * Scale shape: three shuffles, all keyed high-cardinality — line
    * occurrence counting on (stratum, line) [map-side partial distinct],
    * the anti-join on the same key, and the per-document rebuild. The
    * boilerplate table itself is small (frequent lines only), but the
    * anti-join is keyed, never broadcast-dependent. */
  def stripBoilerplate(
      docs: DataFrame,
      strataCol: String = "source",
      minFrac: Double = 0.3,
      minDocs: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol), col(strataCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
    val strataDocs = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("__docs"))
    val boiler = lines
      .groupBy(col(strataCol), col("__line"))
      .agg(count_distinct(col(idCol)).as("__indocs"))
      .join(strataDocs, Seq(strataCol))
      .filter(col("__indocs") >= minDocs &&
        col("__indocs") >= col("__docs") * minFrac)
      .select(col(strataCol), col("__line"))
    // scan-based re-assembly, not array_sort(collect_list(...)) — the
    // aggregation form degrades to the sorter fallback at corpus scale
    // (TextAnalysis.orderedReassemble scaladoc, NOTES r15)
    TextAnalysis.orderedReassemble(
      lines.join(boiler, Seq(strataCol, "__line"), "left_anti"),
      Seq(idCol, strataCol), "__pos", "__line", sep, textCol)
  }

  /** One-row attrition funnel: total and survivors after each stage, in ONE
    * aggregation pass (conditional counts over the cumulative stage
    * predicates). The dedup survivor count is exact-dedup's definition —
    * distinct content hashes among fully-filtered rows; for the minhash
    * modes run `curate(...).count()` instead (a near-dup group has no
    * closed-form count). */
  def report(
      docs: DataFrame,
      config: Config = Config(),
      textCol: String = "text",
      lm: Option[DataFrame] = None,
      evalDocs: Option[DataFrame] = None,
      urlCol: Option[String] = None,
      nbModel: Option[DataFrame] = None): DataFrame = {
    val conds = stageConditions(config)
    val aggs = conds.map { case (name, c) =>
      count(when(c, lit(1))).as(s"after_$name")
    } :+ count_distinct(when(conds.last._2, md5(col(textCol)))).as("after_dedup_exact")
    cut(annotate(docs, textCol, lm, evalDocs, urlCol, nbModel))
      .agg(count(lit(1)).as("total"), aggs: _*)
  }
}
