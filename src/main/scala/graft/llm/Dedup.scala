package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.cut
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every variant is bucket-first — candidate pairs only ever
  * form inside a (band-hash) or (simhash-band) group, never via an all-pairs
  * cross join. At 100 TB the band groupBy is the single shuffle, keyed on a
  * hash, so it distributes uniformly; within-bucket pair expansion is bounded
  * by bucket size (collision probability tuned via bands × rows).
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** Exact dedup via content-hash groupBy: keep the lowest-id copy per
    * BYTE-IDENTICAL raw text. One shuffle on the 128-bit md5 — no skew
    * (hash keys).
    *
    * Contract vs [[exactKeepBest]] (declared, not an accident): this
    * entry point does NO normalization — two docs collapse only when
    * their raw text is identical, so distinct all-punctuation docs stay
    * distinct here, which AGREES with [[exactKeepBest]]'s `raw:` fallback
    * for empty-normalized docs. The two entry points differ only on docs
    * with a NON-empty normalized form ([[exactKeepBest]] also collapses
    * case/punctuation variants); callers wanting normalized keying use
    * [[exactKeepBest]] (or [[normalizedText]] + this). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dup groups (size > 1) — the audit view of [[exact]]. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("copies"), min(col(idCol)).as("keeper_id"))
      .filter(col("copies") > 1)

  /** Dedup canonicalization (the Dolma/RefinedWeb "exact dedup after
    * normalization" key): lowercase, non-(letter|digit) to spaces,
    * whitespace collapsed, trimmed. Two copies differing only in case or
    * punctuation land in one dup group. UNICODE letter/number classes
    * (`\p{L}\p{N}` — Java and RE2 agree), so non-Latin text (the zh slice
    * of the documents fixture) keeps its content instead of normalizing
    * to empty and collapsing whole script families into one dup group. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /** Quality-aware keeper: within each normalized-content dup group keep
    * the HIGHEST-quality copy (tie → lowest id) instead of the first-seen —
    * the RefinedWeb-style "keep the cleanest duplicate" policy. Same single
    * content-hash shuffle as [[exact]]; only the within-group order changes.
    *
    * Documents whose NORMALIZED text is empty (all punctuation /
    * whitespace in every script) are NOT considered duplicates of each
    * other: they fall back to their RAW text as the group key, so only
    * byte-identical empties collapse. The `raw:`/`norm:` prefixes keep
    * the two key spaces disjoint. */
  def exactKeepBest(
      docs: DataFrame,
      qualityCol: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val norm = normalizedText(col(textCol))
    val key = when(norm === lit(""), concat(lit("raw:"), col(textCol)))
      .otherwise(concat(lit("norm:"), norm))
    val w = Window.partitionBy(md5(key))
      .orderBy(col(qualityCol).desc, col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---- shingling / MinHash ----------------------------------------------

  /** Word k-shingles of the lowercased text. Row-local single pass — the
    * composed-builtin version (transform + slice + array_join per position)
    * is O(words·k) in *expression nodes* and dominated wall-clock at sf0.01;
    * this is a plain string walk. */
  def shingles(text: Column, k: Int = 3): Column = {
    val u = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else {
        val words = s.trim.toLowerCase.split("\\s+")
        val out = new scala.collection.mutable.ArrayBuffer[String](math.max(0, words.length - k + 1))
        var i = 0
        while (i + k <= words.length) {
          out += words.slice(i, i + k).mkString(" ")
          i += 1
        }
        out.toSeq
      }
    }
    u(text)
  }

  /** splitmix64 finalizer — public mixing function, stable across JVMs. */
  @inline private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature: `perms` independent permutations of the shingle hash
    * space, computed in ONE row-local pass (tokenize → k-shingle FNV-1a →
    * permutations → running min).
    *
    * The permutation family is Kirsch-Mitzenmacher double hashing
    * (gₚ = h₁ + p·h₂ with h₁ = splitmix64(fnv), h₂ = splitmix64(h₁) | 1 —
    * the standard construction for simulating k independent hash functions
    * from two): the per-permutation inner loop is one ADD + compare, vs a
    * full 3-multiply splitmix per permutation previously (measured 2.4 s →
    * the kernel is no longer the signature scan's floor at sf0.1).
    *
    * Deliberately a compact UDF, not composed builtins: an expression with 32
    * `aggregate(shingles(text))` legs re-evaluates the shingle pipeline per
    * permutation after CollapseProject inlining (measured 46 s vs <1 s at
    * sf0.001). One pass per row, no shuffle — the scan stays map-only. */
  def minhashSignature(text: Column, perms: Int = 32, k: Int = 3): Column = {
    val u = udf { (s: String) =>
      val mins = Array.fill(perms)(Long.MaxValue)
      if (s != null) {
        // Single char walk, zero allocation: per-word FNV-1a hashes feed a
        // k-slot ring; each full window combines the k word hashes into the
        // shingle hash. (toLowerCase+regex-split copies the whole document
        // and an array per row — measured as the actual kernel floor.)
        val ring = new Array[Long](k)
        var wordCount = 0
        var wh = 0xcbf29ce484222325L
        var inWord = false
        var idx = 0
        val n = s.length
        def closeWord(): Unit = if (inWord) {
          ring(wordCount % k) = wh
          wordCount += 1
          wh = 0xcbf29ce484222325L
          inWord = false
          if (wordCount >= k) {
            var sh = 0xcbf29ce484222325L
            var j = wordCount - k
            while (j < wordCount) { sh = (sh ^ ring(j % k)) * 0x100000001b3L; j += 1 }
            var g = splitmix64(sh)
            val step = splitmix64(g) | 1L // odd stride → full-period walk
            var p = 0
            while (p < perms) {
              if (g < mins(p)) mins(p) = g
              g += step
              p += 1
            }
          }
        }
        while (idx < n) {
          val c = s.charAt(idx)
          if (Character.isWhitespace(c)) closeWord()
          else { wh ^= Character.toLowerCase(c).toLong; wh *= 0x100000001b3L; inWord = true }
          idx += 1
        }
        closeWord()
      }
      mins.toSeq
    }
    u(text)
  }

  /** Banded MinHash signatures of a corpus: one (outId, band, band_hash)
    * row per document × band — the shared candidate-generation layout of
    * the within-corpus, cross-corpus, and incremental dedup paths, and the
    * PERSISTABLE signature index of [[incrementalCandidates]] (write it
    * bucketed by (band, band_hash) and every future increment's candidate
    * join is co-located). Map-only: the signature kernel runs once per
    * row. */
  def bandSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3,
      outId: String = "id"): DataFrame = {
    val rows = perms / bands
    docs.select(col(idCol).as(outId), minhashSignature(col(textCol), perms, shingleK).as("__sig"))
      .select(col(outId), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("__sig"), b * rows + 1, lit(rows))))).as(Seq("band", "band_hash")))
  }

  /** MinHash-LSH near-dup candidate pairs: signature → `bands` bands of
    * `rows` = perms/bands values → groupBy (band index, band hash) → pairs
    * within bucket. Returns (id_a, id_b, band) candidates, id_a < id_b.
    * Default 8 bands × 4 rows puts the (1/b)^(1/r) ≈ 0.59 collision
    * threshold safely BELOW the 0.7 Jaccard verify threshold (a banding
    * threshold above the verify threshold under-recalls by construction);
    * the exact verify pass keeps precision, and the bucket cap keeps the
    * wider buckets bounded. */
  def minhashLshCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandSignatures(docs, idCol, textCol, perms, bands, shingleK)
    // Single shuffle: bucket members per (band, hash), then expand ordered
    // pairs inside each bucket. A self-join here would re-execute the whole
    // signature scan per side; collect_set keeps it to one pass, and pair
    // expansion stays bounded by the `maxBucket` cap below.
    expandBuckets(
      banded
        .groupBy("band", "band_hash")
        .agg(sort_array(collect_set(col("id"))).as("ids")),
      maxBucket)
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("band"))
      .distinct()
  }

  /** Degenerate-bucket guard: buckets above this size are mass duplication
    * (boilerplate), which exact dedup already collapses — quadratic pair
    * expansion there is pure memory risk, not recall. */
  val DefaultMaxBucket: Int = 1024

  /** Ordered in-bucket pair expansion with the degenerate-bucket cap: a
    * bucket with more than `maxBucket` members would expand quadratically
    * (a 1M-member boilerplate bucket → 5·10¹¹ pairs → executor OOM), so
    * oversized buckets are skipped here and surfaced via [[oversizedBuckets]]
    * — run [[exact]] first to collapse mass duplication. Expects `ids`
    * sorted; emits `p.id_a < p.id_b` structs. */
  private[llm] def expandBuckets(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("*"), explode(
        flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("id_a"), y.as("id_b"))))))
        .as("p"))

  /** Audit view of buckets dropped by the `maxBucket` cap: (band, band_hash,
    * members). Feed its count to pipeline logging so capped coverage is
    * surfaced, never silent. */
  def oversizedBuckets(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandSignatures(docs, idCol, textCol, perms, bands, shingleK)
      .groupBy("band", "band_hash")
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > maxBucket)

  /** Distinct 64-bit shingle hashes via the same zero-allocation char walk
    * as [[minhashSignature]]: Jaccard over hashed shingles equals Jaccard
    * over the shingles themselves up to negligible 64-bit collisions, and
    * set operations on longs beat per-position string building by a wide
    * margin. */
  def shingleHashes(text: Column, k: Int = 3): Column = {
    val u = udf { (s: String) =>
      val set = scala.collection.mutable.HashSet.empty[Long]
      if (s != null) {
        val ring = new Array[Long](k)
        var wordCount = 0
        var wh = 0xcbf29ce484222325L
        var inWord = false
        var idx = 0
        val n = s.length
        def closeWord(): Unit = if (inWord) {
          ring(wordCount % k) = wh
          wordCount += 1
          wh = 0xcbf29ce484222325L
          inWord = false
          if (wordCount >= k) {
            var sh = 0xcbf29ce484222325L
            var j = wordCount - k
            while (j < wordCount) { sh = (sh ^ ring(j % k)) * 0x100000001b3L; j += 1 }
            set += sh
          }
        }
        while (idx < n) {
          val c = s.charAt(idx)
          if (Character.isWhitespace(c)) closeWord()
          else { wh ^= Character.toLowerCase(c).toLong; wh *= 0x100000001b3L; inWord = true }
          idx += 1
        }
        closeWord()
      }
      set.toSeq
    }
    u(text)
  }

  /** n-gram Jaccard similarity verification of candidate pairs: join texts
    * back, compute |A∩B| / |A∪B| over hashed word shingles with builtin
    * array ops (values equal string-shingle Jaccard, see [[shingleHashes]]). */
  def jaccardVerify(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    // Shingle only the docs that appear in a candidate pair — the candidate
    // set is tiny relative to the corpus once LSH has done its job. The
    // shingled frame feeds BOTH pair-join sides: materialize it once, or the
    // whole subtree (corpus scan + semi-join + shingle kernel) runs twice
    // (measured 2× the verify stage at sf0.1).
    val ids = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol))).distinct()
    val sh = cut(docs.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol), shingleHashes(col(textCol), k).as("sh")))
    val withA = candidates.join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
    val withB = withA.join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    withB
      .withColumn("jaccard",
        when(size(array_union(col("sh_a"), col("sh_b"))) > 0,
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
          .otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Theoretical LSH band-collision probability 1 − (1 − s^r)^b by
    * repeated multiplication (no libm `pow` — bit-identical anywhere). */
  private[graft] def bandCollideProb(s: Double, r: Int, b: Int): Double = {
    var sr = 1.0; var i = 0
    while (i < r) { sr *= s; i += 1 }
    var x = 1.0 - sr; var xb = 1.0; i = 0
    while (i < b) { xb *= x; i += 1 }
    1.0 - xb
  }

  /** LSH calibration audit — the parameter-tuning table a dedup pipeline
    * reviews before committing (perms, bands) at corpus scale: EVERY
    * banding candidate pair gets its exact Jaccard (no threshold cut),
    * bucketed into 0.1-wide similarity bins with the candidate count, how
    * many clear the verify `threshold`, the observed verify rate, and the
    * theoretical banding collision probability 1−(1−s^r)^b at the bin
    * midpoint — the observed candidate mass reads directly against the
    * S-curve, so a mis-tuned banding (mass piling up in low-similarity
    * bins = wasted verify work; high-similarity mass missing =
    * under-recall) is visible in ten rows.
    *
    * Cost shape: the same single-shuffle candidate generation and
    * verify-only Jaccard as [[nearDedupMinhash]] (capped buckets, shingled
    * frame materialized once) plus one ten-bin aggregation — safe to run
    * as a sampling audit at any scale. The theory column is computed
    * driver-side by repeated multiplication and joined as a 10-row
    * broadcast literal (no cross-engine libm dependence). */
  def lshCalibration(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3,
      threshold: Double = 0.7,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val r = perms / bands
    val theory = (0 to 9).map { bin =>
      (bin.toLong, bandCollideProb(bin / 10.0 + 0.05, r, bands))
    }.toDF("bin", "p_band_mid")
    val cands = minhashLshCandidates(docs, idCol, textCol, perms, bands, shingleK, maxBucket)
      .select("id_a", "id_b").distinct()
    jaccardVerify(cands, docs, idCol, textCol, shingleK, threshold = 0.0)
      .withColumn("bin", least(floor(col("jaccard") * 10).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_passing"))
      .withColumn("verify_rate", round(col("n_passing").cast("double") / col("n_pairs"), 6))
      .join(broadcast(theory), Seq("bin"))
  }

  /** Directional shingle-containment verification of candidate pairs —
    * the overlap measure Jaccard MISSES: an excerpt or long quote of a big
    * document shares nearly all of ITS shingles (containment ≈ 1) while
    * Jaccard stays low because the union is dominated by the big side
    * (Broder 1997's containment; the Lee et al. 2022 partial-overlap
    * concern). `containment_a = |A∩B|/|A|`, `containment_b = |A∩B|/|B|`;
    * pairs pass when either direction reaches `threshold`.
    *
    * Same shape as [[jaccardVerify]]: shingle only docs appearing in a
    * candidate pair (semi-join), materialize the shingled frame once for
    * both join sides, builtin array ops — verify-only over candidates,
    * never all-pairs. */
  def containmentVerify(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    val ids = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol))).distinct()
    val sh = cut(docs.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol), shingleHashes(col(textCol), k).as("sh")))
    val withA = candidates.join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
    val withB = withA.join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    withB
      .withColumn("__inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("containment_a",
        when(size(col("sh_a")) > 0, round(col("__inter") / size(col("sh_a")), 6)).otherwise(lit(0.0)))
      .withColumn("containment_b",
        when(size(col("sh_b")) > 0, round(col("__inter") / size(col("sh_b")), 6)).otherwise(lit(0.0)))
      .filter(col("containment_a") >= threshold || col("containment_b") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))
  }

  /** Full MinHash-LSH near-dedup: candidates → Jaccard verify → keep lowest
    * id per connected component approximated as min(id_a) per duplicate. */
  def nearDedupMinhash(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7): DataFrame = {
    // The candidate frame feeds three consumers (two semi-join sides and the
    // verify join) — materialize so the signature scan runs once, not per
    // branch (and is GC-released, unlike a leaked persist).
    val cands = cut(minhashLshCandidates(docs, idCol, textCol))
    val dups = jaccardVerify(cands, docs, idCol, textCol, threshold = threshold)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(dups, Seq(idCol), "left_anti")
  }

  /** MinHash near-dedup with TRUE transitive clustering: verified pairs →
    * connected components ([[Components.dupClusters]]) → keep the minimum
    * id per cluster. [[nearDedupMinhash]]'s pairwise removal (drop every
    * id_b) over-keeps when pairs under-connect — with pairs (A,C) and (B,C)
    * but no (A,B), it keeps both A and B; clustering collapses the
    * component to one survivor, the dedup semantics a training pipeline
    * actually wants. */
  def nearDedupMinhashClustered(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7): DataFrame = {
    val cands = cut(minhashLshCandidates(docs, idCol, textCol))
    val pairs = jaccardVerify(cands, docs, idCol, textCol, threshold = threshold)
    val survivors = Components.dupClusters(pairs.select("id_a", "id_b"), docs.select(col(idCol)))
      .filter(col("comp") === col("id"))
      .select(col("id").as(idCol))
    docs.join(survivors, Seq(idCol), "left_semi")
  }

  // ---- cross-corpus novelty ----------------------------------------------

  /** Documents in `docs` whose normalized text does NOT appear in `seen` —
    * the incremental-ingest novelty filter (new crawl batch vs the
    * already-ingested corpus). EXACT, despite the sketch in the middle.
    *
    * Scale shape: a Bloom filter over `seen`'s content hashes is built once
    * (one aggregation pass — at a real deployment this is index-build cost,
    * amortized across every subsequent increment) and broadcast; the
    * incoming side probes it MAP-SIDE, so the common case — a novel
    * document — never shuffles. Only Bloom-positives (true duplicates plus
    * an `fpp` fraction of false positives) reach the exact verification
    * anti-join, and that join carries hash projections, not documents.
    * Bloom filters have no false negatives, so negatives are definitely
    * novel and the composite result is exactly the anti-join — which is
    * what the DuckDB oracle computes.
    *
    * `expectedItems` is REQUIRED, same contract as the streaming twin
    * ([[graft.streaming.StreamingDedup.novelWithinWatermark]]): the old
    * auto-size fallback hid a full `seen.count()` inside the operator — two
    * whole corpus passes to build one bloom at 100 TB. The caller always
    * knows the corpus size (or reads it from the persisted index's
    * metadata); an over-estimate only widens the filter (VERDICT r5 #2).
    */
  def novelAgainst(
      docs: DataFrame,
      seen: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fpp: Double = 0.01,
      expectedItems: Long): DataFrame = {
    require(expectedItems > 0L,
      s"expectedItems must be positive (sizes the bloom filter without re-scanning seen): $expectedItems")
    val spark = docs.sparkSession
    val seenHashes = seen.select(md5(col(textCol)).as("__h"))
    val bf = seenHashes.stat.bloomFilter("__h", expectedItems, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    // null text → md5 null → probe false → the doc rides the novel branch,
    // where the anti-join's null key matches nothing: null-text docs are
    // NOVEL, exactly the anti-join's (and SQL NOT IN's rn-filtered oracle's)
    // verdict — and the guard keeps the UDF from NPEing on it (ADVICE r4)
    val probe = udf { (h: String) => h != null && bfB.value.mightContainString(h) }
    val hashed = docs.withColumn("__h", md5(col(textCol)))
    val maybeSeen = hashed.filter(probe(col("__h")))
      .join(seenHashes.distinct(), Seq("__h"), "left_anti")
    hashed.filter(!probe(col("__h")))
      .unionByName(maybeSeen)
      .drop("__h")
  }

  // ---- incremental near-dedup against a signature index ------------------

  /** Near-dup candidates of a NEW batch against an indexed corpus — the
    * incremental form of [[minhashLshCandidates]] for rolling ingest: the
    * corpus's [[bandSignatures]] are computed once and persisted (bucketed
    * by (band, band_hash)); each increment signs only ITS documents and
    * joins the index, so per-batch cost scales with the batch, never the
    * corpus. Returns (new_id, corpus_id) pairs sharing ≥1 band. The join
    * keys are hashes — uniform, skew-free; a degenerate band value (mass
    * boilerplate) is bounded by the same cap as the batch path via
    * [[oversizedBuckets]] auditing on the index side. */
  def incrementalCandidates(
      newDocs: DataFrame,
      index: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 32,
      bands: Int = 8,
      shingleK: Int = 3): DataFrame =
    bandSignatures(newDocs, idCol, textCol, perms, bands, shingleK, outId = "new_id")
      .join(index.select(col("id").as("corpus_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()

  /** Exact-Jaccard verification of cross-corpus candidate pairs (the
    * two-frame form of [[jaccardVerify]]): shingle only the documents that
    * appear in a candidate pair on each side, join both back, filter at
    * `threshold`. */
  def verifyPairsAcross(
      candidates: DataFrame,
      leftDocs: DataFrame,
      rightDocs: DataFrame,
      leftId: String = "new_id",
      rightId: String = "corpus_id",
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val leftSh = leftDocs
      .join(candidates.select(col(leftId).as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as(leftId), shingleHashes(col(textCol), k).as("__sh_l"))
    val rightSh = rightDocs
      .join(candidates.select(col(rightId).as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as(rightId), shingleHashes(col(textCol), k).as("__sh_r"))
    candidates
      .join(leftSh, Seq(leftId))
      .join(rightSh, Seq(rightId))
      .withColumn("jaccard",
        when(size(array_union(col("__sh_l"), col("__sh_r"))) > 0,
          size(array_intersect(col("__sh_l"), col("__sh_r"))).cast("double") /
            size(array_union(col("__sh_l"), col("__sh_r"))))
          .otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col(leftId), col(rightId), col("jaccard"))
  }

  /** Incremental near-dedup: the new batch minus documents near-duplicating
    * the indexed corpus (candidates via [[incrementalCandidates]], verified
    * by exact Jaccard against the corpus texts). The batch analog of a
    * rolling crawl's "is this page new?" pass — batch-sized work against a
    * corpus-sized index. */
  def incrementalNearDedup(
      newDocs: DataFrame,
      index: DataFrame,
      corpusDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7): DataFrame = {
    val cands = cut(incrementalCandidates(newDocs, index, idCol, textCol))
    val dups = verifyPairsAcross(cands, newDocs, corpusDocs,
      idCol = idCol, textCol = textCol, threshold = threshold)
      .select(col("new_id").as(idCol)).distinct()
    newDocs.join(dups, Seq(idCol), "left_anti")
  }

  // ---- winnowing (passage-level overlap) ----------------------------------

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * construction): k-word shingle hashes in document order, a sliding
    * window of `window` consecutive hashes, keep each window's minimum
    * (rightmost on ties). Guarantees any shared run of ≥ k+window−1 words
    * between two documents shares ≥1 selected fingerprint — the
    * SUBSTRING-level dedup modality: whole-doc near-dup (MinHash) misses a
    * copied paragraph inside an otherwise-different page; winnowing
    * catches exactly that. Row-local kernel (the [[minhashSignature]]
    * char walk plus an O(n·w) winnow over short windows), map-only. */
  def winnowingFingerprints(text: Column, k: Int = 5, window: Int = 4): Column = {
    val u = udf { (s: String) =>
      val hs = scala.collection.mutable.ArrayBuffer.empty[Long]
      if (s != null) {
        val ring = new Array[Long](k)
        var wordCount = 0
        var wh = 0xcbf29ce484222325L
        var inWord = false
        var idx = 0
        val n = s.length
        def closeWord(): Unit = if (inWord) {
          ring(wordCount % k) = wh
          wordCount += 1
          wh = 0xcbf29ce484222325L
          inWord = false
          if (wordCount >= k) {
            var sh = 0xcbf29ce484222325L
            var j = wordCount - k
            while (j < wordCount) { sh = (sh ^ ring(j % k)) * 0x100000001b3L; j += 1 }
            hs += sh
          }
        }
        while (idx < n) {
          val c = s.charAt(idx)
          if (Character.isWhitespace(c)) closeWord()
          else { wh ^= Character.toLowerCase(c).toLong; wh *= 0x100000001b3L; inWord = true }
          idx += 1
        }
        closeWord()
      }
      // winnow: minimum per window, rightmost on ties; short docs keep
      // their global minimum so every shingled doc has >=1 fingerprint
      val selected = scala.collection.mutable.LinkedHashSet.empty[Long]
      if (hs.nonEmpty) {
        val w = math.min(window, hs.length)
        var start = 0
        while (start + w <= hs.length) {
          var minIdx = start
          var j = start + 1
          while (j < start + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
          selected += hs(minIdx)
          start += 1
        }
      }
      selected.toSeq
    }
    u(text)
  }

  /** Audit view of fingerprint buckets the `maxBucket` cap would skip in
    * [[passageOverlapCandidates]] — (fp, members). A fingerprint shared by
    * thousands of documents is boilerplate (surface it, route it to
    * [[Curation.stripBoilerplate]]-style handling or exact dedup); capped coverage
    * must never be silent. */
  def oversizedPassageBuckets(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      window: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(winnowingFingerprints(col(textCol), k, window)).as("fp"))
      .groupBy("fp")
      .agg(count_distinct(col("id")).as("members"))
      .filter(col("members") > maxBucket)

  /** Passage-overlap candidates: pairs of documents sharing ≥ `minShared`
    * winnowing fingerprints, with the shared count. Same bucket-first shape
    * as every dedup path — explode fingerprints, group by fingerprint
    * (hash key, uniform), expand in-bucket pairs under the [[DefaultMaxBucket]]
    * cap (a fingerprint shared by thousands of docs is boilerplate —
    * exact-dedup's job), then count per pair. */
  def passageOverlapCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      window: Int = 4,
      minShared: Int = 2,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(winnowingFingerprints(col(textCol), k, window)).as("fp"))
    expandBuckets(
      fps.groupBy("fp").agg(sort_array(collect_set(col("id"))).as("ids")),
      maxBucket)
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  // ---- SimHash -----------------------------------------------------------

  /** 64-bit SimHash over word tokens: per-token 64-bit hash votes on each bit;
    * sign of the vote sum forms the fingerprint. Row-local UDF (bit loop). */
  val simhashUdf = udf { (tokens: Seq[String]) =>
    if (tokens == null || tokens.isEmpty) 0L
    else {
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        // FNV-1a 64-bit — public hash, stable across JVMs
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
        var bit = 0
        while (bit < 64) { votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1); bit += 1 }
      }
      var fp = 0L
      var bit = 0
      while (bit < 64) { if (votes(bit) > 0) fp |= (1L << bit); bit += 1 }
      fp
    }
  }

  def simhash(text: Column): Column = simhashUdf(split(lower(trim(text)), "\\s+"))

  /** SimHash near-dup candidates: 4 16-bit bands of the fingerprint bucket
    * the pairs (any pair within Hamming distance ≤3 of 64 bits shares at
    * least one of 4 bands by pigeonhole); verify by exact Hamming distance. */
  def simhashCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val withFp = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
    val banded = withFp.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map(b => shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_bits")))
    // One pass + one shuffle (see minhashLshCandidates): bucket members per
    // 16-bit band value, expand ordered pairs in-bucket, verify Hamming.
    // Oversized buckets (mass duplication) are skipped, same cap rationale
    // as expandBuckets — exact dedup owns that case.
    banded
      .groupBy("band", "band_bits")
      .agg(sort_array(collect_set(struct(col("id"), col("fp")))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
      .select(explode(
        flatten(transform(col("ms"), (x, i) =>
          transform(slice(col("ms"), i + 2, size(col("ms"))),
            y => struct(
              x.getField("id").as("id_a"),
              y.getField("id").as("id_b"),
              bit_count(x.getField("fp").bitwiseXOR(y.getField("fp"))).as("hamming"))))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** All k-word shingles of a document WITH their 0-based start word index
    * — (start, hash) structs in document order. Same FNV-1a word/shingle
    * hashing as [[shingleHashes]]/[[winnowingFingerprints]] (lowercased
    * chars, whitespace word breaks), so the DuckDB transliteration of
    * those kernels covers this one too. */
  private[llm] def shinglesWithStart(text: Column, k: Int): Column = {
    val u = udf { (s: String) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      if (s != null) {
        val ring = new Array[Long](k)
        var wordCount = 0
        var wh = 0xcbf29ce484222325L
        var inWord = false
        var idx = 0
        val n = s.length
        def closeWord(): Unit = if (inWord) {
          ring(wordCount % k) = wh
          wordCount += 1
          wh = 0xcbf29ce484222325L
          inWord = false
          if (wordCount >= k) {
            var sh = 0xcbf29ce484222325L
            var j = wordCount - k
            while (j < wordCount) { sh = (sh ^ ring(j % k)) * 0x100000001b3L; j += 1 }
            out += ((wordCount - k, sh))
          }
        }
        while (idx < n) {
          val c = s.charAt(idx)
          if (Character.isWhitespace(c)) closeWord()
          else { wh ^= Character.toLowerCase(c).toLong; wh *= 0x100000001b3L; inWord = true }
          idx += 1
        }
        closeWord()
      }
      out.toSeq
    }
    u(text)
  }

  /** Exact-substring dedup, shingle-granular (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — public
    * method): remove every ≥`k`-word span that appears verbatim
    * `minCopies`+ times across the corpus, KEEPING the first occurrence
    * (lowest (doc_id, start) per shingle — the paper keeps one copy so
    * content survives dedup). The suffix-array construction the paper uses
    * is replaced by the k-shingle approximation that the rest of this
    * engine's dedup family builds on: every k-window of a duplicated
    * longer span is itself duplicated, so removal is exact at k-word
    * granularity (spans duplicated for fewer than k words are below the
    * threshold by definition).
    *
    * Returns (idCol, clean_text, n_removed_words) for EVERY input doc —
    * clean_text is whitespace-NORMALIZED (single spaces, the shingle
    * tokenization's word sequence) for touched and untouched docs alike,
    * which is what makes the operator's output deterministic and
    * SQL-replayable.
    *
    * Scale shape: shingling is map-only; occurrences shuffle ONCE keyed on
    * the 64-bit shingle hash (count + keeper argmin in the same
    * aggregation); only duplicated hashes flow back (a join keyed on hash,
    * broadcast when the duplicated set is small); removal positions
    * re-aggregate per doc (collect_set bounded by words-per-doc) and the
    * rebuild is row-local. No suffix array, no global sort. */
  def removeRepeatedSpans(
      docs: DataFrame,
      k: Int = 8,
      minCopies: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && minCopies >= 2, s"need k>=1, minCopies>=2: $k/$minCopies")
    val occ = docs.select(col(idCol),
        explode(shinglesWithStart(col(textCol), k)).as("sh"))
      .select(col(idCol), col("sh._1").as("__start"), col("sh._2").as("__h"))
    // one aggregation: copy count + first occurrence per shingle
    val dups = occ.groupBy("__h")
      .agg(count(lit(1)).as("__copies"),
        min(struct(col(idCol), col("__start"))).as("__keep"))
      .filter(col("__copies") >= minCopies)
      .select(col("__h"), col("__keep"))
    val removals = occ.join(dups, Seq("__h"))
      .filter(!(col(idCol) === col(s"__keep.$idCol") && col("__start") === col("__keep.__start")))
      .select(col(idCol), explode(sequence(col("__start"), col("__start") + (k - 1))).as("__w"))
      .distinct()
      .groupBy(idCol)
      .agg(collect_set(col("__w")).as("__removed"))
    val rebuild = udf { (s: String, removed: Seq[Int]) =>
      val rs: Set[Int] = if (removed == null) Set.empty else removed.toSet
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var widx = 0
      if (s != null) {
        var idx = 0
        var wstart = -1
        val n = s.length
        def closeWord(end: Int): Unit = if (wstart >= 0) {
          if (!rs(widx)) kept += s.substring(wstart, end)
          widx += 1
          wstart = -1
        }
        while (idx < n) {
          if (Character.isWhitespace(s.charAt(idx))) closeWord(idx)
          else if (wstart < 0) wstart = idx
          idx += 1
        }
        closeWord(n)
      }
      (kept.mkString(" "), (widx - kept.length).toLong)
    }
    docs.join(removals, Seq(idCol), "left")
      .withColumn("__rb", rebuild(col(textCol), col("__removed")))
      .select(col(idCol), col("__rb._1").as("clean_text"), col("__rb._2").as("n_removed_words"))
  }

  /** Corpus-global paragraph dedup (the Dolma/RefinedWeb practice next to
    * document-level dedup): every paragraph (`sep`-delimited line) that
    * appears anywhere else in the corpus keeps only its FIRST occurrence —
    * lowest (doc_id, position) — and every later copy is dropped;
    * documents are rebuilt from their surviving paragraphs in order.
    * Returns (idCol, clean_text, n_removed_lines) for every input doc
    * (fully-boilerplate docs come back with empty text, not silently
    * vanished). Complements [[graft.llm.Curation.stripBoilerplate]]
    * (frequency-threshold within a stratum) — this is exact,
    * first-occurrence-keeps, corpus-global.
    *
    * Scale shape: explode is row-local; the keeper argmin is ONE
    * aggregation keyed on the 64-bit paragraph hash (map-side partial
    * min — skew-proof even for boilerplate repeated millions of times,
    * unlike a `row_number` window which would funnel every copy of a hot
    * paragraph through one task); survivors semi-join on the same key and
    * the rebuild re-aggregates per doc. Hash collisions conflate
    * paragraphs at 2^-64; the join carries only the hash, exactly like
    * [[exact]] trusts md5. */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val ex = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
    val keepers = ex.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__keep"))
      .select(col("__h"), col(s"__keep.$idCol").as(idCol), col("__keep.__pos").as("__pos"))
    // scan-based re-assembly, not array_sort(collect_list(...)) — the
    // aggregation form degrades to the sorter fallback at corpus scale
    // (TextAnalysis.orderedReassemble scaladoc, NOTES r15)
    val kept = TextAnalysis.orderedReassemble(
      ex.join(keepers, Seq("__h", idCol, "__pos"), "left_semi"),
      Seq(idCol), "__pos", "__line", sep, "clean_text", Some("__kept"))
    docs.select(col(idCol),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep))).cast("long").as("__total"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__total") - coalesce(col("__kept"), lit(0L))).as("n_removed_lines"))
  }
}
