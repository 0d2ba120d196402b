package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-pipeline operator behavior: dedup recall/precision on a synthetic
  * near-dup corpus, ANN recall vs the exact baseline, text heuristics,
  * multimodal batch plumbing. */
class LlmSpec extends SparkSpec {

  import spark.implicits._

  private def doc(words: Seq[String]): String = words.mkString(" ")
  private val baseWords = (1 to 40).map(i => s"w$i")

  /** 20 distinct docs; ids 100+ are near-dups of doc 0 (one word changed);
    * ids 200+ are exact dups of doc 1. */
  private lazy val corpus = {
    val distinct = (0 until 20).map(i => (i.toLong, doc(baseWords.map(w => s"$w-$i"))))
    val nearDups = (0 until 3).map(i =>
      (100L + i, doc(baseWords.map(w => s"$w-0").updated(i, "CHANGED"))))
    val exactDups = (0 until 2).map(i => (200L + i, distinct(1)._2))
    (distinct ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exact dedup keeps the lowest id per content group") {
    val kept = Dedup.exact(corpus).select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(200L) && !kept.contains(201L))
    assert(kept.contains(1L))
    assert(kept.size == 23) // 20 distinct + 3 near-dups (not exact)
    val groups = Dedup.exactGroups(corpus).collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("copies") == 3)
  }

  test("MinHash-LSH finds the planted near-dups and no false positives") {
    val cands = Dedup.minhashLshCandidates(corpus, bands = 8) // 8x4 banding: collision threshold ~0.56 for the test corpus
    val verified = Dedup.jaccardVerify(cands, corpus, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every planted near-dup pair of doc 0 must be found
    (0 until 3).foreach { i =>
      assert(verified.contains((0L, 100L + i)), s"missed near-dup 10${i}")
    }
    // exact dups of doc 1 found too
    assert(verified.contains((1L, 200L)))
    // nothing across genuinely distinct docs
    val falsePos = verified.filter { case (a, b) =>
      a < 20 && b < 20 && !(a == 1L && b == 1L)
    }
    assert(falsePos.isEmpty, s"false positives: $falsePos")
  }

  test("nearDedupMinhash survivors exclude planted duplicates") {
    val kept = Dedup.nearDedupMinhash(corpus).select("doc_id").as[Long].collect().toSet
    assert((0 until 20).forall(i => kept.contains(i.toLong)))
    assert(!kept.exists(_ >= 100))
  }

  test("connected components: chains, cliques, singletons") {
    import graft.llm.Components
    // chain 1-2-3-4, clique 10-11-12, singleton 20 (via nodes)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val comps = Components.connectedComponents(edges, Some(nodes))
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(comps(20L) == 20L)
    assert(comps.size == 8)
  }

  test("pointer jumping: a 100-node path converges inside the 20-round guard (r11)") {
    import graft.llm.Components
    // plain min-label propagation needs ~99 rounds on this graph and would
    // blow the maxIter=20 require; the comp := comp(comp) shortcut halves
    // remaining depth per round (~log2(100) ≈ 7)
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Components.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 100 && comps.values.forall(_ == 1L))
    // and the min label still wins when the chain is numbered in reverse
    val rev = (1L until 100L).map(i => (101L - i, 100L - i)).toDF("id_a", "id_b")
    val comps2 = Components.connectedComponents(rev).as[(Long, Long)].collect().toMap
    assert(comps2.size == 100 && comps2.values.forall(_ == 1L))
  }

  test("clustered dedup collapses under-connected pairs that pairwise removal over-keeps") {
    import graft.llm.Components
    // pairs (A,C) and (B,C) with no (A,B): one component, one survivor
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val clusters = Components.dupClusters(pairs, docs).as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(9L) == 9L)
    // end-to-end: clustered survivors are a subset of the pairwise ones and
    // still cover every distinct doc
    val clusteredKept = Dedup.nearDedupMinhashClustered(corpus)
      .select("doc_id").as[Long].collect().toSet
    val pairwiseKept = Dedup.nearDedupMinhash(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(clusteredKept.subsetOf(pairwiseKept))
    assert((0 until 20).forall(i => clusteredKept.contains(i.toLong)))
    assert(!clusteredKept.exists(_ >= 100))
  }

  test("repetition signals: known vectors") {
    val df = Seq(
      (1L, "a a a b"),       // dup 0.5, top word 3/4, bigrams [a a, a a, a b] top 2/3
      (2L, "x y z"),         // no repetition
      (3L, "solo"))          // single word: bigram frac 0
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df)
      .select(col("doc_id"), col("dup_word_frac"), col("top_word_frac"), col("top_bigram_frac"))
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0.5, 0.75, 2.0 / 3.0)))
    assert(out(2L) == ((0.0, 1.0 / 3.0, 0.5)))
    assert(out(3L) == ((0.0, 1.0, 0.0)))
  }

  test("PII redaction: emails, IPs, phones; order-safe") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.co now"),
      (2L, "server 192.168.1.10 up"),
      (3L, "call +1 (555) 010-7788 today"),
      (4L, "all: a@b.io 10.0.0.1 +44 20 7946 0958 end"),
      (5L, "clean text only")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "mail <EMAIL> now")
    assert(out(2L) == "server <IP> up")
    assert(out(3L) == "call <PHONE> today")
    assert(out(4L) == "all: <EMAIL> <IP> <PHONE> end")
    assert(out(5L) == "clean text only")
  }

  test("curation pipeline: each stage drops its target, funnel counts match") {
    import graft.llm.Curation
    val good = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val docs = Seq(
      (1L, good),                                    // survives everything
      (2L, good),                                    // exact dup of 1 → dedup drop
      (3L, "too short"),                             // length drop (2 words)
      (4L, "12! 34? 56# 78$ 90%"),                   // quality drop (punct+digit+short → 0.0)
      (5L, ("spam " * 40).trim),                     // repetition drop (one word)
      (6L, "el la de que y en los del las por dias"))// survives (es, no lang filter)
      .toDF("doc_id", "text")
    val kept = Curation.curate(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L), s"kept $kept")
    // language stage on: only English survives
    val en = Curation.curate(docs, Curation.Config(keepLangs = Some(Seq("en"))))
      .select("doc_id").as[Long].collect().toSet
    assert(en == Set(1L))
    // funnel: 6 total → 5 length → 4 quality → 3 repetition → 3 language → 2 dedup
    val rep = Curation.report(docs).collect().head
    assert(rep.getAs[Long]("total") == 6L)
    assert(rep.getAs[Long]("after_length") == 5L)
    assert(rep.getAs[Long]("after_quality") == 4L)
    assert(rep.getAs[Long]("after_repetition") == 3L)
    assert(rep.getAs[Long]("after_language") == 3L)
    assert(rep.getAs[Long]("after_dedup_exact") == 2L)
    // the near-dup dedup modes compose too
    val clustered = Curation.curate(corpus, Curation.Config(minWords = 2, dedup = "minhash-clustered"))
      .select("doc_id").as[Long].collect().toSet
    assert((0 until 20).forall(i => clustered.contains(i.toLong)))
    assert(!clustered.exists(_ >= 100))
  }

  test("token-budget sampling keeps the greedy highest-quality prefix") {
    import graft.llm.Curation
    // quality ladder: doc i has i+5 clean words → higher quality for longer
    // docs is NOT guaranteed, so pin quality via punctuation instead:
    // docs 1-3 clean (quality 1.0), docs 4-5 punct-heavy (lower quality)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // 10 tokens, q=1.0
      (2L, "one two three four five six seven eight nine ten"),         // 10 tokens, q=1.0
      (3L, "red orange yellow green blue indigo violet black white grey"), // 10 tokens, q=1.0
      (4L, "noisy!! doc?? with## lots$$ of%% punctuation&& here** now@@ ok!! yes??"), // lower q
      (5L, "more!! noise?? in## this$$ doc%% too&& with** heavy@@ marks!! end??"))    // lower q
      .toDF("doc_id", "text")
    val sel = Curation.tokenBudgetSample(Curation.annotate(docs), budgetTokens = 25L)
      .select("doc_id", "n_tokens", "running_total")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // greedy: docs 1 and 2 (10+10=20 ≤ 25); doc 3 would overflow (30 > 25)
    assert(sel.map(_._1).toSeq == Seq(1L, 2L), s"got ${sel.toSeq}")
    assert(sel.map(_._3).max <= 25L)
    // budget covering everything keeps all docs with correct inclusive totals
    val all = Curation.tokenBudgetSample(Curation.annotate(docs), budgetTokens = 1000L)
    assert(all.count() == 5)
    assert(all.agg(max("running_total")).first().getLong(0) ==
      all.agg(sum("n_tokens")).first().getLong(0))
  }

  test("deterministic sampling/splits: stable, partition-independent, growth-proof") {
    import graft.llm.Sampling
    val ids = (1L to 2000L).toDF("doc_id")
    val split = Sampling.assignSplit(ids, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "seedA")
    val m1 = split.as[(Long, String)].collect().toMap
    // partitioning does not change assignment
    val m2 = Sampling.assignSplit(ids.repartition(17), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "seedA")
      .as[(Long, String)].collect().toMap
    assert(m1 == m2)
    // fractions in the right ballpark (binomial tolerance)
    val counts = m1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 120, counts.toString)
    assert(math.abs(counts("val") - 200) < 80, counts.toString)
    // growing the corpus never reassigns existing ids
    val grown = Sampling.assignSplit((1L to 3000L).toDF("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "seedA")
      .as[(Long, String)].collect().toMap
    assert((1L to 2000L).forall(i => grown(i) == m1(i)))
    // different seeds draw differently; same seed re-runs identically
    val s1 = Sampling.deterministicSample(ids, 0.3, "x").as[Long].collect().toSet
    val s1b = Sampling.deterministicSample(ids, 0.3, "x").as[Long].collect().toSet
    val s2 = Sampling.deterministicSample(ids, 0.3, "y").as[Long].collect().toSet
    assert(s1 == s1b)
    assert(s1 != s2)
    assert(math.abs(s1.size - 600) < 90, s1.size.toString)
  }

  test("degenerate bucket (mass-duplicated boilerplate) is capped, surfaced, and does not explode") {
    // 5k exact copies of one doc: a single LSH bucket of 5k members would
    // expand to ~12.5M pairs per band; the cap must route it to the audit
    // view instead while normal-sized near-dup buckets keep their recall.
    val boiler = (0 until 5000).map(i => (10000L + i, doc(baseWords.map(w => s"$w-boiler"))))
    val degenerate = corpus.union(boiler.toDF("doc_id", "text"))
    val cands = Dedup.minhashLshCandidates(degenerate, bands = 8, maxBucket = 100)
    val ids = cands.select("id_a", "id_b").as[(Long, Long)].collect()
    // no pair from the oversized boilerplate bucket survives the cap
    assert(!ids.exists { case (a, b) => a >= 10000L && b >= 10000L })
    // planted near-dups of doc 0 still produce candidates
    assert((0 until 3).forall(i => ids.contains((0L, 100L + i))))
    // the dropped bucket is surfaced, not silent
    val dropped = Dedup.oversizedBuckets(degenerate, bands = 8, maxBucket = 100).collect()
    assert(dropped.nonEmpty && dropped.forall(_.getAs[Long]("members") === 5000L))
    // SimHash path honors the same cap
    val sim = Dedup.simhashCandidates(degenerate, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!sim.exists { case (a, b) => a >= 10000L && b >= 10000L })
  }

  test("SimHash candidates catch near-dups within Hamming 3") {
    val pairs = Dedup.simhashCandidates(corpus)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 200L))) // exact dup: distance 0
  }

  test("IVF ANN achieves >=60% recall@5 vs brute force") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 30)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(queries, emb, k = 5, numCells = 16, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
    // Lloyd refinement holds the recall gate too (and the index build stays
    // well-formed: numCells cells, full-dim mean vectors)
    val refined = Similarity.ivfTopK(queries, emb, k = 5, numCells = 16, nprobe = 8,
      kmeansIterations = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refinedRecall = (exact intersect refined).size.toDouble / exact.size
    assert(refinedRecall >= 0.6, s"refined recall $refinedRecall (seeded was $recall)")
  }

  test("IVF recall curve: monotone in nprobe, exact at nprobe = numCells") {
    // VERDICT r5 #6: the gate queries pin ivf/semantic-dedup at ONE
    // (numCells, nprobe, k) point; this sweep catches silent cell-
    // assignment regressions the fixed gate can't. Two structural facts
    // must hold by construction: (a) nearestCells(nprobe) lists are
    // prefixes of each other, so the candidate set grows with nprobe and
    // recall@k vs brute force is non-decreasing; (b) probing ALL cells IS
    // brute force — any assignment bug (a vector landing in no cell, a
    // probe list missing a cell) breaks the exact-set equality.
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 40)
    for (k <- Seq(1, 5)) {
      val exact = Similarity.bruteForceTopK(queries, emb, k = k)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val curve = Seq(1, 2, 4, 8, 16).map { nprobe =>
        val approx = Similarity.ivfTopK(queries, emb, k = k, numCells = 16, nprobe = nprobe)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
        nprobe -> approx
      }
      val recalls = curve.map { case (p, s) =>
        p -> (exact.intersect(s).size.toDouble / exact.size)
      }
      recalls.sliding(2).foreach {
        case Seq((p1, r1), (p2, r2)) =>
          assert(r2 >= r1, s"recall@$k NOT monotone: nprobe $p1->$p2 recall $r1->$r2 ($recalls)")
        case _ => ()
      }
      assert(curve.last._2 == exact,
        s"nprobe = numCells must equal brute force at k=$k: " +
          s"missing ${exact -- curve.last._2}, extra ${curve.last._2 -- exact}")
    }
  }

  test("hard negatives: confined to the band, hardest first, full-probe IVF equals exact") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 40)
    val exact = Similarity.hardNegatives(queries, emb, k = 5, simLo = 0.1, simHi = 0.3).collect()
    assert(exact.nonEmpty)
    exact.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length),
        s"query $q ranks not contiguous")
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos.forall(c => c >= 0.1 && c < 0.3), s"query $q out of band: $cos")
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, s"query $q not hardest-first")
    }
    // false-negative guard: near-duplicate-grade neighbors (above the band)
    // never surface as negatives
    val negPairs = exact.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val tooClose = Similarity.bruteForceTopK(queries, emb, k = 1)
      .filter(col("cosine") >= 0.3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(tooClose.intersect(negPairs).isEmpty, "an above-band neighbor leaked into the negatives")
    // probing ALL cells makes the IVF composition exactly the brute-force band
    val full = Similarity.hardNegativesIvf(queries, emb, k = 5, simLo = 0.1, simHi = 0.3,
        numCells = 16, nprobe = 16)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == negPairs, "full-probe IVF banded negatives must equal the exact set")
    // the gate's corpus-scale point (nprobe = 8, the llm_hard_negatives_ivf
    // parameters): the pruned candidate set still recovers most of the
    // exact band's top-k, and every surfaced pair is genuinely in-band
    // (the band filter is exact arithmetic — IVF only prunes candidates)
    val gate = Similarity.hardNegativesIvf(queries, emb, k = 5, simLo = 0.1, simHi = 0.3,
        numCells = 16, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = gate.intersect(negPairs).size.toDouble / negPairs.size
    assert(recall >= 0.6, s"hard-negative recall@5 at nprobe=8: $recall")
    // precomputed centroids (the gates' session-memo path) are the SAME
    // deterministic seeds — results must be identical to the inline train
    val cents = Similarity.trainCentroids(emb, numCells = 16)
    val memo = Similarity.hardNegativesIvf(queries, emb, k = 5, simLo = 0.1, simHi = 0.3,
        numCells = 16, nprobe = 8, precomputedCentroids = Some(cents))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(memo == gate, "memoized centroids changed the hard-negative set")
  }

  test("Gopher rules: each signal fires on its engineered violation, a clean doc passes") {
    val docs = Seq(
      (1L, ("the data and that have with " * 9).trim), // 54 words, 5 stop hits
      (2L, Array.fill(10)("- item").mkString("\n")), // all-bullet lines
      (3L, Array.fill(4)("see more ...").mkString("\n")), // ellipsis line ends
      (4L, ("12 34 56 " * 20).trim), // zero alphabetic words
      (5L, "short doc"), // below the 50-word floor
      (6L, Array.fill(10)("same line").mkString("\n")) // 90% duplicate lines
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherSignals(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("gopher_pass"), s"clean doc must pass: ${out(1L)}")
    assert(out(1L).getAs[Int]("stopword_hits") == 5)
    assert(out(2L).getAs[Double]("bullet_line_frac") == 1.0 && !out(2L).getAs[Boolean]("gopher_pass"))
    assert(out(3L).getAs[Double]("ellipsis_line_frac") == 1.0)
    assert(out(4L).getAs[Double]("alpha_word_frac") == 0.0)
    assert(out(5L).getAs[Int]("n_words") == 2 && !out(5L).getAs[Boolean]("gopher_pass"))
    assert(out(6L).getAs[Double]("dup_line_frac") == 0.9)
  }

  test("exact-substring dedup: repeated spans removed from copies, first occurrence kept") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"intro words here $passage trailing tail words"),
      (2L, s"$passage completely different ending sentence tokens"),
      (3L, passage), // a doc that IS the duplicated span
      (4L, "totally unrelated document with enough words to shingle beyond k")
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, k = 10, minCopies = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1 holds the first occurrence — untouched (output is whitespace-
    // normalized for every doc, so equality against the source holds here)
    assert(out(1L) == ((s"intro words here $passage trailing tail words", 0L)))
    assert(out(2L) == (("completely different ending sentence tokens", 10L)))
    assert(out(3L) == (("", 10L)), "a doc that is entirely a duplicated span empties")
    assert(out(4L)._2 == 0L)
    // within-document repetition: the second copy of the span is removed
    val rep = Seq((9L, s"$passage $passage tail")).toDF("doc_id", "text")
    val repOut = Dedup.removeRepeatedSpans(rep, k = 10, minCopies = 2).collect().head
    assert(repOut.getString(1) == s"$passage tail" && repOut.getLong(2) == 10L)
    // below the copy threshold nothing moves (the passage appears 3×:
    // docs 1, 2, and 3 — so minCopies=4 is the first non-firing setting)
    val strict = Dedup.removeRepeatedSpans(docs, k = 10, minCopies = 4)
      .agg(sum(col("n_removed_words"))).collect().head.getLong(0)
    assert(strict == 0L, "minCopies=4 must leave a 3-copy span alone")
  }

  test("CCNet perplexity buckets: tercile cuts, score-ordered, exhaustive") {
    import graft.llm.CorpusStats
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val lm = CorpusStats.unigramLm(docs.filter(col("doc_id") % 2 === 0))
    val rows = CorpusStats.lmBuckets(docs, lm)
      .select("doc_id", "bits_per_token", "bucket")
      .as[(Long, Double, String)].collect()
    val n = docs.count()
    assert(rows.length == n, "every document must land in exactly one bucket")
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // buckets are score-ordered: ties at a cut all fall to the lower side
    assert(byBucket("head").max <= byBucket("middle").min,
      "head must end at or below middle's start")
    assert(byBucket("middle").max <= byBucket("tail").min,
      "middle must end at or below tail's start")
    // tercile cuts: each bucket holds ~n/3 (exact split depends on ties
    // and the p·(n−1) interpolation landing between values)
    byBucket.foreach { case (b, xs) =>
      assert(math.abs(xs.length - n / 3.0) <= n * 0.05,
        s"bucket $b holds ${xs.length} of $n — not a tercile")
    }
  }

  test("PQ: ADC recall vs brute force, rerank refines monotonically, full rerank IS brute force") {
    import graft.llm.Pq
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 40)
    val cb = Pq.train(emb, dim = 64, m = 16, ks = 16, iterations = 2)
    val codes = Pq.encode(emb, cb)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(s: Set[(Long, Long)]) = exact.intersect(s).size.toDouble / exact.size
    val adc = Pq.adcTopK(queries, codes, cb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adcRecall = recallOf(adc)
    assert(adcRecall >= 0.2, s"ADC recall $adcRecall") // sf0.01 measures 0.336
    // a larger exact-rerank shortlist can only help: a true top-k member in
    // the shortlist always survives exact ranking (at most k-1 vectors beat
    // it anywhere), so recall is monotone in `rerank`
    val recalls = Seq(10, 50, 150).map { r =>
      recallOf(Pq.adcRerankTopK(queries, codes, emb, cb, k = 5, rerank = r)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    }
    recalls.sliding(2).foreach {
      case Seq(r1, r2) => assert(r2 >= r1, s"rerank recall not monotone: $recalls")
      case _ => ()
    }
    assert(recalls(1) >= adcRecall, s"rerank-50 ${recalls(1)} < ADC $adcRecall")
    assert(recalls(1) >= 0.6, s"rerank-50 recall ${recalls(1)}") // sf0.01 measures 0.908
    // shortlisting EVERYTHING reduces to exact ranks — any encode/ADC bug
    // that drops or duplicates a candidate breaks this set equality
    val full = Pq.adcRerankTopK(queries, codes, emb, cb, k = 5, rerank = 499)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exactRanks = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == exactRanks,
      s"full rerank != brute force: missing ${exactRanks -- full}, extra ${full -- exactRanks}")
  }

  test("IVF-PQ: candidate coverage monotone in nprobe, probing ALL cells IS the full ADC scan") {
    import graft.llm.Pq
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 40)
    val cb = Pq.train(emb, dim = 64, m = 16, ks = 16, iterations = 2)
    val codes = Pq.encode(emb, cb)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // NOTE: top-k RECALL is deliberately not asserted monotone in nprobe —
    // a wider probe can admit a candidate whose ADC (reconstruction) score
    // beats a true neighbor's and evicts it from the ADC top-k. What IS
    // monotone is candidate COVERAGE: the probed candidate set only grows
    // with nprobe (nearestCells lists are prefixes of each other), so the
    // fraction of true pairs that are even rankable is non-decreasing.
    val centroids = Similarity.seedCentroids(emb, numCells = 16)
    val cells = Similarity.assignCells(emb, centroids)
      .select(col("vec_id").as("neighbor_id"), col("cell_id"))
    val cm = centroids.select(col("cell_id").cast("int"), col("centroid").cast("array<double>"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).sortBy(_._1)
    val coverages = Seq(2, 4, 8, 16).map { nprobe =>
      val probed = queries.select(col("vec_id").as("query_id"),
          explode(graft.plans.GraftExtensions.nearestCells(col("embedding"),
            cm.map(_._1).toIndexedSeq, cm.map(_._2).toIndexedSeq, nprobe)).as("cell_id"))
        .join(cells, Seq("cell_id"))
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.intersect(probed).size.toDouble / exact.size
    }
    coverages.sliding(2).foreach {
      case Seq(c1, c2) => assert(c2 >= c1, s"candidate coverage not monotone: $coverages")
      case _ => ()
    }
    assert(coverages.last == 1.0, "probing every cell must cover every true pair")
    // recall floor at the gate's operating point (sf0.01 measures 0.26)
    val r4 = Pq.ivfAdcTopK(queries, emb, cb, k = 5, numCells = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.intersect(r4).size.toDouble / exact.size >= 0.1,
      s"nprobe=4 recall ${exact.intersect(r4).size.toDouble / exact.size}")
    // probing every cell removes the coarse filter entirely — any cell
    // assignment or probe bug breaks equality with the pure compressed scan
    val fullAdc = Pq.adcTopK(queries, codes, cb, k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val allProbes = Pq.ivfAdcTopK(queries, emb, cb, k = 5, numCells = 16, nprobe = 16)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(allProbes == fullAdc,
      s"nprobe=numCells != full ADC: missing ${fullAdc -- allProbes}, extra ${allProbes -- fullAdc}")
  }

  test("PQ: codes in range, encode deterministic, codebook round-trips its table form") {
    import graft.llm.Pq
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = Pq.train(emb, dim = 64, m = 8, ks = 16, iterations = 2)
    assert(cb.subLen == 8 && cb.cents.length == 8 && cb.cents.forall(_.length == 16))
    val codes = Pq.encode(emb, cb).collect()
    assert(codes.length == 500)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16), s"bad codes $cs")
    }
    // re-encoding yields byte-identical codes (plan-constant codebook, no
    // nondeterminism anywhere in the path)
    val again = Pq.encode(emb, cb).collect()
    assert(codes.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // table form round-trip (the persistable index artifact)
    val rt = Pq.codebookFromTable(Pq.codebookTable(spark, cb), dim = 64)
    assert(rt == cb)
  }

  test("refineCentroids: Lloyd step keeps cell count, dimension, and empty-cell fallback") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val seeds = Similarity.seedCentroids(emb, numCells = 8)
    val refined = Similarity.refineCentroids(emb, seeds, iterations = 2)
    val rows = refined.collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getSeq[Double](1).length == 64))
    // an unreachable centroid (orthogonal corner far from all data) must
    // survive refinement via the previous-centroid fallback
    val far = Seq((99, Array.fill(64)(-1000.0).toSeq)).toDF("cell_id", "centroid")
    val withFar = seeds.select(col("cell_id"), col("centroid").cast("array<double>"))
      .unionByName(far)
    val kept = Similarity.refineCentroids(emb, withFar, iterations = 1)
    assert(kept.count() == 9)
  }

  test("LSH near-dup: full recall on planted near-identical vectors, no false accepts") {
    val base = Array.tabulate(16)(i => 0.3 + 0.05 * i)
    val nearDup = base.clone(); nearDup(0) += 0.001 // cosine ≈ 1
    val opposite = base.map(-_)
    val rnd = new scala.util.Random(3)
    val noise = (0 until 50).map(i => (100L + i, Array.fill(16)(rnd.nextGaussian())))
    val vecs = (Seq((1L, base), (2L, nearDup), (3L, opposite)) ++ noise)
      .map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val pairs = graft.llm.Similarity.lshNearDup(vecs, dim = 16, threshold = 0.95, bits = 6, tables = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "planted near-identical pair missed")
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(1L, 3L) }, "opposite vector accepted")
  }

  test("LSH near-dup recall vs brute force on the embeddings fixture") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // exact high-similarity pair set over a bounded slice
    val slice = emb.filter(col("vec_id") < 150)
    val s1 = slice.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val s2 = slice.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = s1.crossJoin(s2).filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.llm.Similarity.dot(col("va"), col("vb")) /
          (graft.llm.Similarity.norm(col("va")) * graft.llm.Similarity.norm(col("vb"))))
      .filter(col("cosine") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = graft.llm.Similarity.lshNearDup(slice, dim = 64, threshold = 0.5, bits = 6, tables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision is exact by construction (cosine-verified)
    assert(approx.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = (exact intersect approx).size.toDouble / exact.size
      assert(recall >= 0.5, s"recall $recall over ${exact.size} exact pairs")
    }
  }

  test("LSH buckets put identical vectors together") {
    val v = Seq(
      (1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.5f)),
      (3L, Array.fill(8)(-0.5f))).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val b = Similarity.lshBuckets(v, dim = 8).select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(3L))
  }

  test("language-ID picks the dominant stopword language") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el perro y la casa de los gatos"),
      (3L, "xyzzy plugh qwerty")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.languageId(col("text")).as("l")).as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("quality score penalizes short/degenerate docs") {
    val df = Seq(
      (1L, "a solid sentence with plenty of normal readable words in it"),
      (2L, "x"),
      (3L, "!!! ??? *** $$$ %%% ###")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityScore(df).select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(out(1L) > 0.8)
    assert(out(2L) == 0.0)
    assert(out(3L) < 0.6)
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq((1L, "hello world, it's 42 degrees!")).toDF("id", "text")
    val out = df.select(
      TextAnalysis.tokenCountWhitespace(col("text")),
      TextAnalysis.tokenCountBpeish(col("text"))).collect().head
    assert(out.getInt(0) == 5)
    // words: hello, world, it, s, degrees; digits: 4, 2; punct: , ' !
    assert(out.getInt(1) == 10)
  }

  test("fingerprint: known vectors, normalization, partition stability") {
    // pinned 64-bit rolling-hash vectors (base 31, seed 1125899906842597):
    // any refactor that changes the hash silently breaks dedup pre-bucketing
    val df = Seq((1L, "Hello World"), (2L, "  hello world "), (3L, "")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == -8273281614328139329L)
    assert(out(2L) == -8273281614328139329L) // lower+trim normalization
    assert(out(3L) == 1125899906842597L)     // empty text = seed
    // row-local ⇒ identical across any partitioning of the same data
    val big = (0 until 500).map(i => (i.toLong, s"doc number $i body")).toDF("id", "text")
    def fps(parts: Int) = big.repartition(parts)
      .select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1) == fps(17))
  }

  test("multimodal decode plumbing: schema, batching, deterministic features") {
    val docs = Seq((1L, "abcdefgh"), (2L, "zzzzzzzz")).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val media = Multimodal.asMedia(docs, "doc_id", "payload", "image")
    assert(media.schema.fieldNames.toSeq ==
      Seq("asset_id", "media_type", "payload", "width", "height", "sample_rate", "duration_ms"))
    val feats = Multimodal.decodeToFeatures(spark, media, batchSize = 1)
    val rows = feats.collect().map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(rows(1L).length == 8)
    assert(math.abs(rows(1L).sum - 1.0f) < 1e-5) // L1-normalized histogram
    // determinism
    val again = Multimodal.decodeToFeatures(spark, media, batchSize = 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(again(1L) == rows(1L))
  }

  test("resize: exact target metadata, area-scaled payload, passthrough for non-images") {
    val docs = Seq((1L, "x" * 1000), (2L, "y" * 10)).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val media = Multimodal.asMedia(docs, "doc_id", "payload", "image")
      .withColumn("width", lit(100)).withColumn("height", lit(100))
    val out = Multimodal.resize(spark, media, 10, 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    // 1000 bytes × (10·10)/(100·100) = 10 bytes; metadata exact
    assert(out(1L).getAs[Array[Byte]]("payload").length == 10)
    assert(out(1L).getInt(3) == 10 && out(1L).getInt(4) == 10)
    // clamp at 1 byte minimum
    assert(out(2L).getAs[Array[Byte]]("payload").length == 1)
    // audio passes through untouched
    val audio = Multimodal.asMedia(docs, "doc_id", "payload", "audio")
    val a = Multimodal.resize(spark, audio, 10, 10).collect().map(r => r.getLong(0) -> r).toMap
    assert(a(1L).getAs[Array[Byte]]("payload").length == 1000)
    // deterministic across batch sizes
    val r1 = Multimodal.resize(spark, media, 10, 10, batchSize = 1).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").toSeq).toMap
    val r64 = Multimodal.resize(spark, media, 10, 10, batchSize = 64).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").toSeq).toMap
    assert(r1 == r64)
  }

  test("frame sampling picks every 4th frame") {
    val docs = Seq((1L, "x" * 2560)).toDF("doc_id", "text") // 10 frames of 256
      .withColumn("payload", col("text").cast("binary"))
    val media = Multimodal.asMedia(docs, "doc_id", "payload", "video")
    val n = Multimodal.sampleFrames(media).count()
    assert(n == 3) // frames 0,4,8
  }

  test("decontamination: exact eval member is 1.0, partial overlap fractional, disjoint 0") {
    import graft.llm.Decontaminate
    val docs = Seq(
      (1L, "a b c d e f"),          // in eval: fully contaminated
      (2L, "a b c x y z"),          // shares exactly 3-gram "a b c": 1/4
      (3L, "p q r s t u"),          // disjoint
      (4L, "a b")                   // too short for a 3-gram
    ).toDF("doc_id", "text")
    val eval = docs.filter(col("doc_id") === 1L)
    val m = Decontaminate.contamination(docs, eval, n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m(1L) == ((4L, 4L, 1.0)))
    assert(m(2L) == ((4L, 1L, 0.25)))
    assert(m(3L) == ((4L, 0L, 0.0)))
    assert(m(4L) == ((0L, 0L, 0.0)))
    // removal at threshold 0.5 drops only the eval member
    val kept = Decontaminate.decontaminate(docs, eval, n = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("sequence packing: contiguous non-overlapping spans, boundary straddles, partition-independent") {
    import graft.llm.Curation
    val docs = (1L to 100L).map(i => (i, (1L to (i % 7 + 1)).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Curation.packSequences(docs, seqLen = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    // spans tile the token stream exactly: each doc starts where the previous ended
    packed.foldLeft(0L) { case (expectedStart, (_, n, start, first, last, off)) =>
      assert(start == expectedStart)
      assert(first == start / 10 && off == start % 10)
      assert(last == (start + n - 1) / 10)
      start + n
    }
    // total tokens = last doc's end
    val total = packed.map(_._2).sum
    assert(packed.last._3 + packed.last._2 == total)
    // partitioning never changes the layout
    val repacked = Curation.packSequences(docs.repartition(13), seqLen = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(packed.toSeq == repacked.toSeq)
  }

  test("stratified sampling honors per-stratum rates and is growth-stable") {
    import graft.llm.Sampling
    val docs = (1L to 3000L).map(i => (i, if (i % 3 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratifiedSample(docs, Seq("en" -> 0.9, "zh" -> 0.1), 0.5, "lang", "sA")
      .as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(byLang("en") - 900) < 100, byLang.toString)   // 1000 en docs * 0.9
    assert(math.abs(byLang("zh") - 200) < 80, byLang.toString)    // 2000 zh docs * 0.1
    // default rate applies to unlisted strata
    val withDe = docs.withColumn("lang", when(col("doc_id") > 2900, "de").otherwise(col("lang")))
    val de = Sampling.stratifiedSample(withDe, Seq("en" -> 0.9, "zh" -> 0.1), 1.0, "lang", "sA")
      .filter(col("lang") === "de").count()
    assert(de == 100)
    // growing the corpus never drops/readds an existing id
    val small = Sampling.stratifiedSample(docs.filter(col("doc_id") <= 1000),
      Seq("en" -> 0.9, "zh" -> 0.1), 0.5, "lang", "sA").as[(Long, String)].collect().map(_._1).toSet
    assert(kept.map(_._1).filter(_ <= 1000).toSet == small)
  }

  test("top-ngrams: exact counts with a deterministic total order") {
    import graft.llm.CorpusStats
    val docs = Seq(
      (1L, "x y x y z"),   // "x y"×2, "y x"×1, "y z"×1
      (2L, "x y q")        // "x y"×1, "y q"×1
    ).toDF("doc_id", "text")
    val top = CorpusStats.topNgrams(docs, n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("x y", 3L), ("y q", 1L), ("y x", 1L)))
  }

  test("bloom novelty filter is exactly the anti-join, at any fpp") {
    // `corpus` contains exact dups of doc 1 (ids 200, 201); seed `seen`
    // with doc 1's text plus a few others — everything sharing those texts
    // must drop, everything else must survive, bit-for-bit the anti-join.
    val seen = corpus.filter($"doc_id".isin(1L, 5L, 100L))
    val expected = corpus.join(
        seen.select(md5($"text").as("__h")).distinct(),
        md5(corpus("text")) === col("__h"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(expected.intersect(Set(1L, 5L, 100L, 200L, 201L)).isEmpty)
    for (fpp <- Seq(0.5, 0.01)) { // a lousy filter only costs verify work
      val novel = Dedup.novelAgainst(corpus, seen, fpp = fpp, expectedItems = 3L)
        .select("doc_id").as[Long].collect().toSet
      assert(novel == expected, s"fpp=$fpp diverged from the exact anti-join")
    }
  }

  test("novelAgainst: expectedItems is required — build touches seen only for the bloom") {
    // the old auto-size default hid a full seen.count() inside the operator
    // (two corpus passes to build one bloom at 100 TB — VERDICT r5 #2);
    // building the operator must launch exactly the bloom-build job over
    // seen and nothing more
    val seen = corpus.filter($"doc_id".isin(1L, 5L, 100L)).localCheckpoint(true)
    intercept[IllegalArgumentException] {
      Dedup.novelAgainst(corpus, seen, expectedItems = 0L)
    }
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val bloomOnly = countJobs {
      seen.select(md5($"text").as("__h")).stat.bloomFilter("__h", 3L, 0.01); ()
    }
    val construction = countJobs {
      Dedup.novelAgainst(corpus, seen, expectedItems = 3L); ()
    }
    assert(construction <= bloomOnly,
      s"novelAgainst construction must launch only the bloom-build jobs (<= $bloomOnly), saw $construction")
  }

  test("tf-idf: corpus-wide words score zero, distinctive words rank first") {
    import graft.llm.CorpusStats
    val docs = Seq(
      (1L, "common apple apple"),
      (2L, "common banana"),
      (3L, "common cherry cherry cherry")
    ).toDF("doc_id", "text")
    val top = CorpusStats.tfIdfTopTerms(docs, k = 1)
      .select("doc_id", "word", "tf", "tf_idf")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    // "common" has df=3 → idf=ln(1)=0; the per-doc distinctive word wins
    assert(top.map(t => t._1 -> t._2).toSeq ==
      Seq(1L -> "apple", 2L -> "banana", 3L -> "cherry"))
    val expectedApple = BigDecimal(2.0 * math.log(3.0 / 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(top.find(_._1 == 1L).get._4 == expectedApple)
  }

  test("unigram LM score: in-domain text scores fewer bits than OOV text") {
    import graft.llm.CorpusStats
    val ref = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val lm = CorpusStats.unigramLm(ref)
    // N=6 tokens, V=5 words ("the"×2) → smoothing denominator 12
    val probs = lm.select("word", "log_prob").as[(String, Double)].collect().toMap
    assert(math.abs(probs("the") - math.log(3.0 / 12.0)) < 1e-12)
    assert(math.abs(probs("cat") - math.log(2.0 / 12.0)) < 1e-12)
    val docs = Seq((10L, "the cat sat"), (11L, "zq xw vv")).toDF("doc_id", "text")
    val scores = CorpusStats.lmScore(docs, lm)
      .select("doc_id", "bits_per_token").as[(Long, Double)].collect().toMap
    // all-OOV text must score exactly the reserved mass: -log2(1/12)
    assert(math.abs(scores(11L) - (-math.log(1.0 / 12.0) / math.log(2.0))) < 1e-6)
    assert(scores(10L) < scores(11L))
  }

  test("row-local LM kernel equals the join-based scorer; fluency stage filters the funnel") {
    import graft.llm.{CorpusStats, Curation}
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val lm = CorpusStats.unigramLm(docs.filter($"doc_id" % 2 === 0))
    val joined = CorpusStats.lmScore(docs, lm)
      .select("doc_id", "bits_per_token").as[(Long, Double)].collect().toMap
    val local = docs.select($"doc_id", CorpusStats.lmScoreColumn(lm, $"text").as("b"))
      .as[(Long, Double)].collect().toMap
    assert(joined.keySet == local.keySet)
    joined.foreach { case (id, b) =>
      assert(math.abs(b - local(id)) <= 1e-6, s"doc $id: join=$b kernel=${local(id)}")
    }
    // the fluency stage drops exactly the above-threshold documents
    val cut = joined.values.toSeq.sorted.apply(joined.size / 2)
    val cfg = Curation.Config(maxBitsPerToken = Some(cut), dedup = "none")
    val kept = Curation.curate(docs, cfg, lm = Some(lm))
      .select("doc_id").as[Long].collect().toSet
    val expectedFluent = Curation.curate(docs, cfg.copy(maxBitsPerToken = None), lm = Some(lm))
      .select("doc_id").as[Long].collect().toSet
      .filter(id => local(id) <= cut)
    assert(kept == expectedFluent)
    // report grows an after_fluency column, monotone non-increasing
    val rep = Curation.report(docs, cfg, lm = Some(lm)).collect().head
    assert(rep.schema.fieldNames.contains("after_fluency"))
    assert(rep.getAs[Long]("after_fluency") <= rep.getAs[Long]("after_language"))
  }

  test("LM kernel matches SQL trim/split semantics on leading/trailing tabs and newlines") {
    import graft.llm.CorpusStats
    // SQL trim strips SPACES only: a leading newline/tab survives trim and
    // split('\s+') then yields an empty first token (and limit -1 keeps a
    // trailing one) — an extra OOV "word" the kernel must also count.
    // Common in scraped web text; absent from the fixture (ADVICE r4).
    val ref = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val lm = CorpusStats.unigramLm(ref)
    val docs = Seq(
      (10L, "\nthe cat sat"),     // leading newline → leading empty token
      (11L, "\tthe cat sat"),     // leading tab
      (12L, "the cat sat\n"),     // trailing newline → trailing empty token
      (13L, "  the cat sat  "),   // spaces only: trimmed, no empties
      (14L, " \t the cat \n ")    // mixed: space-trim leaves \t..\n ends
    ).toDF("doc_id", "text")
    val joined = CorpusStats.lmScore(docs, lm)
      .select("doc_id", "bits_per_token").as[(Long, Double)].collect().toMap
    val local = docs.select($"doc_id", CorpusStats.lmScoreColumn(lm, $"text").as("b"))
      .as[(Long, Double)].collect().toMap
    assert(joined.keySet == local.keySet)
    joined.foreach { case (id, b) =>
      assert(math.abs(b - local(id)) <= 1e-6, s"doc $id: join=$b kernel=${local(id)}")
    }
    // sanity: the newline-padded docs really do pay an OOV token
    assert(local(10L) > local(13L) && local(12L) > local(13L))
  }

  test("row-local contamination kernel equals the join-based stats; stage filters the funnel") {
    import graft.llm.{Curation, Decontaminate}
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val evalDocs = docs.filter($"doc_id" % 31 === 0)
    val joined = Decontaminate.contamination(docs, evalDocs, n = 3)
      .select($"doc_id", round($"contamination_frac", 6).as("c"))
      .as[(Long, Double)].collect().toMap
    val local = docs.select($"doc_id",
        Decontaminate.contaminationColumn(evalDocs, $"text").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(joined == local) // hashed-shingle == string-shingle on the fixture
    // funnel: eval members (contamination 1.0) drop, clean docs keep
    val cfg = Curation.Config(maxContamination = Some(0.2), dedup = "none")
    val kept = Curation.curate(docs, cfg, evalDocs = Some(evalDocs))
      .select("doc_id").as[Long].collect().toSet
    val noDecon = Curation.curate(docs, cfg.copy(maxContamination = None),
      evalDocs = Some(evalDocs)).select("doc_id").as[Long].collect().toSet
    assert(kept == noDecon.filter(id => local(id) <= 0.2))
    assert(kept.intersect(noDecon.filter(_ % 31 == 0)).isEmpty)
    val rep = Curation.report(docs, cfg, evalDocs = Some(evalDocs)).collect().head
    assert(rep.getAs[Long]("after_decontamination") <= rep.getAs[Long]("after_language"))
  }

  test("length quantiles interpolate linearly (quantile_cont semantics)") {
    import graft.llm.CorpusStats
    // token counts 1..4 in one stratum: p50 of [1,2,3,4] = 2.5, p25 = 1.75
    val docs = Seq(
      (1L, "a", "en"), (2L, "a b", "en"), (3L, "a b c", "en"), (4L, "a b c d", "en")
    ).toDF("doc_id", "text", "lang")
    val q = CorpusStats.lengthQuantiles(docs, "lang").collect().head
    assert(q.getAs[Double]("p25") == 1.75)
    assert(q.getAs[Double]("p50") == 2.5)
    assert(q.getAs[Double]("p90") == 3.7)
  }

  test("sketch profile stays within declared error of the exact operators") {
    import graft.llm.CorpusStats
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val approx = CorpusStats.approxProfile(docs, "lang").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val exactQ = CorpusStats.lengthQuantiles(docs, "lang", percentiles = Seq(0.5, 0.9))
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val exactVocab = docs
      .select($"lang", explode(split(lower(trim($"text")), "\\s+")).as("w"))
      .groupBy($"lang").agg(countDistinct($"w").as("v"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("v")).toMap
    assert(approx.keySet == exactQ.keySet)
    approx.foreach { case (lang, row) =>
      val vErr = math.abs(row.getAs[Long]("approx_vocab").toDouble - exactVocab(lang)) /
        math.max(exactVocab(lang).toDouble, 1.0)
      assert(vErr <= 0.15, s"$lang vocab error $vErr") // 3× the 5% rsd
      // at accuracy 10000 over a small group the quantile sketch is exact-rank
      val p50Err = math.abs(row.getAs[Double]("p50_tokens") - exactQ(lang).getAs[Double]("p50"))
      assert(p50Err <= math.max(1.0, 0.05 * exactQ(lang).getAs[Double]("p50")),
        s"$lang p50 off by $p50Err")
    }
  }

  test("k-means clustering: total assignment, bounded ids, coherent profile") {
    import graft.llm.Similarity
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val k = 8
    val assigned = Similarity.kmeansCluster(vecs, k = k, iterations = 2)
    val rows = assigned.select("vec_id", "cluster_id").as[(Long, Int)].collect()
    assert(rows.length == vecs.count()) // every vector assigned exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall { case (_, c) => c >= 0 && c < k })
    val profile = Similarity.clusterProfile(vecs, k = k, iterations = 2).collect()
    assert(profile.map(_.getAs[Long]("n_vectors")).sum == rows.length)
    // every non-degenerate cluster coheres with its centroid
    assert(profile.forall(_.getAs[Double]("mean_cosine") > 0.0))
  }

  test("semantic dedup: planted copies collapse onto the lowest id, distinct vectors survive") {
    import graft.llm.Similarity
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val n = emb.count()
    // identical re-serves AND scaled copies (cosine is scale-invariant, so
    // a 1.5x rescale is a SEMANTIC duplicate text-level dedup can't see)
    val planted = emb.filter($"vec_id" % 13 === 0)
      .select(($"vec_id" + 500000).as("vec_id"), $"embedding")
    val scaled = emb.filter($"vec_id" % 17 === 1)
      .select(($"vec_id" + 600000).as("vec_id"),
        transform($"embedding", x => x * lit(1.5f)).as("embedding"))
    val out = Similarity.semanticDedup(emb.unionByName(planted).unionByName(scaled),
        k = 8, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(out.forall(_ < 500000), s"planted duplicates survived: ${out.filter(_ >= 500000)}")
    assert(out.size == n, "an original was dropped — originals hold the lowest id per duplicate group")
  }

  test("boilerplate strip: shared footer removed, unique lines kept in order, all-boiler docs dropped") {
    import graft.llm.Curation
    val docs = Seq(
      (1L, "sA", "unique one\nshared footer\nmore text"),
      (2L, "sA", "different body\nshared footer"),
      (3L, "sA", "third doc\nshared footer"),
      (4L, "sA", "shared footer"),               // nothing survives → dropped
      (5L, "sB", "shared footer\nother source")  // sB: footer appears once → kept
    ).toDF("doc_id", "source", "text")
    val out = Curation.stripBoilerplate(docs, minFrac = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "unique one\nmore text") // order preserved across the gap
    assert(out(2L) == "different body" && out(3L) == "third doc")
    assert(!out.contains(4L))
    assert(out(5L) == "shared footer\nother source")
  }

  test("C4 clean: line rules and each page rule fire independently") {
    import graft.llm.C4
    val docs = Seq(
      (1L, "a good sentence with five words.\nshort line.\nno terminal punctuation here at all\nthe second keeper line stands here!\nthe third keeper line sits here?"),
      (2L, "a good sentence with five words.\nthe second keeper line stands here!\nthis line mentions JavaScript code today.\nthe third keeper line sits here?"),
      (3L, "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?\nlorem ipsum dolor sit amet friend."),
      (4L, "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?\ncode uses { braces } here friend."),
      (5L, "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?\nthis page contains badword right here."),
      (6L, "only one good line sits here."),
      // punctuation-adjacent bad word — word-boundary tokenization must hit
      (7L, "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?\nthis page contains badword, right here."),
      // ellipsis teaser drops though it ends with '.'; page passes on 3 keepers
      (8L, "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?\nread much more about this topic..."),
      // lorem + curly confined to a line the line rules drop → page KEPT
      (9L, "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?\n{ lorem ipsum }")
    ).toDF("doc_id", "text")
    val out = C4.clean(docs).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: the <5-word line and the unpunctuated line drop; 3 keepers → pass
    assert(out(1L).getAs[Int]("n_kept") == 3 && out(1L).getAs[Boolean]("c4_pass"))
    assert(out(1L).getAs[String]("clean_text") ==
      "a good sentence with five words.\nthe second keeper line stands here!\nthe third keeper line sits here?")
    // doc 2: the javascript line drops (case-insensitive), page survives on 3 keepers
    assert(out(2L).getAs[Int]("n_kept") == 3 && out(2L).getAs[Boolean]("c4_pass"))
    // docs 3/4/5: page-level drops, each via exactly its own flag
    assert(out(3L).getAs[Boolean]("has_lorem") && !out(3L).getAs[Boolean]("c4_pass"))
    assert(out(4L).getAs[Boolean]("has_curly") && !out(4L).getAs[Boolean]("c4_pass"))
    assert(out(5L).getAs[Boolean]("has_badword") && !out(5L).getAs[Boolean]("c4_pass"))
    // doc 6: one keeper < minLines → fails with no page flag set
    assert(!out(6L).getAs[Boolean]("c4_pass") && !out(6L).getAs[Boolean]("has_lorem"))
    // doc 7: 'badword,' hits through the comma (word-boundary tokenization)
    assert(out(7L).getAs[Boolean]("has_badword") && !out(7L).getAs[Boolean]("c4_pass"))
    // doc 8: '...' line is rejected despite ending in '.'; page passes
    assert(out(8L).getAs[Int]("n_kept") == 3 && out(8L).getAs[Boolean]("c4_pass"))
    assert(!out(8L).getAs[String]("clean_text").contains("..."))
    // doc 9: lorem/curly sit only in a dropped line → flags clear, page kept
    assert(!out(9L).getAs[Boolean]("has_lorem") && !out(9L).getAs[Boolean]("has_curly")
      && out(9L).getAs[Boolean]("c4_pass"))
    val kept = C4.filterCorpus(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 8L, 9L))
  }

  test("paragraph dedup: first occurrence survives, later copies drop, emptied docs remain") {
    val docs = Seq(
      (1L, "alpha one\nshared footer\nbeta two"),
      (2L, "gamma three\nshared footer"),
      (3L, "shared footer"),                       // everything duplicated → emptied, not dropped
      (4L, "delta four\ndelta four\nepsilon five") // within-doc dup: first copy kept
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("alpha one\nshared footer\nbeta two", 0L)))
    assert(out(2L) == (("gamma three", 1L)))
    assert(out(3L) == (("", 1L)))
    assert(out(4L) == (("delta four\nepsilon five", 1L)))
  }

  test("mixture sampling: integer share math, scarcest stratum binds, reproducible") {
    import graft.llm.Sampling
    val docs = (0 until 300).map(i => (i.toLong, s"s${i % 3}")).toDF("doc_id", "source")
    // s2 is scarce relative to its 60% share: 100 available / 0.6 → T=166
    val out = Sampling.mixtureSample(docs,
      Seq("s0" -> 200000L, "s1" -> 200000L, "s2" -> 600000L), "source", "mx")
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    // thresholds: keep_s0 = 166*0.2 = 33 of 100 → thr 330000; expected ~33
    assert(bySrc("s2").toDouble / out.length > 0.5, s"scarce stratum under-represented: $bySrc")
    assert(bySrc("s0") < 50 && bySrc("s1") < 50, s"abundant strata not downsampled: $bySrc")
    // deterministic: a second run draws the identical sample
    val again = Sampling.mixtureSample(docs,
      Seq("s0" -> 200000L, "s1" -> 200000L, "s2" -> 600000L), "source", "mx")
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
  }

  test("mixture sampling: a target stratum absent from the corpus binds the total to 0") {
    import graft.llm.Sampling
    // "achievable total bounded by the scarcest stratum": an EMPTY stratum
    // is the scarcest — T must be 0 and the sample empty, not a silently
    // re-normalized mixture over the present strata (ADVICE r4)
    val docs = (0 until 100).map(i => (i.toLong, s"s${i % 2}")).toDF("doc_id", "source")
    val out = Sampling.mixtureSample(docs,
      Seq("s0" -> 400000L, "s1" -> 400000L, "missing" -> 200000L), "source", "mx")
    assert(out.count() == 0L, "empty target stratum must zero the achievable mixture")
    // control: without the phantom stratum the same targets draw non-empty
    val ok = Sampling.mixtureSample(docs,
      Seq("s0" -> 500000L, "s1" -> 500000L), "source", "mx")
    assert(ok.count() > 0L)
  }

  test("document chunking: exact spans, overlap carried, short docs intact") {
    import graft.llm.Curation
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 words
      (2L, "a b c")                                   // shorter than a chunk
    ).toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(docs, chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // step 3: [t1..t4], [t4..t7], [t7..t10] — overlap word carried
    assert(d1.map(_._3).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_._4).toSeq == Seq(4, 4, 4))
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3 == "a b c" && d2.head._4 == 3)
    // reconstruction: de-overlapped chunks concatenate back to the doc
    val rebuilt = d1.head._3 + " " + d1.tail.map(_._3.split(" ").drop(1).mkString(" ")).mkString(" ")
    assert(rebuilt == (1 to 10).map(i => s"t$i").mkString(" "))
  }

  test("capped buckets are audited, never silent (winnowing + vector LSH)") {
    // 5 docs share a passage; with maxBucket = 3 the fingerprint bucket is
    // skipped for pair expansion but MUST surface in the audit view
    val passage = (1 to 10).map(i => s"common-$i").mkString(" ")
    val shared = (0 until 5).map(i => (i.toLong, passage + s" tail-$i extra words here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.passageOverlapCandidates(shared, minShared = 1, maxBucket = 3)
      .collect()
    val audit = Dedup.oversizedPassageBuckets(shared, maxBucket = 3).collect()
    assert(audit.nonEmpty && audit.forall(_.getAs[Long]("members") > 3),
      "skipped fingerprint buckets must be audited")
    // identical vectors: one bucket of 5 per table, capped at 3 → audited
    val vec = (1 to 16).map(_ => 0.5).toArray
    val vecs = (0 until 5).map(i => (i.toLong, vec)).toDF("vec_id", "embedding")
    val vAudit = Similarity.oversizedVectorBuckets(vecs, dim = 16, maxBucket = 3).collect()
    assert(vAudit.nonEmpty && vAudit.forall(_.getAs[Long]("members") == 5))
  }

  test("winnowing catches a copied passage inside an otherwise-different doc") {
    // frankendoc: 12 words copied from doc 0, rest unrelated — whole-doc
    // near-dup misses it (jaccard ~0.24 < 0.7); winnowing must find it
    val copied = corpus.filter($"doc_id" === 0L).head.getString(1)
      .split(" ").take(12).mkString(" ")
    val franken = Seq((5000L, copied + " " + (1 to 30).map(i => s"zzz-$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.passageOverlapCandidates(corpus.unionByName(franken), minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 5000L)), s"copied passage missed: $pairs")
    // distinct base docs (disjoint vocabularies) share no passages
    assert(!pairs.exists { case (a, b) => a < 20 && b < 20 },
      s"false passage overlap among distinct docs: $pairs")
  }

  test("incremental near-dedup: new batch vs the corpus signature index") {
    // index the base corpus once; a later batch re-serves doc 0 verbatim,
    // a one-word paraphrase of doc 3, and a genuinely new document
    val index = Dedup.bandSignatures(corpus)
    val batch = Seq(
      (1000L, corpus.filter($"doc_id" === 0L).head.getString(1)),
      (1001L, doc(baseWords.map(w => s"$w-3").updated(5, "EDITED"))),
      (1002L, doc((1 to 40).map(i => s"fresh-$i")))
    ).toDF("doc_id", "text")
    val cands = Dedup.incrementalCandidates(batch, index)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1000L, 0L)) && cands.contains((1001L, 3L)), s"candidates: $cands")
    val survivors = Dedup.incrementalNearDedup(batch, index, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1002L), s"survivors: $survivors")
    // the verify threshold keeps precision: candidates that share a band
    // but fall below 0.7 Jaccard survive
    val unrelated = Seq((2000L, doc((1 to 40).map(i => s"other-$i")))).toDF("doc_id", "text")
    val kept = Dedup.incrementalNearDedup(unrelated, index, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2000L))
  }

  test("incremental embedding near-dedup: re-serves dropped, negated vectors survive") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .select("vec_id", "embedding")
    val index = Similarity.lshBucketIndex(emb, dim = 64)
    val batch = emb.filter($"vec_id" % 17 === 0)
      .select(($"vec_id" + 500000).as("vec_id"), $"embedding")       // exact re-serves
      .unionByName(emb.filter($"vec_id" % 19 === 3)
        .select(($"vec_id" + 600000).as("vec_id"),
          transform($"embedding", x => -x).as("embedding")))         // cosine −1: novel
    val survivors = Similarity.incrementalNearDupVectors(batch, index, emb, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors.forall(_ >= 600000), s"re-served vectors kept: ${survivors.filter(_ < 600000)}")
    val expectedNovel = emb.filter($"vec_id" % 19 === 3).count()
    assert(survivors.size == expectedNovel,
      s"${expectedNovel - survivors.size} novel (negated) vectors wrongly dropped")
  }

  test("fuzzy decontamination flags paraphrased eval leakage, not clean docs") {
    import graft.llm.Decontaminate
    // eval doc = doc 0's text; docs 100-102 are planted one-word paraphrases
    // of doc 0 (jaccard ≈ 0.92 at k=3) and must be flagged; distinct docs not
    val evalDocs = Seq((9000L, corpus.filter($"doc_id" === 0L).head.getString(1)))
      .toDF("doc_id", "text")
    val flagged = Decontaminate.fuzzyContamination(corpus, evalDocs, threshold = 0.7)
      .select("doc_id", "eval_id").as[(Long, Long)].collect().toSet
    assert(flagged.contains((0L, 9000L)))   // the exact copy
    (0 until 3).foreach { i => assert(flagged.contains((100L + i, 9000L)), s"missed paraphrase 10$i") }
    assert(!flagged.exists { case (d, _) => d >= 1 && d < 100 }, s"clean docs flagged: $flagged")
  }

  test("packWaste: sequence count, tail padding, fragmentation from a known layout") {
    import graft.llm.Curation
    // token counts 300, 300, 100 at seqLen 256: total 700 → 3 seqs,
    // tail padding 68, docs 1 and 2 straddle a boundary, doc 1 spans 2 seqs
    val counts = Seq((1L, 300L), (2L, 300L), (3L, 100L)).toDF("doc_id", "n_tokens")
    val pack = Curation.packByTokenCounts(counts, seqLen = 256L)
    val w = Curation.packWaste(pack, seqLen = 256L).collect()(0)
    assert(w.getAs[Long]("n_docs") == 3L)
    assert(w.getAs[Long]("total_tokens") == 700L)
    assert(w.getAs[Long]("n_seqs") == 3L)
    assert(w.getAs[Long]("tail_padding") == 68L)
    assert(w.getAs[Long]("fragmented_docs") == 2L)
    assert(w.getAs[Long]("max_doc_span_seqs") == 2L)
    assert(w.getAs[Double]("fill_rate") == math.rint(700.0 / 768.0 * 1e6) / 1e6)
    // exact multiple: zero padding, full fill
    val exact = Curation.packByTokenCounts(Seq((1L, 512L)).toDF("doc_id", "n_tokens"), 256L)
    val we = Curation.packWaste(exact, 256L).collect()(0)
    assert(we.getAs[Long]("tail_padding") == 0L && we.getAs[Double]("fill_rate") == 1.0)
  }

  test("curriculumOrder: threshold banding and per-band deterministic shuffle") {
    import graft.llm.Curation
    val ann = Seq(
      (1L, 0.1), (2L, 0.25), (3L, 0.49), (4L, 0.5), (5L, 0.9)
    ).toDF("doc_id", "quality_score")
    val out = Curation.curriculumOrder(ann, bands = Seq(0.25, 0.5, 0.8), seed = "t")
      .select("doc_id", "band").as[(Long, Long)].collect().toMap
    // band boundaries are INCLUSIVE lower bounds
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // keys are the md5 shuffle keys — reproducible across runs
    val k1 = Curation.curriculumOrder(ann, seed = "t").select("curriculum_key")
      .as[String].collect().toSeq
    val k2 = Curation.curriculumOrder(ann, seed = "t").select("curriculum_key")
      .as[String].collect().toSeq
    assert(k1 == k2)
    assert(intercept[IllegalArgumentException](
      Curation.curriculumOrder(ann, bands = Seq(0.5, 0.25))).getMessage.contains("ascending"))
  }

  test("bm25: only matching docs retrieved, multi-term match outranks single, exact tf/dl/df") {
    import graft.llm.Bm25
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple apple cherry"),
      (3L, "durian durian durian")).toDF("doc_id", "text")
    // postings index is exact
    val post = Bm25.postings(docs).orderBy("doc_id", "term")
      .select("doc_id", "term", "tf", "dl").as[(Long, String, Long, Long)].collect().toSet
    assert(post == Set(
      (1L, "apple", 1L, 2L), (1L, "banana", 1L, 2L),
      (2L, "apple", 2L, 3L), (2L, "cherry", 1L, 3L),
      (3L, "durian", 3L, 3L)))
    val queries = Seq((10L, "durian"), (20L, "apple cherry")).toDF("query_id", "text")
    val got = Bm25.topK(docs, queries, topK = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "doc_id", "rank").as[(Long, Long, Long)].collect().toSeq
    // q10: only doc3 contains durian; q20: doc2 matches both terms and
    // must outrank doc1's single lower-tf match
    assert(got == Seq((10L, 3L, 1L), (20L, 2L, 1L), (20L, 1L, 2L)))
    // scores are positive integers in micro-units (BM25+ idf is > 0)
    val scores = Bm25.topK(docs, queries, topK = 5).select("score_micro").as[Long].collect()
    assert(scores.forall(_ > 0L))
  }

  test("oovAudit: held-out words fall back to character segmentation and are counted OOV") {
    import graft.llm.Bpe
    // train on a tiny corpus where "ab" is a learned merge
    val train = Seq("ab ab ab cd").toDF("text")
    val (_, vocab) = Bpe.trainMerges(Bpe.wordFrequencies(train), numMerges = 1)
    // held-out: "ab" in vocab (1 token after merge), "xyz" OOV (3 char tokens)
    val held = Seq(("en", "ab xyz"), ("de", "cd")).toDF("lang", "text")
    val out = Bpe.oovAudit(held, vocab).orderBy("lang")
      .select("lang", "n_words", "n_oov_words", "n_tokens", "n_oov_tokens")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // de: "cd" seen in training (2 tokens, no merge applied to it)
    assert(out == Seq(("de", 1L, 0L, 2L, 0L), ("en", 2L, 1L, 4L, 3L)))
  }

  test("rrf fusion: two-system consensus outranks either single-system winner") {
    import graft.llm.Fusion
    val sysA = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "doc_id", "rank")
    val sysB = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Fusion.rrf(Seq(sysA, sysB), topK = 2)
      .orderBy("rank")
      .select("doc_id", "rrf_nano", "n_systems", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 20 appears in both systems (rank 2 + rank 1) and must win;
    // nano contributions: 1e9/61 = 16393443 (round .62), 1e9/62 = 16129032
    assert(got == Seq(
      (20L, 16129032L + 16393443L, 2L, 1L),
      (10L, 16393443L, 1L, 2L)))
  }

  test("rrf fusion: a duplicated (query, doc) row within one system contributes once, at its best rank") {
    import graft.llm.Fusion
    // sysA carries doc 10 TWICE (ranks 1 and 3) — contract violation; the
    // enforcement keeps only the min-rank contribution and n_systems = 1
    val sysA = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 10L, 3L)).toDF("query_id", "doc_id", "rank")
    val sysB = Seq((1L, 20L, 1L)).toDF("query_id", "doc_id", "rank")
    val got = Fusion.rrf(Seq(sysA, sysB), topK = 3)
      .orderBy("rank")
      .select("doc_id", "rrf_nano", "n_systems", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (20L, 16129032L + 16393443L, 2L, 1L),
      (10L, 16393443L, 1L, 2L))) // NOT 16393443 + 1e9/63 and NOT n_systems 2
  }

  test("mmr: diversity-weighted selection promotes the non-duplicate candidate") {
    // a (id 1) and b (id 2) are near-identical and maximally relevant to q;
    // c (id 3) is less relevant but diverse. With λ=0.3 (diversity-heavy)
    // MMR must select a, then c, then b — pure relevance would give a, b, c.
    val q = Seq((0L, Seq(1.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1.0, 1.0, 0.01)),
      (2L, Seq(1.0, 1.0, -0.01)),
      (3L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.mmrDiversify(q, corpus, candidateK = 3, selectK = 3, lambda = 0.3)
      .orderBy("mmr_rank")
      .select("neighbor_id", "mmr_rank").as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1), (3L, 2), (2L, 3)))
    // rank-1 ties break on id: a and b have bit-identical relevance shapes
    val got2 = Similarity.mmrDiversify(q,
      Seq((5L, Seq(1.0, 1.0, 0.0)), (4L, Seq(1.0, 1.0, 0.0))).toDF("vec_id", "embedding"),
      candidateK = 2, selectK = 1, lambda = 0.5)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got2 == Seq(4L))
  }

  test("quality-aware keeper: best copy survives its dup group regardless of id order") {
    val docs = Seq(
      (1L, "hello, world!!"), // same normalized group as id 2, lower quality (punct)
      (2L, "Hello World"),
      (5L, "distinct doc body"), // exact tie group: quality equal -> min id
      (6L, "distinct doc body"))
      .toDF("doc_id", "text")
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("text"), col("quality_score"))
    val kept = Dedup.exactKeepBest(scored, "quality_score")
      .select("doc_id").as[Long].collect().toSet
    // id 2 wins its group on quality despite the higher id; tie -> id 5
    assert(kept == Set(2L, 5L))
    // normalization: case/punct variants share a key, distinct bodies don't
    val keys = docs.select(Dedup.normalizedText(col("text"))).as[String].collect().toSet
    assert(keys == Set("hello world", "distinct doc body"))
  }

  test("keeper normalization is Unicode-aware and never merges distinct all-punct docs") {
    // non-Latin text keeps its content under \p{L}\p{N} — the zh docs are
    // NOT one dup group (the pre-r11 [a-z0-9] class normalized both to '')
    val docs = Seq(
      (1L, "中文 文档 一"),
      (2L, "中文 文档 二"),
      (3L, "中文, 文档, 一!!"), // punct variant of id 1 -> same group
      (4L, "!!! ???"), // empty-normalized: keys on RAW text
      (5L, "*** &&&"), // distinct raw -> distinct group, survives
      (6L, "!!! ???")) // raw-identical to id 4 -> collapses with it
      .toDF("doc_id", "text")
    assert(docs.select(Dedup.normalizedText(col("text"))).as[String].collect().toSet ==
      Set("中文 文档 一", "中文 文档 二", ""))
    val scored = docs.withColumn("quality_score", lit(1.0) - col("doc_id") / 100.0)
    val kept = Dedup.exactKeepBest(scored, "quality_score")
      .select("doc_id").as[Long].collect().toSet
    // 1 beats 3 on quality; 2 is its own group; 4 beats 6; 5 survives alone
    assert(kept == Set(1L, 2L, 4L, 5L))
  }
}
