package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/test decontamination — find training documents that contain a
  * benchmark/test document's content, the overlap audit every LLM data
  * pipeline runs before training (the reference stack has no native
  * operator for this; it is the pipeline-side complement of the dedup
  * family in [[Dedup]]).
  *
  * Contamination here is asymmetric n-gram *containment* (not Jaccard):
  * `|shingles(test) ∩ shingles(train)| / |shingles(test)|` — a short
  * benchmark prompt fully embedded in a long web document scores 1.0
  * even though its Jaccard against the page is tiny. This is the
  * standard containment form (Broder, "On the resemblance and
  * containment of documents", SEQUENCES 1997).
  *
  * == Scale shape ==
  *
  * Never all-pairs: both sides explode to (doc, shingle) rows and meet in
  * ONE equi-join on the shingle — an inverted index. The TEST side is the
  * build/broadcast side (test sets are benchmark suites — small by
  * definition), so the train corpus streams through the probe without
  * ever shuffling; only the matching (test, train) pairs reach the count
  * shuffle, partial-aggregated map-side. Shingles are distinct per doc,
  * so the join emits exactly one row per intersection element — counts
  * ARE intersection sizes, no dedup pass. (A genuinely huge test set
  * would flip this to a shuffle join on the shingle; not this default.)
  *
  * Explodes are `explode_outer`: shingle sets are non-empty by
  * construction (token-count prefilter), and the non-outer form triggers
  * InferFiltersFromGenerate's `size(sh) > 0` guard, which predicate
  * pushdown substitutes into a per-row re-evaluation of the whole
  * tokenize→shingle pipeline inside the scan filter (the
  * PushPredicateThroughNonJoin recompute trap — measured ~3.5× this
  * operator's cost; see TextPrep's evaluation-cost discipline). The
  * outer generate infers nothing; its null rows don't exist here, and an
  * equi-join would drop null keys anyway.
  *
  * `dfCap` drops shingles appearing in more than `dfCap` training docs
  * before the join (one cheap partial-agg'd count over the exploded train
  * side + an anti-join against the broadcast DROPPED set — O(boilerplate),
  * never the kept vocabulary). Boilerplate n-grams ("all rights
  * reserved") otherwise dominate the join fan-out at corpus scale; capped
  * shingles undercount containment, so the cap is an explicit
  * approximation knob, off by default (and off in the oracle-checked
  * query q68).
  */
object Decontaminate {

  /** Contaminated pairs: (test_id, train_id, containment) with
    * containment ≥ `tau`, rounded to 6 places for engine-stable
    * comparison. Docs with fewer than `shingleK` tokens have no shingles
    * and cannot appear on either side. */
  def contamination(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      tau: Double = 0.5,
      dfCap: Int = Int.MaxValue): DataFrame = {
    val testSets = Dedup.shingleSets(test, idCol, textCol, shingleK)
    // Divisor |shingles(test)| is taken BEFORE any df-capping: the cap
    // approximates the numerator only, keeping containment ≤ true value.
    val testSizes = testSets.select(col("doc_id").as("test_id"),
      size(col("sh")).as("__n_test"))

    val testSh = testSets.select(col("doc_id").as("test_id"),
      explode_outer(col("sh")).as("__sh"))
    val trainShAll = Dedup.shingleSets(train, idCol, textCol, shingleK)
      .select(col("doc_id").as("train_id"), explode_outer(col("sh")).as("__sh"))
    // The broadcast side is the DROPPED set (df > dfCap — a handful of
    // boilerplate shingles), never the kept set (≈ the whole vocabulary):
    // anti-join against small, not semi-join against everything.
    val trainSh =
      if (dfCap == Int.MaxValue) trainShAll
      else trainShAll.join(
        broadcast(trainShAll.groupBy(col("__sh"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > dfCap)
          .select(col("__sh"))),
        Seq("__sh"), "left_anti")

    trainSh.join(broadcast(testSh), Seq("__sh"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("__overlap"))
      .join(broadcast(testSizes), Seq("test_id"))
      .select(col("test_id"), col("train_id"),
        round(col("__overlap").cast("double") / col("__n_test"), 6)
          .as("containment"))
      .filter(col("containment") >= tau)
  }

  /** Bloom-filter contamination pre-filter — the ZERO-SHUFFLE variant of
    * [[contamination]] for the common case where the benchmark/test side
    * fits a sketch (it always does: benchmark suites are ≤10⁷ n-grams).
    *
    * The test set's distinct shingle hashes go into ONE bloom filter
    * (Spark's own `BloomFilterAggregate`, the sketch behind runtime
    * row-level filtering); the corpus then streams through a map-only
    * `might_contain` probe — per-doc hit counts with NO join and NO
    * shuffle of the corpus side at all (the only shuffle in the plan is
    * the per-doc count aggregate, slim (id, long) rows). At 100 TB this
    * turns decontamination from an inverted-index equi-join into a scan.
    *
    * One-sided error, in the safe direction: bloom filters have NO false
    * negatives, so every truly contaminated document is flagged —
    * guaranteed decontamination; false positives over-drop clean docs at
    * a rate bounded by `fpp` per shingle (union-bounded per doc by its
    * shingle count — the default 1e-4 holds expected per-doc fp odds
    * ≈ 1% at 100-shingle docs). The sketch is collected to the driver
    * and embedded as a binary literal: `numBits` is derived from the
    * optimal bits-per-item formula −ln(fpp)/ln²2 and capped at 2²⁷ bits
    * (16 MB — the bounded-driver-state discipline; a benchmark set
    * overflowing the cap degrades fpp, never correctness). Spark's
    * `BloomFilterAggregate` SILENTLY clamps its arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 2²⁶)
    * and `…maxNumItems` (default 4M) — half/below our cap — so both
    * confs are raised to the requested size before aggregating;
    * otherwise the effective bits/item would halve at scale and break
    * the fp bound while the docstring still claimed 2²⁷.
    *
    * `expectedShingles` ≤ 0 sizes the filter from
    * [[graft.engine.TableStats.rowCountNoJob]] × `shinglesPerDocHint` —
    * no count() job for a parameter.
    *
    * Output ([[bloomContaminationFlags]]): (doc_id, n_shingles, n_hits,
    * flagged) per corpus doc — flagged = n_hits ≥ minHits.
    *
    * [[buildShingleBloom]] is the sketch side alone, exposed so serving
    * paths (the streaming scan, [[graft.streaming.StreamDecontaminate]])
    * can build once and probe many. */
  def buildShingleBloom(
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      fpp: Double = 1e-4,
      expectedShingles: Long = -1L,
      shinglesPerDocHint: Int = 128): Array[Byte] = {
    import org.apache.spark.sql.graft.{Scoped, SketchExprs}

    val nItems = math.max(1024L,
      if (expectedShingles > 0) expectedShingles
      else graft.engine.TableStats.rowCountNoJob(test) * shinglesPerDocHint)
    val bitsPerItem = -math.log(fpp) / (math.log(2) * math.log(2))
    val numBits = math.min(1L << 27, math.max(64L, (nItems * bitsPerItem).ceil.toLong))
    val testHashes = Dedup.shingleSets(test, idCol, textCol, shingleK)
      .select(explode_outer(col("sh")).as("__sh"))
      .select(xxhash64(col("__sh")).as("__h"))
      .distinct()
    // Lift BloomFilterAggregate's silent conf clamps (see docstring) up
    // to the sizes this call actually requests — on a scoped session, so
    // no other query sees the lifted clamps.
    // Bounded driver read: ONE binary cell, ≤ numBits/8 bytes by
    // construction — sketch state, not data (the catalog-listing class
    // of collect).
    Scoped.run(test.sparkSession, Map(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
        math.max(numBits, 1L << 26).toString,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
        math.max(nItems, 4000000L).toString), None, commits = false) { scoped =>
      Scoped.reroot(testHashes, scoped)
        .agg(SketchExprs.bloomAgg(col("__h"), nItems, numBits).as("__bf"))
        .head().getAs[Array[Byte]]("__bf")
    }
  }

  def bloomContaminationFlags(
      corpus: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      minHits: Int = 1,
      fpp: Double = 1e-4,
      expectedShingles: Long = -1L,
      shinglesPerDocHint: Int = 128): DataFrame = {
    import org.apache.spark.sql.graft.SketchExprs
    val bf = buildShingleBloom(test, idCol, textCol, shingleK, fpp,
      expectedShingles, shinglesPerDocHint)

    Dedup.shingleSets(corpus, idCol, textCol, shingleK)
      .select(col("doc_id").as(idCol), explode_outer(col("sh")).as("__sh"))
      .withColumn("__h", xxhash64(col("__sh")))
      .withColumn("__hit",
        when(SketchExprs.bloomMightContain(bf, col("__h")), 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), sum(col("__hit")).as("n_hits"))
      .withColumn("flagged", col("n_hits") >= minHits)
  }

  /** Gate contract for [[bloomContaminationFlags]]: one row
    * (n_corpus, n_contaminated, no_missed, fp_bounded).
    *
    * The exact contaminated set (≥1 shared distinct shingle with the
    * test set, STRING identity — hash-independent) is recomputed
    * in-plan for the gate; `no_missed` asserts the bloom path flagged
    * every one of them (must hold: no false negatives), `fp_bounded`
    * bounds over-dropping at `fpBound` of the corpus. The two exact
    * counts are the only sketch-independent values, so the oracle
    * recomputes them and states the booleans. */
  def bloomContract(
      corpus: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      fpBound: Double = 0.05): DataFrame = {
    val flags = bloomContaminationFlags(corpus, test, idCol, textCol, shingleK)
    val corpusSh = Dedup.shingleSets(corpus, idCol, textCol, shingleK)
      .select(col("doc_id").as(idCol), explode_outer(col("sh")).as("__sh"))
    val testSh = Dedup.shingleSets(test, idCol, textCol, shingleK)
      .select(explode_outer(col("sh")).as("__sh")).distinct()
    val exact = corpusSh.join(broadcast(testSh), Seq("__sh"), "left_semi")
      .select(col(idCol)).distinct().withColumn("__exact", lit(1L))
    flags.join(exact, Seq(idCol), "left")
      .agg(
        count(lit(1)).as("n_corpus"),
        sum(coalesce(col("__exact"), lit(0L))).as("n_contaminated"),
        sum(when(col("__exact") === 1L && !col("flagged"), 1L).otherwise(0L))
          .as("__missed"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("__n_flagged"))
      .select(col("n_corpus"), col("n_contaminated"),
        (col("__missed") === 0L).as("no_missed"),
        (col("__n_flagged") - col("n_contaminated") <=
          ceil(col("n_corpus") * fpBound)).as("fp_bounded"))
  }
}
