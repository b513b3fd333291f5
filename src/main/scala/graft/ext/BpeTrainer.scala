package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Scoped

/** Distributed byte-pair-encoding (BPE) merge training — the tokenizer-
  * building half of a training-data pipeline (Sennrich et al. 2016; the
  * algorithm behind GPT-2/BERT-style subword vocabularies).
  *
  * The scale design is the classic one: BPE statistics are a function of
  * the corpus's WORD-FREQUENCY TABLE, not the corpus. One corpus-sized
  * shuffle builds `(word, count)` — Zipf-bounded, millions of rows for a
  * 100 TB corpus, not trillions — and every one of the K merge rounds
  * then runs over that table alone:
  *
  *   round = explode adjacent symbol pairs weighted by word count
  *         → map-side-combined groupBy(pair).sum
  *         → TakeOrdered(1) to the driver        (bounded driver state:
  *           ONE pair per round, like Clustering's per-round scalar)
  *         → broadcast-free narrow re-map of the symbol sequences
  *           (the merge is a codegen'd `aggregate` fold, no UDF)
  *
  * Each round localCheckpoints the re-mapped word table: K rounds would
  * otherwise stack K nested fold expressions and re-execute the whole
  * chain per round (the lineage trap PLANS.md documents for k-means and
  * connected components).
  *
  * Determinism: ties break on (count desc, left asc, right asc), so the
  * learned merge table is a pure function of the corpus — replays and
  * retries learn identical vocabularies (the q43 discipline).
  */
object BpeTrainer {

  /** One learned merge: rank-ordered, `left`+`right` become one symbol;
    * `count` is the weighted pair frequency that won the round. */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** `(word, count)` with words exploded to character-symbol sequences —
    * the table the trainer iterates on. One corpus shuffle, total. */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(filter(split(col("w"), ""), s => s =!= "").as("syms"),
        col("cnt"))

  /** The adjacent-pair frequency table of the current symbol sequences:
    * zip each sequence with its own tail, explode, weight by word count.
    * All codegen'd array functions — rows shuffled are (pair, partial
    * count), never sequences. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"), col("cnt"))
      .groupBy(col("p.0").as("l"), col("p.1").as("r"))
      .agg(sum(col("cnt")).as("n"))

  /** Left-to-right non-overlapping application of one merge to a symbol
    * sequence, as a codegen'd fold: append each symbol, but when the
    * accumulator ends in `left` and the symbol is `right`, replace the
    * tail with the merged symbol. ("aaa" under (a,a) → [aa, a] — the
    * merged symbol can't chain because it no longer equals `left`.) */
  private def applyMerge(syms: Column, left: String, right: String): Column = {
    val merged = left + right
    aggregate(syms,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(left) && s === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(s))))
  }

  /** Learn up to `numMerges` merges from `docs(textCol)`. Stops early
    * when no pair reaches `minPairCount` (merging hapax pairs learns
    * noise). Returns the rank-ordered merge table. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    var words = wordTable(docs, textCol).localCheckpoint()
    // Lazy per-round checkpoints (r18): the NEXT round's top-1 collect
    // materializes this round's re-map, so each round costs ONE job
    // instead of two, and the final round's re-map (never read) is never
    // computed at all. The previous generation unpersists only after the
    // collect proves its successor materialized.
    // The loop runs on a scoped session with AQE off and the shuffle
    // width pinned to the word table's (r19): every per-round query is
    // vocabulary-bounded — AQE's stage-per-job execution added one extra
    // job per round of pure scheduling (see WordPiece.train, where it
    // was ~5).
    val loopWidth = math.max(1, words.rdd.getNumPartitions)
    Scoped.run(docs.sparkSession, Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString), None,
      commits = false) { scoped =>
    words = Scoped.reroot(words, scoped)
    var prev: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("l"), col("r")) // fused top-1
        .limit(1).collect()
      prev.foreach(_.unpersist()); prev = None
      top.headOption.filter(_.getAs[Long]("n") >= minPairCount) match {
        case None => done = true // corpus exhausted below the floor
        case Some(row) =>
          val (l, r) = (row.getAs[String]("l"), row.getAs[String]("r"))
          merges += Merge(rank, l, r, row.getAs[Long]("n"))
          val next = words
            .select(applyMerge(col("syms"), l, r).as("syms"), col("cnt"))
            .localCheckpoint(eager = false) // cut the fold chain lazily
          prev = Some(words)
          words = next
          rank += 1
      }
    }
    prev.foreach(_.unpersist())
    words.unpersist()
    merges.result()
    }
  }

  /** Encode `textCol` with a learned merge table: the training word
    * split, then every merge applied in rank order. The merges compose
    * as K stacked folds in ONE expression tree — right for the gate's
    * K≈10–50; the production encoder at K≈50 000 is
    * [[encodePartitioned]] (the expression tree, not the algorithm, is
    * the K limit here). Adds `tokens` (array) and `n_tokens`. */
  def encode(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val ms = merges.sortBy(_.rank)
    docs
      .withColumn("tokens", flatten(transform(
        filter(split(col(textCol), "\\s+"), w => length(w) > 0),
        w => ms.foldLeft(filter(split(w, ""), s => s =!= ""))(
          (c, m) => applyMerge(c, m.left, m.right)))))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** The production encoder: the merge table compiled ONCE per executor
    * (broadcast `(left, right) → rank` hash map), applied per word inside
    * `mapPartitions` — constant plan size regardless of K, so a 50 000-
    * merge vocabulary encodes as cheaply as a 16-merge one. Semantics are
    * EXACTLY [[encode]]'s (rank order, each merge one left-to-right
    * non-overlapping pass — pinned by BpeTrainerSpec at K=16).
    *
    * Per word it runs the classic heap-over-linked-list BPE
    * (O(L log L), independent of K): symbols form a doubly-linked list,
    * a min-heap holds (rank, leftPos) for every adjacent pair in the
    * merge table, entries validate lazily on pop (the pair must still be
    * live and still have that rank — merges invalidate neighbors without
    * heap surgery). Heap order (rank, then position) IS the fold order:
    * all positions of the winning rank pop together left-to-right, and a
    * merge can never recreate its own pair (the new symbol `l+r` ≠ `l`),
    * so rank application advances monotonically exactly as the stacked
    * folds do; pairs CREATED by a merge are pushed only when their rank
    * exceeds the rank being applied — earlier ranks are already spent in
    * fold semantics. Words are interned per partition via a bounded memo
    * (Zipf: the top few thousand words cover most tokens).
    *
    * Adds the same `tokens` / `n_tokens` columns as [[encode]]. */
  def encodePartitioned(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
    val spark = docs.sparkSession
    val rankOf: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(rankOf)
    val outSchema = StructType(docs.schema.fields ++ Seq(
      StructField("tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_tokens", IntegerType, nullable = false)))
    val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val textIdx = docs.schema.fieldIndex(textCol)
    docs.mapPartitions { rows =>
      val ranks = bc.value
      // Zipf-bounded word memo: encode each distinct word once per task.
      val memo = new java.util.LinkedHashMap[String, Array[String]](1 << 12, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean = size > 8192
      }
      def encodeWord(w: String): Array[String] = {
        val cached = memo.get(w)
        if (cached != null) return cached
        // code-point symbols — `split("")` (the training splitter) keeps
        // surrogate pairs whole, so the encoder must too
        val cps = w.codePoints().toArray
        val n = cps.length
        val sym = new Array[String](n)
        val next = new Array[Int](n) // -1 = end; -2 on dead nodes
        val prev = new Array[Int](n) // -1 = start
        var i = 0
        while (i < n) {
          sym(i) = new String(Character.toChars(cps(i)))
          next(i) = if (i == n - 1) -1 else i + 1
          prev(i) = i - 1
          i += 1
        }
        // (rank, leftPos) min-heap; Long packing keeps it primitive
        val heap = new java.util.PriorityQueue[java.lang.Long]()
        def push(pos: Int, minRankExclusive: Int): Unit = {
          val nx = next(pos)
          if (nx >= 0) ranks.get((sym(pos), sym(nx))).foreach { r =>
            if (r > minRankExclusive)
              heap.add((r.toLong << 32) | pos.toLong)
          }
        }
        i = 0
        while (i < n - 1) { push(i, -1); i += 1 }
        while (!heap.isEmpty) {
          val packed = heap.poll()
          val rank = (packed >> 32).toInt
          val pos = (packed & 0xFFFFFFFFL).toInt
          val nx = next(pos)
          // lazy validation: node live, right neighbor live, pair intact
          if (nx >= 0 && ranks.get((sym(pos), sym(nx))).contains(rank)) {
            sym(pos) = sym(pos) + sym(nx)
            // unlink nx
            val nn = next(nx)
            next(pos) = nn
            if (nn >= 0) prev(nn) = pos
            next(nx) = -2
            // new adjacencies; ranks <= the one being applied are spent
            if (prev(pos) >= 0) push(prev(pos), rank)
            push(pos, rank)
          }
        }
        val out = new scala.collection.mutable.ArrayBuffer[String]()
        var p = 0
        while (p != -1) { out += sym(p); p = next(p) }
        val arr = out.toArray
        memo.put(w, arr)
        arr
      }
      rows.map { row =>
        val text = row.getString(textIdx)
        val toks: Array[String] =
          if (text == null) Array.empty
          else text.split("\\s+").iterator.filter(_.nonEmpty)
            .flatMap(encodeWord).toArray
        Row.fromSeq(row.toSeq ++ Seq(toks.toSeq, toks.length))
      }
    }(outEnc)
  }
}
