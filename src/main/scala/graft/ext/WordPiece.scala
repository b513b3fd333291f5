package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Scoped

/** Distributed WordPiece tokenizer training — the third major subword
  * family (Schuster & Nakajima 2012; the BERT tokenizer), completing the
  * set next to BPE ([[BpeTrainer]], frequency-greedy merges) and
  * unigram-LM ([[UnigramLm]], probabilistic prune-down):
  *
  *   - WordPiece is merge-based like BPE, but each round merges the pair
  *     maximizing the LIKELIHOOD score count(lr) / (count(l)·count(r)) —
  *     "merge what co-occurs more than its parts predict", not "merge
  *     what is merely frequent".
  *   - Symbols carry BERT's `##` continuation convention from the start:
  *     a word's first code point is plain, the rest are `##`-prefixed,
  *     and a merge l+r keeps l's prefix status while dropping r's `##` —
  *     so "hat" as pieces is [h, ##a, ##t] and learned units look like
  *     [ha, ##t] or [hat]. Initial and continuation units count (and
  *     merge) separately, exactly as BERT's vocab distinguishes them.
  *
  * == Scale shape (the [[BpeTrainer]] discipline, unchanged) ==
  *
  * All statistics live on the Zipf-bounded word-frequency table: one
  * corpus shuffle builds it; each round computes pair counts AND symbol
  * counts over that table (both map-side-combined), joins them into the
  * likelihood score, takes ONE winning pair to the driver (TakeOrdered —
  * bounded driver state), re-maps symbol sequences with a codegen'd
  * fold, and localCheckpoints (one round, one plan). Determinism: the
  * score is a double computed identically everywhere from exact long
  * counts; ties break (score desc, l asc, r asc).
  *
  * == Encoder ==
  *
  * WordPiece encodes by greedy LONGEST-MATCH-FIRST against the final
  * vocabulary (never by merge replay): the longest vocab prefix of the
  * remaining word wins, continuation positions match only `##` entries,
  * and a word with an unmatchable position becomes a single `[UNK]` —
  * BERT's whole-word unk semantics. [[encodeGreedy]] runs it per word in
  * `mapPartitions` with a broadcast vocab set and a word memo — constant
  * plan size at any vocabulary size, the `encodePartitioned` shape.
  */
object WordPiece {

  val Unk = "[UNK]"

  /** One learned merge, rank-ordered; `score` = n / (nl·nr). */
  final case class Merge(rank: Int, left: String, right: String,
      count: Long, score: Double)

  /** (syms, cnt): words as WordPiece symbol sequences — first code point
    * plain, the rest `##`-prefixed. One corpus shuffle, total. */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(markContinuations(filter(split(col("w"), ""), s => s =!= ""))
        .as("syms"), col("cnt"))

  /** `##`-prefix every element but the first. */
  private def markContinuations(chars: Column): Column =
    transform(chars, (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c)))

  /** Adjacent-pair counts weighted by word count (the BPE shape). */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"), col("cnt"))
      .groupBy(col("p.0").as("l"), col("p.1").as("r"))
      .agg(sum(col("cnt")).as("n"))

  /** Per-symbol occurrence counts weighted by word count. */
  private def symCounts(words: DataFrame): DataFrame =
    words.select(explode(col("syms")).as("s"), col("cnt"))
      .groupBy(col("s")).agg(sum(col("cnt")).as("sn"))

  /** The WordPiece merge rule: l + r with r's `##` dropped. */
  private[ext] def merged(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  /** Left-to-right non-overlapping application of one merge (the
    * [[BpeTrainer]] fold, with the `##`-dropping concatenation). */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val m = merged(l, r)
    aggregate(syms,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
        .otherwise(concat(acc, array(s))))
  }

  /** Learn up to `numMerges` likelihood-scored merges; stop early when
    * no pair reaches `minPairCount`. Returns rank-ordered merges. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    var words = wordTable(docs, textCol).localCheckpoint()
    // Lazy per-round checkpoints — one job per round instead of two, and
    // the final round's re-map is never computed (see [[BpeTrainer]]).
    // The whole loop runs on a scoped session with AQE off and the
    // shuffle width pinned to the word table's (r19): every per-round
    // query is vocabulary-bounded, and AQE's stage-per-job execution cost
    // ~5 jobs/round of pure scheduling (q189 measured 75 jobs for 1.6 s
    // of task time). Corpus-sized work stays outside with AQE on.
    val loopWidth = math.max(1, words.rdd.getNumPartitions)
    Scoped.run(docs.sparkSession, Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth.toString), None,
      commits = false) { scoped =>
    words = Scoped.reroot(words, scoped)
    var prev: Option[DataFrame] = None
    val out = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val syms = symCounts(words)
      val top = pairCounts(words)
        .join(syms.select(col("s").as("l"), col("sn").as("nl")), Seq("l"))
        .join(syms.select(col("s").as("r"), col("sn").as("nr")), Seq("r"))
        .where(col("n") >= minPairCount)
        .select(col("l"), col("r"), col("n"),
          (col("n").cast("double") / (col("nl") * col("nr"))).as("score"))
        .orderBy(col("score").desc, col("l"), col("r")) // fused top-1
        .limit(1).collect()
      prev.foreach(_.unpersist()); prev = None
      top.headOption match {
        case None => done = true
        case Some(row) =>
          val (l, r) = (row.getAs[String]("l"), row.getAs[String]("r"))
          out += Merge(rank, l, r, row.getAs[Long]("n"), row.getAs[Double]("score"))
          val next = words
            .select(applyMerge(col("syms"), l, r).as("syms"), col("cnt"))
            .localCheckpoint(eager = false)
          prev = Some(words)
          words = next
          rank += 1
      }
    }
    prev.foreach(_.unpersist())
    words.unpersist()
    out.result()
    }
  }

  /** The encoder vocabulary: the alphabet of `docs` (initial + `##`
    * continuation forms of every distinct code point) plus every unit
    * the merges produce. Training merges on a SLICE while taking the
    * alphabet from the full corpus is the standard coverage move —
    * character coverage is a cheap full pass, merge statistics are not. */
  def vocab(docs: DataFrame, textCol: String, merges: Seq[Merge]): Set[String] = {
    val alpha = docs
      .select(explode(filter(split(regexp_replace(col(textCol), "\\s+", ""), ""),
        s => s =!= "")).as("c"))
      .distinct().collect().map(_.getString(0))
    val units = merges.map(m => merged(m.left, m.right))
    (alpha ++ alpha.map("##" + _) ++ units).toSet
  }

  /** Greedy longest-match-first encoding against `pieces`: per word,
    * the longest vocab prefix wins (continuation positions try `##`
    * forms); any unmatchable position makes the whole word [[Unk]].
    * Adds `tokens` / `n_tokens` — the [[BpeTrainer.encodePartitioned]]
    * plan shape. */
  def encodeGreedy(docs: DataFrame, textCol: String,
      pieces: Set[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(pieces)
    val outSchema = StructType(docs.schema.fields ++ Seq(
      StructField("tokens", ArrayType(StringType, containsNull = false)),
      StructField("n_tokens", IntegerType, nullable = false)))
    val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val textIdx = docs.schema.fieldIndex(textCol)
    // NOTE (r18): a conditional repartition before this mapPartitions was
    // measured and REJECTED — at gate scale the memoized encode is so
    // cheap that 32 spread tasks cost 6x the single task's total CPU in
    // fixed per-task overhead, for no wall win. The stage is job-overhead
    // bound, not CPU bound.
    docs.mapPartitions { rows =>
      val vocabSet = bc.value
      val memo = new java.util.LinkedHashMap[String, Array[String]](1 << 12, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean = size > 8192
      }
      def enc(w: String): Array[String] = {
        val cached = memo.get(w)
        if (cached != null) return cached
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var start = 0
        var failed = false
        while (start < w.length && !failed) {
          var end = w.length
          var hit: String = null
          while (end > start && hit == null) {
            val sub = w.substring(start, end)
            val candidate = if (start == 0) sub else "##" + sub
            if (vocabSet.contains(candidate)) hit = candidate
            else end -= 1 // NOTE: code-unit steps; surrogate-safe because
                          // a half-surrogate substring can't be in vocab
          }
          if (hit == null) failed = true
          else { out += hit; start = end }
        }
        val arr = if (failed) Array(Unk) else out.toArray
        memo.put(w, arr)
        arr
      }
      rows.map { row =>
        val text = row.getString(textIdx)
        val toks: Array[String] =
          if (text == null) Array.empty
          else text.split("\\s+").iterator.filter(_.nonEmpty)
            .flatMap(enc).toArray
        Row.fromSeq(row.toSeq ++ Seq(toks.toSeq, toks.length))
      }
    }(outEnc)
  }
}
