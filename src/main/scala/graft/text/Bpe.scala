package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer training and application
  * (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
  * Words with Subword Units" — the standard LLM tokenizer-construction
  * recipe): start from characters + an end-of-word marker, repeatedly
  * merge the corpus-wide most frequent adjacent symbol pair.
  *
  * Spark-first shape: the corpus is read ONCE into a word-count
  * relation; every training iteration then runs over that
  * vocabulary-sized relation (pair explode → map-side-combinable
  * weighted count → a 1-row argmax collect, the Lloyd-iteration
  * posture), never over the corpus again. At 100 TB the corpus pass is
  * one token aggregation; iterations cost |vocab|, not |corpus|.
  *
  * Symbol-sequence representation: ONE string with every symbol
  * WRAPPED in `chr(31)` (`␟a␟␟b␟…␟</w>␟`). The greedy left-to-right
  * non-overlapping merge fold is then a literal
  * `replace(s, "␟a␟␟b␟", "␟ab␟")` — Spark's codegen'd StringReplace
  * scans left to right and continues AFTER each substitution, which is
  * exactly BPE's fold semantics (`␟a␟␟a␟␟a␟␟a␟` under (a,a) becomes
  * `␟aa␟␟aa␟`, never re-merging output), and is O(len) per merge.
  * Both pattern ends are anchored at a symbol boundary: a symbol whose
  * SUFFIX equals `a` cannot false-match (the earlier trailing-only
  * encoding merged `[ban, a]` under (an,a) into `bana` across the
  * symbol start). Wrapping rather than sharing one boundary separator
  * matters too: a shared `␟` would be consumed by the first
  * substitution and break back-to-back non-overlapping merges
  * (`[a,a,a,a]` must fold to `[aa,aa]`, not `[aa,a,a]`). The previous
  * array-fold (`aggregate` with slice+concat) was an
  * interpreter-evaluated O(len²) per word per merge — fine at sf0.01,
  * a bench timeout at the sf1 vocabulary. Symbols are `[a-z0-9]`
  * chars, `</w>`, and their concatenations — `chr(31)` can never occur
  * inside one. The DuckDB oracles use the identical encoding.
  *
  * Engine-exactness: pair counts are exact BIGINT sums; the argmax
  * tiebreak is `(count DESC, left ASC, right ASC)` in binary string
  * order; the merge application is the greedy left-to-right
  * non-overlapping fold — each replayed identically by the oracle's
  * generated per-iteration CTE chain (txt_bpe / txt_bpe_apply). */
object Bpe {

  /** `</w>` — Sennrich's end-of-word marker: lets a merge learn that a
    * pair is word-final, and makes detokenization unambiguous. */
  val EndOfWord = "</w>"

  /** Symbol terminator inside the packed sequence string. */
  val Sep = "\u001f"

  /** Packed symbol string of `word`: every character becomes
    * chr(31)+`c`+chr(31), then the end-of-word marker (also wrapped). */
  def symbolize(word: Column): Column =
    concat(regexp_replace(word, "(.)", Sep + "$1" + Sep),
      lit(Sep + EndOfWord + Sep))

  /** Greedy left-to-right non-overlapping application of ONE merge
    * `(a, b) -> m` to a packed symbol string: literal replace of
    * `␟a␟␟b␟` with `␟m␟` (codegen'd, O(len), boundary-anchored at both
    * ends; see the class doc for why this IS the BPE fold). */
  def mergeOne(s: Column, a: String, b: String, m: String): Column =
    call_function("replace", s,
      lit(Sep + a + Sep + Sep + b + Sep), lit(Sep + m + Sep))

  /** Symbol array of a packed sequence string (the wrap separators
    * yield empty slots at the edges and boundaries — dropped). */
  def symbolsOf(s: Column): Column =
    filter(split(s, Sep), x => length(x) > 0)

  /** Weighted adjacent-pair counts `(s1, s2, c)` of a packed
    * vocabulary relation `(word, n, s)`. */
  private def pairCounts(ws: DataFrame): DataFrame = {
    val syms = symbolsOf(col("s"))
    val nP = greatest(size(syms) - 1, lit(0))
    ws.select(col("n"),
        explode(zip_with(slice(syms, lit(1), nP),
          slice(syms, lit(2), nP),
          (a, b) => struct(a.as("s1"), b.as("s2")))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("n")).as("c"))
  }

  /** The word-count relation `(word, n, s)` a training run iterates
    * on — the single corpus pass. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"), symbolize(col("word")).as("s"))

  /** Train `numMerges` BPE merges:
    * `(rank, left, right, merged, pair_n)` with `rank` 1-based in merge
    * order. Stops early (fewer rows) if the vocabulary runs out of
    * pairs. Both trainers produce bit-identical merges (BpeSpec), so
    * the choice is cost only:
    *  - below `IncrementalThreshold` merges, [[trainFull]]: one
    *    explode-argmax job per merge over the whole vocabulary;
    *  - from it on, [[trainBatched]]: pair counts aggregated once and
    *    maintained by deltas over the words a merge affects, with most
    *    merges decided on the driver between re-anchor jobs.
    *
    * The threshold is not a measured crossover for [[trainBatched]]. It
    * was set against an earlier per-merge delta trainer, which cost ~2
    * extra stages per merge (12 merges on the gate corpus: full 6 s,
    * delta 13 s; 512 merges over a 210k-word vocabulary at sf0.1: delta
    * 162 s, full 322 s). `graft.tools.BpeTrainBench` compares the two
    * kept trainers. */
  val IncrementalThreshold = 128

  def train(df: DataFrame, textCol: String, numMerges: Int): DataFrame =
    if (numMerges < IncrementalThreshold) trainFull(df, textCol, numMerges)
    else trainBatched(df, textCol, numMerges)

  /** The delta trainer with driver-side decisions. Pair counts are
    * aggregated ONCE from the initial vocabulary; a merge `(a, b)` then
    * changes only the words whose packed string CONTAINS `␟a␟␟b␟`, and
    * their signed before/after pair counts are applied to the counts
    * relation — per-merge work proportional to the affected words, not
    * the vocabulary. On top of that, most iterations emit the next merge
    * WITHOUT scheduling a Spark job, by deciding the argmax driver-side
    * from a collected top-K snapshot plus sound upper bounds on every
    * pair the pending merges could have changed.
    *
    * The invariant making this exact: folding merge `(a, b) -> ab` over
    * the vocabulary changes the count of pair `(x, y)` ONLY IF
    * `y == a` (its right symbol may be consumed as an occurrence
    * start), `x == b` (its left symbol may be consumed as an occurrence
    * end), `(x, y) == (a, b)` (merged away), or the pair involves the
    * NEW symbol string `ab` (gains). Every other pair's count is
    * untouched — so the top-K snapshot stays EXACT for untouched pairs,
    * touched pairs move to an upper-bound set (a stale pair can only
    * lose count → its old count bounds it; a new pair `(prev, ab)`
    * gains at most `min(count(prev, a), c)` → the stale prev-pair bound
    * or, for prevs outside the snapshot, `min(floorC, c)` bounds it),
    * and pairs outside the snapshot can never climb past an unchanged
    * snapshot pair (they ranked below the K-th row and only decrease).
    * The next merge is therefore DECIDED whenever the best exact pair's
    * count strictly exceeds every bound; otherwise the pending deltas
    * are applied (lazily — they materialize inside the re-anchor job)
    * and ONE argmax job re-collects the snapshot. The one subtlety is
    * symbol-string conflation: if `ab` equals a symbol created by an
    * earlier merge, new pairs alias existing ones and the gain analysis
    * above breaks — detected exactly (initial symbols are single chars
    * + `</w>`, so only prior merge OUTPUTS can collide) and answered
    * with a forced re-anchor.
    *
    * Output is bit-identical to [[trainFull]] (BpeSpec property); jobs
    * scale with ANCHORS, not merges — on Zipfian text most consecutive
    * top pairs are symbol-disjoint, so batches run long.
    *
    * Lineage/material hygiene: counts are LAZILY `localCheckpoint`ed —
    * the anchor argmax materializes them, and as the FIRST marked RDD on
    * that action's path they get truncated (RDD.doCheckpoint stops at
    * the first marked RDD; deeper marked ancestors are NOT truncated
    * unless spark.checkpoint.checkpointAllMarkedAncestors is set, a
    * context-wide conf a library can't assume). The folded vocabulary
    * therefore checkpoints EAGERLY at each anchor — its own tiny
    * map-over-blocks job — because as a deeper ancestor a lazy mark
    * would never truncate and hundreds of accrued generations overflow
    * the task-deserialization stack. Materializing ws also keeps the
    * next deltas reading a shallow replace chain instead of re-running
    * every earlier fold over the full vocabulary. ContextCleaner
    * reclaims superseded generations (no CacheManager pinning). */
  def trainBatched(df: DataFrame, textCol: String, numMerges: Int,
                   topK: Int = 64, maxPending: Int = 32): DataFrame = {
    require(numMerges > 0 && topK > 1 && maxPending > 0)
    val spark = df.sparkSession
    import spark.implicits._
    var ws = wordCounts(df, textCol).localCheckpoint()
    var counts = pairCounts(ws).localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    val mergedStrings = scala.collection.mutable.Set.empty[String]
    val exact = scala.collection.mutable.Map.empty[(String, String), Long]
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var floorC: Option[Long] = None
    val pending = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    var exhausted = false
    var mustAnchor = false

    // fold the pending merges' deltas into counts/ws (lazily — the
    // anchor argmax materializes everything in one job), then re-collect
    // the top-K snapshot
    def anchor(): Unit = {
      pending.foreach { case (a, b, m) =>
        val pat = Sep + a + Sep + Sep + b + Sep
        val aff = ws.filter(col("s").contains(pat))
        val minus = pairCounts(aff)
          .select(col("s1"), col("s2"), (-col("c")).as("c"))
        val plus = pairCounts(aff.select(col("word"), col("n"),
          mergeOne(col("s"), a, b, m).as("s")))
        counts = counts.unionByName(plus).unionByName(minus)
          .groupBy(col("s1"), col("s2")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
        ws = ws.select(col("word"), col("n"),
          mergeOne(col("s"), a, b, m).as("s"))
      }
      if (pending.nonEmpty) {
        ws = ws.localCheckpoint()
        counts = counts.localCheckpoint(false)
        pending.clear()
      }
      val rows = counts
        .orderBy(col("c").desc, col("s1").asc, col("s2").asc)
        .limit(topK).collect()
      exact.clear(); bounds.clear()
      rows.foreach(r =>
        exact((r.getString(0), r.getString(1))) = r.getLong(2))
      floorC = if (rows.length == topK) Some(rows.last.getLong(2)) else None
      mustAnchor = false
      if (rows.isEmpty) exhausted = true
    }

    anchor()
    while (merges.length < numMerges && !exhausted) {
      if (mustAnchor || exact.isEmpty) anchor()
      if (!exhausted) {
        val ((a, b), c) = exact.minBy { case ((s1, s2), cc) =>
          (-cc, s1, s2)
        }
        if (!bounds.forall(c > _)) {
          mustAnchor = true // a changed pair might outrank: re-anchor
        } else {
          val m = a + b
          merges += ((merges.length + 1L, a, b, m, c))
          exact.remove((a, b))
          pending += ((a, b, m))
          val conflates = mergedStrings.contains(m)
          mergedStrings += m
          if (conflates || pending.length >= maxPending) mustAnchor = true
          else {
            // touched pairs: right symbol a (occurrence starts) or left
            // symbol b (occurrence ends) → stale, bounded by old count;
            // new (·, ab)/(ab, ·) pairs from snapshot-known prevs are
            // covered by the same stale bounds, from unknown prevs by
            // min(floor, c)
            val stale = exact.keys
              .filter { case (x, y) => y == a || x == b }.toList
            stale.foreach { k => bounds += exact(k); exact.remove(k) }
            floorC.foreach(fc => bounds += math.min(fc, c))
          }
        }
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_n")
  }

  /** The naive full-recompute trainer — every iteration re-aggregates
    * pair counts over the whole vocabulary. [[train]]'s short-run path,
    * and the reference [[trainBatched]] is property-tested against (and
    * the clearer statement of the recipe). */
  def trainFull(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges > 0)
    val spark = df.sparkSession
    import spark.implicits._
    var ws = wordCounts(df, textCol).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val top = pairCounts(ws)
        .orderBy(col("c").desc, col("s1").asc, col("s2").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += ((i + 1L, a, b, a + b, c))
        i += 1
        if (i < numMerges)
          // lazy: next iteration's argmax materializes the fold
          ws = ws.select(col("word"), col("n"),
            mergeOne(col("s"), a, b, a + b).as("s")).localCheckpoint(false)
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_n")
  }

  /** Fold an ordered merge list over a vocabulary relation's packed
    * `s` column, preserving every other column. One nested codegen'd
    * replace chain per `checkpointEvery` merges; the relation is
    * materialized between batches (eager `localCheckpoint`) so a real
    * 30k-merge tokenizer plans as ~600 shallow stages instead of one
    * 30k-deep expression tree. localCheckpoint rather than persist:
    * the blocks are ContextCleaner-collected once the plan is
    * unreachable, so a caller that never materializes the returned
    * lazy frame leaks nothing (persist pinned a CacheManager entry
    * for the session lifetime with no handle to release it). */
  private def foldMerges(vocab0: DataFrame,
                         merges: Seq[(String, String, String)],
                         checkpointEvery: Int): DataFrame = {
    require(checkpointEvery > 0)
    val others = vocab0.columns.filterNot(_ == "s").map(col).toSeq
    var vocab = vocab0
    val batches = merges.grouped(checkpointEvery).toSeq
    batches.zipWithIndex.foreach { case (g, gi) =>
      val folded = g.foldLeft(col("s")) { case (c, (a, b, m)) =>
        mergeOne(c, a, b, m)
      }
      vocab = vocab.select(others :+ folded.as("s"): _*)
      if (gi < batches.size - 1) // bound depth between batches
        vocab = vocab.localCheckpoint()
    }
    vocab
  }

  /** Tokenize a corpus with an ordered merge list:
    * `(idCol, subword)` rows, one per emitted subword occurrence.
    * Merges apply to the DISTINCT-word vocabulary only (vocab-sized
    * fold work), then join back to the (doc, word) occurrences — the
    * corpus never sees the fold. */
  def applyMerges(df: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String, String)],
                  checkpointEvery: Int = 50): DataFrame = {
    val words = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("word"))
    val vocab = foldMerges(
      words.select(col("word")).distinct()
        .select(col("word"), symbolize(col("word")).as("s")),
      merges, checkpointEvery)
    words.join(vocab, Seq("word"))
      .select(col(idCol), explode(symbolsOf(col("s"))).as("subword"))
  }

  /** Corpus-wide subword frequencies `(subword, n)` under an ordered
    * merge list — the tokenizer-statistics path. Unlike
    * [[applyMerges]] + count, the corpus never joins back: the fold
    * runs on the word-count relation and occurrences weight the sum,
    * so everything past the one corpus pass is vocabulary-sized. */
  def subwordCounts(df: DataFrame, textCol: String,
                    merges: Seq[(String, String, String)],
                    checkpointEvery: Int = 50): DataFrame =
    foldMerges(wordCounts(df, textCol), merges, checkpointEvery)
      .select(col("n"), explode(symbolsOf(col("s"))).as("subword"))
      .groupBy(col("subword")).agg(sum(col("n")).as("n"))

  /** Deterministic id table `(subword, token_id)` for every subword a
    * folded vocabulary emits: ids are the 1-based rank of the subword
    * in binary-string order — reproducible run-to-run and
    * engine-portable (no hash seeding, no partition order). The window
    * runs over the subword set, which is merge-list-bounded
    * (|chars| + |merges| at most), not corpus-sized. */
  def vocabIds(vocab: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vocab.select(explode(symbolsOf(col("s"))).as("subword")).distinct()
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("subword"))).cast("long"))
  }

  /** Tokenize a corpus to id sequences — THE artifact an LM training
    * pipeline materializes: `(idCol, word_pos, sub_pos, token_id)`,
    * one row per emitted token with its exact position (0-based word
    * ordinal in the document x 0-based subword ordinal in the word;
    * sorting by the pair reconstructs the sequence). The merge fold
    * runs on the DISTINCT-word vocabulary and joins back to the
    * position-carrying occurrences; the id table is subword-set-sized
    * and broadcast. */
  def encodeIds(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String, String)],
                checkpointEvery: Int = 50): DataFrame = {
    val words = df.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("word_pos", "word")))
    val vocab = foldMerges(
      words.select(col("word")).distinct()
        .select(col("word"), symbolize(col("word")).as("s")),
      merges, checkpointEvery)
    val ids = vocabIds(vocab)
    words.join(vocab, Seq("word"))
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        posexplode(symbolsOf(col("s"))).as(Seq("sub_pos", "subword")))
      .join(broadcast(ids), Seq("subword"))
      .select(col(idCol), col("word_pos"),
        col("sub_pos").cast("long").as("sub_pos"), col("token_id"))
  }
}
