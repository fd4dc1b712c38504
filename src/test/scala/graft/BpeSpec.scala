package graft

import graft.text.Bpe

/** BPE: classic low/lower corpus merge order, greedy non-overlap on
  * repeats, apply round-trip, early exhaustion. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("classic corpus learns the expected first merges") {
    // 'low' x3, 'lower' x1: pairs l-o (4), o-w (4), w-</w> (3), ...
    // tie l-o vs o-w at 4 -> lexicographic: ('l','o') first
    val df = Seq("low low low lower").toDF("text")
    val m = Bpe.train(df, "text", numMerges = 3)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect()
    assert(m(0) == ((1L, "l", "o", "lo", 4L)))
    assert(m(1) == ((2L, "lo", "w", "low", 4L)))
    // after [low] merge: 'low</w>' x3 beats everything else
    assert(m(2) == ((3L, "low", "</w>", "low</w>", 3L)))
  }

  test("greedy non-overlapping repeat merge: aaaa -> aa aa") {
    val df = Seq("aaaa").toDF("text")
    val m = Bpe.train(df, "text", numMerges = 1)
      .as[(Long, String, String, String, Long)].collect().head
    // pairs: (a,a) x3, (a,</w>) x1 -> merge (a,a) with count 3
    assert(m == ((1L, "a", "a", "aa", 3L)))
    val applied = Bpe.applyMerges(Seq((7L, "aaaa")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("a", "a", "aa")))
      .as[(Long, String)].collect().map(_._2).toSeq
    assert(applied == Seq("aa", "aa", "</w>"))
  }

  test("applyMerges honors merge order and joins back per occurrence") {
    val df = Seq((1L, "the the cat"), (2L, "the")).toDF("doc_id", "text")
    val merges = Seq(("t", "h", "th"), ("th", "e", "the"),
      ("the", "</w>", "the</w>"))
    val got = Bpe.applyMerges(df, "doc_id", "text", merges)
      .groupBy("subword").count()
      .as[(String, Long)].collect().toMap
    assert(got("the</w>") == 3L) // every 'the' occurrence fully merged
    assert(got("c") == 1L && got("a") == 1L && got("t") == 1L)
  }

  test("checkpointed apply equals single-expression apply") {
    val df = Seq((1L, "banana bandana")).toDF("doc_id", "text")
    val merges = Seq(("a", "n", "an"), ("b", "an", "ban"),
      ("an", "a", "ana"), ("d", "ana", "dana"))
    def run(ck: Int) = Bpe.applyMerges(df, "doc_id", "text", merges, ck)
      .orderBy("subword").as[(Long, String)].collect().toSeq
    assert(run(1) == run(50))
  }

  test("subwordCounts equals applyMerges aggregated per occurrence") {
    val df = Seq((1L, "the the cat sat"), (2L, "the cat"), (3L, "thee"))
      .toDF("doc_id", "text")
    val merges = Seq(("t", "h", "th"), ("th", "e", "the"),
      ("the", "</w>", "the</w>"), ("a", "t", "at"))
    val viaApply = Bpe.applyMerges(df, "doc_id", "text", merges)
      .groupBy("subword").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val direct = Bpe.subwordCounts(df, "text", merges)
      .as[(String, Long)].collect().toMap
    assert(direct == viaApply)
    assert(direct("the</w>") == 3L)
  }

  test("encodeIds: positions reconstruct the sequence, ids are ranks") {
    val df = Seq((1L, "the cat"), (2L, "the")).toDF("doc_id", "text")
    val merges = Seq(("t", "h", "th"), ("th", "e", "the"),
      ("the", "</w>", "the</w>"))
    val rows = Bpe.encodeIds(df, "doc_id", "text", merges)
      .as[(Long, Long, Long, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2, r._3))
    // vocab after folds: doc1 -> [the</w>] [c,a,t,</w>]; doc2 -> [the</w>]
    // distinct subwords sorted: </w>, a, c, t, the</w> -> ids 1..5
    val ids = rows.map(_._4)
    val byDoc1 = rows.filter(_._1 == 1L)
    assert(byDoc1.map(r => (r._2, r._3)) ==
      Seq((0L, 0L), (1L, 0L), (1L, 1L), (1L, 2L), (1L, 3L)))
    assert(byDoc1.map(_._4) == Seq(5L, 3L, 2L, 4L, 1L)) // the</w> c a t </w>
    assert(rows.filter(_._1 == 2L).map(_._4) == Seq(5L))
    assert(ids.forall(i => i >= 1 && i <= 5))
  }

  test("merge patterns anchor at symbol STARTS: no cross-boundary merge") {
    // After (a,n) and (b,an), 'bana' is [ban, a, </w>]. A trailing-only
    // separator encoding let (an,a) match the SUFFIX of 'ban' plus the
    // next symbol and fold the word into one bogus 'bana' symbol; the
    // wrap-anchored pattern must leave [ban, a, </w>] intact.
    val df = Seq((1L, "bana")).toDF("doc_id", "text")
    val merges = Seq(("a", "n", "an"), ("b", "an", "ban"),
      ("an", "a", "ana"))
    val got = Bpe.applyMerges(df, "doc_id", "text", merges)
      .as[(Long, String)].collect().map(_._2).toSeq
    assert(got == Seq("ban", "a", "</w>"))
  }

  test("wrap keeps back-to-back non-overlapping merges: aaaaaa -> aa x3") {
    // A SHARED boundary separator would be consumed by each
    // substitution and break immediate adjacency (-> [aa, a, a, a, a]).
    val df = Seq((1L, "aaaaaa")).toDF("doc_id", "text")
    val got = Bpe.applyMerges(df, "doc_id", "text", Seq(("a", "a", "aa")))
      .as[(Long, String)].collect().map(_._2).toSeq
    assert(got == Seq("aa", "aa", "aa", "</w>"))
  }

  test("batched train equals full recompute at every snapshot geometry") {
    // The decide-without-a-job path must be bit-identical to the naive
    // trainer regardless of how often it re-anchors: tiny topK forces
    // constant floor-bound pressure, tiny maxPending forces flushes
    // mid-decision-run, large settings let whole batches decide
    // driver-side. Corpus mixes ties, adjacent-symbol chains (aaaa,
    // abab force stale/new-pair bound churn), and long shared prefixes.
    val df = Seq("low lower lowest low low banana bandana aaaa abab",
      "the thee then than banana low lowest abab aa")
      .toDF("text")
    val full = Bpe.trainFull(df, "text", numMerges = 24)
      .orderBy("rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    for ((k, p) <- Seq((2, 1), (3, 2), (8, 4), (64, 32))) {
      val bat = Bpe.trainBatched(df, "text", numMerges = 24,
          topK = k, maxPending = p)
        .orderBy("rank")
        .as[(Long, String, String, String, Long)].collect().toSeq
      assert(bat == full, s"topK=$k maxPending=$p diverged")
    }
  }

  test("batched train early-stops on exhaustion like the full trainer") {
    val df = Seq("ab").toDF("text")
    assert(Bpe.trainBatched(df, "text", numMerges = 10).count() == 2L)
  }

  test("exhausted vocabulary stops early") {
    val df = Seq("ab").toDF("text")
    // merge 1: (a,b) -> [ab, </w>]; merge 2: (ab,</w>) -> [ab</w>];
    // single symbol left -> no pairs -> early stop at 2
    assert(Bpe.train(df, "text", numMerges = 10).count() == 2L)
  }
}
