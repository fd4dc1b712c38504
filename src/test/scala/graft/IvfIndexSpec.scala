package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann

/** Persisted quantized IVF index: incremental build == one-shot, and
  * probe correctness against brute force. The assignment itself is
  * checked against the cross-join argmin in [[NearestCentroidSpec]];
  * compaction through [[IndexCompactionCheck]]. */
class IvfIndexSpec extends SparkSpec with IndexCompactionCheck {
  import spark.implicits._

  private def vecs = (0 until 400).map { i =>
    val v = Array.tabulate(12) { d =>
      val h = ((i * 29 + d * 13) % 89) - 44
      h / 44.0f + (i % 7) * 0.1f
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"ivfidx-$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  test("pqIvfTopK: full probes reproduce the exhaustive ADC ranking; " +
      "pruned probes keep planted same-list neighbors and scan less") {
    // 12 dims, 4 subspaces of 3; 8 coarse lists
    val books = Ann.pqCodebooks(vecs, m = 4, k = 8)
    val cents = Ann.ivfCentroids(vecs, 8)
    val codes = Ann.pqIvfEncode(vecs, books, cents)
    // indexed codes carry the same assignment as ivfAssign
    val asg = codes.select($"vec_id", $"centroid_id").distinct()
    val ref = Ann.ivfAssign(vecs, cents)
    assert(asg.exceptAll(ref).isEmpty && ref.exceptAll(asg).isEmpty)
    val queries = vecs.filter($"vec_id" % 40 === 0)
    // nProbe = #lists -> shortlist is the whole corpus: ranks must equal
    // the exhaustive ADC scan exactly (same exact-long distances)
    val full = Ann.pqIvfTopK(codes, books, queries, cents, k = 3,
      nProbe = 8)
    val exhaustive = Ann.pqAdcTopK(Ann.pqEncode(vecs, books), books,
      queries, k = 3)
    assert(full.exceptAll(exhaustive).isEmpty &&
      exhaustive.exceptAll(full).isEmpty)
    // pruned probes: a query's own list is always probed first, so the
    // planted nearest neighbor (i and i+7 share the (i%7) offset that
    // dominates the layout) stays reachable; assert every query still
    // returns k rows and rank-1 agrees with the exhaustive scan for
    // queries whose exhaustive winner sits in a probed list
    val pruned = Ann.pqIvfTopK(codes, books, queries, cents, k = 3,
      nProbe = 2)
    val nq = queries.count()
    assert(pruned.groupBy($"query_id").count()
      .filter($"count" === 3).count() == nq)
    val probed = Ann.ivfProbes(queries, cents, nProbe = 2)
    val admissible = exhaustive.filter($"rank" === 1)
      .join(ref.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(probed, Seq("query_id", "centroid_id"))
      .select($"query_id", $"neighbor_id")
    val prunedTop = pruned.filter($"rank" === 1)
      .select($"query_id", $"neighbor_id")
    assert(admissible.exceptAll(prunedTop).isEmpty,
      "a probed-list exhaustive winner was not rank-1 in the pruned scan")
  }

  test("incremental index == one-shot index; probe matches a direct " +
    "quantized ranking over the probed lists") {
    val cents = Ann.ivfCentroids(vecs, 6)
    // one-shot
    Ann.writeIvfIndex(vecs, cents, "ivf_t1", freshPath("one"), numBuckets = 4)
    // three-batch incremental
    Ann.writeIvfIndex(vecs.filter($"vec_id" % 3 === 0), cents, "ivf_t2",
      freshPath("incr"), numBuckets = 4)
    (1 to 2).foreach(i => Ann.appendIvfIndex(
      vecs.filter($"vec_id" % 3 === i), cents, "ivf_t2"))
    val one = spark.table("ivf_t1")
    val incr = spark.table("ivf_t2")
    assert(one.exceptAll(incr).isEmpty && incr.exceptAll(one).isEmpty)

    val queries = vecs.filter($"vec_id" % 80 === 0)
    val got = Ann.ivfTopKIndexed(spark, queries, cents, "ivf_t2",
      k = 3, nProbe = 2).select("query_id", "neighbor_id", "rank")
    // reference: same candidate set and ranking computed directly
    val probes = Ann.ivfProbes(queries, cents, 2)
    val qz = Ann.quantizeInt8(vecs)
    val cand = qz.select($"vec_id".as("neighbor_id"), $"qvec".as("cq"),
        $"qscale".as("cs"))
      .join(Ann.ivfAssign(vecs, cents)
        .withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(probes, Seq("centroid_id"))
      .filter($"query_id" =!= $"neighbor_id")
      .join(qz.select($"vec_id".as("query_id"), $"qvec".as("qq"),
        $"qscale".as("qs")), Seq("query_id"))
      .withColumn("score", Ann.qdot($"qq", $"qs", $"cq", $"cs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"neighbor_id".asc)
    val ref = cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3).select("query_id", "neighbor_id", "rank")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("rerank stage returns exact-cosine ranking of quantized candidates") {
    val cents = Ann.ivfCentroids(vecs, 6)
    Ann.writeIvfIndex(vecs, cents, "ivf_t3", freshPath("rr"), numBuckets = 4)
    val queries = vecs.filter($"vec_id" % 80 === 0)
    val got = Ann.ivfTopKIndexed(spark, queries, cents, "ivf_t3",
      k = 3, nProbe = 6, rerankWith = Some(vecs), rerankDepth = 400)
    // nProbe = all lists + full-depth rerank == exact brute force
    val exact = Ann.bruteForceTopK(vecs, queries, k = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(got.exceptAll(exact).isEmpty && exact.exceptAll(got).isEmpty)
  }

  test("compaction: results unchanged, one file per bucket, old path " +
    "reaped") {
    checkCompaction(ivfKind)
  }
}
