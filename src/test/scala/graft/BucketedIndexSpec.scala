package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.core.BucketedIndex
import graft.streaming.StreamOps

/** The persisted-index layout ([[BucketedIndex]]): appends read the
  * table's own bucket spec, and append and compact refuse a table
  * without one. Compaction of each index kind is checked in that
  * index's suite through [[IndexCompactionCheck]]. */
class BucketedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"bidx-$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  private def vecs = (0 until 400).map { i =>
    val v = Array.tabulate(12) { d =>
      val h = ((i * 29 + d * 13) % 89) - 44
      h / 44.0f + (i % 7) * 0.1f
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("an ingest batch with default arguments appends to an index " +
    "created with numBuckets = 4, and the probe reads the index without " +
    "an Exchange on its side") {
    val t = "bidx_default_append"
    val cents = Ann.ivfCentroids(vecs, 6)
    Ann.writeIvfIndex(vecs.filter($"vec_id" < 200), cents, t,
      freshPath("default"), numBuckets = 4)
    StreamOps.ingestAnnBatch(vecs.filter($"vec_id" >= 200), 1L, cents, t)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    assert(meta.bucketSpec.map(_.numBuckets).contains(4), meta.bucketSpec)
    // content == a one-shot index over everything
    Ann.writeIvfIndex(vecs, cents, "bidx_default_ref",
      freshPath("default-ref"), numBuckets = 4)
    val (got, ref) = (spark.table(t), spark.table("bidx_default_ref"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)

    val queries = vecs.filter($"vec_id" % 80 === 0)
    val probe = Ann.ivfTopKIndexed(spark, queries, cents, t, k = 3, nProbe = 2)
    val expected = rowsOf(Ann.ivfTopKIndexed(spark, queries, cents,
      "bidx_default_ref", k = 3, nProbe = 2))
    assert(expected.nonEmpty && rowsOf(probe) == expected)
    // the path from the index scan up to its first join holds no Exchange
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case _ => p.children
    }
    def pathToIndex(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.tableIdentifier.exists(_.table == t) => Some(List(s))
      case _ => children(p).view.flatMap(pathToIndex).headOption.map(p :: _)
    }
    val plan = probe.queryExecution.executedPlan
    val path = pathToIndex(plan).getOrElse(fail(s"no index scan:\n$plan"))
    val indexSide = path.reverse.takeWhile(
      !_.isInstanceOf[org.apache.spark.sql.execution.joins.HashJoin])
    assert(indexSide.size < path.size, s"index scan feeds no join:\n$plan")
    assert(!indexSide.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
      s"Exchange on the index side:\n$plan")
  }

  test("append and compact fail loudly on a table with no bucket spec") {
    val t = "bidx_plain"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, "a")).toDF("id", "k").write.option("path", freshPath("plain"))
      .format("parquet").saveAsTable(t)
    val batch = Seq((2L, "b")).toDF("id", "k")
    val e1 = intercept[IllegalArgumentException](BucketedIndex.append(batch, t))
    assert(e1.getMessage.contains("no bucket spec"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      BucketedIndex.compact(spark, t, freshPath("plain-1")))
    assert(e2.getMessage.contains("no bucket spec"), e2.getMessage)
    assert(spark.table(t).count() == 1)
  }
}
