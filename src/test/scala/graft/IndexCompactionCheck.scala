package graft

import graft.ann.Ann
import graft.core.BucketedIndex
import graft.dedup.Dedup

/** The [[BucketedIndex.compact]] check, one set of assertions over a
  * table of persisted index kinds (minhash bands, IVF lists). Each
  * index's own suite runs it for its kind. */
trait IndexCompactionCheck { this: SparkSpec =>

  /** One index kind under test: `build` creates the index at the path
    * and appends to it, `probe` reads it, `appendMore` appends again and
    * `ids` counts the distinct ids the table holds afterwards. */
  case class IndexKind(table: String, build: String => Unit,
                       probe: () => Seq[String], appendMore: () => Unit,
                       ids: () => Long, expectedIds: Long)

  private def compactPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"cidx-$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  private def parquetFiles(path: String): Int =
    new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))

  def minhashKind: IndexKind = {
    import spark.implicits._
    val mk = (salt: Int, changed: Int) => (0 until 60)
      .map(i => if (i == changed) s"CH$salt" else s"tok${salt}_$i").mkString(" ")
    val t = "cidx_minhash"
    val seed = Seq((1L, mk(0, -1))).toDF("doc_id", "text")
    val batches = (0 until 5).map(b =>
      Seq((10L + b, mk(b, -1)), (20L + b, mk(b, 25))).toDF("doc_id", "text"))
    val late = Seq((99L, mk(3, 40))).toDF("doc_id", "text")
    val universe = batches.foldLeft(seed)(_ unionByName _).unionByName(late)
    IndexKind(t,
      path => {
        Dedup.writeMinhashIndex(seed, "doc_id", "text", t, path,
          numBuckets = 4)
        // a long-running ingest: many appends -> many files per bucket
        batches.foreach(Dedup.appendMinhashIndex(_, "doc_id", "text", t))
      },
      () => Dedup.incrementalMinhashPairs(late, universe, t, "doc_id",
          "text", threshold = 0.5)
        .collect().map(r => s"${r.getLong(0)},${r.getLong(1)}").sorted.toSeq,
      () => Dedup.appendMinhashIndex(late, "doc_id", "text", t),
      () => spark.table(t).select("__id").distinct().count(), 12L)
  }

  def ivfKind: IndexKind = {
    import spark.implicits._
    val vecs = (0 until 400).map { i =>
      val v = Array.tabulate(12) { d =>
        val h = ((i * 29 + d * 13) % 89) - 44
        h / 44.0f + (i % 7) * 0.1f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val t = "cidx_ivf"
    val cents = Ann.ivfCentroids(vecs, 6)
    val queries = vecs.filter($"vec_id" % 80 === 0)
    IndexKind(t,
      path => {
        Ann.writeIvfIndex(vecs.filter($"vec_id" < 100), cents, t, path,
          numBuckets = 4)
        (1 to 3).foreach(i => Ann.appendIvfIndex(
          vecs.filter($"vec_id" >= i * 100 && $"vec_id" < (i + 1) * 100),
          cents, t))
      },
      () => Ann.ivfTopKIndexed(spark, queries, cents, t, k = 3, nProbe = 2)
        .collect().map(_.mkString(",")).sorted.toSeq,
      () => Ann.appendIvfIndex(vecs.filter($"vec_id" < 10), cents, t),
      () => spark.table(t).select("vec_id").distinct().count(), 400L)
  }

  /** Appends fragment the index; compaction leaves at most one file per
    * bucket at the new path the catalog now names, reaps the old path,
    * keeps the probe results, and appends keep working afterwards. */
  def checkCompaction(k: IndexKind): Unit = {
    val p0 = compactPath(s"${k.table}-0")
    k.build(p0)
    assert(parquetFiles(p0) > 4,
      s"${k.table}: appends should fragment (${parquetFiles(p0)} files)")
    val before = k.probe()
    assert(before.nonEmpty, s"${k.table}: vacuous probe")
    val p1 = compactPath(s"${k.table}-1")
    BucketedIndex.compact(spark, k.table, p1)
    val loc = BucketedIndex.location(spark, k.table).getPath
    assert(loc == p1, s"${k.table}: catalog entry not swapped ($loc)")
    assert(parquetFiles(loc) <= 4,
      s"${k.table}: expected <=1 file/bucket, got ${parquetFiles(loc)}")
    assert(!new java.io.File(p0).exists(), s"${k.table}: old location reaped")
    val after = k.probe()
    assert(after == before, s"${k.table}: probe drift: $before vs $after")
    // appends keep working against the swapped table
    k.appendMore()
    assert(k.ids() == k.expectedIds, s"${k.table}: ids after append")
  }
}
