package graft.core

import java.net.URI

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions.col

/** The storage layout of every persisted index: a parquet table
  * registered in the session catalog, bucketed and sorted on its key
  * columns. A probe whose join keys are the bucket columns reads the
  * index hash-clustered straight off the scan, so the corpus-sized side
  * never shuffles again; the index is built once and probed many times.
  *
  * Four indexes use it: the interval bin index
  * (`graft.ops.BucketedJoin.writeBinIndex`), the MinHash band index
  * (`graft.dedup.Dedup.writeMinhashIndex`), and the IVF and PQ-IVF
  * inverted lists (`graft.ann.Ann.writeIvfIndex`, `writePqIvfIndex`).
  * Each builds its relation and hands it here.
  *
  * Only [[create]] takes a bucket count. [[append]] and [[compact]] read
  * the count and the bucket and sort columns from the table's catalog
  * entry, which is the only spec Spark accepts for them. */
object BucketedIndex {

  /** Write `df` as the index `table` at `path`, replacing any table of
    * that name: `numBuckets` buckets hashed on `keys`, sorted on `keys`
    * within each bucket. */
  def create(df: DataFrame, table: String, path: String, numBuckets: Int,
             keys: String*): Unit = {
    require(keys.nonEmpty, "an index needs at least one key column")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    save(df.write.mode("overwrite").option("path", path),
      BucketSpec(numBuckets, keys, keys), table)
  }

  /** Append `df` to the index `table` under the table's own bucket
    * spec. Cost is one pass over `df`; the existing files are untouched,
    * so every append adds files (see [[compact]]). */
  def append(df: DataFrame, table: String): Unit =
    save(df.write.mode("append"), bucketSpec(catalogTable(df.sparkSession,
      table)), table)

  /** Rewrite an append-grown index to one file per bucket, crash-safely:
    * write the rows to `newPath` (which must differ from the current
    * location — the live files cannot be overwritten while being read)
    * under a temporary name, swap the catalog entry by rename, then
    * best-effort delete the old location. The live index stays readable
    * until the swap, and probes see the same rows under the same spec.
    * Run it on a maintenance cadence, not per append. */
  def compact(spark: SparkSession, table: String, newPath: String): Unit = {
    val meta = catalogTable(spark, table)
    val spec = bucketSpec(meta)
    val oldLoc = meta.location
    require(new URI(newPath).getPath != oldLoc.getPath,
      s"newPath must differ from the current index location $oldLoc")
    val tmpTable = table + "__compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    // read the FILES, not the table: a bucketed scan advertises the
    // bucket HashPartitioning, which elides the repartition below while
    // the actual multi-file read partitions are NOT bucket-aligned —
    // each write task would then emit one file per bucket it happens to
    // hold (observed 15 files for 4 buckets). A plain parquet scan makes
    // the shuffle real, and `pmod(hash, numBuckets)` routing is exactly
    // the bucket-id function, so each task writes ONE bucket's file.
    save(spark.read.parquet(oldLoc.toString)
        .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
        .write.mode("overwrite").option("path", newPath),
      spec, tmpTable)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(oldLoc,
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(oldLoc), true)
      ()
    } catch { case _: Exception => () } // storage lifecycle can reap it
  }

  /** The current storage location of the index `table`. */
  def location(spark: SparkSession, table: String): URI =
    catalogTable(spark, table).location

  private def catalogTable(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def bucketSpec(meta: CatalogTable): BucketSpec =
    meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"${meta.identifier} has no bucket spec: it is not an index " +
        "written by BucketedIndex.create"))

  private def save(w: DataFrameWriter[Row], spec: BucketSpec,
                   table: String): Unit = {
    val b = spec.bucketColumnNames
    val bucketed = w.bucketBy(spec.numBuckets, b.head, b.tail: _*)
    (spec.sortColumnNames match {
      case s +: rest => bucketed.sortBy(s, rest: _*)
      case _ => bucketed
    }).format("parquet").saveAsTable(table)
  }
}
