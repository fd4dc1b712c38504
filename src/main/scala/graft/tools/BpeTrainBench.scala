package graft.tools

import org.apache.spark.sql.SparkSession

/** Measurement main for the BPE trainer's two strategies:
  * `runMain graft.tools.BpeTrainBench <sfDir> <numMerges>
  * <full|batched> [ngrams=N]`.
  * Trains on the `documents` table and prints one JSON line with the
  * wall-clock seconds, the Spark job count and a checksum of the
  * learned merge list (so the two strategies' equality is visible in
  * the artifact, not just in BpeSpec). At production merge counts the
  * full recompute re-aggregates the whole vocabulary per merge while
  * the batched path re-aggregates only pattern-affected words and
  * decides most merges on the driver. The synthetic corpus'
  * word list is tiny (31 distinct words — training exhausts at ~107
  * merges and either strategy is a pure scheduling benchmark), so the
  * optional `ngrams=N` mode re-tokenizes each document's sliding
  * N-token windows as words — a realistic-scale vocabulary of long
  * words from the same testdata, enough to sustain 512+ merges with
  * vocabulary-bound per-iteration work. */
object BpeTrainBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val numMerges = args(1).toInt
    val mode = args(2)
    val ngrams = args.drop(3).collectFirst {
      case a if a.startsWith("ngrams=") => a.stripPrefix("ngrams=").toInt
    }.getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.core.Scratch.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    val docs = if (ngrams <= 1) raw else {
      val toks = graft.text.TextOps.tokens(col("text"))
      val nW = greatest(size(toks) - (ngrams - 1), lit(0))
      val joined = (2 to ngrams).foldLeft(slice(toks, lit(1), nW)) {
        case (acc, k) => zip_with(acc, slice(toks, lit(k), nW),
          (a, b) => concat(a, b))
      }
      raw.select(concat_ws(" ", joined).as("text"))
    }
    // job counter: the batched trainer's claim is that Spark JOBS scale
    // with re-anchor points, not merges — count them, don't infer them
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    val t0 = System.nanoTime()
    val merges = (mode match {
      case "full" => graft.text.Bpe.trainFull(docs, "text", numMerges)
      case "batched" => graft.text.Bpe.trainBatched(docs, "text", numMerges)
      case m => sys.error(s"unknown mode $m (full|batched)")
    }).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val sum = java.security.MessageDigest.getInstance("MD5")
      .digest(merges.sortBy(_.getLong(0))
        .map(_.mkString("")).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    println(f"""{"mode":"$mode","merges":${merges.length},""" +
      f""""sec":$sec%.1f,"jobs":${jobs.get()},"md5":"$sum"}""")
    spark.stop()
  }
}
