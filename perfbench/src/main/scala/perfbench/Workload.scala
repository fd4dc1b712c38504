package perfbench

import graft.ann.Ann
import graft.dedup.Dedup
import graft.ops.{Closest, Ops}
import graft.text.Bpe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What an op call hands back: a lazy frame the harness sinks inside the
  * timed region, an eagerly computed result with its own signature, or a
  * written table whose signature is read back outside the timed region. */
sealed trait Out
final case class Frame(df: DataFrame) extends Out
final case class Eager(rows: Long, sig: Long) extends Out
final case class Written(table: String) extends Out

/** One public-API call of the op mix. `family` names the end-to-end
  * metric its time is added to. */
final case class Op(name: String, family: String, call: Ctx => Out)

/** Per-run state shared by the op calls of one pass: where the inputs
  * live, and results that later calls consume (centroids, merges). */
final class Ctx(val spark: SparkSession, val dir: String, val shape: Shape) {
  def read(table: String): DataFrame = spark.read.parquet(s"$dir/$table")
  var pairs: DataFrame = _
  var cents: Array[(Int, Array[Double])] = _
  var merges: DataFrame = _
  val ivfTable = "perfbench_ivf"
}

/** One workload: its input sizes and the op mix it runs. The interval
  * workloads write `iv_a`, `iv_b` and `view`; the corpus workload writes
  * `documents` and `embeddings`. */
final case class Shape(name: String, ops: Seq[Op], intervalsPerSide: Int = 0,
                       longShare: Double = 0.0, docs: Int = 0, dupGroups: Int = 0,
                       maxGroup: Int = 0, vectors: Int = 0, clusters: Int = 0,
                       sigma: Double = 0.0)

object Workload {
  val TopK = 10
  val NumMerges = 10
  /** Every this-many-th vector is an IVF query. */
  val QueryEvery = 50
  /** The `nProbe` default of `ivfTopK` and `ivfTopKIndexed`. */
  val DefaultProbes = 4

  def queries(c: Ctx): DataFrame =
    c.read("embeddings").filter(col("vec_id") % QueryEvery === 0)

  val intervalOps: Seq[Op] = Seq(
    Op("overlap_inner", "join",
      c => Frame(Ops.overlap(c.read("iv_a"), c.read("iv_b"), how = "inner"))),
    Op("overlap_left", "join",
      c => Frame(Ops.overlap(c.read("iv_a"), c.read("iv_b"), how = "left"))),
    Op("overlap_outer", "join",
      c => Frame(Ops.overlap(c.read("iv_a"), c.read("iv_b"), how = "outer"))),
    Op("setdiff", "join",
      c => Frame(Ops.setdiff(c.read("iv_a"), c.read("iv_b")))),
    Op("count_overlaps", "agg_join",
      c => Frame(Ops.countOverlaps(c.read("iv_a"), c.read("iv_b")))),
    Op("coverage", "agg_join",
      c => Frame(Ops.coverage(c.read("iv_a"), c.read("iv_b")))),
    Op("closest_k3", "closest",
      c => Frame(Closest.closest(c.read("iv_a"), Some(c.read("iv_b")), k = 3))),
    Op("cluster", "sweep", c => Frame(Ops.cluster(c.read("iv_a")))),
    Op("merge", "sweep", c => Frame(Ops.merge(c.read("iv_a")))),
    Op("subtract", "sweep",
      c => Frame(Ops.subtract(c.read("iv_a"), c.read("iv_b")))),
    Op("complement", "sweep",
      c => Frame(Ops.complement(c.read("iv_a"), c.read("view")))),
  )

  val corpusOps: Seq[Op] = Seq(
    Op("minhash_pairs", "dedup", { c =>
      c.pairs = Dedup.minhashLshPairs(c.read("documents"), "doc_id", "text")
      Frame(c.pairs)
    }),
    Op("components", "dedup", c => Frame(Dedup.resolveComponents(c.pairs))),
    Op("ivf_centroids", "ann", { c =>
      c.cents = Ann.ivfCentroids(c.read("embeddings"), c.shape.clusters)
      Eager(c.cents.length, centroidSig(c.cents))
    }),
    Op("ivf_write", "ann", { c =>
      Ann.writeIvfIndex(c.read("embeddings"), c.cents, c.ivfTable, s"${c.dir}/ivf_index")
      Written(c.ivfTable)
    }),
    Op("ivf_topk_indexed", "ann",
      c => Frame(Ann.ivfTopKIndexed(c.spark, queries(c), c.cents, c.ivfTable, k = TopK))),
    Op("ivf_topk", "ann",
      c => Frame(Ann.ivfTopK(c.read("embeddings"), queries(c), k = TopK))),
    Op("bpe_train", "text", { c =>
      c.merges = Bpe.train(c.read("documents"), "text", NumMerges)
      Frame(c.merges)
    }),
    Op("bpe_encode", "text", { c =>
      val merges = c.merges.orderBy("rank").collect().toSeq
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"), r.getAs[String]("merged")))
      Frame(Bpe.encodeIds(c.read("documents"), "doc_id", "text", merges))
    }),
  )

  // Sized so a pass takes 10-16 s on 3 cores: at these sizes most of an
  // op's cost is Spark's fixed per-stage work, and a run (set-up, warm-up
  // pass, measured passes) must stay near a minute.
  val shapes: Map[String, Shape] = Seq(
    Shape("iv_heavytail", intervalOps, intervalsPerSide = 10000, longShare = 0.001),
    Shape("iv_peaks", intervalOps, intervalsPerSide = 10000),
    Shape("corpus", corpusOps, docs = 500, dupGroups = 20, maxGroup = 6,
      vectors = 1000, clusters = 16, sigma = 0.05),
  ).map(s => s.name -> s).toMap

  private def centroidSig(cents: Array[(Int, Array[Double])]): Long =
    cents.foldLeft(0L) { case (h, (i, v)) =>
      h ^ java.util.Arrays.hashCode(v).toLong * 31 + i }
}
