package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

final case class Iv(chrom: String, start: Long, end: Long, id: Long)
final case class Region(chrom: String, start: Long, end: Long, name: String)
final case class Doc(doc_id: Long, text: String)
final case class Vec(vec_id: Long, embedding: Array[Float])

/** Planted ground truth for the corpus checks: the near-duplicate groups
  * (member doc ids), the cluster each vector was drawn around, and the
  * cluster centres themselves. */
final case class CorpusTruth(dupGroups: Seq[Seq[Long]], vecCluster: Map[Long, Int],
                             centres: Array[Array[Double]], words: Long)

/** Seeded input generators. Everything is drawn from one
  * `SplittableRandom(seed)` split per table, so a seed fixes every input. */
object Gen {

  /** hg38 primary chromosomes (chr1-22, X, Y) with lengths, read from the
    * engine's packaged seqinfo table. */
  def hg38Primary(): Seq[(String, Long)] = {
    val in = getClass.getResourceAsStream("/graft/assemblies/hg38.seqinfo.tsv")
    require(in != null, "hg38.seqinfo.tsv missing from the engine's resources")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().drop(1).map(_.split("\t")).collect {
      case f if f(2) == "assembled" && f(4) == "primary" && f(0) != "chrM" =>
        (f(0), f(1).toLong)
    }.toVector
    finally src.close()
  }

  private def logUniform(r: SplittableRandom, lo: Double, hi: Double): Long =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo))).toLong

  /** `n` intervals on `chroms`, chromosome drawn in proportion to length,
    * peak-like spans log-uniform in 50-2000 bp; a `longShare` fraction
    * instead spans 100 kb-5 Mb, log-uniform. Ids start at `idBase`. */
  def intervals(r: SplittableRandom, chroms: Seq[(String, Long)], n: Int,
                longShare: Double, idBase: Long): Seq[Iv] = {
    val cum = chroms.scanLeft(0L)(_ + _._2).tail.toArray
    val total = cum.last
    (0 until n).map { i =>
      val x = r.nextLong(total)
      var c = java.util.Arrays.binarySearch(cum, x)
      c = if (c < 0) -c - 1 else c + 1
      val (name, len) = chroms(math.min(c, chroms.length - 1))
      val span = math.min(
        if (r.nextDouble() < longShare) logUniform(r, 1e5, 5e6)
        else logUniform(r, 50, 2000), len - 1)
      val start = r.nextLong(len - span)
      Iv(name, start, start + span, idBase + i)
    }
  }

  /** Documents over a Zipf(1.1) vocabulary of pronounceable synthetic
    * words, 40-100 words each, plus `groups` planted near-duplicate groups
    * of 2-`maxGroup` members: each member is the group's base document
    * with one word replaced, so members share most word 3-gram shingles
    * while unrelated documents share almost none. */
  def documents(r: SplittableRandom, n: Int, groups: Int,
                maxGroup: Int): (Seq[Doc], Seq[Seq[Long]], Long) = {
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
      while (seen.size < 4000) {
        val syl = 1 + r.nextInt(4)
        seen += (0 until syl).map(_ =>
          s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
      }
      seen.toArray
    }
    val cdf = {
      val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i < 0) -i - 1 else i, vocab.length - 1))
    }
    def doc(): Array[String] = Array.fill(40 + r.nextInt(61))(word())
    val docs = ArrayBuffer.empty[Doc]
    val planted = ArrayBuffer.empty[Seq[Long]]
    var words = 0L
    def add(ws: Array[String]): Long = {
      val id = docs.length.toLong
      docs += Doc(id, ws.mkString(" ")); words += ws.length; id
    }
    for (_ <- 0 until groups) {
      val base = doc()
      val size = 2 + r.nextInt(maxGroup - 1)
      planted += (0 until size).map { _ =>
        val m = base.clone(); m(r.nextInt(m.length)) = word(); add(m)
      }
    }
    while (docs.length < n) add(doc())
    // shuffle so group members are not adjacent in the files
    val order = docs.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    (order.map(docs).toSeq, planted.toSeq, words)
  }

  /** `n` vectors of dimension `dim` drawn around `k` unit-norm centres
    * with per-coordinate Gaussian noise `sigma`. */
  def vectors(r: SplittableRandom, n: Int, dim: Int, k: Int,
              sigma: Double): (Seq[Vec], Map[Long, Int], Array[Array[Double]]) = {
    def gauss(): Double = {
      // Box-Muller on the split stream keeps the draw seed-determined
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = Array.fill(k) {
      val c = Array.fill(dim)(gauss()); val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    val assign = Array.fill(n)(r.nextInt(k))
    val vecs = (0 until n).map { i =>
      val c = centres(assign(i))
      Vec(i.toLong, Array.tabulate(dim)(d => (c(d) + sigma * gauss()).toFloat))
    }
    (vecs, assign.zipWithIndex.map { case (c, i) => i.toLong -> c }.toMap, centres)
  }
}
