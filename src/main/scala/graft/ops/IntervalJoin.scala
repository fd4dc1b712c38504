package graft.ops

import graft.core.ColSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical strategies for the interval (range-overlap) join — the one
  * operator Spark genuinely lacks. The reference implements it as a
  * single-node sort + double-`searchsorted` sweep (`core/arrops.py:290-375`);
  * a naive Spark translation (`join` on `s1 < e2 && s2 < e1`) degenerates to
  * a broadcast-nested-loop / cartesian plan. Instead:
  *
  *  - '''Binned equi-join''' (the scale path): explode each side onto fixed
  *    genome bins of width `binSize`, equi-join on `(chrom, on..., bin)`,
  *    re-check the true interval predicate, and keep each pair only in the
  *    bin containing `max(start1, start2)` — a closed-form dedup that avoids
  *    a `distinct()` shuffle. Both sides shuffle-partition by `(chrom, bin)`,
  *    which simultaneously parallelizes within chromosomes and defuses
  *    per-chromosome skew (chr1 >> chrM; see SURVEY §4). AQE handles any
  *    residual skew.
  *  - '''Broadcast''': when one side is small (views, chromsizes, dimension
  *    tables), hash-join on `(chrom, on...)` with the range predicate in the
  *    join condition — no shuffle of the big side at all.
  *
  * Point intervals (`start == end`) are promoted to length-1 pseudo-segments
  * inside the predicate (reference `core/arrops.py:271-287`).
  */
object IntervalJoin {

  sealed trait Strategy
  /** Pick broadcast if the right side's estimated plan size is under the
    * session's autoBroadcastJoinThreshold, else binned. */
  case object Auto extends Strategy
  case object Binned extends Strategy
  /** Two-level binning for mixed-length relations: an interval of span s
    * explodes into s/binSize rows under [[Binned]], so megabase features
    * (whole genes, SVs, chromosome arms) against a small binSize blow up
    * the candidate relation. Intervals are classed short (span <=
    * 8*binSize) or long; the join is a union of three class-disjoint
    * equi-joins — short x short on FINE bins (<= 9 rows each), and
    * long x all / short x long on COARSE bins (64*binSize wide: <= 2
    * rows for shorts, span/coarse for longs) — each with the closed-form
    * overlap-start-bin dedup. No class pairs two crowded bucket sets, so
    * no level degenerates into a cross product (a naive climb-all-levels
    * hierarchy does exactly that at the level whose width exceeds the
    * chromosome). Opt-in: uniformly short relations pay an extra pass. */
  case object BinnedTwoLevel extends Strategy
  case object BroadcastRight extends Strategy

  val DefaultBinSize: Long = 1000000L

  /** Session conf key: minimum optimizer size estimate (bytes) of either
    * join side before [[Auto]] pays the span-quantile probe that can
    * upgrade [[Binned]] to [[BinnedTwoLevel]]. Below it the probe isn't
    * worth a job (the fine-bin explosion is bounded anyway); at
    * cluster scale the probe cost is noise next to the join. */
  val ProbeThresholdKey = "spark.graft.join.probeThresholdBytes"
  val DefaultProbeThresholdBytes: Long = 256L << 20

  /** Span quantiles (p50, p99) over a bounded prefix sample — ONE probe
    * job serving both the [[Auto]] heavy-tail decision and the adaptive
    * coarse width ([[adaptiveCoarse]]). Bounded: reads at most `maxRows`
    * rows of two columns. */
  def spanQuantiles(df: DataFrame, c: ColSpec,
                    maxRows: Int = 100000): Option[(Double, Double)] = {
    val q = df.select((c.promotedEnd - c.startCol).cast("double").as("__span"))
      .limit(maxRows)
      .stat.approxQuantile("__span", Array(0.5, 0.99), 0.1)
    if (q.length >= 2) Some((q(0), q(1))) else None
  }

  /** The "known-large heavy tail" decision shared by [[Auto]] and
    * `Ops.coverage`: the probed span (p50, p99) of `df` when its
    * optimizer size estimate is at least [[ProbeThresholdKey]] — but not
    * the unknown-stats Long.MaxValue default that mapPartitions barriers
    * report — and its p99 span exceeds the two-level long-interval cut
    * (8*binSize), where [[Binned]] would explode the tail onto >8 fine
    * bins per row. None otherwise; below the threshold no probe runs. */
  private[ops] def heavySpanTail(df: DataFrame, c: ColSpec,
                                 binSize: Long): Option[(Double, Double)] = {
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = BigInt(df.sparkSession.conf
      .get(ProbeThresholdKey, DefaultProbeThresholdBytes.toString).toLong)
    if (sz >= threshold && sz < BigInt(Long.MaxValue) / 4)
      spanQuantiles(df, c).filter(_._2 > (binSize * 8).toDouble)
    else None
  }

  /** Coarse-bin width for the two-level join's long-class joins, sized to
    * the measured span distribution instead of the fixed 64*binSize
    * (r16; guide §2 — partitioning sized to the data, not a constant).
    *
    * Cost model: a long interval of span s explodes onto s/c + 1 coarse
    * bins, and each coarse bin holds other-side rows proportional to
    * (c + r) for typical other-side span r — so candidate pairs per long
    * row track (s/c + 1)(c + r), minimized at c* = sqrt(s*r). With the
    * probed p99 span as s and the p50 span as the short-side proxy r,
    * c* lands in the flat basin of that curve (measured on the ivLong
    * fixture: 64*binSize = 4096 generates ~5x the candidates of the
    * adaptive width). Clamped to [longCap/4, 64*binSize] — the floor
    * bounds the short-class explosion in the short x long join at <= 5
    * bins per row, the ceiling never does worse than the legacy fixed
    * width — and rounded up to a power of two for plan stability. */
  def adaptiveCoarse(binSize: Long, p50: Double, p99: Double): Long = {
    val legacy = binSize * 64
    val floor = math.max(1L, (binSize * 8) / 4)
    val cStar = math.sqrt(math.max(p99, 1.0) * math.max(p50, 1.0))
    val pow2 = java.lang.Long.highestOneBit(
      math.max(1L, math.ceil(cStar).toLong - 1L)) << 1
    math.min(legacy, math.max(floor, pow2))
  }

  /** Integer floor-division that is exact for negative coordinates. */
  private[ops] def fdiv(c: Column, w: Long): Column =
    ((c - pmod(c, lit(w))) / lit(w)).cast("long")

  /** The overlap predicate with point promotion, on already-suffixed specs. */
  def overlapPredicate(c1: ColSpec, c2: ColSpec): Column =
    c1.startCol < c2.promotedEnd && c2.startCol < c1.promotedEnd

  /** `df` with one row per (interval, spanned genome bin of width `w`),
    * the bin in column `bin`. Points are promoted to length 1 first, so
    * a point lands in exactly one bin. */
  private[ops] def explodeBins(df: DataFrame, c: ColSpec, w: Long,
                               bin: String): DataFrame =
    df.withColumn(bin, explode(sequence(fdiv(c.startCol, w),
                                        fdiv(c.promotedEnd - 1, w))))

  /** Overlap pairs of two bin-exploded relations (bins of width `w` in
    * `lBin`/`rBin`): equi-join on `(chrom, on..., bin)`, re-check the
    * overlap, and emit each pair only from the bin holding the overlap's
    * start — dedup without a distinct() shuffle.
    *
    * The right side builds a per-partition hash map instead of
    * sort-merge: with heavily duplicated (chrom, bin) keys SMJ
    * degenerates into a buffered nested loop (measured 20x slower at
    * 112M output pairs). SHJ streams the probe side; the build side is
    * one bin-partition of the right relation. */
  private[ops] def binnedPairs(lb: DataFrame, rb: DataFrame,
                               c1: ColSpec, c2: ColSpec,
                               on: Seq[(String, String)],
                               lBin: String, rBin: String,
                               w: Long): DataFrame = {
    val cond = (c1.chromCol === c2.chromCol) &&
      on.map { case (a, b) => col(a) === col(b) }
        .foldLeft(col(lBin) === col(rBin))(_ && _)
    lb.join(rb.hint("SHUFFLE_HASH"), cond, "inner")
      .filter(overlapPredicate(c1, c2))
      .filter(col(lBin) === fdiv(greatest(c1.startCol, c2.startCol), w))
      .drop(lBin, rBin)
  }

  /** [[Auto]] resolution from plan statistics (public so tests can assert
    * the choice without running the join):
    *  - tiny right side -> [[BroadcastRight]]. Broadcast is only right for
    *    true dimension tables (views, chromsizes): the hash join keys on
    *    `chrom` alone, so every left row scans ALL same-chrom right rows —
    *    cost O(|L| * |R| / nChrom), catastrophic for a non-tiny right side
    *    (observed 650s vs 15s at 600k x 150k). Hard few-thousand-row cap
    *    regardless of the session broadcast threshold.
    *  - a KNOWN-large side with a heavy span tail ([[heavySpanTail]])
    *    -> [[BinnedTwoLevel]]: megabase-scale intervals would explode
    *    onto many fine bins under [[Binned]].
    *  - everything else -> [[Binned]], whose cost tracks the true pair
    *    count. */
  def resolveAuto(left: DataFrame, right: DataFrame,
                  c1: ColSpec, c2: ColSpec, binSize: Long): Strategy =
    resolveAutoPlan(left, right, c1, c2, binSize)._1

  /** [[resolveAuto]] plus the coarse width the two-level strategy should
    * run with — derived from the SAME span probe (no extra job): the
    * side whose heavy tail triggered the upgrade contributes its
    * (p50, p99) to [[adaptiveCoarse]]. Returns the legacy 64*binSize
    * coarse when the resolution is not [[BinnedTwoLevel]]. */
  def resolveAutoPlan(left: DataFrame, right: DataFrame,
                      c1: ColSpec, c2: ColSpec,
                      binSize: Long): (Strategy, Long) = {
    val cap = 65536L
    val legacyCoarse = binSize * 64
    val szR = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (szR <= cap) (BroadcastRight, legacyCoarse)
    else heavySpanTail(left, c1, binSize)
      .orElse(heavySpanTail(right, c2, binSize)) match {
      case Some((p50, p99)) =>
        (BinnedTwoLevel, adaptiveCoarse(binSize, p50, p99))
      case None => (Binned, legacyCoarse)
    }
  }

  /** Inner interval join of two relations whose column names are already
    * disjoint. Returns all columns of both sides for each overlapping pair.
    *
    * @param on extra equi-key column name pairs (left name, right name),
    *           mirroring the reference's `on=` (`ops.py:456-462`).
    */
  def pairs(left: DataFrame, right: DataFrame,
            c1: ColSpec, c2: ColSpec,
            on: Seq[(String, String)] = Nil,
            strategy: Strategy = Auto,
            binSize: Long = DefaultBinSize): DataFrame = {
    val (resolved, autoCoarse) = strategy match {
      case Auto => resolveAutoPlan(left, right, c1, c2, binSize)
      case s => (s, binSize * 64)
    }
    def binned(l: DataFrame, r: DataFrame, w: Long) =
      binnedPairs(explodeBins(l, c1, w, "__bin"),
        explodeBins(r, c2, w, "__bin2"), c1, c2, on, "__bin", "__bin2", w)
    resolved match {
      case BroadcastRight | Auto =>
        val cond = (c1.chromCol === c2.chromCol) &&
          on.map { case (a, b) => col(a) === col(b) }
            .foldLeft(overlapPredicate(c1, c2))(_ && _)
        left.join(broadcast(right), cond, "inner")
      case BinnedTwoLevel =>
        val longCap = binSize * 8
        def isLong(c: ColSpec) = (c.promotedEnd - c.startCol) > lit(longCap)
        val lShort = left.filter(!isLong(c1))
        val lLong = left.filter(isLong(c1))
        val rShort = right.filter(!isLong(c2))
        val rLong = right.filter(isLong(c2))
        // three class-disjoint joins: short x short fine, long x all and
        // short x long coarse (shorts span <= coarse width -> <= 2 bins)
        binned(lShort, rShort, binSize)
          .unionByName(binned(lLong, right, autoCoarse))
          .unionByName(binned(lShort, rLong, autoCoarse))
      case Binned => binned(left, right, binSize)
    }
  }
}
