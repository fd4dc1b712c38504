package graft

import graft.core.{ColSpec, NatOrder, Region}
import graft.ann.Ann
import graft.dedup.Dedup
import graft.ops.{BucketedJoin, Closest, Extras, IntervalJoin, Ops}
import graft.streaming.StreamOps
import graft.text.{Corpus, ProfileIndex, TextOps}
import graft.vis.Vis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2) + equivalent DuckDB SQL in `oracleSql` for the driver's
  * correctness gate. Column names and BIGINT-normalized types match between
  * both sides exactly.
  */
object SparkEntry {
  import TestTables._

  /** Flagship query on sf0.001: interval join iv1 x iv2 + per-chrom agg. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Ops.overlap(iv1(spark, dir), iv2(spark, dir), how = "inner",
        suffixes = ("_1", "_2"), binSize = 256)
      .groupBy(col("chrom_1")).agg(count(lit(1)).as("n_pairs"))
  }

  // Genome-bin width for the binned interval joins. The fixture's spans
  // are 0..40 at EVERY scale factor (modulo-derived), so the width is a
  // span-distribution constant, not an SF constant. r16 (guide §2.3/§2.5,
  // measured in OPTIMIZATION_r16.md): width ~ the typical span minimizes
  // candidate waste x explosion — at 64 the fine join generated ~3.8x the
  // true pairs, at 16 ~2.2x, and the finer key space (8x more (chrom,bin)
  // keys) spreads the exploding join's OUTPUT skew that AQE cannot see in
  // input bytes. Conf-overridable so bin-width sensitivity stays A/B-able
  // same-JVM (results are bin-invariant — JoinPropertySpec/OpsSpec gate
  // that); the pre-r16 value was 64.
  private def B(s: SparkSession): Long =
    s.conf.get("spark.graft.gates.binSize", "8").toLong

  // ------------------------------------------------------------ relational

  private def q1(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("sum_base_cents"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long")).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))

  private def q3(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(table(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n"))

  // ---------------------------------------------------------- interval ops

  private def ivSelect(s: SparkSession, dir: String): DataFrame =
    Ops.select(iv1(s, dir), "c1:100-500")
      .select(col("id"), col("chrom"), col("start"), col("end"))

  private def ivExpand(s: SparkSession, dir: String): DataFrame =
    Ops.expand(iv1(s, dir), pad = Some(-3L))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  private def ivExpandScale(s: SparkSession, dir: String): DataFrame =
    Ops.expand(iv1(s, dir), scale = Some(1.5))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  private def ivOverlap(how: String)(s: SparkSession, dir: String): DataFrame =
    Ops.overlap(iv1(s, dir), iv2(s, dir), how = how, suffixes = ("_1", "_2"),
        returnOverlap = how == "inner", binSize = B(s))
      .select(col("id_1") +: col("id_2") +:
        (if (how == "inner") Seq(col("overlap_start"), col("overlap_end"))
         else Nil): _*)

  /** Same pair set as iv_overlap_inner through the bucketed bin-index
    * layout (`ops.BucketedJoin`): both sides materialized once as
    * co-bucketed tables on `(chrom, bin)`, then joined exchange-free —
    * the amortize-the-shuffle-across-queries posture for a corpus that
    * is joined against repeatedly. The gate validates that the layout
    * emits exactly the shuffled strategy's pairs (the timing includes
    * the two bucketed writes; the join itself has zero exchanges,
    * plan-asserted in BucketedJoinSpec). */
  private def ivOverlapBucketed(s: SparkSession, dir: String): DataFrame = {
    val path = scratchFile("bji")
    val (t1, t2) = (uniqueTable("graft_bji1"), uniqueTable("graft_bji2"))
    val c1 = ColSpec.default
    val c2 = ColSpec.default.withSuffix("_2")
    BucketedJoin.writeBinIndex(
      iv1(s, dir).select("id", "chrom", "start", "end"),
      t1, s"$path/i1", c1, binSize = B(s), numBuckets = 8)
    BucketedJoin.writeBinIndex(
      ColSpec.suffixAll(iv2(s, dir).select("id", "chrom", "start", "end"), "_2"),
      t2, s"$path/i2", c2, binSize = B(s), numBuckets = 8,
      binColName = "__bin_2")
    BucketedJoin.pairsFromBinIndex(
      s.table(t1), s.table(t2), c1, c2,
      rightBin = "__bin_2", binSize = B(s))
      .select(col("id").as("id_1"), col("id_2"))
  }

  /** Same join as iv_overlap_inner through the hierarchical-binning
    * strategy — gate-validates BinnedTwoLevel's exactly-once emission. */
  private def ivOverlapInnerMl(s: SparkSession, dir: String): DataFrame =
    Ops.overlap(iv1(s, dir), iv2(s, dir), how = "inner",
        suffixes = ("_1", "_2"),
        strategy = IntervalJoin.BinnedTwoLevel, binSize = B(s))
      .select(col("id_1"), col("id_2"))

  /** Two-level binning chosen by `Auto` itself, not forced: ivLong's
    * ~14% gene-scale span tail trips `resolveAuto`'s p99 probe. The probe
    * threshold is scaled down to test-SF relation sizes (at the 256 MB
    * production default nothing at sf0.01 counts as "known large");
    * PlanContractSpec asserts the resolution and the three-way
    * coarse/fine union in the physical plan. */
  private def ivOverlapAuto2l(s: SparkSession, dir: String): DataFrame = {
    val prev = s.conf.getOption(IntervalJoin.ProbeThresholdKey)
    s.conf.set(IntervalJoin.ProbeThresholdKey, (1L << 12).toString)
    try
      Ops.overlap(ivLong(s, dir), iv1(s, dir), how = "inner",
          suffixes = ("_1", "_2"), binSize = B(s))
        .select(col("id_1"), col("id_2"))
    finally prev match {
      case Some(v) => s.conf.set(IntervalJoin.ProbeThresholdKey, v)
      case None => s.conf.unset(IntervalJoin.ProbeThresholdKey)
    }
  }

  private def ivOverlapRight(s: SparkSession, dir: String): DataFrame =
    Ops.overlap(iv3(s, dir), iv2(s, dir), how = "right",
        suffixes = ("_1", "_2"), binSize = B(s))
      .select(col("id_1"), col("id_2"))

  private def ivOverlapOn(s: SparkSession, dir: String): DataFrame =
    Ops.overlap(iv1(s, dir), iv2(s, dir), how = "inner",
        suffixes = ("_1", "_2"), on = Seq("strand"), binSize = B(s))
      .select(col("id_1"), col("id_2"), col("strand_1"))

  /** Regression for the merged-anti point-promotion bug: df2 carries
    * zero-length points abutting its own intervals; the left join must not
    * emit spurious null-extended rows for df1 rows starting exactly at a
    * point's coordinate. */
  private def ivOverlapLeftPts(s: SparkSession, dir: String): DataFrame =
    Ops.overlap(iv1(s, dir), iv2p(s, dir), how = "left",
        suffixes = ("_1", "_2"), binSize = B(s))
      .select(col("id_1"), col("id_2"))

  private def ivSetdiffPts(s: SparkSession, dir: String): DataFrame =
    Ops.setdiff(iv1(s, dir), iv2p(s, dir), binSize = B(s))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  private def ivCountOverlaps(s: SparkSession, dir: String): DataFrame =
    Ops.countOverlaps(iv1(s, dir), iv2(s, dir), countCol = "n", binSize = B(s))
      .select(col("id"), col("n"))

  private def ivSetdiff(s: SparkSession, dir: String): DataFrame =
    Ops.setdiff(iv1(s, dir), iv2(s, dir), binSize = B(s))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  // bucketSize 256 over the ~[0, 2530] fixture coordinate space exercises
  // the two-level scans' cross-bucket carry (~10 buckets per chrom)
  private val SCAN_BUCKET = 256L

  private def ivCluster(s: SparkSession, dir: String): DataFrame =
    Ops.cluster(iv1(s, dir), minDist = Some(0), bucketSize = SCAN_BUCKET)
      .select(col("id"), col("chrom"), col("start"), col("end"),
        col("cluster_start"), col("cluster_end"))

  private def ivMerge(minDist: Option[Long])(s: SparkSession, dir: String): DataFrame =
    Ops.merge(iv1(s, dir), minDist = minDist)
      .select(col("chrom"), col("start"), col("end"), col("n_intervals"))

  /** `on=` strata flow through the whole sweep machinery, not just the
    * equi-key plumbing (reference ops.py:631, 772). */
  private def ivClusterOn(s: SparkSession, dir: String): DataFrame =
    Ops.cluster(iv1(s, dir), minDist = Some(0), on = Seq("strand"),
        bucketSize = SCAN_BUCKET)
      .select(col("id"), col("strand"), col("cluster_start"), col("cluster_end"))

  private def ivMergeOn(s: SparkSession, dir: String): DataFrame =
    Ops.merge(iv1(s, dir), minDist = Some(0), on = Seq("strand"))
      .select(col("chrom"), col("strand"), col("start"), col("end"),
        col("n_intervals"))

  /** Negative pad on one side: the midpoint clamp applies to that side
    * only (reference ops.py:150-225; golden cases in GoldenSpec). */
  private def ivExpandLeft(s: SparkSession, dir: String): DataFrame =
    Ops.expand(iv1(s, dir), pad = Some(-3L), side = "left")
      .select(col("id"), col("chrom"), col("start"), col("end"))

  private def ivCoverage(s: SparkSession, dir: String): DataFrame =
    Ops.coverage(iv2(s, dir), iv1(s, dir), coverageCol = "coverage", binSize = B(s))
      .select(col("id"), col("chrom"), col("start"), col("end"), col("coverage"))

  /** Sequence-backed ops over the synthetic md5-derived chunk store
    * (extras.py:170-355): GC fraction per iv1 interval and a GATC digest
    * of the genome. */
  private def seqFracGc(s: SparkSession, dir: String): DataFrame =
    graft.seq.SeqOps.fracGc(iv1(s, dir), seqChunks(s), binSize = B(s))
      .select(col("id"), col("frac_gc"))

  private def seqFracMapped(s: SparkSession, dir: String): DataFrame =
    graft.seq.SeqOps.fracMapped(iv1(s, dir), seqChunks(s), binSize = B(s))
      .select(col("id"), col("frac_mapped"))

  private def seqDigest(s: SparkSession, dir: String): DataFrame =
    graft.seq.SeqOps.digest(seqChunks(s), "GATC", cutOffset = 0,
        bucketSize = SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"))

  /** Enzyme-name digest via the bundled catalog: the Arima Hi-C cocktail
    * (DpnII GATC + HinfI GANTC) exercises name resolution, multi-enzyme
    * cut union, and IUPAC-N matching in one gate. */
  private def seqDigestArima(s: SparkSession, dir: String): DataFrame =
    graft.seq.SeqOps.digest(seqChunks(s), "Arima", SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"))

  /** Degenerate-site digest via the full IUPAC matcher (r14): a StyI
    * (CCWWGG) + HincII (GTYRAC) cocktail exercises the W and Y/R base
    * classes plus the multi-enzyme cut union on the md5 chunk store
    * (~25 cut sites across the 8x2570 bp fixture genome — non-vacuous
    * at every SF because the chunk store is SF-independent). */
  private def seqDigestIupac(s: SparkSession, dir: String): DataFrame =
    graft.seq.SeqOps.digestSites(seqChunks(s),
        graft.seq.Enzymes.resolve("StyI") ++
          graft.seq.Enzymes.resolve("HincII"),
        SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"))

  /** Scratch paths this process created; deleted best-effort at JVM
    * exit so gate reruns don't accrete index copies in /dev/shm. */
  private val scratchCreated =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = scratchCreated.iterator()
      while (it.hasNext) {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        try rm(new java.io.File(it.next())) catch { case _: Throwable => }
      }
    }))
  }

  private def scratchFile(name: String): String = {
    val base = graft.core.Scratch.dir
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = new java.io.File(base,
      s"$name-${java.util.UUID.randomUUID()}").getAbsolutePath
    scratchCreated.add(p)
    p
  }

  /** Per-invocation-unique table identifier for the persisted-index
    * gates. The catalog is in-memory (per-process) but the DATA paths
    * were formerly fixed per sf-dir, so a concurrent harness process
    * (builder local check vs driver gate) interleaved the non-atomic
    * write/append/read sequence — r10's one red gate. Unique names +
    * unique external paths make each invocation hermetic. */
  private def uniqueTable(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** bigWig round-trip gate: per-bin iv1 start counts written as a real
    * BBI binary (header + chrom B+ tree + zlib sections + R-tree) and
    * read back distributed; the oracle recomputes the relation in SQL, so
    * any encode/decode defect shows as a value/hash mismatch. Counts are
    * exact in the format's float32. */
  /** One written BBI artifact per sf-dir, shared by the io_bigwig /
    * io_dsv2_bw twins: both gates previously rebuilt and re-compressed
    * the IDENTICAL file (same deterministic relation), doubling the
    * single-writer sink cost in every suite run (r12 flagged the pair
    * at 2x9.6s). The write still happens — once — inside whichever
    * gate runs first; the file is scratch-tracked for exit cleanup. */
  private val bbiShared =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sharedBigWig(s: SparkSession, dir: String): String =
    bbiShared.computeIfAbsent(dir, _ => {
      val bins = Extras.binnify(chromsizes(s), 100L)
      val counts = iv1(s, dir)
        .groupBy(col("chrom").as("__c"),
          (floor(col("start") / 100) * 100).cast("long").as("__b"))
        .agg(count(lit(1)).as("__n"))
      val valued = bins
        .join(counts,
          bins("chrom") === col("__c") && bins("start") === col("__b"),
          "left")
        .select(bins("chrom"), col("start"), col("end"),
          coalesce(col("__n"), lit(0L)).cast("double").as("value"))
      val path = scratchFile("io_bbi_shared")
      graft.io.Tables.toBigWig(valued, path)
      path
    })

  private def ioBigwig(s: SparkSession, dir: String): DataFrame =
    graft.io.Tables.readBigWig(s, sharedBigWig(s, dir))

  /** DSv2 bigwig gate: the io_bigwig relation written once, read back
    * through `spark.read.format("bigwig")` with a chrom + coordinate
    * region expressed as Catalyst predicates — the scan must prune
    * R-tree blocks from the pushed region and still match the oracle's
    * SQL recomputation of the selected bins exactly. */
  private def ioDsv2Bw(s: SparkSession, dir: String): DataFrame =
    s.read.format("bigwig").load(sharedBigWig(s, dir))
      .filter(col("chrom") === "c2" && col("start") < 1700L &&
        col("end") > 300L)

  /** bigBed round-trip gate over iv3, id carried through the `rest`
    * payload. */
  private def ioBigbed(s: SparkSession, dir: String): DataFrame = {
    val path = scratchFile("io_bigbed")
    graft.io.Tables.toBigBed(
      iv3(s, dir).select(col("chrom"), col("start"), col("end"), col("id")),
      path)
    graft.io.Tables.readBigBed(s, path)
      .select(col("chrom"), col("start"), col("end"),
        col("rest").cast("long").as("id"))
  }

  /** tabix gate: iv3 written as BGZF BED + .tbi, then a REGION query that
    * must resolve through the binning index; the oracle recomputes the
    * overlap in SQL. */
  private def ioTabix(s: SparkSession, dir: String): DataFrame = {
    val path = scratchFile("io_tabix") + ".bed.gz"
    graft.io.Tables.toTabix(
      iv3(s, dir).select(col("chrom"), col("start"), col("end"), col("id")),
      path)
    graft.io.Tables.readTabix(s, path, chrom = Some("c3"),
        start = Some(500L), end = Some(1500L))
      .select(col("_c0").as("chrom"), col("_c1").cast("long").as("start"),
        col("_c2").cast("long").as("end"), col("_c3").cast("long").as("id"))
  }

  /** DSv2 gate: the same relation as io_tabix read through
    * `spark.read.format("tabix")` with the region expressed as Catalyst
    * predicates — the ScanBuilder must translate them into an index
    * query (pushdown path), and the result must match the oracle's SQL
    * overlap recompute exactly. A different region from io_tabix so the
    * two gates cannot mask each other. */
  private def ioDsv2(s: SparkSession, dir: String): DataFrame = {
    val path = scratchFile("io_dsv2") + ".bed.gz"
    graft.io.Tables.toTabix(
      iv3(s, dir).select(col("chrom"), col("start"), col("end"),
        col("id").cast("string").as("name")),
      path)
    s.read.format("tabix").option("preset", "bed4").load(path)
      .filter(col("chrom") === "c5" && col("start") < 1800L &&
        col("end") > 200L)
      .select(col("chrom"), col("start"), col("end"),
        col("name").cast("long").as("id"))
  }

  /** BAM gate: iv3-derived alignment records (cigar = span + 'M') written
    * as real BGZF BAM + .bai, then a region query that must resolve
    * through the index and the CIGAR reference-length overlap rule. */
  private def ioBam(s: SparkSession, dir: String): DataFrame = {
    val path = scratchFile("io_bam") + ".bam"
    val recs = iv3(s, dir).select(
      concat(lit("r"), col("id").cast("string")).as("qname"),
      ((col("id") % 2) * 16).cast("long").as("flag"),
      col("chrom").as("rname"), col("start").as("pos"),
      (lit(30L) + col("id") % 10).as("mapq"),
      concat((col("end") - col("start")).cast("string"), lit("M")).as("cigar"),
      lit(-1L).as("rnext"), lit(-1L).as("pnext"), lit(0L).as("tlen"),
      lit(null).cast("string").as("seq"), lit(null).cast("string").as("qual"),
      lit("{}").as("tags"))
    graft.io.Tables.toBam(recs, path)
    graft.io.Tables.readAlignments(s, path, chrom = Some("c3"),
        start = Some(500L), end = Some(1500L))
      .select(col("qname"), col("flag"), col("rname"), col("pos"),
        col("mapq"), col("cigar"))
  }

  /** pairix gate: iv3-derived contact pairs written as a .pairs BGZF +
    * 2D index, then a query2D that must resolve the (chrom1, chrom2)
    * block and filter both coordinate ranges. */
  private def ioPairix(s: SparkSession, dir: String): DataFrame = {
    val path = scratchFile("io_pairix") + ".pairs.gz"
    graft.io.Tables.toPairix(
      iv3(s, dir).select(
        concat(lit("p"), col("id").cast("string")).as("read_id"),
        col("chrom").as("chrom1"), (col("start") + 1).as("pos1"),
        // id>>3 varies WITHIN a chrom1 stratum (chrom1 is id%8-derived,
        // so any pure id%8 function would pin chrom2 == chrom1)
        concat(lit("c"), (shiftright(col("id"), 3) % 8).cast("string"))
          .as("chrom2"),
        ((col("id") * 53) % 2400 + 1).as("pos2")),
      path)
    graft.io.Tables.readPairix(s, path, "c3", 0L, 1600L,
        chrom2 = Some("c5"), start2 = Some(0L), end2 = Some(3000L))
      .select(col("read_id"), col("chrom1"), col("pos1").cast("long"),
        col("chrom2"), col("pos2").cast("long"))
  }

  /** Interval-set Jaccard of iv1 vs iv2 (the bedtools statistic): one
    * row of exact longs plus their single IEEE division. */
  private def ivJaccard(s: SparkSession, dir: String): DataFrame =
    Extras.jaccardIntervals(iv1(s, dir), iv2(s, dir), binSize = B(s))

  /** Relative-distance statistic of iv2 midpoints against iv1 flanks
    * (bedtools reldist): exact flank deltas + their single division. */
  private def ivReldist(s: SparkSession, dir: String): DataFrame =
    Extras.relDistance(iv2(s, dir), iv1(s, dir), binSize = B(s),
      bucketSize = SCAN_BUCKET)

  /** Coverage-depth histogram of iv1 over the synthetic chromsizes
    * (bedtools genomecov summary): exact per-depth base totals + their
    * single division by the genome size. */
  private def ivGenomecov(s: SparkSession, dir: String): DataFrame =
    Extras.coverageHistogram(iv1(s, dir), chromsizes(s),
      bucketSize = SCAN_BUCKET)

  /** Multi-set intersection runs of iv1/iv2/iv3 (bedtools multiinter):
    * covered genome partitioned by how many sets cover each run. */
  private def ivMultiinter(s: SparkSession, dir: String): DataFrame =
    Extras.multiIntersect(
      Seq(iv1(s, dir), iv2(s, dir), iv3(s, dir)), bucketSize = SCAN_BUCKET)

  /** frac_gene_coverage composition (extras.py:357-387): iv2 "genes"
    * covered and counted against iv1. */
  private def ivGeneCoverage(s: SparkSession, dir: String): DataFrame =
    Extras.fracGeneCoverage(iv2(s, dir), iv1(s, dir), binSize = B(s))
      .select(col("id"), col("chrom"), col("start"), col("end"),
        col("coverage"), col("count"))

  private def ivClosest(s: SparkSession, dir: String): DataFrame =
    Closest.closest(iv3(s, dir), Some(iv2(s, dir)), k = 1,
        tieBreakingCol = Some("id"), suffixes = ("_1", "_2"), binSize = B(s),
        bucketSize = SCAN_BUCKET)
      .select(col("id_1"), col("id_2"), col("distance"))

  private def ivClosestK3(s: SparkSession, dir: String): DataFrame =
    Closest.closest(iv3(s, dir), Some(iv2(s, dir)), k = 3,
        tieBreakingCol = Some("id"), suffixes = ("_1", "_2"), binSize = B(s),
        bucketSize = SCAN_BUCKET)
      .select(col("id_1"), col("id_2"), col("distance"))

  /** Self-closest (df2 = None): nearest non-identical interval within
    * iv3 (reference arrops.py:655-657 excludes only the row itself). */
  private def ivClosestSelf(s: SparkSession, dir: String): DataFrame =
    Closest.closest(iv3(s, dir), None, k = 1, tieBreakingCol = Some("id"),
        suffixes = ("_1", "_2"), binSize = B(s), bucketSize = SCAN_BUCKET)
      .select(col("id_1"), col("id_2"), col("distance"))

  private def ivClosestUpstream(s: SparkSession, dir: String): DataFrame =
    Closest.closest(iv3(s, dir), Some(iv2(s, dir)), k = 1,
        ignoreDownstream = true, tieBreakingCol = Some("id"),
        suffixes = ("_1", "_2"), binSize = B(s), bucketSize = SCAN_BUCKET)
      .select(col("id_1"), col("id_2"), col("distance"))

  /** Arbitrary tie EXPRESSION (reference accepts a callable,
    * ops.py:972-980): `-id` makes the HIGHEST df2 id win among
    * equidistant neighbors — injective, so the internal-id fallback
    * never decides and the oracle replicates with `id_2 DESC`. */
  private def ivClosestTie(s: SparkSession, dir: String): DataFrame =
    Closest.closest(iv3(s, dir), Some(iv2(s, dir)), k = 1,
        tieBreakingExpr = Some(-col("id")), suffixes = ("_1", "_2"),
        binSize = B(s), bucketSize = SCAN_BUCKET)
      .select(col("id_1"), col("id_2"), col("distance"))

  private def ivSubtract(s: SparkSession, dir: String): DataFrame =
    Ops.subtract(iv2(s, dir), iv1(s, dir), binSize = B(s))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  /** `return_index`: per-parent fragment counter `sub_index_` in fragment
    * order (reference ops.py:1323-1329). */
  private def ivSubtractIndex(s: SparkSession, dir: String): DataFrame =
    Ops.subtract(iv2(s, dir), iv1(s, dir), returnIndex = true, binSize = B(s))
      .select(col("id"), col("chrom"), col("start"), col("end"),
        col("sub_index_").cast("long").as("sub_index_"))

  /** Overlap-first ranking disabled: only the non-overlap as-of candidate
    * sets feed the top-k (reference ops.py:944-949, arrops.py:560-597 —
    * `ignore_overlaps=True`). */
  private def ivClosestIgnore(s: SparkSession, dir: String): DataFrame =
    Closest.closest(iv3(s, dir), Some(iv2(s, dir)), k = 1,
        ignoreOverlaps = true, tieBreakingCol = Some("id"),
        suffixes = ("_1", "_2"), binSize = B(s), bucketSize = SCAN_BUCKET)
      .select(col("id_1"), col("id_2"), col("distance"))

  private def ivComplement(s: SparkSession, dir: String): DataFrame =
    Ops.complement(iv1(s, dir), view(s))
      .select(col("chrom"), col("start"), col("end"), col("view_region"))

  private def ivTrim(s: SparkSession, dir: String): DataFrame =
    Ops.trim(Ops.expand(iv1(s, dir), pad = Some(10L)), view(s),
        viewOrdCol = Some("ord"))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  /** Viewless trim: negative starts after a pad-out are clipped at zero
    * (reference ops.py:1495-1506). */
  private def ivTrimNoview(s: SparkSession, dir: String): DataFrame =
    Ops.trim(Ops.expand(iv1(s, dir), pad = Some(10L)))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  private def ivAssignView(s: SparkSession, dir: String): DataFrame =
    Ops.assignView(iv1(s, dir), view(s), viewOrdCol = Some("ord"))
      .select(col("id"), col("view_region"))

  // ------------------------------------------------- order-sensitive gates

  /** Deterministically scrambled single-file copy of a fixture relation:
    * written sorted by a multiplicative hash of `id`, so the re-read's
    * physical file order IS that scrambled order — the contract the
    * keepOrder fallback and selectIndices ordinals are defined against —
    * while staying reproducible in the DuckDB oracle (same arithmetic,
    * ROW_NUMBER over the same keys). */
  private def scrambledFixture(s: SparkSession, dir: String, name: String,
                               df: DataFrame, mult: Long): DataFrame = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_fixtures/" +
      s"${new java.io.File(dir).getName}_$name"
    df.orderBy(pmod(col("id") * lit(mult), lit(999983L)), col("id"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** keepOrder with NO order columns: output must come back in the inputs'
    * physical read order ((df1 pos, df2 pos), nulls last) even though df1
    * feeds two plan branches — exercising the branch-safe content-id
    * ordinal map fallback (Ops.overlap fbOrdMap). Inputs are
    * deterministically scrambled fresh file reads; the produced ORDER is
    * itself the gated value, exported as a zipWithIndex position. */
  private def ivOverlapKeepOrder(s: SparkSession, dir: String): DataFrame = {
    val a = scrambledFixture(s, dir, "ko_iv3", iv3(s, dir), 2654435761L)
    val b = scrambledFixture(s, dir, "ko_iv2", iv2(s, dir), 1103515245L)
    val out = Ops.overlap(a, b, how = "left", suffixes = ("_1", "_2"),
      keepOrder = true, binSize = B(s))
    Ops.withInputOrdinal(out.select(col("id_1"), col("id_2")), "pos")
  }

  /** Direct sortBedframe gate: the produced ORDER is the gated value.
    * Output omits id so ties on (chrom,start,end) — where the operator's
    * order is legitimately unspecified — map positions to identical value
    * tuples under any tie resolution. */
  private def ivSortBedframe(s: SparkSession, dir: String): DataFrame = {
    val shuffled = iv1(s, dir).repartition(16, col("id"))
    Ops.withInputOrdinal(
      Ops.sortBedframe(shuffled).select(col("chrom"), col("start"), col("end")),
      "pos")
  }

  /** selectIndices against the scrambled fresh-read fixture: positions are
    * the physical read order (reference ops.py:69-88 positional index);
    * index 777 is absent at sf0.001 (150 rows) — dropped by both sides. */
  private def ivSelectIndices(s: SparkSession, dir: String): DataFrame =
    Ops.selectIndices(
      scrambledFixture(s, dir, "sel_iv3", iv3(s, dir), 2654435761L),
      Seq(0L, 7L, 77L, 777L))
      .select(col("id"), col("chrom"), col("start"), col("end"))

  /** stackIntervals gate: first-fit levels are oracled through two
    * invariants that pin them exactly: (a) no two same-level intervals on
    * a chromosome overlap (n_violations, computed by an actual self-join
    * of the operator's output, must be 0), and (b) the number of levels
    * used equals the maximum overlap depth — first-fit in left-endpoint
    * sweep order is an optimal interval-graph coloring, so minimality is
    * checkable without replaying the greedy sweep in SQL. iv3 has no
    * zero-length rows, so depth via pileup needs no promotion. */
  private def ivStack(s: SparkSession, dir: String): DataFrame = {
    val lv = Extras.stackIntervals(iv3(s, dir))
      .select(col("chrom"), col("start"), col("end"), col("id"), col("level"))
    val viol = Ops.overlap(lv, lv, how = "inner", suffixes = ("_1", "_2"),
        on = Seq("level"), binSize = B(s))
      .filter(col("id_1") < col("id_2"))
      .groupBy(col("chrom_1").as("__vc")).agg(count(lit(1)).as("__viol"))
    val depth = Extras.pileup(iv3(s, dir), bucketSize = SCAN_BUCKET)
      .groupBy(col("chrom")).agg(max(col("depth")).as("max_depth"))
    lv.groupBy(col("chrom"))
      .agg(count(lit(1)).as("n"),
        (max(col("level")) + 1).cast("long").as("n_levels"))
      .join(depth, Seq("chrom"), "left")
      .join(viol, col("chrom") === col("__vc"), "left")
      .select(col("chrom"), col("n"), col("n_levels"), col("max_depth"),
        coalesce(col("__viol"), lit(0L)).as("n_violations"))
  }

  private val colorFixtures: Seq[String] = Seq("red", "tomato", "skyblue",
    "dodgerblue", "tab:blue", "g", "c", "#ff0000", "#ff8800", "#f0a",
    "#ff000055", "none", null, "notacolor")

  /** to_ucsc_colorstring parity gate (reference vis.py:18-59). */
  private def utilColorstring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    colorFixtures.toDF("color")
      .select(col("color"), Vis.toUcscColorstring(col("color")).as("item_rgb"))
  }

  /** plot_intervals geometry gate (reference vis.py:60-237): the
    * distributed rectangle relation `Vis.plotGeometry` emits for iv3,
    * checked per chromosome. `n_levels = max stacking depth` is the same
    * optimal-first-fit identity the iv_stack oracle uses (greedy first-fit
    * by left endpoint is optimal on interval graphs); `sum_w` gates the
    * width arithmetic, `min_y` the `level - height/2` anchor (level 0
    * exists on every chromosome), and the color columns the default
    * skyblue/dimgray resolution. The SVG/PNG serializers over this same
    * geometry are spec'd (VisSpec: parsed rect counts, planted-color
    * pixel probes on the rasterized image). */
  private def visPlot(s: SparkSession, dir: String): DataFrame =
    Vis.plotGeometry(TestTables.iv3(s, dir))
      .groupBy(col("chrom"))
      .agg(count(lit(1)).as("n_rects"),
        (max(col("level")) + 1).cast("long").as("n_levels"),
        sum(col("rect_w")).cast("long").as("sum_w"),
        min(col("rect_y")).as("min_y"),
        max(col("face_rgb")).as("face_rgb"),
        max(col("edge_rgb")).as("edge_rgb"))

  /** Batch-equivalence oracle for the streaming merge: iv1 fed through a
    * MemoryStream in ~8 micro-batches whose arrival order is scrambled
    * WITHIN 128-coordinate buckets (bounded disorder, the operator's
    * contract), allowedLag = 256 > bucket width + max span covering the
    * repair window. A final far-right sentinel per chrom pushes the
    * genomic frontier past every real run, flushing them; the sentinels
    * themselves stay open and are never emitted. The collected streaming
    * result must hash-match the batch merge oracle exactly. */
  private def evtStreamMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    // deterministic eighth of iv1: the gate's value is the micro-batch
    // boundary + bounded-disorder + repair-window machinery, which an
    // eighth of the rows exercises identically at an eighth of the
    // per-row state-store cost (the oracle filters the same ids)
    val rows = iv1(s, dir).filter(col("id") % 8 === 0)
      .select(col("chrom"), col("start"), col("end"))
      .as[StreamOps.Iv].collect()
    val arrival = rows.sortBy(iv =>
      (iv.start / 128, (iv.start * 31 + iv.end * 7) % 97, iv.chrom, iv.end))
    val input = MemoryStream[StreamOps.Iv]
    s.catalog.dropTempView("evt_stream_merge_sink")
    // the stateful shuffle keys on chrom (8 groups): 32 state-store
    // partitions per micro-batch are pure fixed overhead, so pin the
    // streaming query's partitioning to the group count (captured at
    // query start; restored after)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // state store + offset/commit WAL fsync per micro-batch: place the
    // checkpoint on tmpfs when available (unique per run, deleted below)
    // so a throttled block device can't serialize the batches
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val writer0 = StreamOps.streamingMerge(input.toDS(), minDist = 0,
        allowedLag = 256)
      .writeStream.format("memory").queryName("evt_stream_merge_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try {
      // 2 mid-stream batches + the sentinel flush: batch-boundary state
      // carry, in-window disorder repair, and the lag frontier are all
      // exercised from the second batch on, and the oracle checks full
      // batch-equivalence regardless — more batches only re-pay the
      // per-micro-batch state-store + replanning overhead (~1-3s each)
      arrival.grouped(math.max(1, arrival.length / 2 + 1)).foreach { batch =>
        input.addData(batch.toSeq)
        q.processAllAvailable()
      }
      input.addData(rows.map(_.chrom).distinct.toSeq
        .map(c => StreamOps.Iv(c, 1L << 20, (1L << 20) + 1)))
      q.processAllAvailable()
    } finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(c)
      }
    }
    s.table("evt_stream_merge_sink")
      .select(col("chrom"), col("start"), col("end"),
        col("nIntervals").as("n_intervals"))
  }

  /** Streaming exact-dedup gate: a quarter of events arrives in three
    * ts-ordered micro-batches; every 16th event id of the FIRST batch is
    * re-sent in the SECOND batch with a poisoned value column. If the
    * dedup state machine ever emits a duplicate instead of suppressing
    * it, the oracle (which selects only originals) mismatches on rows
    * and on the poisoned value hash. The watermark delay exceeds the
    * feed's time span, so every duplicate is inside the dedup horizon
    * and the streaming result must equal batch DISTINCT exactly.
    * Original and duplicate are always in different micro-batches, so
    * "first arrival" is deterministic. */
  private def evtStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = eventsMs(s, dir).filter(col("event_id") % 4 === 0)
      .select(col("event_id").as("eventId"), col("tms"),
        col("event_type").as("eventType"), col("value"))
      .as[StreamOps.Ev].collect().sortBy(e => (e.tms, e.eventId))
    val batches = base.grouped(math.max(1, base.length / 3 + 1)).toSeq
    val poisoned = batches.head.filter(_.eventId % 16 == 0)
      .map(e => e.copy(value = e.value + 9999.0))
    val input = MemoryStream[StreamOps.Ev]
    s.catalog.dropTempView("evt_stream_dedup_sink")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val writer0 = StreamOps.streamingDedup(input.toDS(), delay = "365 days")
      .writeStream.format("memory").queryName("evt_stream_dedup_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        input.addData((if (i == 1) poisoned ++ b else b).toSeq)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(c)
      }
    }
    s.table("evt_stream_dedup_sink")
      .select(col("eventId").as("event_id"), col("tms"),
        col("eventType").as("event_type"), col("value"))
  }

  /** Streaming sessionize gate: a quarter of events arrives in three
    * ts-ordered micro-batches (watermark delay 0 is safe: the feed is
    * globally sorted, so no batch carries an event older than the
    * previous batch's max). Append-mode session_window only emits a
    * session after the watermark passes its close, so two sentinel
    * "flush" events (user -1) hours past the real maximum push the
    * watermark far enough for every real session to finalize — the
    * second flush batch is needed because batch N's rows are evaluated
    * against the watermark computed from batch N-1. The oracle is the
    * batch lag/cumsum sessionization with the matching `>= gap`
    * boundary rule. */
  private def evtStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = eventsMs(s, dir).filter(col("event_id") % 4 === 1)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("tms"))
      .as[StreamOps.SessEv].collect().sortBy(e => (e.tms, e.eventId))
    val maxTms = base.map(_.tms).max
    val batches = base.grouped(math.max(1, base.length / 3 + 1)).toSeq
    val input = MemoryStream[StreamOps.SessEv]
    s.catalog.dropTempView("evt_stream_sessionize_sink")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val writer0 = StreamOps.streamingSessionize(input.toDS())
      .writeStream.format("memory").queryName("evt_stream_sessionize_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try {
      batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      input.addData(StreamOps.SessEv(-1L, -1L, maxTms + 6L * 3600 * 1000))
      q.processAllAvailable()
      input.addData(StreamOps.SessEv(-1L, -2L, maxTms + 6L * 3600 * 1000 + 1))
      q.processAllAvailable()
    } finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(c)
      }
    }
    s.table("evt_stream_sessionize_sink")
      .filter(col("userId") >= 0)
      .select(col("userId").as("user_id"), col("session_start"),
        col("session_last"), col("n_events"))
  }

  /** Streaming tumbling-window agg gate: a quarter of events arrives in
    * three ts-ordered micro-batches through the watermarked 1-hour
    * window aggregation (`StreamOps.windowedEventCounts`). Values are
    * pre-scaled to integer cents so the double sum is exact and the
    * hash oracle is deterministic. Watermark delay 0 is safe on the
    * sorted feed; two sentinel "__flush" events hours past the real
    * maximum finalize every real window under append mode (batch N's
    * rows are evaluated against the watermark computed from batch N-1).
    * The oracle is the batch GROUP BY over the same epoch-hour bucket,
    * so a window that ever double-emitted or dropped a finalized pane
    * would mismatch on rows and hash. */
  private def evtStreamWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = eventsMs(s, dir).filter(col("event_id") % 4 === 2)
      .select(col("event_id").as("eventId"), col("tms"),
        col("event_type").as("eventType"),
        round(col("value") * 100, 0).as("value"))
      .as[StreamOps.Ev].collect().sortBy(e => (e.tms, e.eventId))
    val maxTms = base.map(_.tms).max
    val batches = base.grouped(math.max(1, base.length / 3 + 1)).toSeq
    val input = MemoryStream[StreamOps.Ev]
    s.catalog.dropTempView("evt_stream_window_sink")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val windowed = StreamOps.windowedEventCounts(
      input.toDF().withColumn("__ts", timestamp_millis(col("tms")))
        .withColumnRenamed("eventType", "event_type"),
      tsCol = "__ts", window_ = "1 hour", watermark = "0 seconds")
    val writer0 = windowed
      .writeStream.format("memory").queryName("evt_stream_window_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try {
      batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      input.addData(StreamOps.Ev(-1L, maxTms + 6L * 3600 * 1000, "__flush", 0.0))
      q.processAllAvailable()
      input.addData(StreamOps.Ev(-2L, maxTms + 6L * 3600 * 1000 + 1, "__flush", 0.0))
      q.processAllAvailable()
    } finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(c)
      }
    }
    s.table("evt_stream_window_sink")
      .filter(col("event_type") =!= "__flush")
      .select(expr("unix_millis(window.start) div 3600000").as("hour_bucket"),
        col("event_type"), col("n"),
        col("value_sum").cast("long").as("sum_value_cents"))
  }

  /** File-source streaming gate: the canonical `readStream` -> transform
    * -> `writeStream` pipeline over REAL files (every other evt_stream_*
    * gate feeds MemoryStream; this one exercises the production ingest
    * shape). A quarter of events lands as five single-file parquet drops
    * in ts order (three data files + two watermark-flush files, the
    * evt_stream_window sentinel rule), each with an explicit strictly
    * increasing modification time so FileStreamSource's
    * mtime-ordered discovery is deterministic; `maxFilesPerTrigger=1`
    * ingests one file per micro-batch, so the watermark advances between
    * files exactly like the MemoryStream batch feeds. Oracle = the batch
    * GROUP BY over the same epoch-hour bucket. */
  private def evtStreamFile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = eventsMs(s, dir).filter(col("event_id") % 4 === 0)
      .select(col("event_id").as("eventId"), col("tms"),
        col("event_type").as("eventType"),
        round(col("value") * 100, 0).as("value"))
      .as[StreamOps.Ev].collect().sortBy(e => (e.tms, e.eventId))
    val maxTms = base.map(_.tms).max
    val batches: Seq[Seq[StreamOps.Ev]] =
      base.grouped(math.max(1, base.length / 3 + 1)).map(_.toSeq).toSeq ++
        Seq(Seq(StreamOps.Ev(-1L, maxTms + 6L * 3600 * 1000, "__flush", 0.0)),
          Seq(StreamOps.Ev(-2L, maxTms + 6L * 3600 * 1000 + 1, "__flush", 0.0)))
    val srcDir = new java.io.File(scratchFile("evt_stream_file_src"))
    srcDir.mkdirs()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    val t0 = System.currentTimeMillis() - 3600 * 1000
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = new java.io.File(scratchFile(s"esf_tmp_$i"))
      s.createDataset(b).toDF().repartition(1)
        .write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(srcDir, f"batch-$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // FileStreamSource discovers in mtime order; the watermark-flush
      // sentinel ordering of this gate depends on it, so a silent
      // setLastModified failure must surface, not flake the gate.
      require(dst.setLastModified(t0 + i * 60000L),
        s"setLastModified failed for $dst")
      rm(tmp)
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.catalog.dropTempView("evt_stream_file_sink")
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val stream = s.readStream
      .schema(org.apache.spark.sql.Encoders.product[StreamOps.Ev].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)
    val windowed = StreamOps.windowedEventCounts(
      stream.withColumn("__ts", timestamp_millis(col("tms")))
        .withColumnRenamed("eventType", "event_type"),
      tsCol = "__ts", window_ = "1 hour", watermark = "0 seconds")
    val writer0 = windowed
      .writeStream.format("memory").queryName("evt_stream_file_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try q.processAllAvailable()
    finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach(rm)
      rm(srcDir)
    }
    s.table("evt_stream_file_sink")
      .filter(col("event_type") =!= "__flush")
      .select(expr("unix_millis(window.start) div 3600000").as("hour_bucket"),
        col("event_type"), col("n"),
        col("value_sum").cast("long").as("sum_value_cents"))
  }

  /** Stream-stream join gate: the last quarter of events splits into a
    * "left" stream (event_id % 8 == 3) and a "right" stream (% 8 == 7);
    * each left event must pair with same-user right events at most 24
    * hours older (24h, not 30min: the synthetic feed is user-sparse and
    * a narrow bound matches zero rows at sf0.001 — a vacuous gate).
    * Both streams feed ts-ordered micro-batches in
    * lockstep (watermark delay 0 is safe: batch k of either stream never
    * carries an event older than batch k-1's max), and sentinel flush
    * events on BOTH streams push both watermarks past every real match
    * so append mode finalizes it. Oracle = the batch self-join with the
    * identical time-bound predicate. */
  private def evtStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = eventsMs(s, dir).filter(col("event_id") % 4 === 3)
      .select(col("event_id").as("eventId"), col("user_id").as("userId"),
        col("tms"))
      .as[StreamOps.JEv].collect().sortBy(e => (e.tms, e.eventId))
    val maxTms = base.map(_.tms).max
    val lRows = base.filter(_.eventId % 8 == 3)
    val rRows = base.filter(_.eventId % 8 == 7)
    val lBatches = lRows.grouped(math.max(1, lRows.length / 3 + 1)).toSeq
    val rBatches = rRows.grouped(math.max(1, rRows.length / 3 + 1)).toSeq
    val lIn = MemoryStream[StreamOps.JEv]
    val rIn = MemoryStream[StreamOps.JEv]
    s.catalog.dropTempView("evt_stream_join_sink")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    // 4, not 8: a stream-stream join keeps FOUR state stores per
    // partition per trigger; store open/commit overhead, not data,
    // dominates this feed's micro-batches
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val writer0 = StreamOps.streamingEventJoin(lIn.toDS(), rIn.toDS(),
        withinMs = 86400000L)
      .writeStream.format("memory").queryName("evt_stream_join_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try {
      (0 until math.max(lBatches.size, rBatches.size)).foreach { k =>
        if (k < lBatches.size) lIn.addData(lBatches(k).toSeq)
        if (k < rBatches.size) rIn.addData(rBatches(k).toSeq)
        q.processAllAvailable()
      }
      val flushT = maxTms + 6L * 3600 * 1000
      lIn.addData(StreamOps.JEv(-1L, -1L, flushT))
      rIn.addData(StreamOps.JEv(-2L, -1L, flushT))
      q.processAllAvailable()
      lIn.addData(StreamOps.JEv(-3L, -1L, flushT + 1))
      rIn.addData(StreamOps.JEv(-4L, -1L, flushT + 1))
      q.processAllAvailable()
    } finally {
      q.stop()
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(c)
      }
    }
    s.table("evt_stream_join_sink")
      .filter(col("l_id") >= 0)
      .select(col("l_id"), col("r_id"), col("user_id"), col("dt_ms"))
  }

  /** Stream-static enrichment gate: a 1/4 subsample of the events stream
    * fed in 4 micro-batches, left-joined per batch against the broadcast
    * customer dimension (`user_id -> mktsegment`). Stateless — every
    * event emits exactly once with its segment, so the oracle is the
    * plain batch left join; all user_ids resolve at every SF (events
    * user range is a subset of custkeys), while the LEFT keeps the
    * semantics honest if a future regen breaks that. */
  private def evtStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = eventsMs(s, dir).filter(col("event_id") % 4 === 1)
      .select(col("event_id").as("eventId"), col("user_id").as("userId"),
        col("tms"))
      .as[StreamOps.JEv].collect().sortBy(e => (e.tms, e.eventId))
    val dim = table(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("userId"),
        col("c_mktsegment").as("segment"))
    val in = MemoryStream[StreamOps.JEv]
    s.catalog.dropTempView("evt_stream_enrich_sink")
    val ckpt = graft.core.Scratch.dir.map(d =>
      new java.io.File(d, s"ckpt-${java.util.UUID.randomUUID()}"))
    val writer0 = StreamOps.streamingEnrich(in.toDF(), dim, Seq("userId"))
      .select(col("eventId").as("event_id"), col("userId").as("user_id"),
        col("segment"))
      .writeStream.format("memory").queryName("evt_stream_enrich_sink")
      .outputMode("append")
    val q = ckpt.fold(writer0)(c =>
      writer0.option("checkpointLocation", c.getAbsolutePath)).start()
    try {
      base.grouped(math.max(1, base.length / 4 + 1)).foreach { b =>
        in.addData(b.toSeq)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      ckpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(c)
      }
    }
    s.table("evt_stream_enrich_sink")
  }

  /** End-to-end streaming-ingest gate over the FULL persisted-index
    * quintet (doc store + bloom exact-dup index + minhash band index +
    * HDR length histogram + CMS term sketch), certifying CROSS-INDEX
    * consistency after a 3-batch ingest that includes BOTH failure
    * replays a production stream sees:
    *   - batch 1 is delivered twice with the same batchId (a foreachBatch
    *     re-delivery after a post-commit failure), and
    *   - batch 2 first suffers a CRASH-BETWEEN-INDEXES torn delivery
    *     (only the store write lands — simulated by pre-writing the raw
    *     batch to its store directory) before the full replay.
    * Batches 1 and 2 carry planted exact re-deliveries of earlier
    * batches' texts (re-keyed ids), so the bloom prefilter's drop path
    * is non-vacuous. The output is a metric relation the DuckDB oracle
    * recomputes from first principles: the admitted set is "rows whose
    * text does not occur in any earlier batch", and every index total
    * (store counts, distinct indexed docs, band rows, histogram mass,
    * CMS token mass / depth, profile exact columns) must land exactly on
    * that set — any replay double-count, torn-write remnant, or
    * cross-index drift shifts a value and fails the hash. Replay
    * determinism of the near-dup pair stream and the bloom membership of
    * every stored doc are engine-side checks surfaced as must-be-zero
    * metrics. */
  private def evtIngestE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // null-guard the stratum key: Spark's distinct() counts a NULL
    // stratum, DuckDB's COUNT(DISTINCT) skips it — sentinel both sides
    // (the doc_split_group posture) so the gate survives a nullable
    // fixture
    val d = docs(s, dir).select(col("doc_id"),
      coalesce(col("source"), lit("__null")).as("source"), col("text"))
    // re-keyed replay copies get NEGATED ids (-id-1): genuine doc_ids
    // are non-negative, so the synthetic ids can never collide with
    // real ones at ANY fixture scale (fixed +1e6 offsets would alias
    // once a fixture carries doc_id >= 1e6), and the two re-keyed
    // families draw from disjoint row predicates so they cannot
    // collide with each other either
    val b0 = d.filter(col("doc_id") % 3 === 0)
    val b1 = d.filter(col("doc_id") % 3 === 1).unionByName(
      d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("source"),
          col("text")))
    val b2 = d.filter(col("doc_id") % 3 === 2).unionByName(
      d.filter(col("doc_id") % 3 === 1 && col("doc_id") % 7 === 1)
        .select((-col("doc_id") - 1L).as("doc_id"), col("source"),
          col("text")))
    val mhTable = uniqueTable("graft_e2e_mh")
    val store = scratchFile("e2e_store")
    val bloom = scratchFile("e2e_bloom")
    val prof = scratchFile("e2e_prof")
    val hist = scratchFile("e2e_hist")
    val cms = scratchFile("e2e_cms")
    val depth = 4
    // empty seeds: the stream owns every index from the first batch on
    Dedup.writeMinhashIndex(d.limit(0), "doc_id", "text", mhTable,
      scratchFile("e2e_mhidx"), numBuckets = 8)
    graft.dedup.Bloom.writeIndex(d.limit(0), col("text"), bloom,
      numBuckets = 8, expectedItems = 1000000L)
    val dupCounts = scala.collection.mutable.Map.empty[Long, Long]
    val pairsSeen = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    var pairsReplayDrift = 0L
    def deliver(batch: DataFrame, id: Long): Unit =
      StreamOps.ingestDedupBatch(batch, id, mhTable, store,
        (p, bid) => {
          val got = p.select(col("id_1").cast("long"), col("id_2").cast("long"))
            .as[(Long, Long)].collect().toSet
          pairsSeen.get(bid).foreach(prev =>
            pairsReplayDrift += ((prev diff got) ++ (got diff prev)).size.toLong)
          pairsSeen(bid) = got
        },
        n = 3, numHashes = 48, bands = 16, threshold = 0.5, numBuckets = 8,
        bloomIndexPath = bloom,
        onExactDups = (dd, bid) => { dupCounts(bid) = dd.count(); () },
        bloomExpectedItems = 1000000L, bloomBuckets = 8,
        profileIndexPath = prof, profileStrataCol = "source",
        lenHistPath = hist, cmsPath = cms, cmsDepth = depth, cmsWidth = 2048)
    deliver(b0, 0L)
    deliver(b1, 1L)
    deliver(b1, 1L) // foreachBatch replay: same batchId re-delivered whole
    // crash-between-indexes: a torn delivery that completed ONLY the
    // store write (raw rows, dups not yet dropped), then the full replay
    b2.select("doc_id", "text").write.mode("overwrite")
      .parquet(s"$store/batch=2")
    deliver(b2, 2L)
    // ---- cross-index consistency metrics (all value-gated by the oracle)
    // r16 (VERDICT r15 #2: the gate is driver-orchestration-bound — 39.9s
    // of its 56s probe run was inter-job gap across ~70 sequential
    // mini-jobs): the tail's 7 sequential metric jobs (per-batch counts,
    // two minhash distincts, bloom probe count, two histogram aggs, CMS
    // mass, profile sums, plus the local assembly) fuse into ONE lazy
    // plan — every index aggregate reduces to a single row, the
    // single-row relations cross-join, and the metric relation is
    // exploded from a struct array, evaluated by the caller's single
    // action. Each aggregate is value-identical to the job it replaces:
    //  - minhash: band rows = count of the distinct (id, band) relation,
    //    docs = countDistinct id over that same relation;
    //  - hist strata: source is sentinel-coalesced upstream, so
    //    countDistinct's null-skip cannot diverge from distinct().count();
    //  - cms_tokens: mass DIV depth is the same integer division.
    // Driver-side values from the delivery callbacks (exact_dups,
    // pairs_replay_drift) enter as literals.
    val storeDf = s.read.option("basePath", store).parquet(store)
      .select(col("doc_id"), col("text"), col("batch").cast("long").as("b"))
    val storeAgg = storeDf.agg(
      count(lit(1)).as("__admitted"),
      coalesce(sum(when(col("b") === 0L, 1L)), lit(0L)).as("__b0"),
      coalesce(sum(when(col("b") === 1L, 1L)), lit(0L)).as("__b1"),
      coalesce(sum(when(col("b") === 2L, 1L)), lit(0L)).as("__b2"))
    val mhAgg = s.table(mhTable).select(col("__id"), col("__band"))
      .distinct()
      .agg(count(lit(1)).as("__mh_rows"),
        countDistinct(col("__id")).as("__mh_docs"))
    val flaggedAgg = graft.dedup.Bloom.probeMaybe(s.read.parquet(bloom),
        storeDf, col("text"), numBuckets = 8)
      .agg(count(lit(1)).as("__flagged"))
    val histAgg = graft.text.Hdr.readHistogram(s, hist, Seq("source"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("__hist_docs"),
        countDistinct(coalesce(col("source"), lit("__null")))
          .as("__hist_strata"))
    val cmsAgg = graft.text.Cms.readSketch(s, cms)
      .agg(coalesce(sum(col("n")), lit(0L)).as("__cms_mass"))
    val profAgg = ProfileIndex.readProfile(s, prof)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("__prof_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("__prof_tokens"),
        coalesce(sum(col("n_chars")), lit(0L)).as("__prof_chars"))
    def m(name: String, value: Column) =
      struct(lit(name).as("metric"), value.as("value"))
    storeAgg.crossJoin(mhAgg).crossJoin(flaggedAgg).crossJoin(histAgg)
      .crossJoin(cmsAgg).crossJoin(profAgg)
      .select(explode(array(
        m("admitted_total", col("__admitted")),
        m("admitted_b0", col("__b0")),
        m("admitted_b1", col("__b1")),
        m("admitted_b2", col("__b2")),
        m("exact_dups", lit(dupCounts.values.sum)),
        m("minhash_docs", col("__mh_docs")),
        m("minhash_band_rows", col("__mh_rows")),
        m("bloom_missing", col("__admitted") - col("__flagged")),
        m("hist_docs", col("__hist_docs")),
        m("hist_strata", col("__hist_strata")),
        m("cms_tokens", expr(s"__cms_mass DIV $depth")),
        m("profile_docs", col("__prof_docs")),
        m("profile_tokens", col("__prof_tokens")),
        m("profile_chars", col("__prof_chars")),
        m("pairs_replay_drift", lit(pairsReplayDrift)))).as("__m"))
      .select(col("__m.metric").as("metric"), col("__m.value").as("value"))
      .orderBy(col("metric"))
  }

  private def ivSortRank(s: SparkSession, dir: String): DataFrame = {
    val assigned = Ops.assignView(iv1(s, dir), view(s), viewOrdCol = Some("ord"))
    val ords = view(s).select(col("name").as("__vn"), col("ord"))
    assigned.join(broadcast(ords), col("view_region") === col("__vn"), "inner")
      .withColumn("rk", row_number().over(
        Window.orderBy(col("ord"), col("start"), col("end"), col("id"))).cast("long"))
      .select(col("id"), col("rk"))
  }

  private def ivBinnify(s: SparkSession, dir: String): DataFrame =
    Extras.binnify(chromsizes(s), 100L, relIds = true)
      .select(col("chrom"), col("start"), col("end"), col("rel_id"))

  private def ivChromarms(s: SparkSession, dir: String): DataFrame = {
    val mids = s.range(8).select(
      concat(lit("c"), col("id").cast("string")).as("chrom"),
      lit(1300L).as("mid"))
    Extras.makeChromarms(chromsizes(s), mids)
      .select(col("chrom"), col("start"), col("end"), col("name"))
  }

  private def ivPairByDistance(s: SparkSession, dir: String): DataFrame =
    Extras.pairByDistance(iv3(s, dir), minSep = 10L, maxSep = 200L,
        maxIntervening = Some(5L), suffixes = ("_1", "_2"), binSize = B(s),
        tieBreak = Some(col("id")))
      .select(col("id_1"), col("id_2"))

  /** Abutting per-chrom bins valued by iv1-start presence — the bedGraph-
    * like input for mark_runs/merge_runs. */
  private def binsValued(s: SparkSession, dir: String): DataFrame = {
    val bins = Extras.binnify(chromsizes(s), 100L)
    val counts = iv1(s, dir)
      .groupBy(col("chrom").as("__c"),
        (floor(col("start") / 100) * 100).cast("long").as("__b"))
      .agg(count(lit(1)).as("__n"))
    bins.join(counts,
        bins("chrom") === col("__c") && bins("start") === col("__b"), "left")
      .withColumn("value", when(col("__n").isNotNull, 1L).otherwise(0L))
      .select(col("chrom"), col("start"), col("end"), col("value"))
  }

  private def ivMarkRuns(s: SparkSession, dir: String): DataFrame =
    Extras.markRuns(binsValued(s, dir), "value", bucketSize = SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"), col("value"),
        col("run").cast("long").as("run"))

  private def ivMergeRuns(s: SparkSession, dir: String): DataFrame =
    Extras.mergeRuns(binsValued(s, dir), "value",
        agg = Map("n_bins" -> count(lit(1))), bucketSize = SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"), col("value"), col("n_bins"))

  private def chkInvariants(s: SparkSession, dir: String): DataFrame = {
    val cols = ColSpec.default
    graft.ops.Scan.prefixMax(
        iv1(s, dir).withColumn("__b",
          graft.ops.Scan.bucketOf(col("start"), SCAN_BUCKET)),
        Seq("chrom"), "__b", Seq(col("start").asc, col("end").asc),
        col("end"), inclusive = false, "__pm")
      .agg(
        (count(when(graft.core.Checks.bedViolation(cols), 1)) === 0).as("bed_ok"),
        bool_or(col("start") === col("end")).as("has_points"),
        bool_or(col("__pm").isNotNull && col("start") < col("__pm"))
          .as("is_overlapping"))
  }

  private def ivPileup(s: SparkSession, dir: String): DataFrame =
    Extras.pileup(iv1(s, dir), bucketSize = SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"), col("depth"))

  /** Weighted pileup (`valueCol`): the RLE kernel's `weights` argument
    * (reference arrops.py:757-770). Weight 0 rows still cut breakpoints —
    * identical on both engines. */
  private def ivPileupWeighted(s: SparkSession, dir: String): DataFrame =
    Extras.pileup(
        iv1(s, dir).withColumn("w", (col("id") % 5).cast("long")),
        valueCol = Some("w"), bucketSize = SCAN_BUCKET)
      .select(col("chrom"), col("start"), col("end"), col("depth"))

  /** Endpoint-anchored pairing (`relative_to="endpoints"`, reference
    * extras.py:482-499): separation measured end(upstream) to
    * start(downstream). */
  private def ivPairEndpoints(s: SparkSession, dir: String): DataFrame =
    Extras.pairByDistance(iv3(s, dir), minSep = 10L, maxSep = 200L,
        maxIntervening = Some(5L), relativeTo = "endpoints",
        suffixes = ("_1", "_2"), binSize = B(s), tieBreak = Some(col("id")))
      .select(col("id_1"), col("id_2"))

  /** sanitize_bedframe semantics (reference construction.py:265-343) on a
    * deliberately dirty frame derived from part (some start > end). */
  private def utilSanitize(s: SparkSession, dir: String): DataFrame = {
    val dirty = table(s, dir, "part").select(
      col("p_partkey").cast("long").as("id"),
      concat(lit("c"), (col("p_partkey") % 8).cast("string")).as("chrom"),
      ((col("p_partkey") * 13) % 1000).cast("long").as("start"),
      ((col("p_partkey") * 7) % 1000).cast("long").as("end"))
    graft.core.Construction.sanitizeBedframe(dirty)
      .select(col("id"), col("chrom"), col("start"), col("end"))
  }

  private def utilNatsort(s: SparkSession, dir: String): DataFrame = {
    val names = table(s, dir, "part")
      .select(concat(lit("c"), (col("p_partkey") % 12).cast("string")).as("name"))
      .distinct()
    names.withColumn("nat_rank",
        row_number().over(Window.orderBy(NatOrder.sortKeys(col("name")): _*))
          .cast("long"))
      .select(col("name"), col("nat_rank"))
  }

  private val regionFixtures = Seq(
    "c1:100-500", "c2:1,000-2kb", "c3", "c4:50-", "c5:1.5K-0.002M",
    "c6 : 10 - 20")

  private def regionParse(s: SparkSession, dir: String): DataFrame = {
    val rows = regionFixtures.map { str =>
      val r = Region.parseString(str)
      (str, r.chrom, r.start.map(java.lang.Long.valueOf).orNull,
        r.end.map(java.lang.Long.valueOf).orNull)
    }
    import s.implicits._
    rows.toDF("input", "chrom", "start", "end")
  }

  // -------------------------------------------------------------- events

  /** Events table with an epoch-millis `tms` column, robust to every `ts`
    * encoding the testdata has shipped with: TIMESTAMP(NANOS) parquet (read
    * as raw nanos via the legacy flag → LongType) and timestamp[us]
    * (TIMESTAMP_NTZ/LTZ). Session TZ is pinned UTC everywhere (Verify,
    * Bench, build.sbt), so the ntz→ltz cast is the identity. */
  private def eventsMs(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, dir, "events")
    val tms = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => unix_millis(col("ts").cast("timestamp"))
    }
    df.withColumn("tms", tms)
  }

  private def evtSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tms"), col("event_id"))
    eventsMs(s, dir)
      .withColumn("__prev", lag(col("tms"), 1).over(w))
      .withColumn("__brd",
        when(col("__prev").isNull || col("tms") - col("__prev") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__brd")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("tms")).as("session_start"), count(lit(1)).as("n_events"))

  }

  private def evtWindowAgg(s: SparkSession, dir: String): DataFrame =
    eventsMs(s, dir)
      .withColumn("hour_bucket", expr("tms div 3600000"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))

  // ---------------------------------------------------- text / dedup / ann

  /** Scan-parallelism floor for the CPU-heavy gate corpora (r16; guide
    * §2.5 "input skew — one huge unsplittable file: repartition
    * immediately after the read"). The driver's fixture parquet holds
    * 1-2 row groups, so every documents/embeddings scan is capped at
    * 1-2 tasks while the session has 32 cores — and the tokenize/hash/
    * codec kernels FUSED into those scan stages are the dominant cost of
    * the txt_/emb_/mm_ families at scale (r16 probe at sf1: txt_dsir ran
    * 38s of CPU in 2 tasks, txt_bpe_encode 22s in 1). One round-robin
    * repartition to the session's core count after the read unlocks the
    * cores; Catalyst still prunes columns through the exchange, so only
    * the used columns shuffle. Skipped when the scan already splits to
    * >= half the cores (real multi-file inputs at cluster scale), and
    * conf-gated for same-JVM A/B. */
  private def widen(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (!s.conf.get("spark.graft.gates.widenScan", "true").toBoolean) df
    else if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    widen(s, table(s, dir, "documents"))

  private def embs(s: SparkSession, dir: String): DataFrame =
    widen(s, table(s, dir, "embeddings"))

  private def txtStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextOps.bpeishCount(col("text")).cast("long").as("n_subwords"),
      TextOps.punctCount(col("text")).cast("long").as("n_punct"),
      TextOps.stopwordCount(col("text")).cast("long").as("n_stop"),
      TextOps.upperCount(col("text")).cast("long").as("n_upper"),
      TextOps.qualityScore(col("text")).as("quality"))

  /** One planted sentence per marker language (doc_id >= 1e6, clear of
    * the fixture id space) — each must win its own language by score, so
    * the gate proves every row of `TextOps.LangMarkers` is live, not
    * just the ones the English-ish documents fixture happens to hit. */
  private val langFixtures: Seq[(Long, String)] = Seq(
    1000001L -> "the cat and the dog of the house is that with food for",
    1000002L -> "der hund und die katze ist nicht mit ein haus",
    1000003L -> "le chat et la maison est une dans pour les jardins",
    1000004L -> "el perro los gatos las casas es una para con del",
    1000005L -> "il cane di che per sono una con della casa",
    1000006L -> "uma casa das flores dos meninos como mais quando isso ela",
    1000007L -> "het huis een van niet zijn maar voor ook vandaag",
    1000008L -> "nie jest tak ale jak czy tylko przez dom",
    1000009L -> "eto chto kak potomu ochen tolko seychas horosho",
    1000010L -> "och att det som inte jag han hon huset",
    1000011L -> "yang dan ini itu dengan untuk tidak ada rumah",
    1000012L -> "bir ve bu ile ama gibi daha olarak ev")

  private def txtLangid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text"))
      .unionByName(langFixtures.toDF("doc_id", "text"))
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
  }

  private def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextOps.fingerprintMd5(col("text")).as("md5"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  /** The synthetic corpus carries no newlines, which would leave the
    * line-duplication half of the gate vacuous (1 line per doc, frac 0
    * everywhere) — so the gate deterministically synthesizes line
    * structure by turning a set of frequent words into line breaks
    * (both engines apply the same leftmost non-overlapping regex). At
    * sf0.01 this yields ~8 lines/doc and a few dozen docs with real
    * duplicate lines. */
  private def txtRepetition(s: SparkSession, dir: String): DataFrame =
    Corpus.repetitionSignals(
      docs(s, dir).withColumn("text",
        regexp_replace(col("text"), " (the|a|value|table|row) ", "\n")),
      "doc_id", "text")

  /** Paragraph-dedup gate: same newline plant as txt_repetition (the
    * synthetic corpus repeats phrases, so planted paragraphs collide
    * across documents corpus-wide), then per-doc paragraph and removal
    * counts; the doc universe is restored with a left join so a doc
    * whose every line is empty still reports (0, 0). */
  private def txtParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val planted = d.withColumn("text",
      regexp_replace(col("text"), " (the|a|value|table|row) ", "\n"))
    val agg = Corpus.dedupParagraphs(planted, "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
    d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Sequence-packing gate: whitespace token counts (the same `\S+`
    * count txt_stats gates), packed into 512-token sequences in doc_id
    * order; the oracle replays the exclusive running sum with a SQL
    * window. */
  private def txtPack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.packSequences(
      d.select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", seqLen = 512L)
  }

  /** Quality-rules gate: the synthetic corpus is single-line prose, so
    * the gate deterministically plants document structure — every
    * " value " becomes an ellipsis line break, every " table " a
    * bulleted line — then scores the Gopher A1 doc-level rules. Both
    * engines run the same plant + rule chain; thresholds were chosen so
    * every rule is individually non-vacuous at sf0.01 (word band 269/500,
    * bullet cap 426, ellipsis cap 406, alpha floor 495, stop floor 388;
    * conjunction keeps 154/500). */
  private def txtGopherQuality(s: SparkSession, dir: String): DataFrame =
    Corpus.gopherQuality(
      docs(s, dir).withColumn("text",
        regexp_replace(
          regexp_replace(col("text"), " value ", "...\n"),
          " table ", "\n- ")),
      "doc_id", "text")

  /** Redaction gate: the corpus carries no PII, so the gate deterministically
    * plants it — three frequent words become an email, a dotted-quad IP,
    * and a 9-digit account number — then redacts and fingerprints. Both
    * engines run the same plant + redact chain; the md5 of the redacted
    * text makes any whole-string divergence visible, the per-token counts
    * localize which rule diverged. */
  private def txtRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"),
          " key ", " bob.smith+1@corp.example.org "),
        " scan ", " 10.0.255.7 "),
      " batch ", " 123456789 ")
    docs(s, dir)
      .withColumn("__p", planted)
      .withColumn("__r", Corpus.redactPii(col("__p")))
      .select(col("doc_id"),
        md5(col("__r").cast("binary")).as("redacted_md5"),
        regexp_count(col("__r"), lit("<EMAIL>")).cast("long").as("n_email"),
        regexp_count(col("__r"), lit("<IP>")).cast("long").as("n_ip"),
        regexp_count(col("__r"), lit("<NUM>")).cast("long").as("n_num"))
  }

  /** Decontamination gate: docs with `doc_id % 97 == 0` act as the
    * held-out eval set; the rest are the corpus. The corpus has no
    * natural 8-gram overlap with the eval docs (checked), so the gate
    * plants it — corpus docs with `doc_id % 13 == 3` get the first 12
    * tokens of eval doc `(doc_id % 3) * 97` spliced onto their text (a
    * LEFT join: a missing eval id at small SF simply plants nothing).
    * Both engines run the same plant + flag chain. */
  private def txtDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val evalSet = d.filter(col("doc_id") % 97 === 0)
    val excerpts = evalSet.select(col("doc_id").as("__eid"),
      concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 12))
        .as("__ex"))
    val corpus = d.filter(col("doc_id") % 97 =!= 0)
      .withColumn("__eid",
        when(col("doc_id") % 13 === 3, (col("doc_id") % 3) * 97))
      .join(broadcast(excerpts), Seq("__eid"), "left")
      .select(col("doc_id"),
        when(col("__ex").isNotNull, concat(col("text"), lit(" "), col("__ex")))
          .otherwise(col("text")).as("text"))
    Corpus.decontaminate(corpus, evalSet, "doc_id", "text", n = 8)
  }

  /** Top-terms gate: integer/string columns only — the ranking key is
    * (tf DESC, df ASC, term ASC) by design, so the float tfidf column
    * (libm ln differs across engines) never enters the hash compare. */
  private def txtTopTerms(s: SparkSession, dir: String): DataFrame =
    Corpus.topTerms(docs(s, dir), "doc_id", "text", k = 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
        col("rank").cast("long").as("rank"))

  /** Top-200 global vocabulary — integer/string rank key only, so the
    * hash compare is engine-portable. */
  private def txtVocab(s: SparkSession, dir: String): DataFrame =
    Corpus.vocabulary(docs(s, dir), "doc_id", "text", topN = 200)

  /** Per-doc distinct-3-gram novelty vs corpus-wide first owners —
    * 487/500 docs at sf0.001 share at least one gram, so the fractions
    * are non-trivial at every scale. */
  private def txtNovelty(s: SparkSession, dir: String): DataFrame =
    Corpus.ngramNovelty(docs(s, dir), "doc_id", "text", n = 3)
      .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty"))

  /** Stupid Backoff trigram LM gate: train on the deterministic 80%
    * content-addressed split (salt "lm"), score the held-out 20%. The
    * gate hashes the EXACT integer surface — per-doc token count and
    * longest-matched-order histogram (n_l3/n_l2/n_l1/n_oov) — while the
    * log-score/ppl doubles (sums of ln, not IEEE-reproducible across
    * engines) are spec-covered in NgramLmSpec instead. Non-vacuous at
    * sf0.001: ~100 of 500 docs land in the scored split. */
  private def txtLmBackoff(s: SparkSession, dir: String): DataFrame =
    graft.text.NgramLm.trainScoreSplit(docs(s, dir), "doc_id", "text",
        n = 3, minCount = 2L, trainFraction = 0.8, salt = "lm")
      .select(col("doc_id"), col("n_tok"), col("n_l1"), col("n_l2"),
        col("n_l3"), col("n_oov"))

  /** Duplicated-span gate: every 3rd document self-concatenates, so its
    * second half is an exact within-doc repeat whose 8-token windows are
    * all removable (non-first) and merge into one long span — plus
    * whatever cross-doc phrase repetition the synthetic corpus carries
    * naturally. Non-vacuous at sf0.001 (the plant alone guarantees ~1/3
    * of docs emit a span); the oracle replays the window hashing,
    * first-owner resolution, and the island merge in SQL. */
  private def txtDupSpans(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).withColumn("text",
      when(col("doc_id") % 3 === 0, concat_ws(" ", col("text"), col("text")))
        .otherwise(col("text")))
    Corpus.duplicatedSpans(planted, "doc_id", "text", n = 8)
  }

  /** Per-domain cap gate: `source` as the domain, cap 10 in md5 hash
    * order (each of the 20 sources holds 25 docs at sf0.001/0.01 and 250
    * at sf0.1, so the cap BINDS at every SF) — exactly 10 x 20 = 200
    * rows regardless of scale; the WindowGroupLimit map-side pre-prune
    * is plan-asserted in CorpusSpec. */
  private def docDomainCap(s: SparkSession, dir: String): DataFrame =
    Corpus.capPerKey(docs(s, dir), "source", "doc_id", cap = 10)
      .select(col("doc_id"), col("source"))

  /** C4 cleaning gate: the txt_repetition newline plant creates line
    * structure, then one guaranteed-kept line everywhere, two more for
    * even ids (so the >= 3 kept-line page floor splits the corpus), a
    * javascript line for id % 7 (kept by punctuation+words, killed by
    * the marker rule), and lorem-ipsum / curly-brace page poisons for
    * id % 13 / id % 11 — every rule individually non-vacuous at every
    * SF, replayed verbatim by the oracle. */
  private def txtC4(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = docs(s, dir).withColumn("text", concat(
      regexp_replace(col("text"), " (the|a|value|table|row) ", "\n"),
      lit("\nthis line has more than five words."),
      when(id % 2 === 0, lit("\nsecond kept line with enough words here." +
        "\nthird kept sentence also has many words.")).otherwise(lit("")),
      when(id % 7 === 0,
        lit("\nplease enable javascript to continue.")).otherwise(lit("")),
      when(id % 13 === 0,
        lit("\nlorem ipsum dolor sit amet paragraph.")).otherwise(lit("")),
      when(id % 11 === 0,
        lit("\ncurly brace { appears on this page.")).otherwise(lit(""))))
    Corpus.c4QualityFilter(planted, "doc_id", "text")
  }

  /** Linear-classifier scoring gate: hash-derived integer weights over
    * the corpus's own distinct-term vocabulary (the model is a stand-in;
    * the broadcast-weights + exact-long-margin plumbing is the product).
    * Margin signs split the corpus roughly in half, so `keep` is
    * non-vacuous at every SF. */
  private def txtQuality(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = d.select(explode(TextOps.tokens(col("text"))).as("term"))
      .distinct()
    Corpus.scoreLinear(d, "doc_id", "text", Corpus.hashWeights(vocab))
  }

  /** Exact-AUC gate: scoreLinear margins (integer, engine-portable) as
    * the score, `doc_id % 3 = 0` as the planted label; the oracle
    * re-derives the full Mann-Whitney tie-averaged rank statistic in
    * exact integer half-ranks with one final IEEE division. */
  private def txtAuc(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = d.select(explode(TextOps.tokens(col("text"))).as("term"))
      .distinct()
    graft.text.Classifier.evalAuc(
      Corpus.scoreLinear(d, "doc_id", "text", Corpus.hashWeights(vocab))
        .withColumn("label",
          when(col("doc_id") % 3 === 0, 1.0).otherwise(0.0)),
      "label", "margin")
  }

  /** Hashed-feature gate for the trainable classifier
    * ([[graft.text.Classifier]]): the md5 hashing-trick featurization —
    * bucket index AND collision-summed counts — re-derived from scratch
    * by the oracle. Training itself is float-order-nondeterministic by
    * nature and is spec-gated (ClassifierSpec signal recovery); the
    * featurization is the engine-portable contract a model rides on. */
  private def txtFeatHash(s: SparkSession, dir: String): DataFrame =
    graft.text.Classifier.featurizeHashed(docs(s, dir), "doc_id", "text",
      numFeatures = 512)

  /** Per-source length profile with exact histogram-derived discrete
    * quantiles (integer-valued, engine-portable); mean is one IEEE
    * division of two exact longs, identical in DuckDB. */
  private def txtProfile(s: SparkSession, dir: String): DataFrame =
    Corpus.profile(docs(s, dir), "source", length(col("text")))
      .select(col("source"), col("n_docs"), col("total"), col("min_v"),
        col("max_v"), col("mean_v"), col("p50"), col("p90"), col("p99"))

  /** Per-source keep rates for the stratified-sampling gate: a halving
    * ladder over five sources, everything else dropped. */
  private val SampleFractions: Map[String, Double] = Map(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
    "src3" -> 0.125, "src4" -> 0.0625)

  private def docSampleStrat(s: SparkSession, dir: String): DataFrame =
    Corpus.sampleStratified(docs(s, dir), "doc_id", "source",
        SampleFractions, salt = "graft")
      .select(col("doc_id"), col("source"),
        Corpus.hashBucket(col("doc_id"), "graft").as("bucket"))

  /** Shard-shuffle gate: the full deterministic permutation relation —
    * md5-derived shard plus 1-based in-shard position — over the
    * documents table at 16 shards, so the oracle re-derives the whole
    * export order (key arithmetic AND the per-shard ROW_NUMBER) from
    * scratch. */
  private def docShardShuffle(s: SparkSession, dir: String): DataFrame =
    Corpus.shuffleShards(docs(s, dir), "doc_id", nShards = 16)
      .select(col("doc_id"), col("source"), col("shard"), col("shard_pos"))

  /** Mixture weights with exact binary fractions so the Spark-side
    * `(w - floor(w)) * 2^32` threshold and the oracle's hardcoded
    * integer constants are the same number — no float boundary risk. */
  private val MixWeights = Map(
    "src0" -> 2.25, "src1" -> 0.5, "src2" -> 1.0, "src3" -> 1.75)

  private def docMix(s: SparkSession, dir: String): DataFrame =
    Corpus.mixBySource(docs(s, dir).select(col("doc_id"), col("source")),
      MixWeights)

  /** Temperature-mixing gate: alpha=0.5 rebalancing toward small
    * sources with the expected output pinned at 2x the corpus. The
    * oracle recomputes per-source counts, quantized sqrt masses,
    * the fixed-operand-order multiplicities, and the md5 fractional-
    * epoch rule from scratch — so the whole weights-from-data chain is
    * gated, not just the mixBySource mechanics doc_mix already
    * covers. */
  private def docMixTemp(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"))
    Corpus.mixByTemperature(d, targetRows = 2L * d.count(), alpha = 0.5)
  }

  /** Leakage-guarded split gate: `source` as the leakage group (the
    * URL-host stand-in), 0.75/0.125/0.125 cuts — chosen so every split
    * captures at least one of the 20 fixture sources (16/3/1; at
    * 0.8/0.1/0.1 `test` was empty). The sources are identical at every
    * SF, so split membership is SF-invariant; group-atomicity is what
    * the md5-of-group construction guarantees and the oracle replays.
    * Both cuts are exact binary doubles, so the BIGINT cut constants
    * are unambiguous. */
  private def docSplitGroup(s: SparkSession, dir: String): DataFrame =
    Corpus.splitByGroup(docs(s, dir).select(col("doc_id"), col("source")),
      "source", Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))

  /** Join-key skew profile gate: the key `floor(sqrt(l_orderkey %
    * 10000))` plants a linearly-skewed distribution (key k carries
    * ~2k+1 of every 10k rows, so the heaviest key reads ~2x the mean —
    * nontrivial share_ppm/skew_x100 values) that both engines derive
    * from the same exact integer+IEEE-sqrt arithmetic. topK=20 rows at
    * every SF. */
  /** Skew-salted join gate: a derived key puts 75% of documents on one
    * hot value (the others keep their ~1.25%-share source), so with
    * minSharePpm=100000 ONLY the hot key crosses the salting bar — the
    * plan runs both branches (salted hot + plain cold) and the oracle
    * replays the whole join from first principles. The dim side drops
    * 'src1' so the LEFT join's null path is exercised through the cold
    * branch. Exactness of the two-branch union IS the gate. */
  private def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 < 3, lit("hot")).otherwise(col("source"))
        .as("k"))
    val dim = d.groupBy(col("k")).agg(count(lit(1)).as("n_k"))
      .filter(col("k") =!= "src1")
    graft.ops.SkewJoin.saltedJoin(d, dim, Seq("k"), saltFactor = 8,
        heavyTopK = 64, minSharePpm = 100000L, joinType = "left")
      .select(col("doc_id"), col("k"), col("n_k"))
  }

  /** Key derivation is PURE INTEGER arithmetic (no FLOOR/SQRT/double
    * round-trip — r12's sqrt spelling was one suspect in the perpetual
    * driver-side hash mismatch): 75% of rows land on 6 hot keys
    * (`l_orderkey % 8` over rows with `% 4 < 3` can only hit residues
    * {0,1,2,4,5,6} — 3 and 7 imply `% 4 == 3`), the rest spread over
    * 97 cold keys — the skew shape the profiler exists to surface. */
  private def diagKeySkew(s: SparkSession, dir: String): DataFrame =
    Corpus.keySkew(
      table(s, dir, "lineitem").select(
        when(col("l_orderkey") % 4 < 3, col("l_orderkey") % 8)
          .otherwise(col("l_orderkey") % 97 + 8).cast("long").as("k")),
      "k", topK = 20)

  /** Compaction-planner gate: 512 synthetic files (one per
    * `l_orderkey % 512`, bytes = 1000 x rowcount) across 4 partitions,
    * target = 4x the mean file size COMPUTED FROM THE DATA
    * (`(count div 512) * 4000`) so the plan packs ~4 files per group
    * at every SF — the grouping rule itself is what the oracle
    * replays. */
  private def layCompaction(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    val stats = li.groupBy(
        (col("l_orderkey") % 4).cast("long").as("part"),
        format_string("f%06d", (col("l_orderkey") % 512).cast("int"))
          .as("file"))
      .agg((count(lit(1)) * 1000L).as("bytes"))
    val target = (li.count() / 512L) * 4000L
    graft.ops.Layout.planCompaction(stats, Seq("part"), "file", "bytes",
        target)
      .select(col("part"), col("file"), col("bytes"),
        col("compaction_group"), col("group_bytes"))
  }

  /** Per-language adaptive quality gate: keep the top 60% of each
    * language by `n_chars` (the stand-in score — the rank mechanics,
    * not the scorer, are the product here; scoreLinear/gopherQuality
    * plug into the same scoreCol). Integer rank cut, ties on doc_id —
    * the oracle replays the identical window. */
  private def txtQualityAdaptive(s: SparkSession, dir: String): DataFrame =
    Corpus.adaptiveQualityFilter(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        groupCol = "lang", scoreCol = "n_chars", idCol = "doc_id",
        keepPpm = 600000L)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("q_rank"), col("n_group"))

  private def txtChunk(s: SparkSession, dir: String): DataFrame =
    Corpus.chunk(docs(s, dir), size = 128, overlap = 32)

  /** The CDC gate's planted shared block — long enough (~170 chars at
    * an expected ~64-char chunk length) that docs sharing it align on
    * identical interior chunk hashes regardless of where their own
    * prefix shifts it to. */
  private val CdcShared = " the shared trailing block for the cdc gate " +
    "repeats identically across documents and is long enough to span " +
    "several content-defined chunks so interior boundaries realign."

  /** Content-defined-chunking gate: every 4th doc gets the shared
    * block appended AFTER its own (varying-length) text, so the block
    * sits at a different offset per doc — identical interior chunk
    * hashes across those docs is the CDC property itself. The oracle
    * replays the window-md5 boundary rule, the span windows, and the
    * chunk hashes from scratch. */
  private def txtCdc(s: SparkSession, dir: String): DataFrame =
    Corpus.cdcChunks(
      docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(CdcShared)).otherwise(lit("")))
          .as("text")),
      "doc_id", "text")

  /** Snapshot-delta gate: the "new" corpus drops every 13th doc
    * (removed), rewrites every 7th (changed), and plants fresh ids for
    * every 11th (added); everything else must emit NOTHING — the
    * delta-sized-output contract is what the oracle certifies. */
  private def docDelta(s: SparkSession, dir: String): DataFrame = {
    val old = docs(s, dir).select(col("doc_id"), col("text"))
    // coalesce BEFORE the append: concat(NULL, ' v2') is NULL, which
    // snapshotDelta would read as unchanged while the oracle's
    // COALESCE(text,'') || ' v2' reads as changed (ADVICE r11)
    val newer = old.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
            concat(coalesce(col("text"), lit("")), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(old.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Corpus.snapshotDelta(old, newer, "doc_id", "text")
  }

  /** Unicode-normalization gate: every doc gets a planted combining
    * sequence (" cafe" + U+0301) so NFC recomposition is non-vacuous on
    * every row; md5 of the normalized text + per-row changed flag and
    * normalized char count hash-match DuckDB's nfc_normalize. */
  private def txtNormalize(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" cafe\u0301")).as("text"))
    val norm = graft.text.TextOps.normalizeUnicode(col("text"))
    planted.select(col("doc_id"),
      md5(norm).as("norm_md5"),
      (norm =!= col("text")).cast("long").as("changed"),
      length(norm).cast("long").as("n_chars_norm"))
  }

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))

  /** Bloom-prefiltered exact ingest dedup gate: even-doc_id documents
    * are the persisted corpus; the arriving batch is the odd documents
    * plus PLANTED exact copies of every 10th corpus text (shifted ids) —
    * so both probe outcomes are exercised: the copies must be caught by
    * the bloom AND killed by the verify join, while novel rows flow
    * through the definitely-new path. The oracle is the plain value-level
    * anti-join; the bloom only decides who pays for verification, so any
    * fpp is invisible here by construction. */
  private def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val index = graft.dedup.Bloom.buildIndex(corpus, col("text"),
      numBuckets = 16, expectedItems = 100000L)
    graft.dedup.Bloom.probeNew(index, corpus.select(col("text")), batch,
        col("text"), numBuckets = 16)
      .select(col("doc_id"))
  }

  /** RefinedWeb line-wise dedup gate: newlines are planted with the same
    * word->newline rewrite as txt_paragraph_dedup, then lines whose
    * trimmed form occurs more than twice corpus-wide are removed and
    * every document REBUILT from its survivors; the gate hashes the md5
    * of each reconstructed text, so the count -> threshold -> reorder ->
    * join-back chain must be exact, not just the removal counts. */
  private def txtLineDedup(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).withColumn("text",
      regexp_replace(col("text"), " (the|a|value|table|row) ", "\n"))
    Corpus.dedupLines(planted, "doc_id", "text", maxOccurrences = 2L)
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        md5(col("text").cast("binary")).as("clean_md5"))
  }

  /** Incremental corpus-profile index gate: build the index from the
    * even-id half of `documents`, append the odd-id half, read the
    * merged per-source profile. The count/moment columns are recomputed
    * exactly by the DuckDB oracle. The two HLL-sketch estimates are NOT
    * hash-gated as exact (DataSketches HLL does not guarantee a union
    * of partials equals a directly-built sketch — r9's red gate):
    * instead the query emits `vocab_ok`/`docs_ok`, true iff the
    * INCREMENTAL estimate is within 5% (or ±5 absolute) of the one-shot
    * full-corpus estimate, while the oracle independently requires the
    * one-shot estimate (aux `profile_oneshot`) within the same envelope
    * of DuckDB's exact COUNT(DISTINCT) — both sides must emit `true`,
    * so the chain exact-truth ≈ one-shot ≈ incremental is gated with a
    * stated tolerance at every link, deterministically (no RNG: same
    * data → same sketches → same booleans). */
  /** Build the split-in-two incremental profile index ONCE per sf-dir
    * (memoized path, bbiShared posture — the scratch dir is
    * UUID-unique and immutable after build, so the two profile gates
    * and bench reps share it safely) and return the merged profile. */
  private val profIdxShared =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def builtProfileIncr(s: SparkSession, dir: String): DataFrame = {
    val path = profIdxShared.computeIfAbsent(dir, _ => {
      val all = docs(s, dir)
      val p = scratchFile("profidx")
      ProfileIndex.writeProfileIndex(
        all.filter(col("doc_id") % 2 === 0), "source", "text", p)
      ProfileIndex.appendProfileIndex(
        all.filter(col("doc_id") % 2 =!= 0), "source", "text", p)
      p
    })
    ProfileIndex.readProfile(s, path)
  }

  /** Exact columns ONLY — the HLL tolerance booleans live in the
    * separate `txt_profile_tol` gate so the hashed relation here is
    * pure BIGINT counts/moments the oracle recomputes exactly. */
  private def txtProfileIncr(s: SparkSession, dir: String): DataFrame =
    builtProfileIncr(s, dir)
      .select(col("stratum"), col("n_docs"), col("n_chars"),
        col("n_tokens"), col("tok_min"), col("tok_max"))

  /** Tolerance link of the profile chain: the INCREMENTAL estimate must
    * sit within 5% (or ±5 absolute) of the one-shot full-corpus
    * estimate, while the oracle independently requires the one-shot aux
    * estimate within the same envelope of DuckDB's exact
    * COUNT(DISTINCT) — both sides must emit `true`, so
    * exact-truth ≈ one-shot ≈ incremental is gated at every link,
    * deterministically (no RNG: same data → same sketches → same
    * booleans). */
  private def txtProfileTol(s: SparkSession, dir: String): DataFrame = {
    val incr = builtProfileIncr(s, dir)
    val once = ProfileIndex.profileOneShot(docs(s, dir), "source", "text")
      .select(col("stratum"), col("vocab_est").as("__v1"),
        col("docs_est").as("__d1"))
    def within(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      abs(a.cast("double") - b.cast("double")) <=
        greatest(lit(5.0), lit(0.05) * b.cast("double"))
    incr.join(broadcast(once), Seq("stratum"))
      .select(col("stratum"),
        within(col("vocab_est"), col("__v1")).as("vocab_ok"),
        within(col("docs_est"), col("__d1")).as("docs_ok"))
  }

  /** URL canonicalization fixtures — each exercises a distinct rewrite:
    * case folding, www/default-port stripping, tracking-param removal
    * with every separator-tidy case, multi-part TLDs, non-URL
    * passthrough, null. */
  private val urlFixtures: Seq[String] = Seq(
    "HTTPS://WWW.Example.COM:443/Path/Page/?utm_source=x&id=7&gclid=9#frag",
    "http://example.com:80/",
    "http://news.example.co.uk/a/b?x=1&utm_campaign=c&y=2",
    // ref_src (referral-shaped) strips; functional bare ref survives
    "https://sub.shop.example.com/products?ref=feed&ref_src=twitter",
    "http://repo.example.com.au/tree?ref=main",
    "http://example.com/a/?utm_a=1&utm_b=2",
    // private-section suffixes: the registered domain is the SUBdomain
    "https://user.github.io/Project/",
    "http://files.bucket.s3.amazonaws.com/key",
    "not a url",
    null)

  /** URL canonicalization gate (CCNet/RefinedWeb-style normalization
    * before URL-keyed dedup): canonical form, host, registered domain
    * over the planted fixture table, matched against hand-derived
    * expected values in the oracle (the util_colorstring pattern). */
  private def txtUrlCanon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    urlFixtures.toDF("url").select(col("url"),
      TextOps.canonicalizeUrl(col("url")).as("canon"),
      TextOps.urlHost(col("url")).as("host"),
      TextOps.registeredDomain(col("url")).as("domain"))
  }

  // caps passed EXPLICITLY (ADVICE r13): the DuckDB oracle has no
  // hot-shingle cap, so this gate's semantics must not shift if the
  // library defaults ever change. 100k is far above any fixture df
  // (the sf0.1 documents table tops out around df~200), so the capped
  // relation here is provably identical to the uncapped oracle.
  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3,
        threshold = 0.6, maxShingleDf = Some(100000L),
        maxCandidatePairs = Some(1000000000L))
      .select(col("id_1"), col("id_2"), col("n_common"), col("n_1"),
        col("n_2"), col("jaccard"))

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3,
        numHashes = 48, bands = 16, threshold = 0.6)
      .select(col("id_1"), col("id_2"), col("jaccard"))

  /** Incremental minhash dedup: docs with `doc_id % 3 != 0` play the
    * already-ingested corpus (banded LSH index written to a bucketed
    * table per call); `doc_id % 3 == 0` is the ingest batch probing it.
    * Same LSH parameters as dedup_minhash_lsh, so the result must equal
    * the full recompute restricted to pairs touching the batch — which
    * is exactly what the oracle computes. */
  private def dedupMinhashIncr(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    val mhTable = uniqueTable("graft_mhidx")
    Dedup.writeMinhashIndex(all.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", mhTable, scratchFile("mhidx"),
      // 8 buckets, not the 32-bucket production default: the gate corpus
      // is thousands of rows and per-bucket file/task overhead dominates
      numBuckets = 8)
    Dedup.incrementalMinhashPairs(all.filter(col("doc_id") % 3 === 0),
        all, mhTable, "doc_id", "text",
        n = 3, numHashes = 48, bands = 16, threshold = 0.6)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
      .select(col("id_1"), col("id_2"), col("hamming").cast("long").as("hamming"))

  /** Exact integer-quantized second-moment sums of the embeddings —
    * the distributed half of covariance/PCA (`Ann.pca` eigensolves the
    * dimension-sized result on the driver). Every value is a sum of
    * products of `round(x * 1024)` longs, bit-equal across engines. */
  private def embCov(s: SparkSession, dir: String): DataFrame =
    Ann.covarianceMoments(embs(s, dir))
      .select(col("i"), col("j"), col("s"))

  private def embCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Int8-quantized top-k gate: ranking by reconstructed integer dot
    * (`int_dot * scale_a * scale_b`). The oracle re-derives the
    * quantized vectors from scratch in DuckDB — same round-half-away
    * rule, same clamp, exact integer dot — so this gates the whole
    * quantization arithmetic, not just the ranking. */
  private def embQuantTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.quantizedTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Quantized-scan + exact-rerank gate (the production two-stage shape:
    * int8 first pass over the whole corpus, float cosine only for the
    * top-`rerankDepth` candidates per query). */
  private def embQuantRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.quantizedTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5,
        rerankWith = Some(emb), rerankDepth = 20)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Incremental quantized-IVF-index gate: freeze centroids, build the
    * bucketed int8 index from two thirds of the corpus, append the rest,
    * probe with nProbe=2 + exact rerank. The oracle rebuilds the
    * candidate universe from the ONE-SHOT assignment aux (`ivf_assign`)
    * plus the quantization arithmetic — so this gates the incremental
    * build (2-batch index == one-shot lists). Index and aux share one
    * argmin (`VecNearest`); NearestCentroidSpec holds it to the
    * cross-join `min_by` reference. */
  private def embIvfIncr(s: SparkSession, dir: String): DataFrame = {
    // raw (un-widened) reads: this gate's cost is the write+append
    // orchestration, whose bucketed writes re-shuffle their input
    // anyway — the widen repartition in embs() is a pure extra exchange
    // here, measured net-negative at BOTH sf0.1 (1.11->2.11s med A/B)
    // and sf1 (2.1->2.5s twin) while every sibling gate improved
    val emb = table(s, dir, "embeddings")
    val cents = ivfCents8(s, dir)
    val ivfTable = uniqueTable("graft_ivfidx")
    Ann.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), cents,
      ivfTable, scratchFile("ivfidx"), numBuckets = 8)
    Ann.appendIvfIndex(emb.filter(col("vec_id") % 3 === 0), cents,
      ivfTable, numBuckets = 8)
    Ann.ivfTopKIndexed(s, emb.filter(col("vec_id") % 100 === 0), cents,
        ivfTable, k = 5, nProbe = 2,
        rerankWith = Some(emb), rerankDepth = 20)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Contrastive hard-negative gate: top-5 most-similar OTHER-label
    * vectors per query — exercises the embeddings table's label column;
    * oracle re-ranks with the identical label-mismatch predicate. */
  private def embHardNeg(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.hardNegatives(emb, emb.filter(col("vec_id") % 100 === 0), k = 5)
      .select(col("query_id"), col("neighbor_id"),
        col("neighbor_label").cast("long").as("neighbor_label"),
        col("rank").cast("long").as("rank"))
  }

  private def embAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.lshTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5, numPlanes = 6)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** IVF approximate top-k over the same query set as [[embAnnLsh]]: the
    * inverted-list scale path. kCentroids=8 at test scale (~N/8 per
    * list), nProbe=2. The oracle re-ranks by exact cosine among exactly
    * the candidates the dumped assignment + probe lists admit, verifying
    * quantizer assignment, probe selection, self-exclusion, and ranking
    * end to end. */
  private def embIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 5,
        kCentroids = 8, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Corpus-scale hard negatives: IVF probe lists supply the candidates
    * (same quantizer config and query set as [[embIvfTopk]], reusing its
    * ivf_assign/ivf_probes aux dumps), and only other-label candidates
    * are ranked. The oracle re-ranks exactly the admitted candidates
    * under the label-mismatch predicate — verifying that the corpus is
    * mined list-locally, never cross-joined. */
  private def embHardNegIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    Ann.hardNegativesIvf(emb, emb.filter(col("vec_id") % 100 === 0), k = 5,
        kCentroids = 8, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("neighbor_label").cast("long").as("neighbor_label"),
        col("rank").cast("long").as("rank"))
  }

  /** Train-once posture for the ANN gates (r12 review #7): the coarse
    * centroids and PQ codebooks are deterministic Lloyd outputs, yet
    * every gate re-paying training made the bench measure REBUILD, not
    * search. First use per sf-dir trains, persists through the model
    * artifact APIs (saveCentroids/savePqBooks), and reloads; every
    * later gate and bench rep consumes the LOADED artifact — the
    * production 100 TB posture (train once on a bounded sample, load
    * next to the data forever after), with the load path in the gated
    * lane. Values are identical either way (deterministic trainer +
    * lossless round-trip), so oracles are unaffected. */
  private val ivfCentsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Int, Array[Double])]]()
  private def ivfCents8(s: SparkSession, dir: String)
      : Array[(Int, Array[Double])] =
    ivfCentsMemo.computeIfAbsent(dir, _ => {
      val p = scratchFile("ivf_cents")
      Ann.saveCentroids(s,
        Ann.ivfCentroids(embs(s, dir), 8), p)
      Ann.loadCentroids(s, p)
    })

  /** PQ geometry shared by the gate and its aux dumps: 8 subspaces of 8
    * dims, 16 centroids each (nibble codes). `pqCodebooks` is
    * deterministic, so gate and dumps see identical books. */
  private val pqBooksMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Int, Int, Array[Double])]]()
  private def pqBooks(s: SparkSession, dir: String)
      : Array[(Int, Int, Array[Double])] =
    pqBooksMemo.computeIfAbsent(dir, _ => {
      val p = scratchFile("pq_books_model")
      Ann.savePqBooks(s,
        Ann.pqCodebooks(embs(s, dir), m = 8, k = 16), p)
      Ann.loadPqBooks(s, p)
    })

  /** Product-quantization ADC top-k gate: codes + books recomputed fresh
    * (deterministic Lloyd), asymmetric distances in exact quantized
    * longs; the oracle replays the lookup table, the (sub, code) joins,
    * and the ranking from the dumped books/codes. */
  private def embPqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    val books = pqBooks(s, dir)
    Ann.pqAdcTopK(Ann.pqEncode(emb, books), books,
      emb.filter(col("vec_id") % 100 === 0), k = 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist"))
  }

  /** IVF-shortlisted ADC gate: PQ distances over ONLY the probed
    * inverted lists' members — the composition that replaces the
    * exhaustive ADC scan at corpus scale. Same books/codes as
    * emb_pq_topk and the same coarse quantizer/probe lists as
    * emb_ivf_topk (kCentroids=8, nProbe=2, reusing the ivf_assign/
    * ivf_probes aux dumps), so the oracle replays candidate admission
    * (probe ∘ assignment), the exact-long ADC arithmetic, and the
    * ranking end to end. The fused encode and the dumped assignment
    * share one argmin (`VecNearest`); NearestCentroidSpec holds it to
    * the cross-join `min_by` reference. */
  private def embPqIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    val books = pqBooks(s, dir)
    val cents = ivfCents8(s, dir)
    Ann.pqIvfTopK(Ann.pqIvfEncode(emb, books, cents), books,
      emb.filter(col("vec_id") % 100 === 0), cents, k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist"))
  }

  /** Persisted-index variant of [[embPqIvf]]: the PQ-IVF codes are
    * written ONCE as a `centroid_id`-bucketed table (the
    * [[graft.ann.Ann.writePqIvfIndex]] at-rest layout) and the search
    * runs against that table — the production posture where Lloyd +
    * encode are paid at ingest and a query touches only the probed
    * lists' files. Result is identical to emb_pq_ivf (same books,
    * centroids, queries), so it shares that oracle; what this gate
    * additionally certifies is that the persisted round-trip (bucketed
    * write → catalog read → probe-pruned scan) loses nothing. The
    * search-only wall-clock evidence vs the exhaustive ADC scan is
    * graft.tools.PqIvfBench's committed artifact. */
  /** Oracle for the emb_pq_ivf gates: candidates admitted by
    * probe-list ∘ assignment (the dumped IVF aux), distances replayed
    * with the identical exact-long ADC arithmetic as emb_pq_topk —
    * the shortlist composition end to end. */
  private val pqIvfOracleSql =
    """WITH bk AS (SELECT sub, cid, cv
      |  FROM read_parquet('{AUX_DIR}/pq_books/*.parquet')),
      |cd AS (SELECT vec_id, sub, code
      |  FROM read_parquet('{AUX_DIR}/pq_codes/*.parquet')),
      |asg AS (SELECT vec_id, centroid_id
      |  FROM read_parquet('{AUX_DIR}/ivf_assign/*.parquet')),
      |pr AS (SELECT query_id, centroid_id
      |  FROM read_parquet('{AUX_DIR}/ivf_probes/*.parquet')),
      |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM pr p JOIN asg a USING (centroid_id)),
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id % 100 = 0),
      |t AS (SELECT query_id, sub, cid,
      |    CAST(SUM((CAST(round(qv[sub * 8 + u.i] * 1024) AS BIGINT)
      |              - CAST(round(cv[u.i] * 1024) AS BIGINT))
      |           * (CAST(round(qv[sub * 8 + u.i] * 1024) AS BIGINT)
      |              - CAST(round(cv[u.i] * 1024) AS BIGINT))) AS BIGINT) AS pd
      |  FROM q, bk, UNNEST(generate_series(1, 8)) AS u(i)
      |  GROUP BY 1, 2, 3),
      |d AS (SELECT t.query_id, c.vec_id AS neighbor_id,
      |    CAST(SUM(t.pd) AS BIGINT) AS dist
      |  FROM cd c
      |  JOIN cand ON cand.neighbor_id = c.vec_id
      |  JOIN t ON t.query_id = cand.query_id
      |        AND t.sub = c.sub AND t.cid = c.code
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, dist FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY dist ASC, neighbor_id ASC) AS rn
      |  FROM d WHERE query_id <> neighbor_id) z
      |WHERE rn <= 5""".stripMargin

  private def embPqIvfSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    val books = pqBooks(s, dir)
    val cents = ivfCents8(s, dir)
    val idxTable = uniqueTable("graft_pqivfidx")
    Ann.writePqIvfIndex(emb, books, cents, idxTable,
      scratchFile("pqivfidx"), numBuckets = 8)
    Ann.pqIvfTopK(s.table(idxTable), books,
      emb.filter(col("vec_id") % 100 === 0), cents, k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist"))
  }

  /** DSIR importance-weighting gate: the `doc_id % 7 = 0` slice plays
    * the high-quality target corpus, the full `documents` table the raw
    * crawl; every raw document gets the exact-BIGINT hashed-bigram log
    * importance weight (micro-quantized per-bucket ratios, integer
    * sums — [[graft.text.Dsir]]). The oracle re-derives tokenization,
    * bigram join, md5 bucketing, add-1-smoothed counts, the quantized
    * log ratio with identical operand order, and the sums. */
  private def txtDsir(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.text.Dsir.importanceWeights(
      d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
      numBuckets = 1024)
  }

  /** BPE training gate: 12 merges learned from the full `documents`
    * token stream. The oracle is a GENERATED 12-iteration CTE chain
    * ([[bpeTrainOracle]]) that replays pair counting, the
    * `(count DESC, left, right)` argmax, and the greedy merge fold per
    * iteration — sequential dependence expressed as chained CTEs, so
    * every learned merge and its count gate exactly. */
  private def txtBpe(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.train(docs(s, dir), "text", numMerges = 12)

  /** Fixed merge list for the apply gate — arbitrary but ordered (later
    * merges consume earlier outputs: `th` + `e</w>` exists only after
    * merges 1-2), exercising order sensitivity. */
  private val bpeFixedMerges = Seq(
    ("e", "</w>", "e</w>"), ("t", "h", "th"), ("th", "e</w>", "the</w>"),
    ("a", "n", "an"), ("i", "n", "in"), ("o", "n", "on"))

  /** BPE application gate: corpus subword frequencies under the fixed
    * ordered merge list via [[graft.text.Bpe.subwordCounts]] — the
    * fold runs on the word-count relation, occurrences weight the sum
    * (one corpus pass, vocab-sized everything else); the oracle
    * replays the same folds per vocabulary word and weights by word
    * count. Per-occurrence tokenization (`applyMerges`) is spec-gated
    * in BpeSpec, where equality with this path is asserted. */
  private def txtBpeApply(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.subwordCounts(docs(s, dir), "text", bpeFixedMerges)

  /** BPE oracle symbol encoding: the symbol sequence is ONE string
    * with every symbol WRAPPED in chr(31) (`␟a␟␟b␟…␟</w>␟`), so the
    * greedy left-to-right non-overlapping merge fold is native
    * `replace(s, '␟a␟␟b␟', '␟ab␟')` — DuckDB's replace scans left to
    * right and continues AFTER each substitution, which is exactly
    * BPE's fold semantics (verified: `␟a␟␟a␟␟a␟␟a␟` under (a,a)
    * becomes `␟aa␟␟aa␟`, never re-merging output). The wrap anchors
    * BOTH pattern ends at symbol boundaries (a trailing-only
    * separator falsely merged `[ban, a]` under (an,a) across the
    * symbol start), and a wrap rather than one shared boundary
    * separator keeps back-to-back non-overlapping merges intact (the
    * first substitution would consume the shared `␟`). Same encoding
    * as the engine (graft.text.Bpe). Symbols are `[a-z0-9]` chars,
    * `</w>`, and their concatenations — chr(31) can never occur
    * inside one. */
  private val bpeSymsOfSql =
    "list_filter(string_split(s, chr(31)), x -> len(x) > 0)"

  private val bpeWs0Sql =
    """WITH d AS (SELECT list_filter(string_split_regex(lower(
      |    COALESCE(text, '')), '[^a-z0-9]+'), x -> len(x) > 0) AS l
      |  FROM documents),
      |ws0 AS MATERIALIZED (SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS n,
      |    array_to_string(list_transform(
      |      list_append(list_transform(range(1, len(t) + 1),
      |        i -> substring(t, CAST(i AS INT), 1)), '</w>'),
      |      c -> chr(31) || c || chr(31)), '') AS s
      |  FROM (SELECT u.t AS t FROM d, UNNEST(l) AS u(t)) tk
      |  GROUP BY 1)""".stripMargin

  /** Generated k-iteration BPE training replay: per iteration a pair
    * count, a 1-row argmax with the engine's exact tiebreak, and (for
    * all but the last) the replace-fold producing the next
    * vocabulary. */
  private def bpeTrainOracle(k: Int): String = {
    val sb = new StringBuilder(bpeWs0Sql)
    for (i <- 1 to k) {
      sb ++= s""",
sy$i AS (SELECT n, $bpeSymsOfSql AS syms FROM ws${i - 1}),
p$i AS (SELECT syms[j] AS s1, syms[j+1] AS s2, CAST(SUM(n) AS BIGINT) AS c
  FROM sy$i, UNNEST(generate_series(1, len(syms) - 1)) AS t(j)
  GROUP BY 1, 2),
m$i AS (SELECT s1, s2, s1 || s2 AS m, c FROM p$i
  ORDER BY c DESC, s1, s2 LIMIT 1)"""
      // MATERIALIZED: ws_i is referenced twice (sy_{i+1} and ws_{i+1});
      // inlined CTEs would recompute the whole chain per reference —
      // 2^k blowup (the original list_reduce oracle OOM'd at sf1 for
      // exactly this reason).
      if (i < k) sb ++= s""",
ws$i AS MATERIALIZED (SELECT word, n,
  replace(s, chr(31) || mm.s1 || chr(31) || chr(31) || mm.s2 || chr(31),
    chr(31) || mm.m || chr(31)) AS s
  FROM ws${i - 1}, m$i mm)"""
    }
    sb ++= (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, s1 AS "left", s2 AS "right",
  m AS merged, c AS pair_n FROM m$i""").mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** Generated fixed-merge apply replay: one replace-fold per merge in
    * [[bpeFixedMerges]] order, then subword counts weighted by word
    * frequency. */
  /** The fixed-merge replace-fold as one nested DuckDB expression over
    * packed column `s` — wrap-anchored pattern/replacement (class doc
    * of [[bpeSymsOfSql]]). */
  private def bpeFoldSql: String =
    bpeFixedMerges.foldLeft("s") { case (acc, (a, b, m)) =>
      def q(x: String) = s"'${x.replace("'", "''")}'"
      s"replace($acc, chr(31) || ${q(a)} || chr(31) || chr(31) || " +
        s"${q(b)} || chr(31), chr(31) || ${q(m)} || chr(31))"
    }

  private def bpeApplyOracle: String = {
    val folded = bpeFoldSql
    s"""$bpeWs0Sql,
wsF AS (SELECT n, $folded AS s FROM ws0)
SELECT sub AS subword, CAST(SUM(n) AS BIGINT) AS n
FROM (SELECT n, UNNEST($bpeSymsOfSql) AS sub FROM wsF) GROUP BY 1"""
  }

  /** Z-order layout gate: min-max-scale `(l_partkey, l_suppkey)` onto
    * the full 21-bit lane domain, Morton-interleave, assign rows to
    * the 64-cell top-6-bit prefix grid, and emit each cell's row count
    * and per-axis min/max extents — exactly the parquet footer
    * statistics a skipping reader would consult. Deterministic (no
    * sampled range boundaries), bounded output (<=64 rows), and the
    * lane scaling keeps the grid fully exercised at EVERY SF (raw
    * 21-bit lanes would collapse sf0.001's [1,200] partkey domain into
    * one cell). The oracle replays scaling, interleave, and grid
    * assignment term by term. */
  private def layZorder(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.zLayoutStatsScaled(table(s, dir, "lineitem"),
      Seq("l_partkey", "l_suppkey"), bits = 21, fileBits = 6)

  /** The 42 per-bit interleave terms of [[layZorder]]'s z-value as a
    * DuckDB expression over min-max-scaled lanes `a` (even positions)
    * and `b` (odd). */
  private def zorderOracleSql: String = {
    val terms = (0 until 21).flatMap(i => Seq(
      s"(((a >> $i) & 1) << ${2 * i})", s"(((b >> $i) & 1) << ${2 * i + 1})"))
    s"""WITH mx AS (
  SELECT GREATEST(MAX(GREATEST(CAST(l_partkey AS BIGINT), 0)), 1) AS mpk,
         GREATEST(MAX(GREATEST(CAST(l_suppkey AS BIGINT), 0)), 1) AS msk
  FROM lineitem),
lanes AS (
  SELECT (GREATEST(CAST(l_partkey AS BIGINT), 0) * 2097151) // mpk AS a,
         (GREATEST(CAST(l_suppkey AS BIGINT), 0) * 2097151) // msk AS b,
         GREATEST(CAST(l_partkey AS BIGINT), 0) AS pk,
         GREATEST(CAST(l_suppkey AS BIGINT), 0) AS sk
  FROM lineitem, mx),
z AS (SELECT ${terms.mkString(" | ")} AS z, pk, sk FROM lanes)
SELECT z >> 36 AS file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(pk) AS min_l_partkey, MAX(pk) AS max_l_partkey,
  MIN(sk) AS min_l_suppkey, MAX(sk) AS max_l_suppkey
FROM z GROUP BY 1"""
  }

  /** BPE encode gate: the corpus tokenized to id sequences under the
    * fixed merge list — `(doc_id, word_pos, sub_pos, token_id)`, one
    * row per token with its exact position, ids = binary-order rank of
    * the subword. The oracle replays tokenization with ordinals, the
    * replace-folds, the rank assignment, and both position ordinals. */
  private def txtBpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.encodeIds(docs(s, dir), "doc_id", "text",
      bpeFixedMerges)

  /** Unigram-LM (SentencePiece-style) tokenizer gate: seed a piece
    * inventory from corpus substrings (len <= 4, floor 2, top-64 +
    * every char), score with micro-quantized log frequencies, and
    * Viterbi-encode the corpus to `(doc_id, word_pos, sub_pos,
    * token_id)` — the other of the two tokenizer constructions LLM
    * pipelines use, gated end to end. No EM here (the trainer is
    * spec-gated in UnigramSpec); the oracle replays seeding, scoring,
    * and the exact-Long DP with its deterministic tie rules
    * position by position. */
  private def txtUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pieces = graft.text.Unigram.seedPieces(
      graft.text.Unigram.wordCounts(d, "text"),
      maxPieceLen = 4, minCount = 2L, maxSeed = 64)
    graft.text.Unigram.encodeIds(d, "doc_id", "text", pieces,
      maxPieceLen = 4)
  }

  /** Generated Viterbi-DP CTE block over CTEs `words(word)` and
    * `<pieces>(piece, logp)`: `maxP` chained per-position DP CTEs
    * (argmin per word by the engine's exact tie rule: score DESC,
    * piece count ASC, last-piece length DESC) and `maxP` backtrack
    * CTEs, ending in `<pfx>segs(word, piece, sub_pos)` — the
    * BPE-train-oracle generated-chain idiom, reused by both the
    * encode and train oracles. */
  private def unigramDpSql(pieces: String, pfx: String,
                           maxP: Int, maxL: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""${pfx}dp0 AS (SELECT word, CAST(0 AS BIGINT) AS score, 0 AS np, 0 AS ll
  FROM words)"""
    for (p <- 1 to maxP) {
      val branches = (1 to math.min(maxL, p)).map { l =>
        s"""    SELECT d.word, d.score + pc.logp AS score, d.np + 1 AS np, $l AS ll
    FROM ${pfx}dp${p - l} d JOIN $pieces pc
      ON pc.piece = substr(d.word, ${p - l + 1}, $l)
    WHERE len(d.word) >= $p"""
      }.mkString("\n    UNION ALL\n")
      sb ++= s""",
${pfx}dp$p AS MATERIALIZED (SELECT word, score, np, ll FROM (
  SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c.word
    ORDER BY c.score DESC, c.np ASC, c.ll DESC) AS rn FROM (
$branches
  ) c) z WHERE rn = 1)"""
    }
    sb ++= s""",
${pfx}dpall AS MATERIALIZED (${(1 to maxP).map(p =>
      s"SELECT $p AS p, word, np, ll FROM ${pfx}dp$p").mkString("\n  UNION ALL ")}),
${pfx}bt0 AS (SELECT word, CAST(len(word) AS INT) AS pos FROM words)"""
    for (k <- 0 until maxP) {
      sb ++= s""",
${pfx}e$k AS MATERIALIZED (SELECT b.word,
    substr(b.word, b.pos - d.ll + 1, d.ll) AS piece,
    CAST(d.np - 1 AS BIGINT) AS sub_pos, b.pos - d.ll AS nxt
  FROM ${pfx}bt$k b JOIN ${pfx}dpall d ON d.word = b.word AND d.p = b.pos
  WHERE b.pos > 0),
${pfx}bt${k + 1} AS (SELECT word, nxt AS pos FROM ${pfx}e$k WHERE nxt > 0)"""
    }
    sb ++= s""",
${pfx}segs AS (${(0 until maxP).map(k =>
      s"SELECT word, piece, sub_pos FROM ${pfx}e$k").mkString("\n  UNION ALL ")})"""
    sb.toString
  }

  /** Shared seed+score CTE block ending in `pieces(piece, cnt, logp)`
    * over `toks`/`wc`/`words` — the exact [[graft.text.Unigram
    * .seedPieces]] recipe (floor, deterministic truncation, every
    * char, window-total micro-quantized scores). */
  private def unigramSeedSql(maxL: Int, maxSeed: Int): String =
    s"""toks AS (SELECT doc_id, list_filter(string_split_regex(lower(
  COALESCE(text, '')), '[^a-z0-9]+'), x -> len(x) > 0) AS l
  FROM documents),
w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_pos, l[i] AS word
  FROM toks, UNNEST(generate_series(1, len(l))) AS t(i)),
wc AS MATERIALIZED (SELECT u.t AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks, UNNEST(l) AS u(t) GROUP BY 1),
words AS MATERIALIZED (SELECT word FROM wc),
subs AS (SELECT substr(word, CAST(a.i AS INT),
      CAST(b.j - a.i + 1 AS INT)) AS piece,
    CAST(SUM(n) AS BIGINT) AS cnt
  FROM wc, UNNEST(generate_series(1, len(word))) AS a(i),
  UNNEST(generate_series(a.i, least(len(word), a.i + ${maxL - 1}))) AS b(j)
  GROUP BY 1),
inv AS MATERIALIZED (
  SELECT piece, cnt FROM subs WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (SELECT piece, cnt FROM subs
    WHERE len(piece) > 1 AND cnt >= 2
    ORDER BY cnt DESC, piece LIMIT $maxSeed) z),
pieces AS MATERIALIZED (SELECT piece, cnt,
    CAST(round(ln(CAST(cnt AS DOUBLE) /
      CAST((SELECT SUM(cnt) FROM inv) AS DOUBLE)) * 1e6) AS BIGINT) AS logp
  FROM inv)"""

  /** Unigram-LM TRAINER gate: one hard-EM round over the seed
    * inventory, prune to 24 pieces (single chars always kept), final
    * re-score — the full [[graft.text.Unigram.train]] recipe with
    * emIters=1. The oracle replays the EM end to end: seed + score,
    * the Viterbi DP chain under seed scores, occurrence-weighted
    * piece recount, the char floor, deterministic prune, and the
    * final micro-quantized re-score. */
  private def txtUnigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.text.Unigram.train(docs(s, dir), "text", vocabSize = 24,
      maxPieceLen = 4, emIters = 1, minCount = 2L, maxSeed = 64)

  private def unigramTrainOracle(maxP: Int = 16, maxL: Int = 4): String =
    s"""WITH ${unigramSeedSql(maxL, 64)},
${unigramDpSql("pieces", "", maxP, maxL)},
used AS MATERIALIZED (SELECT s.piece, CAST(SUM(wc.n) AS BIGINT) AS cnt
  FROM segs s JOIN wc USING (word) GROUP BY 1),
em1 AS MATERIALIZED (
  SELECT piece, cnt FROM used
  UNION ALL
  SELECT i.piece, CAST(1 AS BIGINT) AS cnt FROM inv i
  WHERE len(i.piece) = 1
    AND i.piece NOT IN (SELECT piece FROM used)),
kept AS MATERIALIZED (
  SELECT piece, cnt FROM em1 WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (SELECT piece, cnt FROM em1 WHERE len(piece) > 1
    ORDER BY cnt DESC, piece
    LIMIT GREATEST(24 - (SELECT COUNT(*) FROM em1 WHERE len(piece) = 1),
      0)) z),
cert AS (SELECT MAX(len(word)) <= $maxP AS ok FROM words)
SELECT piece, cnt,
  CAST(round(ln(CAST(cnt AS DOUBLE) /
    CAST((SELECT SUM(cnt) FROM kept) AS DOUBLE)) * 1e6) AS BIGINT)
    AS logp_micro
FROM kept WHERE (SELECT ok FROM cert)"""

  /** Oracle for [[txtUnigramEncode]]: seed + score + DP + backtrack +
    * binary-rank ids, with a loud depth cert. */
  private def unigramEncodeOracle(maxP: Int = 16, maxL: Int = 4): String =
    s"""WITH ${unigramSeedSql(maxL, 64)},
ids AS MATERIALIZED (SELECT piece,
    CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS token_id
  FROM (SELECT DISTINCT piece FROM inv)),
${unigramDpSql("pieces", "", maxP, maxL)},
cert AS (SELECT MAX(len(word)) <= $maxP AS ok FROM words)
SELECT w.doc_id, w.word_pos, s.sub_pos, i.token_id
FROM w JOIN segs s USING (word) JOIN ids i USING (piece)
WHERE (SELECT ok FROM cert)"""

  private def bpeEncodeOracle: String = {
    val folded = bpeFoldSql
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(
  COALESCE(text, '')), '[^a-z0-9]+'), x -> len(x) > 0) AS l
  FROM documents),
w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_pos, l[i] AS word
  FROM toks, UNNEST(generate_series(1, len(l))) AS t(i)),
vs AS (SELECT word,
    array_to_string(list_transform(
      list_append(list_transform(range(1, len(word) + 1),
        i -> substring(word, CAST(i AS INT), 1)), '</w>'),
      c -> chr(31) || c || chr(31)), '') AS s
  FROM (SELECT DISTINCT word FROM w)),
subs AS MATERIALIZED (SELECT word,
    list_filter(string_split($folded, chr(31)), x -> len(x) > 0) AS syms
  FROM vs),
ids AS (SELECT subword,
    CAST(ROW_NUMBER() OVER (ORDER BY subword) AS BIGINT) AS token_id
  FROM (SELECT DISTINCT u.sub AS subword
        FROM subs, UNNEST(syms) AS u(sub))),
enc AS (SELECT w.doc_id, w.word_pos, CAST(j - 1 AS BIGINT) AS sub_pos,
    syms[j] AS subword
  FROM w JOIN subs USING (word),
  UNNEST(generate_series(1, len(syms))) AS t(j))
SELECT doc_id, word_pos, sub_pos, token_id
FROM enc JOIN ids USING (subword)"""
  }

  /** HDR-quantile gate: per-language document-length quantiles from the
    * deterministic log-bucket histogram (sbBits=4 so multi-value
    * buckets actually occur at every SF). Output is the quantile
    * REPORT — crossing bucket's inclusive lower bound + width + the
    * exact crossing masses — all integer, replayed term-for-term by
    * the oracle. */
  private def txtLenQuantiles(s: SparkSession, dir: String): DataFrame = {
    val h = graft.text.Hdr.buildHistogram(docs(s, dir), "n_chars",
      Seq("lang"), sbBits = 4)
    graft.text.Hdr.quantiles(h, Seq("lang"), Seq(250, 500, 900, 990),
      sbBits = 4)
  }

  /** DuckDB replay of [[txtLenQuantiles]]: same integer bucket index,
    * bounds, and `cum*1000 >= total*q` crossing. */
  private val hdrQuantilesOracleSql =
    """WITH v AS (SELECT lang, GREATEST(CAST(n_chars AS BIGINT), 0) AS v
      |  FROM documents),
      |bk AS (SELECT lang, CASE WHEN v < 16 THEN v
      |    ELSE ((length(bin(v)) - 4) << 4)
      |         + ((v >> (length(bin(v)) - 5)) - 16) END AS bucket
      |  FROM v),
      |h AS (SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM bk GROUP BY 1, 2),
      |c AS (SELECT lang, bucket, n,
      |    CAST(SUM(n) OVER (PARTITION BY lang ORDER BY bucket)
      |      AS BIGINT) AS cum_n,
      |    CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS total_n
      |  FROM h),
      |q AS (SELECT CAST(UNNEST([250, 500, 990, 900]) AS BIGINT) AS qp)
      |SELECT lang, qp AS q_permille,
      |  CASE WHEN bucket < 16 THEN bucket
      |    ELSE ((1::BIGINT) << ((bucket >> 4) + 3))
      |         + ((bucket & 15) << ((bucket >> 4) - 1)) END AS lo,
      |  CASE WHEN bucket < 16 THEN CAST(1 AS BIGINT)
      |    ELSE (1::BIGINT) << ((bucket >> 4) - 1) END AS width,
      |  cum_n, total_n
      |FROM c, q
      |WHERE cum_n * 1000 >= total_n * qp
      |  AND (cum_n - n) * 1000 < total_n * qp""".stripMargin

  /** Fuzzy-decontamination gate: the `doc_id % 97 = 0` slice plays the
    * benchmark, the full corpus is screened for near-duplicate leakage
    * via MinHash banding + exact-Jaccard certification. The oracle is
    * banding-free TRUTH — every corpus x eval shingle-Jaccard >= 0.6
    * pair from a direct SQL replay — so the gate certifies LSH recall
    * (any pair the bands miss hash-fails), exactly like
    * dedup_minhash_lsh does for the self-join case. Eval docs are in
    * the corpus, so each self-flags at 1.0: non-vacuous at sf0.001
    * (6 eval docs). */
  private def txtDecontamFuzzy(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.decontaminateFuzzy(d, d.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3, numHashes = 48, bands = 16, threshold = 0.6)
  }

  /** Hybrid-retrieval gate: BM25 over `documents` text and brute-force
    * cosine over `embeddings` (the two id spaces are aligned by fixture
    * design), queries = the `% 250 = 0` slice on BOTH sides so the
    * rankings share query ids, fused by exact nano-unit RRF
    * ([[graft.text.Fusion]]). The oracle replays both rankings in full
    * (the txt_bm25 and emb_cosine_topk oracle bodies as CTEs) plus the
    * reciprocal-rank arithmetic — so lexical scoring, dense ranking,
    * and fusion all gate end to end. Non-vacuous at sf0.001 (2 query
    * docs). */
  private def txtHybrid(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val q = d.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextOps.tokens(col("text")), 1, 6), " ").as("text"))
    val lex = graft.text.Bm25.topK(d, q, k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = embs(s, dir)
    val dense = Ann.bruteForceTopK(emb,
        emb.filter(col("vec_id") % 250 === 0), k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.text.Fusion.reciprocalRankFusion(Seq(lex, dense), k = 10)
      .select(col("query_id"), col("doc_id"), col("rrf_score"),
        col("n_lists"), col("rank").cast("long").as("rank"))
  }

  /** Count-Min Sketch gate: sketch the full corpus token stream
    * (depth 4 x width 2048 — deliberately tight so collisions REALLY
    * occur and the min-over-rows estimate differs from truth on some
    * probes), then point-estimate every distinct token of the
    * `doc_id % 101 = 0` slice alongside its exact corpus count. The
    * oracle replays cell hashing (md5 row salts), cell counts, the
    * min-estimate, and the exact counts — and the result data itself
    * exhibits the CMS contract (`est >= n_true`, equal wherever no
    * collision landed). Non-vacuous at sf0.001 (~5 probe docs). */
  private def txtCms(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sk = graft.text.Cms.buildSketch(d, "text", depth = 4, width = 2048)
    val probes = d.filter(col("doc_id") % 101 === 0)
      .select(explode(TextOps.tokens(col("text"))).as("term")).distinct()
    val truth = d.select(explode(TextOps.tokens(col("text"))).as("term"))
      .join(broadcast(probes), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n_true"))
    graft.text.Cms.estimate(sk, probes, "term", depth = 4, width = 2048)
      .join(truth, Seq("term"), "left")
      .select(col("term"), col("est"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
  }

  /** Build one WARC record (version line, CRLF headers, blank line,
    * Content-Length bytes of block, CRLF CRLF). */
  private def warcRecord(tpe: String, uri: String, date: String,
                         ctype: String, body: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $tpe\r\n"
    if (uri != null) h ++= s"WARC-Target-URI: $uri\r\n"
    h ++= s"WARC-Date: $date\r\n"
    h ++= s"WARC-Record-ID: <urn:uuid:$tpe-${Option(uri).getOrElse("info")}>\r\n"
    h ++= s"Content-Type: $ctype\r\n"
    h ++= s"Content-Length: ${body.length}\r\n\r\n"
    h.toString.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
  }

  /** WARC/WET source gate: two planted archive files — one plain, one
    * gzip — holding warcinfo/response/conversion records with multi-
    * byte UTF-8, an embedded newline, and an empty block; `readWet`
    * must surface exactly the conversion records with byte-exact
    * Content-Length slicing and UTF-8 decoding (the oracle re-derives
    * char counts and md5 from the same literal texts — the
    * txt_url_canon fixture pattern). The gzip file exercises the
    * multi-member-capable codec path. */
  private def ioWarc(s: SparkSession, dir: String): DataFrame = {
    val base = graft.core.Scratch.dir
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val d = new java.io.File(s"$base/warcfix"); d.mkdirs()
    val textA = "hello warc world\nsecond line"
    val textC = "café déjà vu\ncrlf line"
    val textE = "gzip member text"
    def b(s0: String) = s0.getBytes("UTF-8")
    val plain =
      warcRecord("warcinfo", null, "2026-01-01T00:00:00Z",
        "application/warc-fields", b("software: graft\r\n")) ++
      warcRecord("conversion", "http://a.example/page", "2026-01-01T00:00:01Z",
        "text/plain", b(textA)) ++
      warcRecord("response", "http://b.example/raw", "2026-01-01T00:00:02Z",
        "application/http", b("HTTP/1.1 200 OK\r\n\r\nbody")) ++
      warcRecord("conversion", "http://c.example/caf%C3%A9",
        "2026-01-01T00:00:03Z", "text/plain", b(textC)) ++
      warcRecord("conversion", "http://d.example/empty",
        "2026-01-01T00:00:04Z", "text/plain", Array.emptyByteArray)
    val gzBody =
      warcRecord("warcinfo", null, "2026-01-02T00:00:00Z",
        "application/warc-fields", b("software: graft\r\n")) ++
      warcRecord("conversion", "http://e.example/zipped",
        "2026-01-02T00:00:01Z", "text/plain", b(textE))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(gzBody); gz.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/warcfix/fix.wet"), plain)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/warcfix/fix.wet.gz"), bos.toByteArray)
    graft.io.Warc.readWet(s, s"$base/warcfix/*")
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("record_index").cast("long").as("record_index"),
        col("target_uri"), col("warc_date"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("text_md5"))
  }

  /** BM25 top-k retrieval gate: every 250th document's first 6 tokens
    * form a query; the full corpus is indexed and searched. Scores are
    * engine-exact BIGINTs (micro-unit idf × nano-unit tf-normalization,
    * summed in integers — see [[graft.text.Bm25]]), so the oracle
    * replays postings, document frequencies, the quantized arithmetic,
    * and the ranking bit-for-bit. */
  private def txtBm25(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val q = d.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextOps.tokens(col("text")), 1, 6), " ").as("text"))
    graft.text.Bm25.topK(d, q, k = 10)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** Positional phrase-search gate: every 5th doc gets " alpha beta
    * gamma" appended (every 10th twice — multiple occurrences per doc),
    * every 7th the near-miss " alpha beta delta" (matches the 2-token
    * prefix, never the phrase). The oracle replays tokenization, the
    * positional postings, and the consecutive-position join chain. */
  private def txtPhrase(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 5 === 0, lit(" alpha beta gamma"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" alpha beta delta"))
        .otherwise(lit("")),
      when(col("doc_id") % 10 === 0, lit(" alpha beta gamma"))
        .otherwise(lit(""))).as("text"))
    graft.text.Bm25.phraseMatches(planted, Seq("alpha", "beta", "gamma"))
  }

  /** Natural duplicate edges for the components gate: exact-duplicate
    * star edges (each doc in a same-md5 group linked to the group's min
    * id). One hash shuffle — deliberately NOT the minhash pipeline, which
    * is already gated by dedup_minhash_lsh and cost 24-33s of pure
    * upstream re-computation per components run (r5 verdict #4): the
    * components gate should time component RESOLUTION, not signature
    * generation again. */
  private def exactDupEdges(s: SparkSession, dir: String): DataFrame = {
    val h = docs(s, dir).select(col("doc_id"), md5(col("text")).as("__h"))
    val roots = h.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("id_1"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("__h"), col("id_1"))
    h.join(roots, Seq("__h"))
      .filter(col("doc_id") =!= col("id_1"))
      .select(col("id_1"), col("doc_id").as("id_2"))
  }

  /** Duplicate-cluster resolution: natural exact-duplicate star edges
    * unioned with an arithmetic 8-node path and a 5-leaf star — planted
    * shapes that force multi-hop label propagation (the path needs 7
    * rounds; natural dup groups are stars that converge in one). The
    * oracle is a recursive-CTE transitive closure over the identical edge
    * relation (aux dump `dup_pairs`). */
  private def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    val nat = exactDupEdges(s, dir)
    val chain = s.range(0, 7).select((col("id") + 1000000L).as("id_1"),
      (col("id") + 1000001L).as("id_2"))
    val star = s.range(0, 5).select(lit(2000000L).as("id_1"),
      (col("id") + 2000001L).as("id_2"))
    Dedup.resolveComponents(nat.unionByName(chain).unionByName(star))
      .select(col("id"), col("component_id"))
  }

  /** Representative-selection gate: natural exact-duplicate components
    * resolved, then one doc kept per cluster by (n_chars desc, doc_id
    * asc) — exact duplicates tie on n_chars, so the id tiebreak is
    * exercised on every cluster; the corpus's non-duplicate majority
    * takes the map-only singleton branch. Oracle replays the recursive
    * closure over the dumped natural edges plus the identical ranking
    * window. */
  private def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val comps = Dedup.resolveComponents(exactDupEdges(s, dir))
    Dedup.keepBestPerComponent(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        comps, "doc_id", "n_chars")
      .select(col("doc_id"), col("component_id"), col("is_kept"))
  }

  /** Embeddings plus planted near-duplicates: every 50th vector rescaled
    * by 0.5 under a fresh id. Power-of-two scaling is exact in IEEE
    * arithmetic, so the planted copy provably lands in the same LSH bucket
    * (every hyperplane projection is exactly halved) with cosine ~1 — the
    * dedup gate cannot be vacuously green. */
  private def augEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.filter(col("vec_id") % 50 === 0).select(
        (col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding")))
  }

  private def embCosineDedup(s: SparkSession, dir: String): DataFrame =
    Ann.cosineDedupPairs(augEmb(s, dir), threshold = 0.9, numPlanes = 6)
      .select(col("id_1"), col("id_2"))

  /** SemDeDup gate: [[augEmb]]'s 0.5-scaled planted copies are
    * direction-identical to their originals, so spherical clustering
    * puts each copy in its original's cluster and the pair verifies at
    * cosine ~1 — `keep` drops the copy (min-id representative = the
    * original). The oracle takes the dumped assignment as given and
    * recomputes pairs, components (recursive CTE) and the keep rule. */
  private def embSemDedup(s: SparkSession, dir: String): DataFrame =
    Ann.semDedup(augEmb(s, dir), threshold = 0.9, kCentroids = 8, iters = 2)

  /** [[augEmb]] plus a deliberately crowded LSH bucket: 500 copies of
    * vector 0, 0.5-scaled (positive scaling preserves every hyperplane
    * projection's sign, so all 500 provably share vector 0's bucket). */
  private def crowdEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = embs(s, dir)
    val crowd = emb.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(20000000L), lit(20000499L))).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
    augEmb(s, dir).unionByName(crowd)
  }

  /** Occupancy-cap gate: with `maxBucketSize = 400` the 500-row planted
    * bucket is dropped from the candidate universe (no pair in the output
    * touches it — neither crowd-crowd nor crowd-natural), while every
    * normal bucket (~8-31 rows at test scale) and its planted near-dup
    * pairs survive. Proves the cap bounds the self-join, non-vacuously. */
  private def embLshCap(s: SparkSession, dir: String): DataFrame =
    Ann.cosineDedupPairs(crowdEmb(s, dir), threshold = 0.9, numPlanes = 6,
        maxBucketSize = Some(400L))
      .select(col("id_1"), col("id_2"))

  /** Multimodal decode gate: documents' text as opaque binary payloads
    * pushed through `Multimodal.decode`'s mapPartitions boundary (the stub
    * codec — a real JNI decoder slots in with the same signature and plan
    * shape); the oracle recomputes the stub's metadata arithmetic from the
    * text lengths, so the gate fails if the decode boundary drops, dups,
    * or mangles rows. */
  private def mmMeta(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.decode(
        graft.mm.Multimodal.asMedia(docs(s, dir), "doc_id", "text",
          "text/plain"))
      .select(col("media_id").as("doc_id"), col("n_bytes"),
        col("width").cast("long").as("fake_width"),
        col("height").cast("long").as("fake_height"),
        col("n_frames").cast("long").as("n_frames"))

  /** Frame-sampling gate: decode -> every-5th-frame explode, the
    * per-frame fan-out a video pipeline hangs decode work off. The
    * oracle regenerates the stub's frame count from text lengths and
    * explodes with generate_series — gating the whole
    * decode->n_frames->explode chain. */
  private def mmFrames(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.sampleFrames(
        graft.mm.Multimodal.decode(
          graft.mm.Multimodal.asMedia(docs(s, dir), "doc_id", "text",
            "text/plain")),
        step = 5)
      .select(col("media_id").as("doc_id"), col("frame").cast("long").as("frame"))

  /** REAL-codec multimodal gate: deterministic solid-fill PNGs are
    * encoded on the executors (`Multimodal.syntheticPng`, real
    * `javax.imageio` PNG writer) and pushed back through
    * `Multimodal.decode`'s image path — the gate passes only if the real
    * decoder recovers the PLANTED pixel dimensions of every payload
    * (encode->decode round trip, not byte-stat arithmetic). The oracle
    * recomputes the planted dims from doc_id; the mean-RGB feature and
    * the corrupt-payload null path are spec'd (MultimodalSpec), floats
    * staying out of the hash per the gate-authoring rule. Non-vacuous at
    * sf0.001: 72 rows. */
  private def mmDecode(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.decode(
        graft.mm.Multimodal.syntheticPng(
          docs(s, dir).filter(col("doc_id") % 7 === 0), "doc_id"))
      .select(col("media_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))

  /** Perceptual-hash dedup gate over REAL pixels: the two-tone fixture
    * plants 7 pixel-content classes (split position = doc_id % 7) across
    * every 3rd doc; the engine PNG-encodes, imageio-decodes, aHashes,
    * and groups — the gate passes only if the real hash maps ids
    * congruent mod 7 together (stability) AND apart across classes (no
    * collision), which the oracle derives from the planted arithmetic
    * alone. */
  private def mmPhashDedup(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.phashGroups(
        graft.mm.Multimodal.syntheticPngTwoTone(
          docs(s, dir).filter(col("doc_id") % 3 === 0), "doc_id"))
      .select(col("media_id").as("doc_id"), col("rep_id"))

  /** REAL-codec audio gate: deterministic PCM16 sines are RIFF-encoded on
    * the executors (`Multimodal.syntheticWav`, from-scratch container
    * builder) and pushed back through `Multimodal.decodeAudio`'s WAV
    * parser — the gate passes only if the real parser recovers the
    * PLANTED format words and sample counts of every payload
    * (encode -> decode round trip). The oracle recomputes the planted
    * arithmetic from doc_id; the RMS feature and the corrupt-payload
    * null path stay in the spec (MultimodalSpec), floats out of the hash
    * per the gate-authoring rule. */
  private def mmAudio(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.decodeAudio(
        graft.mm.Multimodal.syntheticWav(
          docs(s, dir).filter(col("doc_id") % 11 === 0), "doc_id"))
      .select(col("media_id").as("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("bits").cast("long").as("bits"),
        col("n_samples"),
        col("duration_ms"))

  /** REAL-container video gate: deterministic metadata-only ISO-BMFF
    * movies are built on the executors (`Multimodal.syntheticMp4`,
    * from-scratch box builder) and pushed back through
    * `Multimodal.decodeVideo`'s MP4 box walk — the gate passes only if
    * the real parser recovers the PLANTED tkhd dimensions, stsz frame
    * count, and mvhd duration of every payload (build -> parse round
    * trip). The oracle recomputes the planted box arithmetic from
    * doc_id; corrupt-payload and no-video-track null paths stay in the
    * spec (MultimodalSpec). Non-vacuous at sf0.001 (doc_id % 9). */
  /** Real frame extraction gate: the fixture's two-chunk stsc/stco/stsz
    * layout is walked for real and every 4th frame's bytes come back
    * out of the mdat; the oracle recomputes each sampled frame's md5
    * and length from [[graft.mm.Multimodal.plantedFrame]]'s ASCII
    * arithmetic — so a wrong offset, size, or chunk split changes the
    * hash. */
  private def mmFrameExtract(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.extractFrames(
        graft.mm.Multimodal.syntheticMp4(
          docs(s, dir).filter(col("doc_id") % 9 === 0), "doc_id"),
        step = 4)
      .select(col("media_id").as("doc_id"),
        col("frame").cast("long").as("frame"),
        md5(col("frame_bytes")).as("frame_md5"),
        length(col("frame_bytes")).cast("long").as("frame_len"))

  private def mmVideo(s: SparkSession, dir: String): DataFrame =
    graft.mm.Multimodal.decodeVideo(
        graft.mm.Multimodal.syntheticMp4(
          docs(s, dir).filter(col("doc_id") % 9 === 0), "doc_id"))
      .select(col("media_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"),
        col("duration_ms"))

  // ------------------------------------------------------- SQL extension

  /** Plain-SQL interval overlap planned through the Catalyst extension
    * (`plans.IntervalJoinRewrite`, active via `spark.sql.extensions` in
    * the Verify/Bench sessions): the user writes the textbook range
    * predicate and the optimizer rule rewrites the join onto genome bins
    * — same candidate algebra as `iv_overlap_inner`, arrived at from raw
    * SQL instead of the DataFrame API. No point promotion here: the SQL
    * text means exactly what it says, and the oracle runs the identical
    * text. Bin width is sized to the test coordinate space through the
    * rule's runtime conf (sticky on the session — harmless: only these
    * SQL-shaped joins consult it); `smallBytes` drops so the rewrite
    * also fires on sf0.001-sized inputs (PlanContractSpec asserts the
    * resulting plan shape). */
  private def extSqlOverlap(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, B(s).toString)
    s.conf.set(graft.plans.IntervalJoinRewrite.SmallBytesKey, "1024")
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    iv2(s, dir).createOrReplaceTempView("graft_sql_iv2")
    s.sql(
      """SELECT a.id AS id_1, b.id AS id_2
        |FROM graft_sql_iv1 a JOIN graft_sql_iv2 b
        |  ON a.chrom = b.chrom
        | AND a.start < b.`end` AND b.start < a.`end`""".stripMargin)
  }

  /** Point-in-interval join in plain SQL — the no-equi-key-free shape's
    * sibling: `b.start <= a.start AND a.start < b.end`. The rule's
    * matcher sees the point side as a zero-length interval
    * (start = end = a.start), so the same binned rewrite applies; vanilla
    * Spark would scan every same-chrom build row per probe. */
  private def extSqlPoint(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, B(s).toString)
    s.conf.set(graft.plans.IntervalJoinRewrite.SmallBytesKey, "1024")
    iv3(s, dir).createOrReplaceTempView("graft_sql_iv3")
    iv2(s, dir).createOrReplaceTempView("graft_sql_iv2")
    s.sql(
      """SELECT a.id AS id_1, b.id AS id_2
        |FROM graft_sql_iv3 a JOIN graft_sql_iv2 b
        |  ON a.chrom = b.chrom
        | AND b.start <= a.start AND a.start < b.`end`""".stripMargin)
  }

  /** SQL-surface z-order: the whole [[layZorder]] computation written
    * as one `spark.sql` statement against the session-extension-
    * registered `z_value` function — proving plain-SQL users get the
    * layout kernel (same oracle as lay_zorder; results must agree). */
  private def extSqlZorder(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "lineitem").createOrReplaceTempView("graft_sql_li")
    s.sql(
      """WITH mx AS (
        |  SELECT greatest(max(greatest(l_partkey, 0L)), 1L) AS mpk,
        |         greatest(max(greatest(l_suppkey, 0L)), 1L) AS msk
        |  FROM graft_sql_li),
        |lanes AS (
        |  SELECT (greatest(l_partkey, 0L) * 2097151L) div mpk AS a,
        |         (greatest(l_suppkey, 0L) * 2097151L) div msk AS b,
        |         greatest(l_partkey, 0L) AS pk,
        |         greatest(l_suppkey, 0L) AS sk
        |  FROM graft_sql_li CROSS JOIN mx)
        |SELECT shiftrightunsigned(z_value(a, b, 21), 36) AS file_id,
        |       count(*) AS n_rows,
        |       min(pk) AS min_l_partkey, max(pk) AS max_l_partkey,
        |       min(sk) AS min_l_suppkey, max(sk) AS max_l_suppkey
        |FROM lanes GROUP BY 1""".stripMargin)
  }

  /** Nearest-neighbor in plain SQL through the `graft_closest` TVF
    * (`plans.GraftTableFunctions`): the engine's banded-candidate +
    * rank-scan plan, reached from one SQL statement — a user writing
    * k-NN as a window over a chrom-only join would get the same-chrom
    * cross product instead. Same semantics and oracle as iv_closest_k3
    * (k=3, tie on id); PlanContractSpec asserts the plan shape (no
    * cartesian/nested-loop join, WindowGroupLimit present). The scan
    * bucketSize conf mirrors the Scala gates' SCAN_BUCKET argument —
    * without it the TVF's rank scan ran at the 2^20 genome-scale
    * default, an 8-way parallelism floor worth ~1.5x wall at sf0.1
    * (the ext_sql_closest vs iv_closest_k3 gap VERDICT r14 flagged). */
  private def extSqlClosest(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, B(s).toString)
    s.conf.set(graft.plans.GraftTableFunctions.BucketSizeKey,
      SCAN_BUCKET.toString)
    iv3(s, dir).createOrReplaceTempView("graft_sql_iv3")
    iv2(s, dir).createOrReplaceTempView("graft_sql_iv2")
    s.sql(
      """SELECT id_1, id_2, distance
        |FROM graft_closest('graft_sql_iv3', 'graft_sql_iv2', 3, 'id')"""
        .stripMargin)
  }

  /** Cluster-merge in plain SQL through the `graft_merge` TVF — the
    * engine's range-partitioned sweep from one SQL statement. Same
    * semantics and oracle as iv_merge (min_dist=0). */
  private def extSqlMerge(s: SparkSession, dir: String): DataFrame = {
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    s.sql(
      """SELECT chrom, start, `end`, n_intervals
        |FROM graft_merge('graft_sql_iv1', 0)""".stripMargin)
  }

  /** Per-interval coverage in plain SQL through the `graft_coverage`
    * TVF — the engine's merge-then-binned-join plan. Same semantics
    * and oracle as iv_coverage. */
  private def extSqlCoverage(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, B(s).toString)
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    iv2(s, dir).createOrReplaceTempView("graft_sql_iv2")
    s.sql(
      """SELECT id, chrom, start, `end`, coverage
        |FROM graft_coverage('graft_sql_iv2', 'graft_sql_iv1')"""
        .stripMargin)
  }

  /** Interval clustering in plain SQL through the `graft_cluster` TVF —
    * same semantics and oracle as iv_cluster. bucketSize is a
    * PARALLELISM knob (bucket-invariant results); the session conf
    * lowers it to the fixture coordinate scale exactly as the gates'
    * Scala calls pass SCAN_BUCKET — without it the 2^20 genome-scale
    * default puts each chrom's sweep in one range (8-way parallelism
    * floor, ~3x the gate wall at sf0.1). */
  private def extSqlCluster(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.GraftTableFunctions.BucketSizeKey,
      SCAN_BUCKET.toString)
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    s.sql(
      """SELECT id, chrom, start, `end`, cluster_start, cluster_end
        |FROM graft_cluster('graft_sql_iv1', 0)""".stripMargin)
  }

  /** Interval subtraction in plain SQL through the `graft_subtract`
    * TVF — same semantics and oracle as iv_subtract. */
  private def extSqlSubtract(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, B(s).toString)
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    iv2(s, dir).createOrReplaceTempView("graft_sql_iv2")
    s.sql(
      """SELECT id, chrom, start, `end`
        |FROM graft_subtract('graft_sql_iv2', 'graft_sql_iv1')"""
        .stripMargin)
  }

  /** Viewless complement in plain SQL through the `graft_complement`
    * TVF: gaps over the engine's viewless default scaffold — one
    * [0, Long.MaxValue) region per chromosome present in the input,
    * named by the chromosome itself. */
  private def extSqlComplement(s: SparkSession, dir: String): DataFrame = {
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    s.sql(
      """SELECT chrom, start, `end`, view_region
        |FROM graft_complement('graft_sql_iv1')""".stripMargin)
  }

  /** Grouped cluster-merge in plain SQL: `graft_merge`'s optional
    * on_cols argument (comma-separated grouping columns — the Scala
    * API's `on=`), so SQL users get per-stratum merges without dropping
    * to Scala. Same semantics and oracle as iv_merge_on. */
  private def extSqlMergeOn(s: SparkSession, dir: String): DataFrame = {
    iv1(s, dir).createOrReplaceTempView("graft_sql_iv1")
    s.sql(
      """SELECT chrom, strand, start, `end`, n_intervals
        |FROM graft_merge('graft_sql_iv1', 0, 'strand')""".stripMargin)
  }

  /** Direction-restricted nearest neighbor in plain SQL:
    * `graft_closest`'s optional ignore argument (comma-set of
    * overlaps/upstream/downstream — the Scala API's ignore_* flags).
    * ignore='downstream' keeps only upstream neighbors; same semantics
    * and oracle as iv_closest_upstream. bucketSize conf as in
    * ext_sql_closest (parallelism only; bucket-invariant results). */
  private def extSqlClosestUp(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, B(s).toString)
    s.conf.set(graft.plans.GraftTableFunctions.BucketSizeKey,
      SCAN_BUCKET.toString)
    iv3(s, dir).createOrReplaceTempView("graft_sql_iv3")
    iv2(s, dir).createOrReplaceTempView("graft_sql_iv2")
    s.sql(
      """SELECT id_1, id_2, distance
        |FROM graft_closest('graft_sql_iv3', 'graft_sql_iv2', 1, 'id',
        |  'downstream')""".stripMargin)
  }

  // ---------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1 _),
    "q3_segment_revenue" -> (q3 _),
    "iv_select" -> (ivSelect _),
    "iv_expand" -> (ivExpand _),
    "iv_expand_scale" -> (ivExpandScale _),
    "iv_overlap_inner" -> ivOverlap("inner") _,
    "iv_overlap_left" -> ivOverlap("left") _,
    "iv_overlap_outer" -> ivOverlap("outer") _,
    "iv_overlap_on" -> (ivOverlapOn _),
    "iv_overlap_right" -> (ivOverlapRight _),
    "iv_overlap_inner_2l" -> (ivOverlapInnerMl _),
    "iv_overlap_auto_2l" -> (ivOverlapAuto2l _),
    "iv_overlap_bucketed" -> (ivOverlapBucketed _),
    "ext_sql_overlap" -> (extSqlOverlap _),
    "ext_sql_point" -> (extSqlPoint _),
    "ext_sql_closest" -> (extSqlClosest _),
    "ext_sql_merge" -> (extSqlMerge _),
    "ext_sql_coverage" -> (extSqlCoverage _),
    "ext_sql_cluster" -> (extSqlCluster _),
    "ext_sql_subtract" -> (extSqlSubtract _),
    "ext_sql_complement" -> (extSqlComplement _),
    "ext_sql_merge_on" -> (extSqlMergeOn _),
    "ext_sql_closest_up" -> (extSqlClosestUp _),
    "iv_closest_self" -> (ivClosestSelf _),
    "iv_overlap_left_pts" -> (ivOverlapLeftPts _),
    "iv_setdiff_pts" -> (ivSetdiffPts _),
    "iv_count_overlaps" -> (ivCountOverlaps _),
    "iv_setdiff" -> (ivSetdiff _),
    "iv_cluster" -> (ivCluster _),
    "iv_cluster_on" -> (ivClusterOn _),
    "iv_expand_left" -> (ivExpandLeft _),
    "iv_merge" -> ivMerge(Some(0)) _,
    "iv_merge_on" -> (ivMergeOn _),
    "iv_merge_mindist" -> ivMerge(Some(5)) _,
    "iv_merge_strict" -> ivMerge(None) _,
    "iv_coverage" -> (ivCoverage _),
    "iv_gene_coverage" -> (ivGeneCoverage _),
    "iv_jaccard" -> (ivJaccard _),
    "iv_reldist" -> (ivReldist _),
    "iv_genomecov" -> (ivGenomecov _),
    "iv_multiinter" -> (ivMultiinter _),
    "seq_frac_gc" -> (seqFracGc _),
    "seq_frac_mapped" -> (seqFracMapped _),
    "seq_digest" -> (seqDigest _),
    "seq_digest_arima" -> (seqDigestArima _),
    "seq_digest_iupac" -> (seqDigestIupac _),
    "io_bigwig" -> (ioBigwig _),
    "io_dsv2_bw" -> (ioDsv2Bw _),
    "io_bigbed" -> (ioBigbed _),
    "io_tabix" -> (ioTabix _),
    "io_dsv2" -> (ioDsv2 _),
    "io_bam" -> (ioBam _),
    "io_pairix" -> (ioPairix _),
    "iv_closest" -> (ivClosest _),
    "iv_closest_tie" -> (ivClosestTie _),
    "iv_closest_k3" -> (ivClosestK3 _),
    "iv_closest_upstream" -> (ivClosestUpstream _),
    "iv_closest_ignore" -> (ivClosestIgnore _),
    "iv_subtract" -> (ivSubtract _),
    "iv_subtract_index" -> (ivSubtractIndex _),
    "iv_complement" -> (ivComplement _),
    "iv_trim" -> (ivTrim _),
    "iv_trim_noview" -> (ivTrimNoview _),
    "iv_assign_view" -> (ivAssignView _),
    "iv_sort_rank" -> (ivSortRank _),
    "iv_sort_bedframe" -> (ivSortBedframe _),
    "iv_overlap_keep_order" -> (ivOverlapKeepOrder _),
    "iv_select_indices" -> (ivSelectIndices _),
    "iv_stack" -> (ivStack _),
    "iv_binnify" -> (ivBinnify _),
    "iv_chromarms" -> (ivChromarms _),
    "iv_pair_by_distance" -> (ivPairByDistance _),
    "iv_pair_endpoints" -> (ivPairEndpoints _),
    "iv_pileup" -> (ivPileup _),
    "iv_pileup_weighted" -> (ivPileupWeighted _),
    "iv_mark_runs" -> (ivMarkRuns _),
    "iv_merge_runs" -> (ivMergeRuns _),
    "chk_invariants" -> (chkInvariants _),
    "util_sanitize" -> (utilSanitize _),
    "util_natsort" -> (utilNatsort _),
    "region_parse" -> (regionParse _),
    "util_colorstring" -> (utilColorstring _),
    "evt_sessionize" -> (evtSessionize _),
    "evt_stream_merge" -> (evtStreamMerge _),
    "evt_stream_dedup" -> (evtStreamDedup _),
    "evt_stream_sessionize" -> (evtStreamSessionize _),
    "evt_stream_window" -> (evtStreamWindow _),
    "evt_stream_file" -> (evtStreamFile _),
    "evt_stream_join" -> (evtStreamJoin _),
    "evt_stream_enrich" -> (evtStreamEnrich _),
    "evt_ingest_e2e" -> (evtIngestE2e _),
    "evt_window_agg" -> (evtWindowAgg _),
    "txt_stats" -> (txtStats _),
    "txt_langid" -> (txtLangid _),
    "txt_fingerprint" -> (txtFingerprint _),
    "txt_repetition" -> (txtRepetition _),
    "txt_gopher_quality" -> (txtGopherQuality _),
    "txt_paragraph_dedup" -> (txtParagraphDedup _),
    "txt_pack" -> (txtPack _),
    "txt_redact" -> (txtRedact _),
    "txt_decontaminate" -> (txtDecontaminate _),
    "txt_top_terms" -> (txtTopTerms _),
    "txt_vocab" -> (txtVocab _),
    "txt_feat_hash" -> (txtFeatHash _),
    "txt_auc" -> (txtAuc _),
    "txt_bm25" -> (txtBm25 _),
    "txt_phrase" -> (txtPhrase _),
    "txt_dsir" -> (txtDsir _),
    "txt_cms" -> (txtCms _),
    "txt_hybrid" -> (txtHybrid _),
    "txt_decontam_fuzzy" -> (txtDecontamFuzzy _),
    "txt_bpe" -> (txtBpe _),
    "txt_bpe_apply" -> (txtBpeApply _),
    "lay_zorder" -> (layZorder _),
    "txt_len_quantiles" -> (txtLenQuantiles _),
    "ext_sql_zorder" -> (extSqlZorder _),
    "txt_bpe_encode" -> (txtBpeEncode _),
    "txt_unigram_encode" -> (txtUnigramEncode _),
    "txt_unigram" -> (txtUnigramTrain _),
    "io_warc" -> (ioWarc _),
    "txt_profile" -> (txtProfile _),
    "txt_novelty" -> (txtNovelty _),
    "txt_lm_backoff" -> (txtLmBackoff _),
    "txt_dup_spans" -> (txtDupSpans _),
    "txt_c4_filter" -> (txtC4 _),
    "txt_quality_score" -> (txtQuality _),
    "doc_sample_strat" -> (docSampleStrat _),
    "doc_shard_shuffle" -> (docShardShuffle _),
    "doc_domain_cap" -> (docDomainCap _),
    "doc_mix" -> (docMix _),
    "doc_mix_temp" -> (docMixTemp _),
    "doc_split_group" -> (docSplitGroup _),
    "doc_delta" -> (docDelta _),
    "txt_cdc" -> (txtCdc _),
    "diag_key_skew2" -> (diagKeySkew _),
    "join_skew_salted" -> (joinSkewSalted _),
    "lay_compaction2" -> (layCompaction _),
    "txt_quality_adaptive" -> (txtQualityAdaptive _),
    "txt_chunk" -> (txtChunk _),
    "txt_normalize" -> (txtNormalize _),
    "dedup_exact" -> (dedupExact _),
    "dedup_bloom" -> (dedupBloom _),
    "txt_line_dedup" -> (txtLineDedup _),
    "txt_url_canon" -> (txtUrlCanon _),
    "txt_profile_incr2" -> (txtProfileIncr _),
    "txt_profile_tol" -> (txtProfileTol _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_minhash_lsh" -> (dedupMinhash _),
    "dedup_minhash_incr" -> (dedupMinhashIncr _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_components" -> (dedupComponents _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "emb_cov" -> (embCov _),
    "emb_cosine_topk" -> (embCosineTopk _),
    "emb_quant_topk" -> (embQuantTopk _),
    "emb_quant_rerank" -> (embQuantRerank _),
    "emb_ivf_incr" -> (embIvfIncr _),
    "emb_hard_neg" -> (embHardNeg _),
    "emb_hard_neg_ivf" -> (embHardNegIvf _),
    "emb_ann_lsh" -> (embAnnLsh _),
    "emb_ivf_topk" -> (embIvfTopk _),
    "emb_pq_topk" -> (embPqTopk _),
    "emb_pq_ivf" -> (embPqIvf _),
    "emb_pq_ivf_search" -> (embPqIvfSearch _),
    "emb_cosine_dedup" -> (embCosineDedup _),
    "emb_semdedup" -> (embSemDedup _),
    "emb_lsh_cap" -> (embLshCap _),
    "mm_meta" -> (mmMeta _),
    "mm_frames" -> (mmFrames _),
    "mm_decode" -> (mmDecode _),
    "mm_phash_dedup" -> (mmPhashDedup _),
    "mm_audio" -> (mmAudio _),
    "mm_video" -> (mmVideo _),
    "mm_frame_extract" -> (mmFrameExtract _),
    "vis_plot" -> (visPlot _))

  /** Auxiliary relations dumped by Verify alongside the query results.
    * DuckDB cannot recompute xxhash64, so the hash-based operators'
    * oracles re-derive pairs/rankings from these Spark-computed
    * signatures/buckets instead (band equality + bit_count(xor) for
    * simhash; bucket-group cosine rank for LSH) — verifying the banding,
    * candidate, and verification logic end to end. `{AUX_DIR}` in
    * `oracleSql` is substituted with the dump directory by Verify (a
    * sibling of its output dir, so the driver's gate only sees real
    * query results). */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simhash_sigs" -> ((s, dir) =>
      Dedup.simhashSigRel(docs(s, dir), "doc_id", "text")
        .select(col("__id").as("doc_id"), col("__sig").as("sig"))),
    "emb_buckets" -> ((s, dir) =>
      embs(s, dir).select(col("vec_id"),
        Ann.lshBucket(col("embedding"), 6).as("bucket"))),
    "emb_dedup_buckets" -> ((s, dir) =>
      augEmb(s, dir).select(col("vec_id"),
        Ann.lshBucket(col("embedding"), 6).as("bucket"))),
    "semdedup_assign" -> ((s, dir) =>
      Ann.semDedupAssign(augEmb(s, dir), kCentroids = 8, iters = 2)
        .select(col("vec_id"), col("centroid_id"))),
    "emb_cap_buckets" -> ((s, dir) =>
      crowdEmb(s, dir).select(col("vec_id"),
        Ann.lshBucket(col("embedding"), 6).as("bucket"))),
    // ivfCentroids is deterministic (integer-quantized Lloyd), so the aux
    // dumps and the emb_ivf_topk gate recompute identical centroids
    "ivf_assign" -> ((s, dir) => {
      val emb = embs(s, dir)
      Ann.ivfAssign(emb, ivfCents8(s, dir))
    }),
    "ivf_probes" -> ((s, dir) => {
      val emb = embs(s, dir)
      Ann.ivfProbes(emb.filter(col("vec_id") % 100 === 0),
        ivfCents8(s, dir), nProbe = 2)
    }),
    "dup_pairs" -> ((s, dir) => exactDupEdges(s, dir)),
    "pq_books" -> ((s, dir) => {
      import s.implicits._
      pqBooks(s, dir).toSeq.toDF("sub", "cid", "cv")
    }),
    "pq_codes" -> ((s, dir) =>
      Ann.pqEncode(embs(s, dir), pqBooks(s, dir))),
    // one-shot full-corpus profile: the fixed point the incremental
    // index must merge to (txt_profile_incr's sketch-column oracle)
    "profile_oneshot" -> ((s, dir) =>
      ProfileIndex.profileOneShot(docs(s, dir), "source", "text")))

  // ------------------------------------------------------------- oracles

  import TestTables.{overlapSql => ovl}

  /** Grouped merge replay (per-(chrom,strand) sweep) — shared by the
    * Scala-API gate (iv_merge_on) and the TVF on_cols gate
    * (ext_sql_merge_on). */
  private lazy val mergeOnOracleSql: String =
    s"""WITH $iv1Sql
       |SELECT chrom, strand, MIN(start) AS start, MAX("end") AS "end",
       |  COUNT(*) AS n_intervals
       |FROM (
       |  SELECT chrom, strand, start, "end",
       |         SUM(brd) OVER (PARTITION BY chrom, strand
       |                        ORDER BY start, "end", id
       |                        ROWS UNBOUNDED PRECEDING) AS cid
       |  FROM (
       |    SELECT *, CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END AS brd
       |    FROM (
       |      SELECT id, chrom, strand, start, "end",
       |             MAX("end") OVER (PARTITION BY chrom, strand
       |                              ORDER BY start, "end", id
       |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |      FROM iv1) x) y) z
       |GROUP BY chrom, strand, cid""".stripMargin

  /** Upstream-only closest replay — shared by the Scala-API gate
    * (iv_closest_upstream) and the TVF ignore-arg gate
    * (ext_sql_closest_up). */
  private lazy val closestUpstreamOracleSql: String =
    s"""WITH $iv2Sql, $iv3Sql,
       |stx AS (SELECT chrom,
       |    GREATEST(CAST(CEIL((MAX("end") - MIN(start)) * 120.0 / COUNT(*)) AS BIGINT), 4) AS w
       |  FROM iv2 GROUP BY chrom),
       |cand AS MATERIALIZED (
       |  SELECT a.id AS id_1, b.id AS id_2,
       |    GREATEST(a.start - b."end", b.start - a."end", 0) AS dist,
       |    CASE WHEN ${ovl("a", "b")} THEN 0
       |         ELSE GREATEST(a.start - b."end", b.start - a."end", 0) + 1 END AS sortdist
       |  FROM iv3 a JOIN stx s ON a.chrom = s.chrom
       |  JOIN iv2 b ON a.chrom = b.chrom
       |    AND b."end" >= a.start - s.w AND b.start <= a."end" + s.w
       |  WHERE (${ovl("a", "b")}) OR b."end" <= a.start),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_1
       |    ORDER BY sortdist, id_2) AS rn FROM cand),
       |cert AS (SELECT NOT EXISTS (
       |  -- a left row absent from cand is legitimate ONLY when no
       |  -- upstream candidate exists at all (chrom's min end beyond
       |  -- its start; an overlap would have been admitted) — absent
       |  -- with one beyond the band = under-coverage, fail loudly
       |  SELECT 1 FROM iv3 a
       |  JOIN (SELECT chrom, MIN("end") AS mine FROM iv2 GROUP BY chrom)
       |    me ON a.chrom = me.chrom
       |  WHERE me.mine <= a.start
       |    AND a.id NOT IN (SELECT id_1 FROM cand)) AS ok)
       |SELECT a.id AS id_1, r.id_2, r.dist AS distance
       |FROM iv3 a LEFT JOIN ranked r ON a.id = r.id_1 AND r.rn <= 1
       |WHERE (SELECT ok FROM cert)""".stripMargin

  private lazy val coverageOracleSql: String =
    s"""WITH $iv1Sql, $iv2Sql, $mergedIv1Sql
       |SELECT a.id, a.chrom, a.start, a."end",
       |  CAST(COALESCE(SUM(CASE WHEN m.start IS NULL THEN NULL
       |    ELSE GREATEST(LEAST(a."end", m."end") - GREATEST(a.start, m.start), 0) END), 0) AS BIGINT) AS coverage
       |FROM iv2 a LEFT JOIN m1 m
       |  ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"
       |GROUP BY a.id, a.chrom, a.start, a."end"""".stripMargin

  private lazy val clusterOracleSql: String =
    s"""WITH $iv1Sql,
       |x AS (SELECT id, chrom, start, "end",
       |        MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |      FROM iv1),
       |y AS (SELECT *, CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END AS brd FROM x),
       |z AS (SELECT *, SUM(brd) OVER (PARTITION BY chrom ORDER BY start, "end", id
       |        ROWS UNBOUNDED PRECEDING) AS cid FROM y)
       |SELECT id, chrom, start, "end",
       |  MIN(start) OVER (PARTITION BY chrom, cid) AS cluster_start,
       |  MAX("end") OVER (PARTITION BY chrom, cid) AS cluster_end
       |FROM z""".stripMargin

  private lazy val subtractOracleSql: String =
    s"""WITH $iv1Sql, $iv2Sql, $mergedIv1Sql,
       |mm AS (
       |  SELECT a.id, a.chrom, a.start AS s1, a."end" AS e1,
       |    GREATEST(m.start, a.start) AS ms, LEAST(m."end", a."end") AS me
       |  FROM iv2 a JOIN m1 m
       |    ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"),
       |frag1 AS (SELECT id, chrom,
       |    COALESCE(LAG(me) OVER (PARTITION BY id ORDER BY ms), s1) AS fs,
       |    ms AS fe FROM mm),
       |frag2 AS (SELECT id, chrom, MAX(me) AS fs, MAX(e1) AS fe
       |  FROM mm GROUP BY id, chrom),
       |untouched AS (SELECT id, chrom, start AS fs, "end" AS fe FROM iv2 a
       |  WHERE NOT EXISTS (SELECT 1 FROM m1 m
       |    WHERE m.chrom = a.chrom AND a.start < m."end" AND m.start < a."end"))
       |SELECT id, chrom, fs AS start, fe AS "end" FROM (
       |  SELECT * FROM frag1 UNION ALL SELECT * FROM frag2
       |  UNION ALL SELECT * FROM untouched) u
       |WHERE fs < fe""".stripMargin

  /** Viewless complement truth: merged iv1 runs subtracted from a
    * per-chrom [0, Long.MaxValue) scaffold, region name = chrom. */
  private lazy val complementViewlessOracleSql: String =
    s"""WITH $iv1Sql, $mergedIv1Sql,
       |g1 AS (SELECT chrom,
       |    COALESCE(LAG("end") OVER (PARTITION BY chrom ORDER BY start),
       |             CAST(0 AS BIGINT)) AS gs,
       |    start AS ge FROM m1),
       |g2 AS (SELECT chrom, MAX("end") AS gs,
       |    CAST(9223372036854775807 AS BIGINT) AS ge FROM m1 GROUP BY chrom)
       |SELECT chrom, gs AS start, ge AS "end", chrom AS view_region
       |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) u
       |WHERE gs < ge""".stripMargin

  /** Generated banded k-NN oracle for the closest family: per-chrom
    * density-scaled candidate band, overlap-aware sortdist, row_number
    * ranking with the given tie order, and an under-coverage CERT that
    * fails LOUDLY (empties the oracle) if the band admitted fewer
    * candidates than the truth needs. The cert requirement is
    * `min(k, same-chrom iv2 count)` per iv3 row — not a flat `>= k`,
    * which false-failed on left rows with fewer total same-chrom
    * partners (or rows on chroms absent from iv2, which are
    * legitimately candidate-free and emit a null neighbor). Soundness:
    * band admission is distance-bounded, so if >= k candidates are
    * admitted the true k nearest are among them, and if fewer than k
    * partners EXIST the cert forces all of them admitted. */
  private def closestOracle(k: Int, tieOrder: String): String =
    s"""WITH $iv2Sql, $iv3Sql,
       |stx AS (SELECT chrom,
       |    GREATEST(CAST(CEIL((MAX("end") - MIN(start)) * 120.0 / COUNT(*)) AS BIGINT), 4) AS w
       |  FROM iv2 GROUP BY chrom),
       |cand AS MATERIALIZED (
       |  SELECT a.id AS id_1, b.id AS id_2,
       |    GREATEST(a.start - b."end", b.start - a."end", 0) AS dist,
       |    CASE WHEN ${ovl("a", "b")} THEN 0
       |         ELSE GREATEST(a.start - b."end", b.start - a."end", 0) + 1 END AS sortdist
       |  FROM iv3 a JOIN stx s ON a.chrom = s.chrom
       |  JOIN iv2 b ON a.chrom = b.chrom
       |    AND b."end" >= a.start - s.w AND b.start <= a."end" + s.w),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_1
       |    ORDER BY sortdist, $tieOrder) AS rn FROM cand),
       |cert AS (SELECT (SELECT COUNT(*) FROM iv3) = COUNT(*) AS ok FROM (
       |  SELECT a.id FROM iv3 a
       |  LEFT JOIN (SELECT chrom, COUNT(*) AS nc FROM iv2 GROUP BY chrom) cc
       |    ON a.chrom = cc.chrom
       |  LEFT JOIN (SELECT id_1, COUNT(*) AS ncand FROM cand GROUP BY id_1) g
       |    ON g.id_1 = a.id
       |  WHERE COALESCE(g.ncand, 0) >= LEAST($k, COALESCE(cc.nc, 0))) z)
       |SELECT a.id AS id_1, r.id_2, r.dist AS distance
       |FROM iv3 a LEFT JOIN ranked r ON a.id = r.id_1 AND r.rn <= $k
       |WHERE (SELECT ok FROM cert)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_segment_revenue" ->
      """SELECT c_mktsegment,
        | CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        | COUNT(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY c_mktsegment""".stripMargin,
    "iv_select" ->
      s"""WITH $iv1Sql
         |SELECT id, chrom, start, "end" FROM iv1
         |WHERE chrom = 'c1'
         |  AND (CASE WHEN "end" = start THEN start + 1 ELSE "end" END) > 100
         |  AND start < 500""".stripMargin,
    "iv_expand" ->
      s"""WITH $iv1Sql
         |SELECT id, chrom,
         |  LEAST(start + 3, start + ("end" - start) // 2) AS start,
         |  GREATEST("end" - 3, start + ("end" - start) // 2) AS "end"
         |FROM iv1""".stripMargin,
    "iv_expand_scale" ->
      s"""WITH $iv1Sql
         |SELECT id, chrom,
         |  CAST(roundbankers(start - 0.25 * ("end" - start), 0) AS BIGINT) AS start,
         |  CAST(roundbankers("end" + 0.25 * ("end" - start), 0) AS BIGINT) AS "end"
         |FROM iv1""".stripMargin,
    "iv_expand_left" ->
      s"""WITH $iv1Sql
         |SELECT id, chrom,
         |  LEAST(start + 3, start + ("end" - start) // 2) AS start,
         |  GREATEST("end", start + ("end" - start) // 2) AS "end"
         |FROM iv1""".stripMargin,
    "iv_overlap_inner" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2,
         |  GREATEST(a.start, b.start) AS overlap_start,
         |  LEAST(a."end", b."end") AS overlap_end
         |FROM iv1 a JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "iv_overlap_left" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv1 a LEFT JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "iv_overlap_outer" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv1 a FULL OUTER JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "iv_overlap_on" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2, a.strand AS strand_1
         |FROM iv1 a JOIN iv2 b ON a.chrom = b.chrom AND a.strand = b.strand
         |  AND ${ovl("a", "b")}""".stripMargin,
    "iv_overlap_inner_2l" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv1 a JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "iv_overlap_auto_2l" ->
      s"""WITH $iv1Sql, $ivLongSql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM ivlong a JOIN iv1 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "iv_overlap_bucketed" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv1 a JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "ext_sql_overlap" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv1 a JOIN iv2 b ON a.chrom = b.chrom
         |  AND a.start < b."end" AND b.start < a."end"""".stripMargin,
    "ext_sql_point" ->
      s"""WITH $iv2Sql, $iv3Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv3 a JOIN iv2 b ON a.chrom = b.chrom
         |  AND b.start <= a.start AND a.start < b."end"""".stripMargin,
    "iv_overlap_right" ->
      s"""WITH $iv2Sql, $iv3Sql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv3 a RIGHT JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    // banded like the iv_closest family (see the comment there); the
    // self-join band widths come from iv3's own density
    "iv_closest_self" ->
      s"""WITH $iv3Sql,
         |stx AS (SELECT chrom,
         |    GREATEST(CAST(CEIL((MAX("end") - MIN(start)) * 120.0 / COUNT(*)) AS BIGINT), 4) AS w
         |  FROM iv3 GROUP BY chrom),
         |cand AS MATERIALIZED (
         |  SELECT a.id AS id_1, b.id AS id_2,
         |    GREATEST(a.start - b."end", b.start - a."end", 0) AS dist,
         |    CASE WHEN ${ovl("a", "b")} THEN 0
         |         ELSE GREATEST(a.start - b."end", b.start - a."end", 0) + 1 END AS sortdist
         |  FROM iv3 a JOIN stx s ON a.chrom = s.chrom
         |  JOIN iv3 b ON a.chrom = b.chrom AND a.id <> b.id
         |    AND b."end" >= a.start - s.w AND b.start <= a."end" + s.w),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_1
         |    ORDER BY sortdist, id_2) AS rn FROM cand),
         |cert AS (SELECT (SELECT COUNT(*) FROM iv3) = COUNT(*) AS ok FROM
         |  (SELECT id_1 FROM cand GROUP BY id_1 HAVING COUNT(*) >= 1) z)
         |SELECT a.id AS id_1, r.id_2, r.dist AS distance
         |FROM iv3 a LEFT JOIN ranked r ON a.id = r.id_1 AND r.rn <= 1
         |WHERE (SELECT ok FROM cert)""".stripMargin,
    "iv_overlap_left_pts" ->
      s"""WITH $iv1Sql, $iv2Sql, $iv2pSql
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM iv1 a LEFT JOIN iv2p b ON a.chrom = b.chrom AND ${ovl("a", "b")}""".stripMargin,
    "iv_setdiff_pts" ->
      s"""WITH $iv1Sql, $iv2Sql, $iv2pSql
         |SELECT id, chrom, start, "end" FROM iv1 a
         |WHERE NOT EXISTS (SELECT 1 FROM iv2p b
         |  WHERE b.chrom = a.chrom AND ${ovl("a", "b")})""".stripMargin,
    "iv_count_overlaps" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT a.id, COUNT(b.id) AS n
         |FROM iv1 a LEFT JOIN iv2 b ON a.chrom = b.chrom AND ${ovl("a", "b")}
         |GROUP BY a.id""".stripMargin,
    "iv_setdiff" ->
      s"""WITH $iv1Sql, $iv2Sql
         |SELECT id, chrom, start, "end" FROM iv1 a
         |WHERE NOT EXISTS (SELECT 1 FROM iv2 b
         |  WHERE b.chrom = a.chrom AND ${ovl("a", "b")})""".stripMargin,
    "iv_cluster" -> clusterOracleSql,
    // same semantics reached through the graft_cluster TVF from plain SQL
    "ext_sql_cluster" -> clusterOracleSql,
    "iv_merge" ->
      s"""WITH $iv1Sql, $mergedIv1Sql
         |SELECT chrom, start, "end", n_intervals FROM m1""".stripMargin,
    "iv_multiinter" ->
      s"""WITH $iv1Sql, $iv2Sql, $iv3Sql, $mergedIv1Sql,
         |${TestTables.mergedSql("iv2", "m2")},
         |${TestTables.mergedSql("iv3", "m3")},
         |u AS (SELECT chrom, start, "end" FROM m1
         |  UNION ALL SELECT chrom, start, "end" FROM m2
         |  UNION ALL SELECT chrom, start, "end" FROM m3),
         |ev AS (SELECT chrom, start AS pos, CAST(1 AS BIGINT) AS d FROM u
         |  UNION ALL SELECT chrom, "end", CAST(-1 AS BIGINT) FROM u),
         |agg AS (SELECT chrom, pos, SUM(d) AS delta FROM ev GROUP BY chrom, pos),
         |c AS (SELECT chrom, pos,
         |    CAST(SUM(delta) OVER (PARTITION BY chrom ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_sets,
         |    LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS next
         |  FROM agg)
         |SELECT chrom, pos AS start, next AS "end", n_sets FROM c
         |WHERE next IS NOT NULL AND n_sets > 0""".stripMargin,
    "iv_genomecov" ->
      s"""WITH $iv1Sql, $chromsizesSql,
         |ev AS (SELECT chrom, start AS pos, CAST(1 AS BIGINT) AS d FROM iv1
         |  UNION ALL SELECT chrom, "end", CAST(-1 AS BIGINT) FROM iv1),
         |agg AS (SELECT chrom, pos, SUM(d) AS delta FROM ev GROUP BY chrom, pos),
         |c AS (SELECT chrom, pos,
         |    CAST(SUM(delta) OVER (PARTITION BY chrom ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
         |    LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS next
         |  FROM agg),
         |h AS (SELECT depth, CAST(SUM(next - pos) AS BIGINT) AS n_bases
         |  FROM c WHERE next IS NOT NULL AND depth > 0 GROUP BY depth),
         |g AS (SELECT CAST(SUM(length) AS BIGINT) AS gb FROM chroms),
         |hz AS (SELECT * FROM h UNION ALL
         |  SELECT CAST(0 AS BIGINT),
         |    CAST(gb - COALESCE((SELECT SUM(n_bases) FROM h), 0) AS BIGINT)
         |  FROM g)
         |SELECT depth, n_bases,
         |  CAST(n_bases AS DOUBLE) / CAST(gb AS DOUBLE) AS fraction
         |FROM hz, g""".stripMargin,
    // banded nearest-midpoint search (the closest-family treatment —
    // see iv_closest's comment): a banded MIN equals the true MIN
    // whenever >= 1 candidate lands in band, and the two cert counts
    // prove exactly the rows that SHOULD have an up/down neighbor
    // (a.m inside the chrom's [minm, maxm]) found one — else the
    // result empties loudly. Retires the r9 sf1 oracle OOM.
    // EXACT nearest-midpoint via DuckDB ASOF JOIN (r10): the former
    // banded oracle's `b.m BETWEEN a.m - w AND a.m` with per-chrom w
    // planned as a chrom-only hash join + filter (~1e12-row stream at
    // sf1, ~1h) — and its under-coverage cert genuinely fires at sf1
    // (9 of 1.5M midpoints sit in gaps wider than the band), which
    // would have emptied the result loudly. ASOF `a.m >= b.m` /
    // `a.m <= b.m` IS the nearest-upstream/-downstream semantics, with
    // no band and no cert: exact at every SF, 3s at sf1.
    "iv_reldist" ->
      s"""WITH $iv1Sql, $iv2Sql,
         |am AS (SELECT id, chrom, (start + "end") // 2 AS m FROM iv2),
         |bm AS (SELECT chrom, (start + "end") // 2 AS m FROM iv1),
         |up AS (SELECT a.id, a.m - b.m AS dup
         |  FROM am a ASOF JOIN bm b
         |    ON a.chrom = b.chrom AND a.m >= b.m),
         |down AS (SELECT a.id, b.m - a.m AS ddown
         |  FROM am a ASOF JOIN bm b
         |    ON a.chrom = b.chrom AND a.m <= b.m)
         |SELECT up.id, CAST(dup AS BIGINT) AS d_upstream,
         |  CAST(ddown AS BIGINT) AS d_downstream,
         |  CASE WHEN dup + ddown = 0 THEN 0.0
         |       ELSE CAST(LEAST(dup, ddown) AS DOUBLE) /
         |            CAST(dup + ddown AS DOUBLE) END AS reldist
         |FROM up JOIN down USING (id)""".stripMargin,
    "iv_jaccard" ->
      s"""WITH $iv1Sql, $iv2Sql, $mergedIv1Sql,
         |${TestTables.mergedSql("iv2", "m2")},
         |inter AS (
         |  SELECT COALESCE(SUM(GREATEST(0,
         |      LEAST(m1."end", m2."end") - GREATEST(m1.start, m2.start))),
         |    0) AS intersection_bp,
         |    COUNT(*) AS n_intersections
         |  FROM m1 JOIN m2 ON m1.chrom = m2.chrom AND ${ovl("m1", "m2")}),
         |b1 AS (SELECT COALESCE(SUM("end" - start), 0) AS bp1 FROM m1),
         |b2 AS (SELECT COALESCE(SUM("end" - start), 0) AS bp2 FROM m2)
         |SELECT CAST(intersection_bp AS BIGINT) AS intersection_bp,
         |  CAST(bp1 + bp2 - intersection_bp AS BIGINT) AS union_bp,
         |  CASE WHEN bp1 + bp2 - intersection_bp > 0 THEN
         |    CAST(intersection_bp AS DOUBLE) /
         |    CAST(bp1 + bp2 - intersection_bp AS DOUBLE) END AS jaccard,
         |  n_intersections
         |FROM inter, b1, b2""".stripMargin,
    "iv_merge_on" -> mergeOnOracleSql,
    "ext_sql_merge_on" -> mergeOnOracleSql,
    "iv_cluster_on" ->
      s"""WITH $iv1Sql,
         |x AS (SELECT id, chrom, strand, start, "end",
         |        MAX("end") OVER (PARTITION BY chrom, strand
         |          ORDER BY start, "end", id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM iv1),
         |y AS (SELECT *, CASE WHEN pm IS NULL OR start > pm THEN 1 ELSE 0 END AS brd FROM x),
         |z AS (SELECT *, SUM(brd) OVER (PARTITION BY chrom, strand
         |        ORDER BY start, "end", id ROWS UNBOUNDED PRECEDING) AS cid FROM y)
         |SELECT id, strand,
         |  MIN(start) OVER (PARTITION BY chrom, strand, cid) AS cluster_start,
         |  MAX("end") OVER (PARTITION BY chrom, strand, cid) AS cluster_end
         |FROM z""".stripMargin,
    "iv_merge_mindist" ->
      s"""WITH $iv1Sql,
         |x AS (SELECT id, chrom, start, "end",
         |        MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM iv1),
         |y AS (SELECT *, CASE WHEN pm IS NULL OR start > pm + 5 THEN 1 ELSE 0 END AS brd FROM x),
         |z AS (SELECT *, SUM(brd) OVER (PARTITION BY chrom ORDER BY start, "end", id
         |        ROWS UNBOUNDED PRECEDING) AS cid FROM y)
         |SELECT chrom, MIN(start) AS start, MAX("end") AS "end",
         |  COUNT(*) AS n_intervals
         |FROM z GROUP BY chrom, cid""".stripMargin,
    "iv_merge_strict" ->
      s"""WITH $iv1Sql,
         |x AS (SELECT id, chrom, start, "end",
         |        MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM iv1),
         |y AS (SELECT *, CASE WHEN pm IS NULL OR start >= pm THEN 1 ELSE 0 END AS brd FROM x),
         |z AS (SELECT *, SUM(brd) OVER (PARTITION BY chrom ORDER BY start, "end", id
         |        ROWS UNBOUNDED PRECEDING) AS cid FROM y)
         |SELECT chrom, MIN(start) AS start, MAX("end") AS "end",
         |  COUNT(*) AS n_intervals
         |FROM z GROUP BY chrom, cid""".stripMargin,
    "iv_coverage" -> coverageOracleSql,
    // identical semantics through the graft_coverage TVF from plain SQL
    "ext_sql_coverage" -> coverageOracleSql,
    "iv_gene_coverage" ->
      s"""WITH $iv1Sql, $iv2Sql, $mergedIv1Sql,
         |cov AS (SELECT a.id, a.chrom, a.start, a."end",
         |  CAST(COALESCE(SUM(CASE WHEN m.start IS NULL THEN NULL
         |    ELSE GREATEST(LEAST(a."end", m."end") - GREATEST(a.start, m.start), 0) END), 0) AS BIGINT) AS coverage
         |  FROM iv2 a LEFT JOIN m1 m
         |    ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"
         |  GROUP BY a.id, a.chrom, a.start, a."end"),
         |cnt AS (SELECT a.id, COUNT(b.id) AS n
         |  FROM iv2 a LEFT JOIN iv1 b ON a.chrom = b.chrom AND ${ovl("a", "b")}
         |  GROUP BY a.id)
         |SELECT cov.id, cov.chrom, cov.start, cov."end", cov.coverage,
         |  cnt.n AS "count"
         |FROM cov JOIN cnt ON cov.id = cnt.id""".stripMargin,
    "seq_frac_gc" ->
      s"""WITH $iv1Sql, $seqChunksSql,
         |sl AS (SELECT a.id, GREATEST(a.start, c.cstart) AS os,
         |    LEAST(a."end", c.cend) AS oe,
         |    substr(c.seq, CAST(GREATEST(a.start, c.cstart) - c.cstart + 1 AS INT),
         |      CAST(LEAST(a."end", c.cend) - GREATEST(a.start, c.cstart) AS INT)) AS s
         |  FROM iv1 a JOIN chunksq c
         |    ON a.chrom = c.chrom AND a.start < c.cend AND c.cstart < a."end"),
         |st AS (SELECT id,
         |    SUM(length(s) - length(translate(s, 'GC', ''))) AS gc,
         |    SUM(length(s) - length(translate(s, 'N', ''))) AS n,
         |    SUM(oe - os) AS covered
         |  FROM sl GROUP BY id)
         |SELECT a.id, CASE WHEN COALESCE(st.covered - st.n, 0) > 0
         |    THEN CAST(st.gc AS DOUBLE) / CAST(st.covered - st.n AS DOUBLE)
         |    ELSE NULL END AS frac_gc
         |FROM iv1 a LEFT JOIN st ON a.id = st.id""".stripMargin,
    "seq_frac_mapped" ->
      s"""WITH $iv1Sql, $seqChunksSql,
         |sl AS (SELECT a.id, GREATEST(a.start, c.cstart) AS os,
         |    LEAST(a."end", c.cend) AS oe,
         |    substr(c.seq, CAST(GREATEST(a.start, c.cstart) - c.cstart + 1 AS INT),
         |      CAST(LEAST(a."end", c.cend) - GREATEST(a.start, c.cstart) AS INT)) AS s
         |  FROM iv1 a JOIN chunksq c
         |    ON a.chrom = c.chrom AND a.start < c.cend AND c.cstart < a."end"),
         |st AS (SELECT id,
         |    SUM(length(s) - length(translate(s, 'N', ''))) AS n,
         |    SUM(oe - os) AS covered
         |  FROM sl GROUP BY id)
         |SELECT a.id, CASE WHEN COALESCE(st.covered, 0) > 0
         |    THEN CAST(st.covered - st.n AS DOUBLE) / CAST(st.covered AS DOUBLE)
         |    ELSE 0.0 END AS frac_mapped
         |FROM iv1 a LEFT JOIN st ON a.id = st.id""".stripMargin,
    "seq_digest" ->
      s"""WITH $seqChunksSql,
         |ext AS (SELECT c.chrom, c.cstart, c.seq,
         |    c.seq || COALESCE(n.pref, '') AS extseq
         |  FROM chunksq c LEFT JOIN
         |    (SELECT chrom AS nc, cstart AS ns, substr(seq, 1, 3) AS pref
         |     FROM chunksq) n
         |    ON c.chrom = n.nc AND c.cend = n.ns),
         |sites AS (SELECT chrom, cstart + i - 1 AS pos
         |  FROM ext, UNNEST(generate_series(1, length(seq))) u(i)
         |  WHERE substr(extseq, CAST(i AS INT), 4) = 'GATC'),
         |lens AS (SELECT chrom, MAX(cend) AS len FROM chunksq GROUP BY chrom),
         |cuts AS (SELECT DISTINCT chrom, pos FROM (
         |  SELECT s.chrom, s.pos FROM sites s JOIN lens l ON s.chrom = l.chrom
         |    WHERE s.pos > 0 AND s.pos < l.len
         |  UNION ALL SELECT chrom, CAST(0 AS BIGINT) FROM lens
         |  UNION ALL SELECT chrom, len FROM lens) z)
         |SELECT chrom, pos AS start,
         |  LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS "end"
         |FROM cuts QUALIFY "end" IS NOT NULL""".stripMargin,
    "io_bigwig" ->
      s"""WITH $iv1Sql, $chromsizesSql,
         |bins AS (SELECT chrom, CAST(s AS BIGINT) AS start,
         |    LEAST(CAST(s AS BIGINT) + 100, length) AS "end"
         |  FROM chroms CROSS JOIN range(0, 2570, 100) r(s)),
         |counts AS (SELECT chrom, (start // 100) * 100 AS b, COUNT(*) AS n
         |  FROM iv1 GROUP BY chrom, (start // 100) * 100)
         |SELECT bins.chrom, bins.start, bins."end",
         |  CAST(COALESCE(counts.n, 0) AS DOUBLE) AS value
         |FROM bins LEFT JOIN counts
         |  ON bins.chrom = counts.chrom AND bins.start = counts.b""".stripMargin,
    "io_dsv2_bw" ->
      s"""WITH $iv1Sql, $chromsizesSql,
         |bins AS (SELECT chrom, CAST(s AS BIGINT) AS start,
         |    LEAST(CAST(s AS BIGINT) + 100, length) AS "end"
         |  FROM chroms CROSS JOIN range(0, 2570, 100) r(s)),
         |counts AS (SELECT chrom, (start // 100) * 100 AS b, COUNT(*) AS n
         |  FROM iv1 GROUP BY chrom, (start // 100) * 100)
         |SELECT bins.chrom, bins.start, bins."end",
         |  CAST(COALESCE(counts.n, 0) AS DOUBLE) AS value
         |FROM bins LEFT JOIN counts
         |  ON bins.chrom = counts.chrom AND bins.start = counts.b
         |WHERE bins.chrom = 'c2' AND bins.start < 1700
         |  AND bins."end" > 300""".stripMargin,
    "io_bigbed" ->
      s"""WITH $iv3Sql
         |SELECT chrom, start, "end", id FROM iv3""".stripMargin,
    "io_tabix" ->
      s"""WITH $iv3Sql
         |SELECT chrom, start, "end", id FROM iv3
         |WHERE chrom = 'c3' AND start < 1500 AND "end" > 500""".stripMargin,
    "io_dsv2" ->
      s"""WITH $iv3Sql
         |SELECT chrom, start, "end", id FROM iv3
         |WHERE chrom = 'c5' AND start < 1800 AND "end" > 200""".stripMargin,
    "io_bam" ->
      s"""WITH $iv3Sql
         |SELECT 'r' || CAST(id AS VARCHAR) AS qname,
         |  CAST(id % 2 * 16 AS BIGINT) AS flag, chrom AS rname,
         |  start AS pos, CAST(30 + id % 10 AS BIGINT) AS mapq,
         |  CAST("end" - start AS VARCHAR) || 'M' AS cigar
         |FROM iv3 WHERE chrom = 'c3' AND start < 1500 AND "end" > 500""".stripMargin,
    "io_pairix" ->
      s"""WITH $iv3Sql
         |SELECT 'p' || CAST(id AS VARCHAR) AS read_id, chrom AS chrom1,
         |  start + 1 AS pos1,
         |  'c' || CAST((id // 8) % 8 AS VARCHAR) AS chrom2,
         |  (id * 53) % 2400 + 1 AS pos2
         |FROM iv3 WHERE chrom = 'c3'
         |  AND 'c' || CAST((id // 8) % 8 AS VARCHAR) = 'c5'
         |  AND start >= 0 AND start < 1600
         |  AND (id * 53) % 2400 >= 0 AND (id * 53) % 2400 < 3000""".stripMargin,
    // Arima cocktail: DpnII GATC boundary at site+2, HinfI GANTC (N = any
    // base, LIKE '_' in SQL) at site+3 — cut sets unioned before the stitch
    "seq_digest_arima" ->
      s"""WITH $seqChunksSql,
         |ext AS (SELECT c.chrom, c.cstart, c.seq,
         |    c.seq || COALESCE(n.pref, '') AS extseq
         |  FROM chunksq c LEFT JOIN
         |    (SELECT chrom AS nc, cstart AS ns, substr(seq, 1, 4) AS pref
         |     FROM chunksq) n
         |    ON c.chrom = n.nc AND c.cend = n.ns),
         |sites AS (
         |  SELECT chrom, cstart + i - 1 + 2 AS pos
         |  FROM ext, UNNEST(generate_series(1, length(seq))) u(i)
         |  WHERE substr(extseq, CAST(i AS INT), 4) = 'GATC'
         |  UNION ALL
         |  SELECT chrom, cstart + i - 1 + 3 AS pos
         |  FROM ext, UNNEST(generate_series(1, length(seq))) u(i)
         |  WHERE substr(extseq, CAST(i AS INT), 5) LIKE 'GA_TC'),
         |lens AS (SELECT chrom, MAX(cend) AS len FROM chunksq GROUP BY chrom),
         |cuts AS (SELECT DISTINCT chrom, pos FROM (
         |  SELECT s.chrom, s.pos FROM sites s JOIN lens l ON s.chrom = l.chrom
         |    WHERE s.pos > 0 AND s.pos < l.len
         |  UNION ALL SELECT chrom, CAST(0 AS BIGINT) FROM lens
         |  UNION ALL SELECT chrom, len FROM lens) z)
         |SELECT chrom, pos AS start,
         |  LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS "end"
         |FROM cuts QUALIFY "end" IS NOT NULL""".stripMargin,
    // StyI CCWWGG boundary at site+4, HincII GTYRAC at site+5; the
    // degenerate W/Y/R classes spell as per-position IN lists (the
    // engine side compiles the same classes to Column.isin)
    "seq_digest_iupac" ->
      s"""WITH $seqChunksSql,
         |ext AS (SELECT c.chrom, c.cstart, c.seq,
         |    c.seq || COALESCE(n.pref, '') AS extseq
         |  FROM chunksq c LEFT JOIN
         |    (SELECT chrom AS nc, cstart AS ns, substr(seq, 1, 5) AS pref
         |     FROM chunksq) n
         |    ON c.chrom = n.nc AND c.cend = n.ns),
         |sites AS (
         |  SELECT chrom, cstart + i - 1 + 4 AS pos
         |  FROM ext, UNNEST(generate_series(1, length(seq))) u(i)
         |  WHERE substr(extseq, CAST(i AS INT), 2) = 'CC'
         |    AND substr(extseq, CAST(i AS INT) + 2, 1) IN ('A','T')
         |    AND substr(extseq, CAST(i AS INT) + 3, 1) IN ('A','T')
         |    AND substr(extseq, CAST(i AS INT) + 4, 2) = 'GG'
         |  UNION ALL
         |  SELECT chrom, cstart + i - 1 + 5 AS pos
         |  FROM ext, UNNEST(generate_series(1, length(seq))) u(i)
         |  WHERE substr(extseq, CAST(i AS INT), 2) = 'GT'
         |    AND substr(extseq, CAST(i AS INT) + 2, 1) IN ('C','T')
         |    AND substr(extseq, CAST(i AS INT) + 3, 1) IN ('A','G')
         |    AND substr(extseq, CAST(i AS INT) + 4, 2) = 'AC'),
         |lens AS (SELECT chrom, MAX(cend) AS len FROM chunksq GROUP BY chrom),
         |cuts AS (SELECT DISTINCT chrom, pos FROM (
         |  SELECT s.chrom, s.pos FROM sites s JOIN lens l ON s.chrom = l.chrom
         |    WHERE s.pos > 0 AND s.pos < l.len
         |  UNION ALL SELECT chrom, CAST(0 AS BIGINT) FROM lens
         |  UNION ALL SELECT chrom, len FROM lens) z)
         |SELECT chrom, pos AS start,
         |  LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS "end"
         |FROM cuts QUALIFY "end" IS NOT NULL""".stripMargin,
    // BANDED closest oracles (all six + iv_reldist): the naive form
    // enumerates the full per-chrom cross product under a ROW_NUMBER
    // window — ~2.8e10 pairs at sf1, >60 GB of DuckDB temp, infeasible.
    // The band b.end >= a.start - w AND b.start <= a.end + w admits
    // EXACTLY the candidates with distance <= w (and every promoted-
    // point overlap), and every excluded candidate has distance > w, so
    // banded top-k equals true top-k whenever a left row has >= k
    // banded candidates. `w` adapts to the b-side density per chrom
    // (~120 expected candidates per axis unit of band), and the `cert`
    // CTE PROVES sufficiency per run: if any left row has fewer than k
    // banded candidates the whole result is emptied — a loud rowcount
    // failure, never a silently-wrong compare.
    "iv_closest" -> closestOracle(1, "id_2"),
    "iv_closest_tie" -> closestOracle(1, "id_2 DESC"),
    "iv_closest_k3" -> closestOracle(3, "id_2"),
    // same plan and semantics as iv_closest_k3, reached through the
    // graft_closest TVF from plain SQL
    "ext_sql_closest" -> closestOracle(3, "id_2"),
    "ext_sql_merge" ->
      s"""WITH $iv1Sql, $mergedIv1Sql
         |SELECT chrom, start, "end", n_intervals FROM m1""".stripMargin,
    "iv_closest_upstream" -> closestUpstreamOracleSql,
    "ext_sql_closest_up" -> closestUpstreamOracleSql,
    "iv_closest_ignore" ->
      s"""WITH $iv2Sql, $iv3Sql,
         |stx AS (SELECT chrom,
         |    GREATEST(CAST(CEIL((MAX("end") - MIN(start)) * 120.0 / COUNT(*)) AS BIGINT), 4) AS w
         |  FROM iv2 GROUP BY chrom),
         |cand AS MATERIALIZED (
         |  SELECT a.id AS id_1, b.id AS id_2,
         |    GREATEST(a.start - b."end", b.start - a."end", 0) AS dist
         |  FROM iv3 a JOIN stx s ON a.chrom = s.chrom
         |  JOIN iv2 b ON a.chrom = b.chrom
         |    AND b."end" >= a.start - s.w AND b.start <= a."end" + s.w
         |  WHERE b."end" <= a.start OR b.start >= a."end"),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_1
         |    ORDER BY dist, id_2) AS rn FROM cand),
         |cert AS (SELECT (SELECT COUNT(*) FROM iv3) = COUNT(*) AS ok FROM
         |  (SELECT id_1 FROM cand GROUP BY id_1 HAVING COUNT(*) >= 1) z)
         |SELECT a.id AS id_1, r.id_2, r.dist AS distance
         |FROM iv3 a LEFT JOIN ranked r ON a.id = r.id_1 AND r.rn <= 1
         |WHERE (SELECT ok FROM cert)""".stripMargin,
    "iv_subtract" -> subtractOracleSql,
    // same semantics reached through the graft_subtract TVF from plain SQL
    "ext_sql_subtract" -> subtractOracleSql,
    "ext_sql_complement" -> complementViewlessOracleSql,
    "iv_subtract_index" ->
      s"""WITH $iv1Sql, $iv2Sql, $mergedIv1Sql,
         |mm AS (
         |  SELECT a.id, a.chrom, a.start AS s1, a."end" AS e1,
         |    GREATEST(m.start, a.start) AS ms, LEAST(m."end", a."end") AS me
         |  FROM iv2 a JOIN m1 m
         |    ON a.chrom = m.chrom AND a.start < m."end" AND m.start < a."end"),
         |frag1 AS (SELECT id, chrom,
         |    COALESCE(LAG(me) OVER (PARTITION BY id ORDER BY ms), s1) AS fs,
         |    ms AS fe FROM mm),
         |frag2 AS (SELECT id, chrom, MAX(me) AS fs, MAX(e1) AS fe
         |  FROM mm GROUP BY id, chrom),
         |untouched AS (SELECT id, chrom, start AS fs, "end" AS fe FROM iv2 a
         |  WHERE NOT EXISTS (SELECT 1 FROM m1 m
         |    WHERE m.chrom = a.chrom AND a.start < m."end" AND m.start < a."end"))
         |SELECT id, chrom, fs AS start, fe AS "end",
         |  CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY fs) - 1 AS BIGINT)
         |    AS sub_index_
         |FROM (
         |  SELECT * FROM frag1 UNION ALL SELECT * FROM frag2
         |  UNION ALL SELECT * FROM untouched) u
         |WHERE fs < fe""".stripMargin,
    "iv_complement" ->
      s"""WITH $iv1Sql, ${viewSql}, $mergedIv1Sql,
         |inreg AS (
         |  SELECT v.chrom, v.start AS vs, v."end" AS ve, v.name,
         |    GREATEST(m.start, v.start) AS ms, LEAST(m."end", v."end") AS me
         |  FROM m1 m JOIN vw v
         |    ON m.chrom = v.chrom AND m.start < v."end" AND v.start < m."end"),
         |g1 AS (SELECT chrom, name,
         |    COALESCE(LAG(me) OVER (PARTITION BY name ORDER BY ms), vs) AS gs,
         |    ms AS ge FROM inreg),
         |g2 AS (SELECT chrom, name, MAX(me) AS gs, MAX(ve) AS ge
         |  FROM inreg GROUP BY chrom, name),
         |empty AS (SELECT chrom, name, start AS gs, "end" AS ge FROM vw v
         |  WHERE NOT EXISTS (SELECT 1 FROM inreg i WHERE i.name = v.name))
         |SELECT chrom, gs AS start, ge AS "end", name AS view_region FROM (
         |  SELECT * FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2) gg
         |  WHERE gs < ge
         |  UNION ALL SELECT * FROM empty) u""".stripMargin,
    "iv_trim" ->
      s"""WITH $iv1Sql, ${viewSql},
         |e AS (SELECT id, chrom, start - 10 AS start, "end" + 10 AS "end" FROM iv1),
         |cand AS (
         |  SELECT a.id, v.name, v.start AS vs, v."end" AS ve, v.ord,
         |    LEAST(a."end", v."end") - GREATEST(a.start, v.start) AS olen
         |  FROM e a JOIN vw v ON a.chrom = v.chrom AND ${ovl("a", "v")}),
         |best AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |    ORDER BY olen DESC, ord) AS rn FROM cand) WHERE rn = 1)
         |SELECT a.id,
         |  CASE WHEN b.id IS NULL THEN NULL ELSE a.chrom END AS chrom,
         |  CASE WHEN b.id IS NULL THEN NULL ELSE GREATEST(a.start, b.vs) END AS start,
         |  CASE WHEN b.id IS NULL THEN NULL ELSE LEAST(a."end", b.ve) END AS "end"
         |FROM e a LEFT JOIN best b ON a.id = b.id""".stripMargin,
    "iv_trim_noview" ->
      s"""WITH $iv1Sql
         |SELECT id, chrom, GREATEST(start - 10, 0) AS start,
         |  GREATEST("end" + 10, 0) AS "end"
         |FROM iv1""".stripMargin,
    "iv_assign_view" ->
      s"""WITH $iv1Sql, ${viewSql},
         |cand AS (
         |  SELECT a.id, v.name, v.ord,
         |    LEAST(a."end", v."end") - GREATEST(a.start, v.start) AS olen
         |  FROM iv1 a JOIN vw v ON a.chrom = v.chrom AND ${ovl("a", "v")}),
         |best AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |    ORDER BY olen DESC, ord) AS rn FROM cand) WHERE rn = 1)
         |SELECT a.id, b.name AS view_region
         |FROM iv1 a LEFT JOIN best b ON a.id = b.id""".stripMargin,
    "iv_sort_rank" ->
      s"""WITH $iv1Sql, ${viewSql},
         |cand AS (
         |  SELECT a.id, a.start, a."end", v.name, v.ord,
         |    LEAST(a."end", v."end") - GREATEST(a.start, v.start) AS olen
         |  FROM iv1 a JOIN vw v ON a.chrom = v.chrom AND ${ovl("a", "v")}),
         |best AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
         |    ORDER BY olen DESC, ord) AS rn FROM cand) WHERE rn = 1)
         |SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY ord, start, "end", id) AS BIGINT) AS rk
         |FROM best""".stripMargin,
    "iv_sort_bedframe" ->
      s"""WITH $iv1Sql
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY chrom, start, "end") - 1
         |    AS BIGINT) AS pos,
         |  chrom, start, "end"
         |FROM iv1""".stripMargin,
    "iv_overlap_keep_order" ->
      s"""WITH $iv2Sql, $iv3Sql,
         |a AS (SELECT *, ROW_NUMBER() OVER (
         |    ORDER BY (id * 2654435761) % 999983, id) AS o1 FROM iv3),
         |b AS (SELECT *, ROW_NUMBER() OVER (
         |    ORDER BY (id * 1103515245) % 999983, id) AS o2 FROM iv2),
         |j AS (SELECT a.id AS id_1, b.id AS id_2, a.o1 AS o1, b.o2 AS o2
         |  FROM a LEFT JOIN b ON a.chrom = b.chrom AND ${ovl("a", "b")})
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY o1, o2 NULLS LAST) - 1
         |    AS BIGINT) AS pos,
         |  id_1, id_2
         |FROM j""".stripMargin,
    "iv_select_indices" ->
      s"""WITH $iv3Sql
         |SELECT id, chrom, start, "end" FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    ORDER BY (id * 2654435761) % 999983, id) - 1 AS pos
         |  FROM iv3) t
         |WHERE pos IN (0, 7, 77, 777)""".stripMargin,
    "iv_stack" ->
      s"""WITH $iv3Sql,
         |ev AS (SELECT chrom, start AS pos, 1 AS d FROM iv3
         |  UNION ALL SELECT chrom, "end", -1 FROM iv3),
         |agg AS (SELECT chrom, pos, SUM(d) AS delta FROM ev GROUP BY chrom, pos),
         |dep AS (SELECT chrom, CAST(SUM(delta) OVER (PARTITION BY chrom
         |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth FROM agg),
         |md AS (SELECT chrom, MAX(depth) AS max_depth FROM dep GROUP BY chrom),
         |cnt AS (SELECT chrom, COUNT(*) AS n FROM iv3 GROUP BY chrom)
         |SELECT cnt.chrom, cnt.n, md.max_depth AS n_levels,
         |  md.max_depth AS max_depth, CAST(0 AS BIGINT) AS n_violations
         |FROM cnt JOIN md ON cnt.chrom = md.chrom""".stripMargin,
    "util_colorstring" ->
      """SELECT * FROM (VALUES
        |  ('red', '255,0,0'), ('tomato', '255,99,71'),
        |  ('skyblue', '135,206,235'), ('dodgerblue', '30,144,255'),
        |  ('tab:blue', '31,119,180'), ('g', '0,127,0'), ('c', '0,191,191'),
        |  ('#ff0000', '255,0,0'), ('#ff8800', '255,136,0'),
        |  ('#f0a', '255,0,170'), ('#ff000055', '255,0,0'), ('none', '0'),
        |  (NULL, '0'), ('notacolor', NULL)) t(color, item_rgb)""".stripMargin,
    "evt_stream_merge" ->
      s"""WITH $iv1Sql,
         |sub1 AS (SELECT * FROM iv1 WHERE id % 8 = 0),
         |${TestTables.mergedSql("sub1")}
         |SELECT chrom, start, "end", n_intervals FROM m1""".stripMargin,
    "iv_binnify" ->
      s"""WITH $chromsizesSql
         |SELECT chrom, CAST(s AS BIGINT) AS start,
         |  LEAST(CAST(s AS BIGINT) + 100, length) AS "end",
         |  CAST(s // 100 AS BIGINT) AS rel_id
         |FROM chroms CROSS JOIN range(0, 2570, 100) r(s)""".stripMargin,
    "iv_chromarms" ->
      s"""WITH $chromsizesSql
         |SELECT chrom, CAST(0 AS BIGINT) AS start, CAST(1300 AS BIGINT) AS "end",
         |  chrom || '_p' AS name FROM chroms
         |UNION ALL
         |SELECT chrom, CAST(1300 AS BIGINT), length, chrom || '_q' FROM chroms""".stripMargin,
    "iv_pair_by_distance" ->
      s"""WITH $iv3Sql,
         |m AS (SELECT id, chrom, (start + "end") // 2 AS mid,
         |    ROW_NUMBER() OVER (PARTITION BY chrom ORDER BY start, "end", id) AS rnk
         |  FROM iv3)
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM m a JOIN m b ON a.chrom = b.chrom
         |  AND (a.mid + 5) < (b.mid - 5) AND (b.mid - 100) < (a.mid + 100)
         |  AND ABS(a.rnk - b.rnk) - 1 <= 5""".stripMargin,
    "iv_pileup" ->
      s"""WITH $iv1Sql,
         |ev AS (SELECT chrom, start AS pos, CAST(1 AS BIGINT) AS d FROM iv1
         |  UNION ALL SELECT chrom, "end", CAST(-1 AS BIGINT) FROM iv1),
         |agg AS (SELECT chrom, pos, SUM(d) AS delta FROM ev GROUP BY chrom, pos),
         |c AS (SELECT chrom, pos,
         |    CAST(SUM(delta) OVER (PARTITION BY chrom ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
         |    LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS next
         |  FROM agg)
         |SELECT chrom, pos AS start, next AS "end", depth FROM c
         |WHERE next IS NOT NULL""".stripMargin,
    "iv_pileup_weighted" ->
      s"""WITH $iv1Sql,
         |ev AS (SELECT chrom, start AS pos, CAST(id % 5 AS BIGINT) AS d FROM iv1
         |  UNION ALL SELECT chrom, "end", CAST(-(id % 5) AS BIGINT) FROM iv1),
         |agg AS (SELECT chrom, pos, SUM(d) AS delta FROM ev GROUP BY chrom, pos),
         |c AS (SELECT chrom, pos,
         |    CAST(SUM(delta) OVER (PARTITION BY chrom ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth,
         |    LEAD(pos) OVER (PARTITION BY chrom ORDER BY pos) AS next
         |  FROM agg)
         |SELECT chrom, pos AS start, next AS "end", depth FROM c
         |WHERE next IS NOT NULL""".stripMargin,
    "iv_pair_endpoints" ->
      s"""WITH $iv3Sql,
         |m AS (SELECT id, chrom, start, "end",
         |    ROW_NUMBER() OVER (PARTITION BY chrom ORDER BY start, "end", id) AS rnk
         |  FROM iv3)
         |SELECT a.id AS id_1, b.id AS id_2
         |FROM m a JOIN m b ON a.chrom = b.chrom
         |  AND (a."end" + 5) < (b.start - 5) AND (b.start - 100) < (a."end" + 100)
         |  AND ABS(a.rnk - b.rnk) - 1 <= 5""".stripMargin,
    "iv_mark_runs" ->
      s"""WITH $iv1Sql, $chromsizesSql,
         |bins AS (SELECT chrom, CAST(s AS BIGINT) AS start,
         |    LEAST(CAST(s AS BIGINT) + 100, length) AS "end"
         |  FROM chroms CROSS JOIN range(0, 2570, 100) r(s)),
         |counts AS (SELECT chrom, (start // 100) * 100 AS b, COUNT(*) AS n
         |  FROM iv1 GROUP BY chrom, (start // 100) * 100),
         |valued AS (SELECT bins.chrom, bins.start, bins."end",
         |    CASE WHEN counts.n IS NOT NULL THEN 1 ELSE 0 END AS value
         |  FROM bins LEFT JOIN counts
         |    ON bins.chrom = counts.chrom AND bins.start = counts.b),
         |marked AS (SELECT *, CASE WHEN LAG(value) OVER w IS NULL
         |      OR value <> LAG(value) OVER w THEN 1 ELSE 0 END AS brd
         |  FROM valued WINDOW w AS (PARTITION BY chrom ORDER BY start))
         |SELECT chrom, start, "end", CAST(value AS BIGINT) AS value,
         |  CAST(SUM(brd) OVER (PARTITION BY chrom ORDER BY start
         |    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS run
         |FROM marked""".stripMargin,
    "iv_merge_runs" ->
      s"""WITH $iv1Sql, $chromsizesSql,
         |bins AS (SELECT chrom, CAST(s AS BIGINT) AS start,
         |    LEAST(CAST(s AS BIGINT) + 100, length) AS "end"
         |  FROM chroms CROSS JOIN range(0, 2570, 100) r(s)),
         |counts AS (SELECT chrom, (start // 100) * 100 AS b, COUNT(*) AS n
         |  FROM iv1 GROUP BY chrom, (start // 100) * 100),
         |valued AS (SELECT bins.chrom, bins.start, bins."end",
         |    CASE WHEN counts.n IS NOT NULL THEN 1 ELSE 0 END AS value
         |  FROM bins LEFT JOIN counts
         |    ON bins.chrom = counts.chrom AND bins.start = counts.b),
         |marked AS (SELECT *, CASE WHEN LAG(value) OVER w IS NULL
         |      OR value <> LAG(value) OVER w THEN 1 ELSE 0 END AS brd
         |  FROM valued WINDOW w AS (PARTITION BY chrom ORDER BY start)),
         |runs AS (SELECT *, SUM(brd) OVER (PARTITION BY chrom ORDER BY start
         |    ROWS UNBOUNDED PRECEDING) - 1 AS run FROM marked)
         |SELECT chrom, MIN(start) AS start, MAX("end") AS "end",
         |  CAST(value AS BIGINT) AS value, COUNT(*) AS n_bins
         |FROM runs GROUP BY chrom, value, run""".stripMargin,
    "chk_invariants" ->
      s"""WITH $iv1Sql,
         |x AS (SELECT *, MAX("end") OVER (PARTITION BY chrom ORDER BY start, "end", id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv1)
         |SELECT
         |  COUNT(CASE WHEN chrom IS NULL OR start IS NULL OR "end" IS NULL
         |    OR start > "end" THEN 1 END) = 0 AS bed_ok,
         |  BOOL_OR(start = "end") AS has_points,
         |  BOOL_OR(pm IS NOT NULL AND start < pm) AS is_overlapping
         |FROM x""".stripMargin,
    "util_sanitize" ->
      """SELECT CAST(p_partkey AS BIGINT) AS id,
        |  'c' || CAST(p_partkey % 8 AS VARCHAR) AS chrom,
        |  LEAST(CAST((p_partkey * 13) % 1000 AS BIGINT),
        |        CAST((p_partkey * 7) % 1000 AS BIGINT)) AS start,
        |  GREATEST(CAST((p_partkey * 13) % 1000 AS BIGINT),
        |           CAST((p_partkey * 7) % 1000 AS BIGINT)) AS "end"
        |FROM part""".stripMargin,
    "util_natsort" ->
      """WITH names AS (SELECT DISTINCT 'c' || CAST(p_partkey % 12 AS VARCHAR) AS name FROM part)
        |SELECT name, CAST(ROW_NUMBER() OVER (ORDER BY
        |  regexp_extract(name, '^(\D*)', 1),
        |  CAST(regexp_extract(name, '(\d+)', 1) AS BIGINT), name) AS BIGINT) AS nat_rank
        |FROM names""".stripMargin,
    "region_parse" ->
      """SELECT * FROM (VALUES
        |  ('c1:100-500', 'c1', CAST(100 AS BIGINT), CAST(500 AS BIGINT)),
        |  ('c2:1,000-2kb', 'c2', 1000, 2000),
        |  ('c3', 'c3', NULL, NULL),
        |  ('c4:50-', 'c4', 50, NULL),
        |  ('c5:1.5K-0.002M', 'c5', 1500, 2000),
        |  ('c6 : 10 - 20', 'c6', 10, 20)) t(input, chrom, start, "end")""".stripMargin,
    "evt_stream_dedup" ->
      """SELECT event_id, epoch_ms(ts) AS tms, event_type, value
        |FROM events WHERE event_id % 4 = 0""".stripMargin,
    "evt_stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms
        |  FROM events WHERE event_id % 4 = 1),
        |s AS (SELECT *, CASE WHEN LAG(tms) OVER w IS NULL
        |    OR tms - LAG(tms) OVER w >= 1800000 THEN 1 ELSE 0 END AS brd
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        |sess AS (SELECT *, SUM(brd) OVER (PARTITION BY user_id
        |    ORDER BY tms, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, MIN(tms) AS session_start, MAX(tms) AS session_last,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "evt_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
        |s AS (SELECT *, CASE WHEN LAG(tms) OVER w IS NULL
        |    OR tms - LAG(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS brd
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        |sess AS (SELECT user_id, tms, CAST(SUM(brd) OVER (PARTITION BY user_id
        |    ORDER BY tms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, MIN(tms) AS session_start,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "evt_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS tms
        |  FROM events WHERE event_id % 4 = 3)
        |SELECT a.event_id AS l_id, b.event_id AS r_id, a.user_id,
        |  a.tms - b.tms AS dt_ms
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |WHERE a.event_id % 8 = 3 AND b.event_id % 8 = 7
        |  AND b.tms BETWEEN a.tms - 86400000 AND a.tms""".stripMargin,
    "evt_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_id % 4 = 1""".stripMargin,
    "evt_stream_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events WHERE event_id % 4 = 2 GROUP BY 1, 2""".stripMargin,
    "evt_stream_file" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events WHERE event_id % 4 = 0 GROUP BY 1, 2""".stripMargin,
    "evt_window_agg" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // end-to-end ingest-quintet replay: the admitted set is derived from
    // first principles (rows whose text occurs in no earlier batch — the
    // bloom-prefilter + exact-verify contract), and every persisted-index
    // total must land exactly on it; token masses replay the engine
    // tokenizer (the txt_cms pattern)
    "evt_ingest_e2e" ->
      """WITH base AS (SELECT doc_id, COALESCE(source, '__null') AS source,
        |    text FROM documents),
        |stream AS (
        |  SELECT doc_id, source, text, doc_id % 3 AS b FROM base
        |  UNION ALL SELECT -doc_id - 1, source, text, 1 FROM base
        |    WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        |  UNION ALL SELECT -doc_id - 1, source, text, 2 FROM base
        |    WHERE doc_id % 3 = 1 AND doc_id % 7 = 1),
        |adm AS (SELECT * FROM stream s WHERE NOT EXISTS (
        |  SELECT 1 FROM stream e WHERE e.b < s.b AND e.text = s.text)),
        |tok AS (SELECT CAST(COALESCE(SUM(len(list_filter(
        |    string_split_regex(lower(COALESCE(text, '')), '[^a-z0-9]+'),
        |    x -> len(x) > 0))), 0) AS BIGINT) AS n FROM adm)
        |SELECT metric, value FROM (
        |  SELECT 'admitted_total' AS metric, CAST(COUNT(*) AS BIGINT) AS value
        |    FROM adm
        |  UNION ALL SELECT 'admitted_b0', CAST(COUNT(*) AS BIGINT)
        |    FROM adm WHERE b = 0
        |  UNION ALL SELECT 'admitted_b1', CAST(COUNT(*) AS BIGINT)
        |    FROM adm WHERE b = 1
        |  UNION ALL SELECT 'admitted_b2', CAST(COUNT(*) AS BIGINT)
        |    FROM adm WHERE b = 2
        |  UNION ALL SELECT 'exact_dups',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM stream)
        |      - (SELECT CAST(COUNT(*) AS BIGINT) FROM adm)
        |  UNION ALL SELECT 'minhash_docs', CAST(COUNT(*) AS BIGINT) FROM adm
        |  UNION ALL SELECT 'minhash_band_rows', CAST(16 * COUNT(*) AS BIGINT)
        |    FROM adm
        |  UNION ALL SELECT 'bloom_missing', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'hist_docs', CAST(COUNT(*) AS BIGINT) FROM adm
        |  UNION ALL SELECT 'hist_strata', CAST(COUNT(DISTINCT source) AS BIGINT)
        |    FROM adm
        |  UNION ALL SELECT 'cms_tokens', (SELECT n FROM tok)
        |  UNION ALL SELECT 'profile_docs', CAST(COUNT(*) AS BIGINT) FROM adm
        |  UNION ALL SELECT 'profile_tokens', (SELECT n FROM tok)
        |  UNION ALL SELECT 'profile_chars',
        |    CAST(COALESCE(SUM(len(text)), 0) AS BIGINT) FROM adm
        |  UNION ALL SELECT 'pairs_replay_drift', CAST(0 AS BIGINT)
        |) t ORDER BY metric""".stripMargin,
    "txt_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
        |  CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|that|it|for|on|with|as|was|at|by|an|be|this|are)\b')) AS BIGINT) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
        |  (LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
        |   + LEAST(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is|that|it|for|on|with|as|was|at|by|an|be|this|are)\b')) AS DOUBLE) / GREATEST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.4
        |   + (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 5.0, 1.0)) * 0.15
        |   + (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.15) AS quality
        |FROM documents""".stripMargin,
    "txt_repetition" ->
      """WITH d2 AS (SELECT doc_id,
        |    regexp_replace(text, ' (the|a|value|table|row) ', chr(10), 'g') AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, trim(l, ' ') AS line
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        |        FROM d2)
        |  WHERE len(trim(l, ' ')) > 0),
        |lg AS (SELECT doc_id, line, COUNT(*) AS cnt FROM lines GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
        |      / SUM(cnt) AS dup_line_frac,
        |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt * len(line) ELSE 0 END) AS DOUBLE)
        |      / SUM(cnt * len(line)) AS dup_line_char_frac
        |  FROM lg GROUP BY 1),
        |toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM d2),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
        |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
        |  FROM bc GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(ls.n_lines, 0) AS BIGINT) AS n_lines,
        |  ls.dup_line_frac, ls.dup_line_char_frac, bs.top_bigram_frac
        |FROM documents d
        |LEFT JOIN ls ON d.doc_id = ls.doc_id
        |LEFT JOIN bs ON d.doc_id = bs.doc_id""".stripMargin,
    "txt_paragraph_dedup" ->
      """WITH d2 AS (SELECT doc_id,
        |    regexp_replace(text, ' (the|a|value|table|row) ', chr(10), 'g') AS text
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM d2),
        |lines AS (SELECT doc_id, i - 1 AS pos, trim(ps[i], ' ') AS para
        |  FROM parts, UNNEST(generate_series(1, len(ps))) AS u(i)),
        |l2 AS (SELECT doc_id, para, doc_id * 1048576 + pos AS k
        |  FROM lines WHERE len(para) > 0),
        |f AS (SELECT para, MIN(k) AS fk FROM l2 GROUP BY 1),
        |inst AS (SELECT l2.doc_id,
        |    CASE WHEN l2.k = f.fk THEN 0 ELSE 1 END AS removed
        |  FROM l2 JOIN f ON l2.para = f.para),
        |a AS (SELECT doc_id, COUNT(*) AS n_paras, SUM(removed) AS n_removed
        |  FROM inst GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_paras, 0) AS BIGINT) AS n_paras,
        |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin,
    "txt_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS token_offset
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, token_offset,
        |  token_offset // 512 AS seq_first,
        |  token_offset % 512 AS seq_first_off,
        |  (token_offset + n_tokens - 1) // 512 AS seq_last
        |FROM o""".stripMargin,
    "txt_gopher_quality" ->
      """WITH p AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(text,
        |      ' value ', '...' || chr(10), 'g'),
        |      ' table ', chr(10) || '- ', 'g') AS t
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS n_words,
        |    CAST(length(t) - length(replace(t, chr(10), '')) + 1
        |      AS BIGINT) AS n_lines,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g'))
        |      AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(t, '(?m)^\s*[-*]'))
        |      AS BIGINT) AS n_bul,
        |    CAST(len(regexp_extract_all(t, '(?m)\.\.\.$'))
        |      AS BIGINT) AS n_ell,
        |    CAST(len(regexp_extract_all(t, '(^|\s)[^A-Za-z\s]*[A-Za-z]'))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(regexp_extract_all(lower(t),
        |      '\b(the|and|of|to|in|a|is|that|it|for|on|with|as|was|at|by|an|be|this|are)\b'))
        |      AS BIGINT) AS n_stop
        |  FROM p)
        |SELECT doc_id, n_words, n_lines,
        |  CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words
        |       ELSE 0.0 END AS mean_word_len,
        |  CAST(n_bul AS DOUBLE) / n_lines AS frac_bullet_lines,
        |  CAST(n_ell AS DOUBLE) / n_lines AS frac_ellipsis_lines,
        |  CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words
        |       ELSE 0.0 END AS frac_alpha_words,
        |  n_stop,
        |  (n_words BETWEEN 50 AND 100000
        |    AND CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words
        |             ELSE 0.0 END BETWEEN 3.0 AND 10.0
        |    AND CAST(n_bul AS DOUBLE) / n_lines <= 0.5
        |    AND CAST(n_ell AS DOUBLE) / n_lines <= 0.5
        |    AND CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words
        |             ELSE 0.0 END >= 0.9
        |    AND n_stop >= 2) AS keep
        |FROM m""".stripMargin,
    "txt_redact" ->
      """WITH p AS (SELECT doc_id,
        |    replace(replace(replace(text,
        |      ' key ', ' bob.smith+1@corp.example.org '),
        |      ' scan ', ' 10.0.255.7 '),
        |      ' batch ', ' 123456789 ') AS t
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{7,}\b', '<NUM>', 'g') AS t
        |  FROM p)
        |SELECT doc_id, md5(t) AS redacted_md5,
        |  CAST(len(regexp_extract_all(t, '<EMAIL>')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '<IP>')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '<NUM>')) AS BIGINT) AS n_num
        |FROM r""".stripMargin,
    "txt_decontaminate" ->
      """WITH evx AS (SELECT doc_id AS eid,
        |    array_to_string(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> len(x) > 0)[1:12], ' ') AS ex
        |  FROM documents WHERE doc_id % 97 = 0),
        |corpus AS (SELECT d.doc_id,
        |    CASE WHEN e.ex IS NOT NULL THEN d.text || ' ' || e.ex
        |         ELSE d.text END AS text
        |  FROM documents d LEFT JOIN evx e
        |    ON d.doc_id % 13 = 3 AND (d.doc_id % 3) * 97 = e.eid
        |  WHERE d.doc_id % 97 <> 0),
        |ctoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM corpus),
        |csh AS (SELECT DISTINCT doc_id,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7] AS s
        |  FROM ctoks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |etoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id % 97 = 0),
        |esh AS (SELECT DISTINCT doc_id AS eval_id,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7] AS s
        |  FROM etoks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8)
        |SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_hit_grams,
        |  COUNT(DISTINCT e.eval_id) AS n_eval_docs
        |FROM csh c JOIN esh e ON c.s = e.s
        |GROUP BY c.doc_id HAVING COUNT(DISTINCT c.s) >= 1""".stripMargin,
    "txt_top_terms" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |tf AS (SELECT doc_id, u.term, COUNT(*) AS tf
        |  FROM toks, UNNEST(t) AS u(term) GROUP BY doc_id, u.term),
        |dfd AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfd.df_docs,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfd.df_docs ASC, tf.term ASC) AS rnk
        |  FROM tf JOIN dfd USING (term))
        |SELECT doc_id, term, tf, df_docs, CAST(rnk AS BIGINT) AS "rank"
        |FROM r WHERE rnk <= 5""".stripMargin,
    "txt_vocab" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |tf AS (SELECT doc_id, u.term, COUNT(*) AS cnt
        |  FROM toks, UNNEST(t) AS u(term) GROUP BY doc_id, u.term),
        |v AS (SELECT term, CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
        |    COUNT(*) AS df_docs FROM tf GROUP BY term),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_occurrences DESC,
        |    df_docs ASC, term ASC) AS rnk FROM v)
        |SELECT term, n_occurrences, df_docs, CAST(rnk AS BIGINT) AS "rank"
        |FROM r WHERE rnk <= 200""".stripMargin,
    "txt_novelty" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |f AS (SELECT s, MIN(doc_id) AS first_id FROM sh GROUP BY s)
        |SELECT sh.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN f USING (s) GROUP BY sh.doc_id""".stripMargin,
    "txt_lm_backoff" ->
      """WITH tdoc AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents
        |  WHERE CAST(('0x' || substring(md5('lm|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < 3435973836),
        |sdoc AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents
        |  WHERE CAST(('0x' || substring(md5('lm|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) >= 3435973836),
        |tp AS (SELECT t[i] AS w,
        |    CASE WHEN i >= 2 THEN t[i-1] END AS w1,
        |    CASE WHEN i >= 3 THEN t[i-2] END AS w2
        |  FROM tdoc, UNNEST(generate_series(1, len(t))) u(i)),
        |uni AS (SELECT w AS g FROM tp GROUP BY 1),
        |bi AS (SELECT w1 || ' ' || w AS g FROM tp WHERE w1 IS NOT NULL
        |  GROUP BY 1 HAVING COUNT(*) >= 2),
        |tri AS (SELECT w2 || ' ' || w1 || ' ' || w AS g FROM tp
        |  WHERE w2 IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2),
        |sp AS (SELECT doc_id, i, t[i] AS w,
        |    CASE WHEN i >= 2 THEN t[i-1] END AS w1,
        |    CASE WHEN i >= 3 THEN t[i-2] END AS w2
        |  FROM sdoc, UNNEST(generate_series(1, len(t))) u(i)),
        |lv AS (SELECT s.doc_id,
        |    CASE WHEN t3.g IS NOT NULL THEN 3
        |         WHEN b2.g IS NOT NULL THEN 2
        |         WHEN u1.g IS NOT NULL THEN 1 ELSE 0 END AS lvl
        |  FROM sp s
        |  LEFT JOIN tri t3 ON s.w2 IS NOT NULL AND t3.g = s.w2 || ' ' || s.w1 || ' ' || s.w
        |  LEFT JOIN bi b2 ON s.w1 IS NOT NULL AND b2.g = s.w1 || ' ' || s.w
        |  LEFT JOIN uni u1 ON u1.g = s.w)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
        |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
        |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
        |  CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM lv GROUP BY doc_id""".stripMargin,
    "txt_quality_score" ->
      """WITH tok AS (SELECT doc_id, u.t AS term
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> len(x) > 0) AS l
        |    FROM documents), UNNEST(l) AS u(t)),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |ww AS (SELECT DISTINCT term,
        |    CAST(('0x' || substring(md5('graft-w1|' || term), 1, 8)) AS BIGINT)
        |      % 2001 - 1000 AS weight
        |  FROM tok),
        |agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_terms,
        |    CAST(SUM(tf * weight) AS BIGINT) AS margin
        |  FROM tf JOIN ww USING (term) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_terms, 0) AS n_terms,
        |  COALESCE(margin, 0) AS margin, COALESCE(margin, 0) > 0 AS keep
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "txt_auc" ->
      """WITH tok AS (SELECT doc_id, u.t AS term
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> len(x) > 0) AS l
        |    FROM documents), UNNEST(l) AS u(t)),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |ww AS (SELECT DISTINCT term,
        |    CAST(('0x' || substring(md5('graft-w1|' || term), 1, 8)) AS BIGINT)
        |      % 2001 - 1000 AS weight
        |  FROM tok),
        |agg AS (SELECT doc_id, CAST(SUM(tf * weight) AS BIGINT) AS margin
        |  FROM tf JOIN ww USING (term) GROUP BY doc_id),
        |sc AS (SELECT d.doc_id, COALESCE(margin, 0) AS margin,
        |    CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |g AS (SELECT margin, COUNT(*) AS n, SUM(y) AS np
        |  FROM sc GROUP BY margin),
        |r AS (SELECT *, COALESCE(SUM(n) OVER (ORDER BY margin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM g),
        |f AS (SELECT CAST(SUM(np) AS BIGINT) AS P,
        |    CAST(SUM(n - np) AS BIGINT) AS N,
        |    CAST(SUM(np * (2 * bef + n + 1)) AS BIGINT) AS sum2 FROM r)
        |SELECT P AS n_pos, N AS n_neg,
        |  CAST(sum2 - P * (P + 1) AS DOUBLE) / (2.0 * P * N) AS auc
        |FROM f""".stripMargin,
    "txt_feat_hash" ->
      """WITH tok AS (SELECT doc_id, u.t AS term
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> len(x) > 0) AS l
        |    FROM documents), UNNEST(l) AS u(t))
        |SELECT doc_id,
        |  CAST(('0x' || substring(md5('graft-feat|' || term), 1, 8)) AS BIGINT)
        |    % 512 AS feature,
        |  COUNT(*) AS tf
        |FROM tok GROUP BY doc_id, feature""".stripMargin,
    "txt_dup_spans" ->
      s"""WITH pl AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM pl),
        |grams AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
        |    md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |        t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]) AS k,
        |    doc_id * 1048576 + (i - 1) AS inst
        |  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |fo AS (SELECT k, MIN(inst) AS fi FROM grams GROUP BY k),
        |dsp AS (SELECT g.inst AS id, g.doc_id AS chrom, g.p AS start,
        |    g.p + 8 AS "end"
        |  FROM grams g JOIN fo USING (k) WHERE g.inst <> fo.fi),
        |${TestTables.mergedSql("dsp")}
        |SELECT chrom AS doc_id, start AS span_start, "end" AS span_end,
        |  n_intervals AS n_dup_windows
        |FROM m1""".stripMargin,
    "txt_profile" ->
      """WITH h AS (SELECT source, CAST(length(text) AS BIGINT) AS v,
        |    COUNT(*) AS c FROM documents GROUP BY source, v),
        |cum AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc FROM h),
        |t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(v * c) AS BIGINT) AS tot FROM h GROUP BY source)
        |SELECT source, t.n AS n_docs, t.tot AS total,
        |  MIN(v) AS min_v, MAX(v) AS max_v,
        |  CAST(t.tot AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_v,
        |  MIN(CASE WHEN cumc >= CEIL(0.5 * t.n) THEN v END) AS p50,
        |  MIN(CASE WHEN cumc >= CEIL(0.9 * t.n) THEN v END) AS p90,
        |  MIN(CASE WHEN cumc >= CEIL(0.99 * t.n) THEN v END) AS p99
        |FROM cum JOIN t USING (source) GROUP BY source, t.n, t.tot""".stripMargin,
    "txt_c4_filter" ->
      """WITH pl AS (SELECT doc_id,
        |    regexp_replace(text, ' (the|a|value|table|row) ', chr(10), 'g')
        |    || chr(10) || 'this line has more than five words.'
        |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'second kept line with enough words here.' || chr(10) || 'third kept sentence also has many words.' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'please enable javascript to continue.' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet paragraph.' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'curly brace { appears on this page.' ELSE '' END AS text
        |  FROM documents),
        |ln AS (SELECT doc_id, trim(l, ' ') AS l
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM pl)
        |  WHERE len(trim(l, ' ')) > 0),
        |v AS (SELECT doc_id, l,
        |    (regexp_matches(l, '[.!?"]$')
        |     AND len(regexp_extract_all(l, '\S+')) >= 5
        |     AND NOT contains(lower(l), 'javascript')) AS keep
        |  FROM ln),
        |agg AS (SELECT doc_id, COUNT(*) AS n_lines,
        |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    MAX(CASE WHEN contains(lower(l), 'lorem ipsum') THEN 1 ELSE 0 END) AS lor,
        |    MAX(CASE WHEN contains(l, '{') THEN 1 ELSE 0 END) AS cur
        |  FROM v GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_lines, 0) AS n_lines,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  (COALESCE(n_kept, 0) >= 3 AND COALESCE(lor, 0) = 0
        |   AND COALESCE(cur, 0) = 0) AS page_keep
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "doc_domain_cap" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST(('0x' || substring(md5('graft|' || doc_id), 1, 8)) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, source FROM b
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY source
        |  ORDER BY bucket ASC, doc_id ASC) <= 10""".stripMargin,
    "doc_sample_strat" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST(('0x' || substring(md5('graft|' || doc_id), 1, 8)) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket FROM b
        |WHERE bucket < CASE source
        |  WHEN 'src0' THEN 4294967296 WHEN 'src1' THEN 2147483648
        |  WHEN 'src2' THEN 1073741824 WHEN 'src3' THEN 536870912
        |  WHEN 'src4' THEN 268435456 ELSE 0 END""".stripMargin,
    "doc_shard_shuffle" ->
      """WITH k AS (SELECT doc_id, source,
        |    CAST(('0x' || substring(md5('graft|' || doc_id), 1, 15)) AS BIGINT) AS key
        |  FROM documents)
        |SELECT doc_id, source, CAST(key % 16 AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY key % 16
        |    ORDER BY key, doc_id) AS BIGINT) AS shard_pos
        |FROM k""".stripMargin,
    "doc_mix" ->
      """WITH w AS (SELECT * FROM (VALUES
        |    ('src0', CAST(2 AS BIGINT), CAST(1073741824 AS BIGINT)),
        |    ('src1', CAST(0 AS BIGINT), CAST(2147483648 AS BIGINT)),
        |    ('src2', CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        |    ('src3', CAST(1 AS BIGINT), CAST(3221225472 AS BIGINT)))
        |  AS t(source, n_full, thresh))
        |SELECT d.doc_id, d.source, e.epoch
        |FROM documents d
        |JOIN w USING (source),
        |  UNNEST(generate_series(0, w.n_full)) e(epoch)
        |WHERE e.epoch < w.n_full OR
        |  CAST(('0x' || substring(
        |    md5('mix|' || e.epoch || '|' || d.doc_id), 1, 8)) AS BIGINT)
        |  < w.thresh""".stripMargin,
    "doc_mix_temp" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |q AS MATERIALIZED (SELECT source, n,
        |  CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS q FROM c),
        |m AS MATERIALIZED (SELECT source, n,
        |  CAST(q AS DOUBLE)
        |    * CAST(2 * (SELECT COUNT(*) FROM documents) AS DOUBLE)
        |    / CAST((SELECT SUM(q) FROM q) AS DOUBLE)
        |    / CAST(n AS DOUBLE) AS w
        |  FROM q),
        |wt AS MATERIALIZED (SELECT source,
        |  CAST(FLOOR(w) AS BIGINT) AS n_full,
        |  CAST(FLOOR((w - FLOOR(w)) * 4294967296.0) AS BIGINT) AS thresh
        |  FROM m)
        |SELECT d.doc_id, d.source, e.epoch
        |FROM documents d JOIN wt USING (source),
        |  UNNEST(generate_series(0, wt.n_full)) e(epoch)
        |WHERE e.epoch < wt.n_full OR
        |  CAST(('0x' || substring(
        |    md5('mix|' || e.epoch || '|' || d.doc_id), 1, 8)) AS BIGINT)
        |  < wt.thresh""".stripMargin,
    // cut constants are the engine's own (0.75 * 2^32).toLong /
    // (0.875 * 2^32).toLong — both exact binary doubles
    "doc_split_group" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST(('0x' || substring(md5('graft-split|' ||
        |      COALESCE(source, '__graft_null__')), 1, 8))
        |      AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN bucket < 3221225472 THEN 'train'
        |       WHEN bucket < 3758096384 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,
    // Replays CdcKernel's polynomial window hash DIRECTLY per position
    // (sum of cp * P^(15-j) mod M, P=1000003, M=2^31-1): the engine's
    // rolling update equals this window sum by ring arithmetic mod M,
    // so an independent non-rolling replay certifies the rolling code.
    "txt_cdc" ->
      s"""WITH base AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 4 = 0 THEN '$CdcShared' ELSE '' END AS t
         |  FROM documents),
         |b2 AS (SELECT doc_id, t, CAST(length(t) AS BIGINT) AS len
         |  FROM base WHERE length(t) > 0),
         |cand AS (SELECT doc_id, t, len, CAST(u.p AS BIGINT) AS p
         |  FROM b2, UNNEST(generate_series(16, len - 1)) u(p)),
         |hits AS (SELECT doc_id, p FROM cand
         |  WHERE CAST(list_sum(list_transform(range(16), j ->
         |      CAST(ord(substring(t, CAST(p - 15 + j AS INT), 1))
         |        AS BIGINT) *
         |      list_extract([1828017126, 1744706798, 206851044,
         |        1433149184, 66148026, 633364108, 1274554124, 1544709545,
         |        57298384, 2061642598, 1953433226, 1604566856, 1049561761,
         |        1426104154, 1000003, 1], CAST(j + 1 AS INT))))
         |    AS BIGINT) % 2147483647 % 64 = 0),
         |bounds AS (SELECT doc_id, p FROM hits
         |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT) FROM b2
         |  UNION ALL SELECT doc_id, len FROM b2),
         |spans AS (SELECT doc_id, p,
         |    LEAD(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
         |  FROM bounds)
         |SELECT s.doc_id, s.p AS chunk_start, s.nxt - s.p AS chunk_len,
         |  md5(substring(b.t, CAST(s.p + 1 AS INT),
         |    CAST(s.nxt - s.p AS INT))) AS chunk_md5
         |FROM spans s JOIN b2 b USING (doc_id)
         |WHERE s.nxt IS NOT NULL AND s.nxt > s.p""".stripMargin,
    "doc_delta" ->
      """WITH o AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
        |n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN COALESCE(text, '') || ' v2'
        |         ELSE COALESCE(text, '') END AS t
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, COALESCE(text, '') FROM documents
        |  WHERE doc_id % 11 = 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    o.t AS ot, n.t AS nt
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ot IS NULL THEN 'added'
        |       WHEN nt IS NULL THEN 'removed'
        |       WHEN ot <> nt THEN 'changed' END AS status
        |FROM j
        |WHERE ot IS NULL OR nt IS NULL OR ot <> nt""".stripMargin,
    // full-join replay: the salted two-branch union must be EXACTLY the
    // plain left join (salting is an execution strategy, not semantics)
    "join_skew_salted" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 < 3 THEN 'hot' ELSE source END AS k
        |  FROM documents),
        |dim AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM d
        |  GROUP BY k HAVING k <> 'src1')
        |SELECT d.doc_id, d.k, dim.n_k
        |FROM d LEFT JOIN dim ON d.k = dim.k""".stripMargin,
    // every SUM-derived column is CAST to BIGINT: DuckDB promotes
    // SUM(BIGINT) to HUGEINT, which pandas fetches as float64 —
    // numerically equal to Spark's BIGINT (so the builder's coercing
    // compare passed) but stringifying as '19150.0' vs '19150' under a
    // value-hashing compare. This was the r10-r12 perpetual
    // hash_match=false on exactly the three uncast-SUM oracles.
    "diag_key_skew2" ->
      """WITH k AS (SELECT CAST(CASE WHEN l_orderkey % 4 < 3
        |      THEN l_orderkey % 8
        |      ELSE l_orderkey % 97 + 8 END AS VARCHAR) AS key
        |  FROM lineitem),
        |c AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt FROM k GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys
        |  FROM c)
        |SELECT key, cnt,
        |  CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(cnt * 100 * n_keys // total AS BIGINT) AS skew_x100
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, key ASC LIMIT 20""".stripMargin,
    "lay_compaction2" ->
      """WITH f AS (SELECT CAST(l_orderkey % 4 AS BIGINT) AS part,
        |    printf('f%06d', CAST(l_orderkey % 512 AS INT)) AS file,
        |    CAST(COUNT(*) * 1000 AS BIGINT) AS bytes
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT CAST((COUNT(*) // 512) * 4000 AS BIGINT) AS target
        |  FROM lineitem),
        |c AS (SELECT part, file, bytes,
        |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      CAST(0 AS BIGINT)) AS BIGINT) AS bfr
        |  FROM f),
        |g AS (SELECT part, file, bytes,
        |    CAST(bfr // target AS BIGINT) AS compaction_group
        |  FROM c CROSS JOIN t)
        |SELECT part, file, bytes, compaction_group,
        |  CAST(SUM(bytes) OVER (PARTITION BY part, compaction_group)
        |    AS BIGINT) AS group_bytes
        |FROM g""".stripMargin,
    "txt_quality_adaptive" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS q_rank,
        |    COUNT(*) OVER (PARTITION BY lang) AS n_group
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, q_rank, n_group FROM r
        |WHERE q_rank * 1000000 <= 600000 * n_group""".stripMargin,
    "txt_normalize" ->
      """WITH t AS (SELECT doc_id, text || ' cafe' || chr(769) AS text
        |  FROM documents)
        |SELECT doc_id, md5(nfc_normalize(text)) AS norm_md5,
        |  CAST(nfc_normalize(text) <> text AS BIGINT) AS changed,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_norm
        |FROM t""".stripMargin,
    "txt_chunk" ->
      """SELECT doc_id, t.chunk_id, t.chunk_id * 96 AS chunk_start,
        |  substring(text, CAST(t.chunk_id * 96 + 1 AS INT), 128) AS chunk_text
        |FROM documents,
        |  UNNEST(generate_series(0,
        |    GREATEST(0, (length(text) - 128 + 95) // 96))) t(chunk_id)""".stripMargin,
    "txt_langid" -> {
      val markers = TextOps.LangMarkers
      val scoreExprs = markers.map { case (lang, ws) =>
        s"CAST(len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS BIGINT) AS s_$lang"
      }.mkString(",\n  ")
      val best = "GREATEST(" + markers.map(m => "s_" + m._1).mkString(", ") + ")"
      val cases = markers.map { case (lang, _) =>
        s"WHEN s_$lang = m AND m > 0 THEN '$lang'"
      }.mkString(" ")
      val planted = langFixtures.map { case (id, t) => s"($id, '$t')" }
        .mkString(",\n    ")
      s"""WITH t AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES
         |    $planted) v(doc_id, text)),
         |sc AS (SELECT doc_id,
         |  $scoreExprs
         |FROM t),
         |mm AS (SELECT *, $best AS m FROM sc)
         |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM mm""".stripMargin
    },
    "txt_fingerprint" ->
      """SELECT doc_id, md5(text) AS md5, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_1, id_2, n_common, x.n AS n_1, y.n AS n_2,
        |  CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes x ON id_1 = x.doc_id JOIN sizes y ON id_2 = y.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.6""".stripMargin,
    "dedup_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_1, id_2,
        |  CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes x ON id_1 = x.doc_id JOIN sizes y ON id_2 = y.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.6""".stripMargin,
    "dedup_minhash_incr" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_1, id_2,
        |  CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes x ON id_1 = x.doc_id JOIN sizes y ON id_2 = y.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.6
        |  AND (id_1 % 3 = 0 OR id_2 % 3 = 0)""".stripMargin,
    "dedup_simhash" ->
      """WITH sigs AS (SELECT doc_id, sig
        |  FROM read_parquet('{AUX_DIR}/simhash_sigs/*.parquet')),
        |cand AS (
        |  SELECT x.doc_id AS id_1, y.doc_id AS id_2, x.sig AS s1, y.sig AS s2
        |  FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id AND (
        |    ((x.sig >> 0) & 65535) = ((y.sig >> 0) & 65535) OR
        |    ((x.sig >> 16) & 65535) = ((y.sig >> 16) & 65535) OR
        |    ((x.sig >> 32) & 65535) = ((y.sig >> 32) & 65535) OR
        |    ((x.sig >> 48) & 65535) = ((y.sig >> 48) & 65535)))
        |SELECT id_1, id_2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= 3""".stripMargin,
    "emb_ivf_topk" ->
      """WITH asg AS (SELECT vec_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/ivf_assign/*.parquet')),
        |pr AS (SELECT query_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/ivf_probes/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qe.v, ce.v) AS c
        |  FROM pr p JOIN asg a ON p.centroid_id = a.centroid_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM cand) z
        |WHERE rn <= 5""".stripMargin,
    "emb_hard_neg_ivf" ->
      """WITH asg AS (SELECT vec_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/ivf_assign/*.parquet')),
        |pr AS (SELECT query_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/ivf_probes/*.parquet')),
        |e AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    CAST(ce.label AS BIGINT) AS neighbor_label,
        |    list_cosine_similarity(qe.v, ce.v) AS c
        |  FROM pr p JOIN asg a ON p.centroid_id = a.centroid_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = a.vec_id
        |  WHERE ce.label <> qe.label)
        |SELECT query_id, neighbor_id, neighbor_label,
        |  CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM cand) z
        |WHERE rn <= 5""".stripMargin,
    "dedup_components" ->
      """WITH RECURSIVE nat AS (SELECT id_1, id_2
        |  FROM read_parquet('{AUX_DIR}/dup_pairs/*.parquet')),
        |chain AS (SELECT 1000000 + i AS id_1, 1000001 + i AS id_2
        |  FROM UNNEST(generate_series(0, 6)) t(i)),
        |star AS (SELECT 2000000 AS id_1, 2000001 + i AS id_2
        |  FROM UNNEST(generate_series(0, 4)) t(i)),
        |ed AS (SELECT * FROM nat UNION ALL SELECT * FROM chain
        |  UNION ALL SELECT * FROM star),
        |e AS (SELECT id_1 AS a, id_2 AS b FROM ed
        |  UNION SELECT id_2, id_1 FROM ed),
        |reach(a, b) AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS component_id
        |FROM reach GROUP BY a""".stripMargin,
    "dedup_keep_best" ->
      """WITH RECURSIVE nat AS (SELECT id_1, id_2
        |  FROM read_parquet('{AUX_DIR}/dup_pairs/*.parquet')),
        |e AS (SELECT id_1 AS a, id_2 AS b FROM nat
        |  UNION SELECT id_2, id_1 FROM nat),
        |reach(a, b) AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |comp AS (SELECT a AS doc_id,
        |    CAST(LEAST(a, MIN(b)) AS BIGINT) AS component_id
        |  FROM reach GROUP BY a),
        |j AS (SELECT d.doc_id,
        |    COALESCE(c.component_id, d.doc_id) AS component_id, d.n_chars
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |r AS (SELECT doc_id, component_id,
        |    ROW_NUMBER() OVER (PARTITION BY component_id
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM j)
        |SELECT doc_id, component_id, rk = 1 AS is_kept FROM r""".stripMargin,
    "emb_ann_lsh" ->
      """WITH bk AS (SELECT vec_id, bucket
        |  FROM read_parquet('{AUX_DIR}/emb_buckets/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |probes AS (SELECT vec_id AS query_id,
        |    CASE WHEN i = 0 THEN bucket
        |         ELSE xor(bucket, CAST(1 AS BIGINT) << (i - 1)) END AS bucket
        |  FROM bk, UNNEST(generate_series(0, 6)) u(i)
        |  WHERE vec_id % 100 = 0),
        |cand AS (
        |  SELECT p.query_id, cb.vec_id AS neighbor_id,
        |    list_cosine_similarity(qe.v, ce.v) AS c
        |  FROM probes p JOIN bk cb ON p.bucket = cb.bucket
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = cb.vec_id
        |  WHERE cb.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM cand) z
        |WHERE rn <= 5""".stripMargin,
    "emb_cosine_dedup" ->
      """WITH bk AS (SELECT vec_id, bucket
        |  FROM read_parquet('{AUX_DIR}/emb_dedup_buckets/*.parquet')),
        |aug AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    CAST(list_transform(embedding, x -> x * CAST(0.5 AS FLOAT)) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT x.vec_id AS id_1, y.vec_id AS id_2
        |FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |JOIN aug a1 ON a1.vec_id = x.vec_id
        |JOIN aug a2 ON a2.vec_id = y.vec_id
        |WHERE list_cosine_similarity(a1.v, a2.v) >= 0.9""".stripMargin,
    "emb_semdedup" ->
      """WITH RECURSIVE asg AS (SELECT vec_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/semdedup_assign/*.parquet')),
        |aug AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    CAST(list_transform(embedding, x -> x * CAST(0.5 AS FLOAT)) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM asg x JOIN asg y
        |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        |  JOIN aug a1 ON a1.vec_id = x.vec_id
        |  JOIN aug a2 ON a2.vec_id = y.vec_id
        |  WHERE list_cosine_similarity(a1.v, a2.v) >= 0.9),
        |e AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |comp AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS root
        |  FROM reach GROUP BY a)
        |SELECT asg.vec_id, asg.centroid_id,
        |  COALESCE(comp.root = asg.vec_id, TRUE) AS keep
        |FROM asg LEFT JOIN comp USING (vec_id)""".stripMargin,
    "emb_lsh_cap" ->
      """WITH bk AS (SELECT vec_id, bucket
        |  FROM read_parquet('{AUX_DIR}/emb_cap_buckets/*.parquet')),
        |hot AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) > 400),
        |ok AS (SELECT * FROM bk WHERE bucket NOT IN (SELECT bucket FROM hot)),
        |aug AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    CAST(list_transform(embedding, x -> x * CAST(0.5 AS FLOAT)) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL
        |  SELECT 20000000 + i,
        |    (SELECT CAST(list_transform(embedding, x -> x * CAST(0.5 AS FLOAT)) AS DOUBLE[])
        |     FROM embeddings WHERE vec_id = 0)
        |  FROM UNNEST(generate_series(0, 499)) t(i))
        |SELECT x.vec_id AS id_1, y.vec_id AS id_2
        |FROM ok x JOIN ok y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |JOIN aug a1 ON a1.vec_id = x.vec_id
        |JOIN aug a2 ON a2.vec_id = y.vec_id
        |WHERE list_cosine_similarity(a1.v, a2.v) >= 0.9""".stripMargin,
    "emb_pq_topk" ->
      """WITH bk AS (SELECT sub, cid, cv
        |  FROM read_parquet('{AUX_DIR}/pq_books/*.parquet')),
        |cd AS (SELECT vec_id, sub, code
        |  FROM read_parquet('{AUX_DIR}/pq_codes/*.parquet')),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |t AS (SELECT query_id, sub, cid,
        |    CAST(SUM((CAST(round(qv[sub * 8 + u.i] * 1024) AS BIGINT)
        |              - CAST(round(cv[u.i] * 1024) AS BIGINT))
        |           * (CAST(round(qv[sub * 8 + u.i] * 1024) AS BIGINT)
        |              - CAST(round(cv[u.i] * 1024) AS BIGINT))) AS BIGINT) AS pd
        |  FROM q, bk, UNNEST(generate_series(1, 8)) AS u(i)
        |  GROUP BY 1, 2, 3),
        |d AS (SELECT t.query_id, c.vec_id AS neighbor_id,
        |    CAST(SUM(t.pd) AS BIGINT) AS dist
        |  FROM cd c JOIN t ON t.sub = c.sub AND t.cid = c.code
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, dist FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY dist ASC, neighbor_id ASC) AS rn
        |  FROM d WHERE query_id <> neighbor_id) z
        |WHERE rn <= 5""".stripMargin,
    // candidates admitted by probe-list ∘ assignment (the dumped IVF
    // aux), distances replayed with the identical exact-long ADC
    // arithmetic as emb_pq_topk — the shortlist composition end to end
    "emb_pq_ivf" -> pqIvfOracleSql,
    // identical result contract through the persisted bucketed index;
    // what the engine side adds is the bucketed write -> catalog read
    // round-trip (see embPqIvfSearch)
    "emb_pq_ivf_search" -> pqIvfOracleSql,
    "emb_cov" ->
      """WITH q AS (SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS i,
        |    CAST(round(embedding[u.i] * 1024) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, 64)) AS u(i)),
        |prods AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS s
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2),
        |firsts AS (SELECT i, CAST(-1 AS BIGINT) AS j,
        |    CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY i),
        |cnt AS (SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
        |    CAST(COUNT(*) AS BIGINT) AS s FROM embeddings)
        |SELECT * FROM prods UNION ALL SELECT * FROM firsts
        |UNION ALL SELECT * FROM cnt""".stripMargin,
    "emb_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(qv, v) AS c
        |  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM scored) z
        |WHERE rn <= 5""".stripMargin,
    // the quantized CTEs replicate the kernel arithmetic exactly:
    // scale = max|x|/127 (float abs is exact, one double division),
    // q = sign(x) * floor(|x|/scale + 0.5) clamped (round half away from
    // zero — DuckDB ROUND's rule and the kernel's), integer dot (exact in
    // doubles at |q|<=127, d=64), then score = dot * qs * cs left-assoc
    "emb_quant_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |s AS (SELECT vec_id,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127
        |      AS sc FROM e),
        |qz AS (SELECT e.vec_id, s.sc,
        |    CASE WHEN s.sc > 0 THEN list_transform(e.embedding, x ->
        |        CAST(CASE WHEN x < 0
        |          THEN -LEAST(127, FLOOR(abs(CAST(x AS DOUBLE)) / s.sc + 0.5))
        |          ELSE  LEAST(127, FLOOR(abs(CAST(x AS DOUBLE)) / s.sc + 0.5))
        |        END AS BIGINT))
        |      ELSE list_transform(e.embedding, x -> CAST(0 AS BIGINT))
        |    END AS qv
        |  FROM e JOIN s USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, qv AS qq, sc AS qs
        |  FROM qz WHERE vec_id % 100 = 0),
        |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.qq, c.qv) * q.qs * c.sc AS sc2
        |  FROM q CROSS JOIN qz c WHERE c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sc2 DESC, neighbor_id) AS rn FROM scored) z
        |WHERE rn <= 5""".stripMargin,
    "emb_ivf_incr" ->
      """WITH asg AS (SELECT vec_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/ivf_assign/*.parquet')),
        |pr AS (SELECT query_id, centroid_id
        |  FROM read_parquet('{AUX_DIR}/ivf_probes/*.parquet')),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |s AS (SELECT vec_id,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127
        |      AS sc FROM e),
        |qz AS (SELECT e.vec_id, s.sc,
        |    CASE WHEN s.sc > 0 THEN list_transform(e.embedding, x ->
        |        CAST(CASE WHEN x < 0
        |          THEN -LEAST(127, FLOOR(abs(CAST(x AS DOUBLE)) / s.sc + 0.5))
        |          ELSE  LEAST(127, FLOOR(abs(CAST(x AS DOUBLE)) / s.sc + 0.5))
        |        END AS BIGINT))
        |      ELSE list_transform(e.embedding, x -> CAST(0 AS BIGINT))
        |    END AS qv
        |  FROM e JOIN s USING (vec_id)),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY p.query_id
        |        ORDER BY list_dot_product(qq.qv, cz.qv) * qq.sc * cz.sc DESC,
        |                 a.vec_id) AS rn
        |    FROM pr p JOIN asg a ON p.centroid_id = a.centroid_id
        |    JOIN qz qq ON qq.vec_id = p.query_id
        |    JOIN qz cz ON cz.vec_id = a.vec_id
        |    WHERE a.vec_id <> p.query_id) z
        |  WHERE rn <= 20),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM e),
        |rr AS (SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(qv.v, cv.v) AS c
        |  FROM cand
        |  JOIN ev cv ON cv.vec_id = cand.neighbor_id
        |  JOIN ev qv ON qv.vec_id = cand.query_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM rr) z
        |WHERE rn <= 5""".stripMargin,
    "emb_quant_rerank" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |s AS (SELECT vec_id,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127
        |      AS sc FROM e),
        |qz AS (SELECT e.vec_id, s.sc,
        |    CASE WHEN s.sc > 0 THEN list_transform(e.embedding, x ->
        |        CAST(CASE WHEN x < 0
        |          THEN -LEAST(127, FLOOR(abs(CAST(x AS DOUBLE)) / s.sc + 0.5))
        |          ELSE  LEAST(127, FLOOR(abs(CAST(x AS DOUBLE)) / s.sc + 0.5))
        |        END AS BIGINT))
        |      ELSE list_transform(e.embedding, x -> CAST(0 AS BIGINT))
        |    END AS qv
        |  FROM e JOIN s USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, qv AS qq, sc AS qs
        |  FROM qz WHERE vec_id % 100 = 0),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qq, c.qv) * q.qs * c.sc DESC,
        |                 c.vec_id) AS rn
        |    FROM q CROSS JOIN qz c WHERE c.vec_id <> q.query_id) z
        |  WHERE rn <= 20),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM e),
        |rr AS (SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(qv.v, cv.v) AS c
        |  FROM cand
        |  JOIN ev cv ON cv.vec_id = cand.neighbor_id
        |  JOIN ev qv ON qv.vec_id = cand.query_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM rr) z
        |WHERE rn <= 5""".stripMargin,
    "emb_hard_neg" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS ql, v AS qv
        |  FROM e WHERE vec_id % 100 = 0),
        |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CAST(e.label AS BIGINT) AS neighbor_label,
        |    list_cosine_similarity(qv, v) AS c
        |  FROM q CROSS JOIN e WHERE e.label <> q.ql)
        |SELECT query_id, neighbor_id, neighbor_label,
        |  CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rn FROM scored) z
        |WHERE rn <= 5""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame
        |FROM documents,
        |  UNNEST(generate_series(0, CAST(strlen(text) AS BIGINT) % 24, 5)) t(f)""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(strlen(text) AS BIGINT) % 640 + 1 AS fake_width,
        |  CAST(strlen(text) AS BIGINT) * 7 % 480 + 1 AS fake_height,
        |  CAST(strlen(text) AS BIGINT) % 24 + 1 AS n_frames
        |FROM documents""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS width,
        |  CAST(3 + (doc_id * 5) % 11 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,
    "mm_phash_dedup" ->
      """WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY doc_id % 7) AS rep_id
        |FROM m""".stripMargin,
    "mm_audio" ->
      """SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        |  CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_samples,
        |  CAST((800 + (doc_id % 5) * 160) * 1000 // 8000 AS BIGINT)
        |    AS duration_ms
        |FROM documents WHERE doc_id % 11 = 0""".stripMargin,
    "mm_video" ->
      """SELECT doc_id, CAST(16 * (1 + doc_id % 8) AS BIGINT) AS width,
        |  CAST(16 * (1 + doc_id % 5) AS BIGINT) AS height,
        |  CAST(10 + doc_id % 20 AS BIGINT) AS n_frames,
        |  CAST((10 + doc_id % 20) * 40 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id % 9 = 0""".stripMargin,
    "mm_frame_extract" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame,
        |  md5('frame|' || doc_id || '|' || f || '|' ||
        |      repeat('x', CAST(1 + (doc_id + f) % 7 AS INT))) AS frame_md5,
        |  CAST(strlen('frame|' || doc_id || '|' || f || '|')
        |       + 1 + (doc_id + f) % 7 AS BIGINT) AS frame_len
        |FROM documents,
        |  UNNEST(generate_series(0, CAST(9 + doc_id % 20 AS BIGINT), 4)) t(f)
        |WHERE doc_id % 9 = 0""".stripMargin,
    "dedup_bloom" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT b.doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)"""
        .stripMargin,
    "txt_line_dedup" ->
      """WITH d2 AS (SELECT doc_id,
        |    regexp_replace(text, ' (the|a|value|table|row) ', chr(10), 'g') AS text
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM d2),
        |lines AS (SELECT doc_id, i - 1 AS pos, ps[i] AS line,
        |    trim(ps[i], ' ') AS tl
        |  FROM parts, UNNEST(generate_series(1, len(ps))) AS u(i)),
        |cnt AS (SELECT tl, COUNT(*) AS c FROM lines WHERE len(tl) > 0
        |  GROUP BY 1),
        |k AS (SELECT l.doc_id, l.pos, l.line,
        |    (len(l.tl) = 0 OR COALESCE(c.c, 0) <= 2) AS keep
        |  FROM lines l LEFT JOIN cnt c ON l.tl = c.tl),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
        |    ORDER BY pos), '')) AS clean_md5
        |FROM k GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_lines, 0) AS n_lines,
        |  COALESCE(a.n_removed, 0) AS n_removed,
        |  CASE WHEN d.text IS NULL THEN NULL
        |    ELSE COALESCE(a.clean_md5, md5('')) END AS clean_md5
        |FROM d2 d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "txt_url_canon" ->
      """SELECT * FROM (VALUES
        |  ('HTTPS://WWW.Example.COM:443/Path/Page/?utm_source=x&id=7&gclid=9#frag',
        |   'https://example.com/Path/Page/?id=7',
        |   'www.example.com', 'example.com'),
        |  ('http://example.com:80/',
        |   'http://example.com', 'example.com', 'example.com'),
        |  ('http://news.example.co.uk/a/b?x=1&utm_campaign=c&y=2',
        |   'http://news.example.co.uk/a/b?x=1&y=2',
        |   'news.example.co.uk', 'example.co.uk'),
        |  ('https://sub.shop.example.com/products?ref=feed&ref_src=twitter',
        |   'https://sub.shop.example.com/products?ref=feed',
        |   'sub.shop.example.com', 'example.com'),
        |  ('http://repo.example.com.au/tree?ref=main',
        |   'http://repo.example.com.au/tree?ref=main',
        |   'repo.example.com.au', 'example.com.au'),
        |  ('http://example.com/a/?utm_a=1&utm_b=2',
        |   'http://example.com/a', 'example.com', 'example.com'),
        |  ('https://user.github.io/Project/',
        |   'https://user.github.io/Project',
        |   'user.github.io', 'user.github.io'),
        |  ('http://files.bucket.s3.amazonaws.com/key',
        |   'http://files.bucket.s3.amazonaws.com/key',
        |   'files.bucket.s3.amazonaws.com', 'bucket.s3.amazonaws.com'),
        |  ('not a url', 'not a url', '', ''),
        |  (NULL, NULL, NULL, NULL)) t(url, canon, host, domain)""".stripMargin,
    // full DSIR replay: unigram+bigram md5 buckets, add-1-smoothed
    // target/raw bucket counts, micro-quantized log ratios (identical
    // operand order as Dsir.scala), exact integer weight sums
    "txt_dsir" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z0-9]+'), x -> len(x) > 0) AS l
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, u.t AS term FROM d, UNNEST(l) AS u(t)
        |  UNION ALL
        |  SELECT doc_id, l[u.i] || '_' || l[u.i + 1]
        |  FROM d, UNNEST(generate_series(1, len(l) - 1)) AS u(i)),
        |f AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5('graft-dsir|' || term), 1, 8))
        |      AS BIGINT) % 1024 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM g GROUP BY doc_id, bucket),
        |ctt AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS c
        |  FROM f WHERE doc_id % 7 = 0 GROUP BY bucket),
        |crr AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS c
        |  FROM f GROUP BY bucket),
        |tt AS (SELECT CAST(COALESCE(SUM(c), 0) + 1024 AS DOUBLE) AS v
        |  FROM ctt),
        |tr AS (SELECT CAST(COALESCE(SUM(c), 0) + 1024 AS DOUBLE) AS v
        |  FROM crr),
        |lr AS (SELECT COALESCE(ctt.bucket, crr.bucket) AS bucket,
        |    CAST(round(ln(
        |      (CAST(COALESCE(ctt.c, 0) AS DOUBLE) + 1.0) * (SELECT v FROM tr)
        |      / ((CAST(COALESCE(crr.c, 0) AS DOUBLE) + 1.0)
        |         * (SELECT v FROM tt))) * 1e6) AS BIGINT) AS lr_u
        |  FROM ctt FULL JOIN crr USING (bucket)),
        |sc AS (SELECT f.doc_id, CAST(SUM(f.n * lr.lr_u) AS BIGINT) AS s,
        |    CAST(SUM(f.n) AS BIGINT) AS nf
        |  FROM f JOIN lr USING (bucket) GROUP BY f.doc_id)
        |SELECT d0.doc_id, COALESCE(sc.s, 0) AS dsir_score,
        |  COALESCE(sc.nf, 0) AS n_feat
        |FROM documents d0 LEFT JOIN sc USING (doc_id)""".stripMargin,
    // generated 12-iteration CTE replay of BPE training (see
    // bpeTrainOracle) and the fixed-merge apply replay
    "txt_bpe" -> bpeTrainOracle(12),
    "txt_bpe_apply" -> bpeApplyOracle,
    // per-bit Morton interleave replay + prefix-grid assignment
    "lay_zorder" -> zorderOracleSql,
    // HDR log-bucket + integer-mass crossing replay
    "txt_len_quantiles" -> hdrQuantilesOracleSql,
    // SQL-surface z_value must agree with the Column-API layout
    "ext_sql_zorder" -> zorderOracleSql,
    // ordinal-preserving tokenize-to-ids replay
    "txt_bpe_encode" -> bpeEncodeOracle,
    "txt_unigram_encode" -> unigramEncodeOracle(),
    "txt_unigram" -> unigramTrainOracle(),
    // banding-free truth: ALL corpus x eval shingle-Jaccard >= 0.6
    // pairs by direct replay (incl. self-pairs at 1.0) — the engine's
    // LSH candidates + exact verify must reproduce this set exactly
    "txt_decontam_fuzzy" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        |  WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_id, b.doc_id AS eval_id,
        |    COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE b.doc_id % 97 = 0
        |  GROUP BY 1, 2)
        |SELECT inter.doc_id, inter.eval_id,
        |  CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE)
        |    AS jaccard
        |FROM inter JOIN sizes x ON inter.doc_id = x.doc_id
        |  JOIN sizes y ON inter.eval_id = y.doc_id
        |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE)
        |  >= 0.6""".stripMargin,
    // hybrid RRF replay: the txt_bm25 oracle body (lex list) + the
    // emb_cosine_topk oracle body at the %250 query slice (dense list)
    // + nano-unit reciprocal-rank sums and the fused ranking
    "txt_hybrid" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |post AS (SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, UNNEST(toks) AS term FROM d) t
        |  GROUP BY doc_id, t.term),
        |cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM post GROUP BY term),
        |idf AS (SELECT term, CAST(round(ln(1.0 +
        |    (CAST((SELECT n FROM cn) AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |    / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_u
        |  FROM dfq),
        |qt AS (SELECT DISTINCT doc_id AS query_id, UNNEST(toks[1:6]) AS term
        |  FROM d WHERE doc_id % 250 = 0),
        |sc AS (SELECT qt.query_id, post.doc_id,
        |    CAST(SUM(idf.idf_u * CAST(round(CAST(post.tf AS DOUBLE) * 2.2
        |      / (CAST(post.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |         (CAST(dl.dl AS DOUBLE) / cn.avgdl))) * 1e9) AS BIGINT))
        |      AS BIGINT) AS score
        |  FROM post JOIN qt USING (term) JOIN idf USING (term)
        |  JOIN dl USING (doc_id), cn
        |  GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, rn AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rn FROM sc) z
        |  WHERE rn <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q2 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 250 = 0),
        |cscored AS (SELECT q2.query_id, e.vec_id AS doc_id,
        |    list_cosine_similarity(qv, v) AS cs
        |  FROM q2 CROSS JOIN e WHERE e.vec_id <> q2.query_id),
        |dense AS (SELECT query_id, doc_id, rn AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, doc_id) AS rn FROM cscored) z
        |  WHERE rn <= 10),
        |fused AS (SELECT query_id, doc_id,
        |    CAST(SUM(CAST(round(1e9 / (60 + CAST(rank AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT) AS rrf_score,
        |    CAST(COUNT(*) AS BIGINT) AS n_lists
        |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf_score, n_lists,
        |  CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, doc_id) AS rn FROM fused) z
        |WHERE rn <= 10""".stripMargin,
    // CMS replay: per-row md5 cell hashing, cell counts, min-estimate,
    // exact probe-term counts (salt 'graft-cms-<row>' matches
    // Cms.cells; width 2048 matches the engine call)
    "txt_cms" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z0-9]+'), x -> len(x) > 0) AS l
        |  FROM documents),
        |tok AS (SELECT u.t AS term FROM d, UNNEST(l) AS u(t)),
        |probes AS (SELECT DISTINCT u.t AS term
        |  FROM d, UNNEST(l) AS u(t) WHERE d.doc_id % 101 = 0),
        |rows_ AS (SELECT UNNEST([0, 1, 2, 3]) AS i),
        |sk AS (SELECT i, CAST(('0x' || substring(
        |      md5('graft-cms-' || CAST(i AS VARCHAR) || '|' || term),
        |      1, 8)) AS BIGINT) % 2048 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tok, rows_ GROUP BY 1, 2),
        |pc AS (SELECT term, i, CAST(('0x' || substring(
        |      md5('graft-cms-' || CAST(i AS VARCHAR) || '|' || term),
        |      1, 8)) AS BIGINT) % 2048 AS bucket
        |  FROM probes, rows_),
        |est AS (SELECT pc.term, MIN(COALESCE(sk.n, 0)) AS est
        |  FROM pc LEFT JOIN sk USING (i, bucket) GROUP BY 1),
        |tr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_true
        |  FROM tok WHERE term IN (SELECT term FROM probes) GROUP BY 1)
        |SELECT est.term, est.est, COALESCE(tr.n_true, 0) AS n_true
        |FROM est LEFT JOIN tr USING (term)""".stripMargin,
    // hand-derived expected rows from the same literal texts the query
    // plants (char counts + md5 recomputed by DuckDB from the literals)
    "io_warc" ->
      """SELECT file, record_index, target_uri, warc_date,
        |  CAST(length(t) AS BIGINT) AS n_chars, md5(t) AS text_md5
        |FROM (VALUES
        |  ('fix.wet', 1, 'http://a.example/page', '2026-01-01T00:00:01Z',
        |   'hello warc world' || chr(10) || 'second line'),
        |  ('fix.wet', 3, 'http://c.example/caf%C3%A9', '2026-01-01T00:00:03Z',
        |   'café déjà vu' || chr(10) || 'crlf line'),
        |  ('fix.wet', 4, 'http://d.example/empty', '2026-01-01T00:00:04Z',
        |   ''),
        |  ('fix.wet.gz', 1, 'http://e.example/zipped', '2026-01-02T00:00:01Z',
        |   'gzip member text'))
        |  v(file, record_index, target_uri, warc_date, t)""".stripMargin,
    // full BM25 replay: postings, document frequencies, the quantized
    // micro-idf / nano-tfn arithmetic (identical literals and operand
    "txt_phrase" ->
      """WITH t AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' alpha beta gamma' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' alpha beta delta' ELSE '' END
        |    || CASE WHEN doc_id % 10 = 0 THEN ' alpha beta gamma' ELSE '' END
        |      AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> len(x) > 0) AS l FROM t),
        |p AS MATERIALIZED (SELECT doc_id, l[i] AS term,
        |    CAST(i - 1 AS BIGINT) AS pos
        |  FROM toks, UNNEST(generate_series(1, len(l))) AS u(i)
        |  WHERE l[i] IN ('alpha', 'beta', 'gamma'))
        |SELECT a.doc_id, a.pos AS match_pos
        |FROM p a
        |JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  AND b.term = 'beta'
        |JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  AND c.term = 'gamma'
        |WHERE a.term = 'alpha'""".stripMargin,
    // order as Bm25.scala), exact integer score sum, ranking
    "txt_bm25" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |post AS (SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, UNNEST(toks) AS term FROM d) t
        |  GROUP BY doc_id, t.term),
        |cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM post GROUP BY term),
        |idf AS (SELECT term, CAST(round(ln(1.0 +
        |    (CAST((SELECT n FROM cn) AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |    / (CAST(df AS DOUBLE) + 0.5)) * 1e6) AS BIGINT) AS idf_u
        |  FROM dfq),
        |qt AS (SELECT DISTINCT doc_id AS query_id, UNNEST(toks[1:6]) AS term
        |  FROM d WHERE doc_id % 250 = 0),
        |sc AS (SELECT qt.query_id, post.doc_id,
        |    CAST(SUM(idf.idf_u * CAST(round(CAST(post.tf AS DOUBLE) * 2.2
        |      / (CAST(post.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |         (CAST(dl.dl AS DOUBLE) / cn.avgdl))) * 1e9) AS BIGINT))
        |      AS BIGINT) AS score
        |  FROM post JOIN qt USING (term) JOIN idf USING (term)
        |  JOIN dl USING (doc_id), cn
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank, score FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rn FROM sc) z
        |WHERE rn <= 10""".stripMargin,
    // exact count/moment columns only, every SUM cast to BIGINT (see
    // the diag_key_skew2 comment: DuckDB HUGEINT -> pandas float64 was
    // the perpetual hash mismatch). The HLL tolerance booleans moved to
    // the separate txt_profile_tol gate below.
    "txt_profile_incr2" ->
      """SELECT source AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(strlen(COALESCE(text, '')) AS BIGINT))
        |    AS BIGINT) AS n_chars,
        |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  CAST(MIN(nt) AS BIGINT) AS tok_min,
        |  CAST(MAX(nt) AS BIGINT) AS tok_max
        |FROM (SELECT source, text,
        |        CAST(len(list_filter(string_split_regex(lower(COALESCE(text, '')),
        |          '[^a-z0-9]+'), x -> len(x) > 0)) AS BIGINT) AS nt
        |      FROM documents)
        |GROUP BY source""".stripMargin,
    // tolerance link: the engine emits incremental-vs-one-shot within
    // 5% (or +-5); the oracle requires the one-shot aux estimate within
    // the same envelope of DuckDB's EXACT distinct counts — both must
    // come out true, so exact-truth ~ one-shot ~ incremental is held at
    // every link (booleans hash portably; chk_invariants proves it)
    "txt_profile_tol" ->
      """WITH tru AS (
        |  SELECT source AS stratum,
        |         COUNT(DISTINCT t.tok) AS vx
        |  FROM (SELECT source,
        |          UNNEST(list_filter(string_split_regex(lower(COALESCE(text, '')),
        |            '[^a-z0-9]+'), x -> len(x) > 0)) AS tok
        |        FROM documents WHERE text IS NOT NULL) t
        |  GROUP BY source),
        |trd AS (
        |  SELECT source AS stratum, COUNT(DISTINCT text) AS dx
        |  FROM documents WHERE text IS NOT NULL GROUP BY source),
        |aux AS (SELECT stratum, vocab_est, docs_est
        |        FROM '{AUX_DIR}/profile_oneshot/*.parquet')
        |SELECT aux.stratum,
        |       abs(CAST(aux.vocab_est AS DOUBLE) - tru.vx)
        |         <= GREATEST(5.0, 0.05 * tru.vx) AS vocab_ok,
        |       abs(CAST(aux.docs_est AS DOUBLE) - trd.dx)
        |         <= GREATEST(5.0, 0.05 * trd.dx) AS docs_ok
        |FROM aux JOIN tru USING (stratum) JOIN trd USING (stratum)""".stripMargin,
    "vis_plot" ->
      s"""WITH $iv3Sql,
         |ev AS (SELECT chrom, start AS pos, 1 AS d FROM iv3
         |  UNION ALL SELECT chrom, "end", -1 FROM iv3),
         |agg AS (SELECT chrom, pos, SUM(d) AS delta FROM ev
         |  GROUP BY chrom, pos),
         |dep AS (SELECT chrom, CAST(SUM(delta) OVER (PARTITION BY chrom
         |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth
         |  FROM agg),
         |md AS (SELECT chrom, MAX(depth) AS max_depth FROM dep
         |  GROUP BY chrom),
         |c AS (SELECT chrom, COUNT(*) AS n_rects,
         |  CAST(SUM("end" - start) AS BIGINT) AS sum_w FROM iv3
         |  GROUP BY chrom)
         |SELECT c.chrom, c.n_rects, md.max_depth AS n_levels, c.sum_w,
         |  -0.3 AS min_y, '135,206,235' AS face_rgb,
         |  '105,105,105' AS edge_rgb
         |FROM c JOIN md ON c.chrom = md.chrom""".stripMargin)
}
