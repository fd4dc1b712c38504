package graft.ops

import graft.core.{ColSpec, NatOrder, Region}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The public interval-relational operators (reference `ops.py`), rebuilt as
  * declarative Spark plans: window sweeps for the sorted-scan kernels, the
  * binned/broadcast interval join of [[IntervalJoin]] for pair discovery,
  * plain aggregations for the rest. Every function returns a lazy
  * `DataFrame` — Catalyst sees the whole composed plan (pushdown, pruning,
  * AQE all apply).
  */
object Ops {

  import IntervalJoin.{Strategy, Auto}

  // ---------------------------------------------------------------- helpers

  /** Typed null literals for every column of `schema`, used to null-extend
    * the unmatched side of left/right/outer interval joins (the reference
    * nulls out `-1` partners and promotes dtypes, `ops.py:510-544`; Spark
    * columns are natively nullable so only the literal is needed). */
  private def nullCols(schema: StructType): Seq[Column] =
    schema.fields.toSeq.map(f => lit(null).cast(f.dataType).as(f.name))

  private def grp(cols: ColSpec, on: Seq[String]): Seq[Column] =
    cols.chromCol +: on.map(col)

  /** Zero-length intervals promoted to length-1 pseudo-segments
    * (end -> start+1), the same promotion the join predicate applies
    * (reference `core/arrops.py:271-287`). Applied to a relation BEFORE
    * merging it for overlap-exists checks: merge(min_dist=0) would
    * otherwise absorb a point `[e,e)` into an abutting run `[s,e)` and
    * lose the point's promoted reach `[e,e+1)` — rows starting exactly at
    * `e` would wrongly count as unmatched. */
  private def promotePoints(df: DataFrame, cols: ColSpec): DataFrame =
    df.withColumn(cols.end,
      when(cols.endCol === cols.startCol, cols.startCol + 1)
        .otherwise(cols.endCol))

  /** Rows with concrete coordinates. Reference NA rows (null chrom/start/
    * end, tests/test_ops.py:775-812, 1149-1162) can never overlap
    * anything; operators that feed the OTHER side of an overlap-exists /
    * coverage check through the merge sweep drop them first — the sweep's
    * local sort requires concrete coordinates, and the rows contribute
    * nothing to it. NA rows of the KEPT side always survive via the
    * left-join/anti assembly. */
  private def concreteRows(df: DataFrame, cols: ColSpec): DataFrame =
    df.filter(cols.chromCol.isNotNull && cols.startCol.isNotNull &&
      cols.endCol.isNotNull)

  // ---------------------------------------------------------------- select

  /** Rows overlapping a scalar region (reference `ops.py:116-147`); the
    * region string is parsed driver-side, the result is a pure filter that
    * Catalyst pushes into the scan. `resolve()` applies the reference's
    * `parse_region` normalization (`stringops.py:240-245`): a missing
    * start fills to 0 — so a bare `"chrX"` query still requires
    * `promoted_end > 0`, excluding fully-negative intervals — and an
    * inverted range (`"chr1:1-0"`) raises instead of silently matching
    * nothing (tests/test_ops_select.py:37-39). */
  def select(df: DataFrame, region: String,
             cols: ColSpec = ColSpec.default): DataFrame =
    df.filter(selectMask(region, cols))

  def selectMask(region: String, cols: ColSpec = ColSpec.default): Column =
    Region.parseString(region).resolve().predicate(cols)

  /** Attach a 0-based input ordinal in physical read order — the Spark
    * analog of the pandas positional index (`zipWithIndex`; costs one
    * extra job and a row-conversion barrier, so prefer an existing key
    * column when one exists). Deterministic for inputs whose partition
    * layout is stable (file reads). */
  def withInputOrdinal(df: DataFrame, name: String = "input_ordinal"): DataFrame = {
    val schema = df.schema.add(name, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Rows at the given input positions (reference `select_indices`,
    * `ops.py:69-88`). */
  def selectIndices(df: DataFrame, indices: Seq[Long]): DataFrame =
    withInputOrdinal(df, "__ord")
      .filter(col("__ord").isin(indices: _*)).drop("__ord")

  /** Rows whose `labelCol` value is in `labels` (reference
    * `select_labels`, `ops.py:91-113` — the label is an explicit column
    * here, Spark relations having no implicit index). */
  def selectLabels(df: DataFrame, labelCol: String, labels: Seq[Any]): DataFrame =
    df.filter(col(labelCol).isin(labels: _*))

  // ---------------------------------------------------------------- expand

  /** Pad both/one side(s) by `pad`, or rescale around the midpoint by
    * `scale`; negative pad clamps at the midpoint (reference
    * `ops.py:150-225`). `scale` rounds half-even like numpy (`bround`). */
  def expand(df: DataFrame, pad: Option[Long] = None,
             scale: Option[Double] = None, side: String = "both",
             cols: ColSpec = ColSpec.default): DataFrame = {
    require(pad.isDefined ^ scale.isDefined,
      "exactly one of pad or scale must be supplied")
    val s = cols.startCol
    val e = cols.endCol
    val doLeft = side == "both" || side == "left"
    val doRight = side == "both" || side == "right"
    (pad, scale) match {
      case (Some(p), _) =>
        val ns = if (doLeft) s - lit(p) else s
        val ne = if (doRight) e + lit(p) else e
        if (p >= 0)
          df.withColumn(cols.start, ns).withColumn(cols.end, ne)
        else {
          // midpoint clamp: mid = start + floor((end-start)/2)
          val mid = s + floor((e - s) / lit(2)).cast("long")
          df.withColumn("__mid", mid)
            .withColumn(cols.start, least(ns, col("__mid")))
            .withColumn(cols.end, greatest(ne, col("__mid")))
            .drop("__mid")
        }
      case (_, Some(sc)) =>
        require(sc >= 0, "multiplicative scale must be >= 0")
        val pads = lit(0.5 * (sc - 1)) * (e - s)
        val ns = if (doLeft) bround(s - pads).cast("long") else s
        val ne = if (doRight) bround(e + pads).cast("long") else e
        // single withColumns: both expressions must see the ORIGINAL coords
        df.withColumns(Map(cols.start -> ns, cols.end -> ne))
      case _ => df
    }
  }

  // ---------------------------------------------------------------- overlap

  /** The workhorse interval join (reference `ops.py:361-556`).
    *
    * `how` in inner/left/right/outer; `on` adds extra equi-keys; both
    * inputs come back suffixed; `returnOverlap` adds the intersection
    * coords `[max(s1,s2), min(e1,e2))` (reference `ops.py:486-494`);
    * `keepOrder` sorts the output back to the inputs' order
    * (`ops.py:549-550`, by (df1 index, df2 index)): name explicit ordinal
    * columns via `orderCol1`/`orderCol2` (the robust, Spark-first analog
    * of the pandas index — any shuffle-surviving column works), or leave
    * them unset to fall back to the inputs' physical read order
    * (`monotonically_increasing_id`), which matches file order for freshly
    * read inputs but is unspecified for shuffled ones. Under the fallback,
    * full-duplicate rows share ONE ordinal (the minimum over the copies):
    * duplicates are indistinguishable, so collapsing their ordinals cannot
    * change the sorted output — documented because it differs from the
    * pandas index, where copies keep distinct positions.
    */
  def overlap(df1: DataFrame, df2: DataFrame, how: String = "left",
              suffixes: (String, String) = ("", "_"),
              returnIndex: Boolean = false,
              returnOverlap: Boolean = false,
              keepOrder: Boolean = false,
              orderCol1: Option[String] = None,
              orderCol2: Option[String] = None,
              on: Seq[String] = Nil,
              cols1: ColSpec = ColSpec.default,
              cols2: ColSpec = ColSpec.default,
              strategy: Strategy = Auto,
              binSize: Long = IntervalJoin.DefaultBinSize): DataFrame = {
    require(Set("inner", "left", "right", "outer").contains(how),
      s"unknown how=$how")
    val (sf1, sf2) = suffixes
    val needId1 = how == "left" || how == "outer" || returnIndex
    val needId2 = how == "right" || how == "outer" || returnIndex
    // keepOrder fallback (no explicit order column): a side that feeds TWO
    // plan branches (pairs + its anti branch) must not carry an inline
    // monotonically_increasing_id — Catalyst may evaluate the branches
    // under different physical layouts and silently misalign the values
    // (see [[RowId]]). Instead the fallback ordinal is computed in a
    // separate slim relation, evaluated exactly once in the final plan,
    // and joined back by content id after the union. A side feeding a
    // single branch (inner, or the non-anti side) keeps the cheap inline
    // id. Explicit order columns are real data — always branch-safe.
    val fb1 = keepOrder && orderCol1.isEmpty && (how == "left" || how == "outer")
    val fb2 = keepOrder && orderCol2.isEmpty && (how == "right" || how == "outer")
    var l = ColSpec.suffixAll(df1, sf1)
    if (needId1) l = RowId.withContentId(l, "__id1")
    if (keepOrder && !fb1) l = l.withColumn("__ord1",
      orderCol1.map(c => col(c + sf1)).getOrElse(monotonically_increasing_id()))
    var r = ColSpec.suffixAll(df2, sf2)
    if (needId2) r = RowId.withContentId(r, "__id2")
    if (keepOrder && !fb2) r = r.withColumn("__ord2",
      orderCol2.map(c => col(c + sf2)).getOrElse(monotonically_increasing_id()))
    // fallback ordinal maps: same content-id derivation as l/r (the hash
    // never includes ordinal columns); min() collapses full duplicates,
    // which are indistinguishable anyway
    def fbOrdMap(side: DataFrame, idName: String, ordName: String) =
      RowId.withContentId(side, idName)
        .withColumn("__o", monotonically_increasing_id())
        .groupBy(col(idName)).agg(min(col("__o")).as(ordName))
    val ordMap1 =
      if (fb1) Some(fbOrdMap(ColSpec.suffixAll(df1, sf1), "__id1", "__ord1"))
      else None
    val ordMap2 =
      if (fb2) Some(fbOrdMap(ColSpec.suffixAll(df2, sf2), "__id2", "__ord2"))
      else None
    val c1 = cols1.withSuffix(sf1)
    val c2 = cols2.withSuffix(sf2)

    var p = IntervalJoin.pairs(l, r, c1, c2,
      on.map(k => (k + sf1, k + sf2)), strategy, binSize)
    val overlapCols =
      if (returnOverlap)
        Seq(greatest(c1.startCol, c2.startCol).as("overlap_start"),
            least(c1.endCol, c2.endCol).as("overlap_end"))
      else Nil
    if (returnOverlap) p = p.select(col("*") +: overlapCols: _*)

    val lNames = l.columns.toSeq
    val rNames = r.columns.toSeq
    val oNames = if (returnOverlap) Seq("overlap_start", "overlap_end") else Nil
    val rNulls = nullCols(r.schema) ++
      oNames.map(n => lit(null).cast(LongType).as(n))
    val lNulls = nullCols(l.schema)

    // Unmatched-row detection runs against the MERGED other side, not the
    // raw one: after point promotion (end -> start+1, below) merge(0) runs
    // are gap-free unions of their members, so overlap-exists against the
    // runs equals overlap-exists against the members — and merged genomic
    // relations are typically orders of magnitude smaller, so the anti
    // branch costs one merge shuffle instead of a second full pair join.
    // Promotion must happen BEFORE the merge: otherwise a point [e,e)
    // abutting a run [s,e) is absorbed and its promoted reach [e,e+1) is
    // lost, spuriously null-extending rows that start exactly at e.
    def existsPairs(side: DataFrame, cSide: ColSpec, sideSfx: String,
                    other: DataFrame, cOther: ColSpec,
                    otherOn: Seq[String]): DataFrame = {
      val msfx = "__m_"
      val m = ColSpec.suffixAll(
        Ops.merge(promotePoints(concreteRows(other, cOther), cOther),
          Some(0), otherOn, cOther).drop("n_intervals"), msfx)
      IntervalJoin.pairs(side, m, cSide, cOther.withSuffix(msfx),
        otherOn.map(k => (k + sideSfx, k + msfx)), strategy, binSize)
    }
    val leftRest = () =>
      l.join(existsPairs(l, c1, sf1, df2, cols2, on).select(col("__id1")),
          Seq("__id1"), "left_anti")
        .select(lNames.map(col) ++ rNulls: _*)
    val rightRest = () =>
      r.join(existsPairs(r, c2, sf2, df1, cols1, on).select(col("__id2")),
          Seq("__id2"), "left_anti")
        .select(lNulls ++ rNames.map(col) ++
          oNames.map(n => lit(null).cast(LongType).as(n)): _*)
    val pOrdered = p.select((lNames ++ rNames ++ oNames).map(col): _*)

    var out = how match {
      case "inner" => pOrdered
      case "left"  => pOrdered.unionByName(leftRest())
      case "right" => pOrdered.unionByName(rightRest())
      case "outer" => pOrdered.unionByName(leftRest()).unionByName(rightRest())
    }
    if (keepOrder) {
      ordMap1.foreach(m => out = out.join(m, Seq("__id1"), "left"))
      ordMap2.foreach(m => out = out.join(m, Seq("__id2"), "left"))
      out = out
        .orderBy(col("__ord1").asc_nulls_last, col("__ord2").asc_nulls_last)
        .drop("__ord1", "__ord2")
    }
    if (!returnIndex) out = out.drop("__id1", "__id2")
    else out = out
      .withColumnRenamed("__id1", "index" + sf1)
      .withColumnRenamed("__id2", "index" + sf2)
    out
  }

  // ------------------------------------------------------- count / setdiff

  /** Pair-free per-probe overlap counting by coordinate rank:
    * `count(probe) = #(ann_start < probe_end') − #(ann_end' <= probe_start)`
    * within each `(chrom, on…)` stratum (ends promoted engine-wide;
    * the identity holds because `ann_end' <= probe_start` implies
    * `ann_start < probe_end'`). Each term is a running count of annotation
    * events preceding the probe's boundary in a two-level prefix scan
    * ([[Scan.prefixSum]]) over the unioned event list — O(N+M) rows
    * shuffled by (stratum, coordinate bucket) instead of enumerating the
    * pair relation, whose cardinality grows with the SQUARE of interval
    * density (112M pairs at sf0.1 for the bench fixtures; unbounded at
    * corpus scale). Tag ordering encodes the strict/inclusive bounds: in
    * the start scan probes sort before equal-coordinate ann starts
    * (strict <), in the end scan ann ends sort before equal-coordinate
    * probe starts (<=); ann/probe rows never tie with each other, so the
    * ROWS frame at every probe row is deterministic.
    *
    * Returns (probe content id, count) for probes with concrete
    * coordinates and non-null `on` keys; rows of `probes` are assumed
    * distinct on `idCol`. */
  private[ops] def overlapCountsByRank(probes: DataFrame, idCol: String,
      anns: DataFrame, countCol: String, on: Seq[String],
      cols1: ColSpec, cols2: ColSpec, bucketWidth: Long): DataFrame = {
    val grp = "__occ" +: on
    val onOk = on.map(k => col(k).isNotNull).foldLeft(lit(true))(_ && _)
    val p = concreteRows(probes, cols1).filter(onOk)
      .select(Seq(cols1.chromCol.as("__occ"), cols1.startCol.as("__ps"),
        cols1.promotedEnd.as("__pe"), col(idCol)) ++ on.map(col): _*)
    val a = concreteRows(anns, cols2).filter(onOk)
      .select(Seq(cols2.chromCol.as("__occ"), cols2.startCol.as("__as"),
        cols2.promotedEnd.as("__ae")) ++ on.map(col): _*)
    val idType = p.schema(idCol).dataType
    // ONE event list, ONE sort: every probe contributes both boundary
    // rows, every annotation a start row and an end row, and the two
    // running counters ride the same Window ([[Scan.prefixSum2]]).
    // The tag encodes every boundary-equality rule at a shared
    // coordinate: ann ends (0) before probe starts (1) -> end' <= start
    // is inclusive; probe ends (2) before ann starts (3) -> start <
    // end' is strict. Ann rows never tie with probe rows, so the frame
    // at each probe row is deterministic.
    def probeRow(pos: Column, tag: Int) =
      p.select(Seq(col("__occ"), pos.as("__pos"), lit(tag).as("__tag"),
        lit(0L).as("__vs"), lit(0L).as("__ve"), col(idCol)) ++
        on.map(col): _*)
    def annRow(pos: Column, tag: Int, vs: Int, ve: Int) =
      a.select(Seq(col("__occ"), pos.as("__pos"), lit(tag).as("__tag"),
        lit(vs.toLong).as("__vs"), lit(ve.toLong).as("__ve"),
        lit(null).cast(idType).as(idCol)) ++ on.map(col): _*)
    val ev = annRow(col("__ae"), 0, vs = 0, ve = 1)
      .unionByName(probeRow(col("__ps"), 1))
      .unionByName(probeRow(col("__pe"), 2))
      .unionByName(annRow(col("__as"), 3, vs = 1, ve = 0))
      .withColumn("__bkt", Scan.bucketOf(col("__pos"), bucketWidth))
    // count = #(ann_start < probe_end') - #(ann_end' <= probe_start):
    // the probe-end row reads the start counter, the probe-start row
    // subtracts the end counter; one groupBy on the content id combines
    // the pair of boundary rows
    Scan.prefixSum2(ev, grp, "__bkt", Seq(col("__pos"), col("__tag")),
        col("__vs"), col("__ve"), "__runS", "__runE")
      .filter(col(idCol).isNotNull)
      .groupBy(col(idCol))
      .agg(sum(when(col("__tag") === 2, col("__runS"))
        .otherwise(-col("__runE"))).as(countCol))
  }

  /** Per-df1-row count of overlapping df2 rows, zeros kept (reference
    * `ops.py:1371-1438`). Counts are computed on the DISTINCT probe set
    * (full-duplicate df1 rows have identical counts) by
    * [[overlapCountsByRank]] — no pair enumeration — then fanned back out
    * to every copy by content id. `binSize` is the scan's coordinate
    * bucket width. `returnInput=false`
    * keeps only the count column (reference `ops.py:1427-1434`,
    * `tests/test_ops.py:2057-2069`); row order is whatever the plan
    * produces, so callers who need alignment keep the input. */
  def countOverlaps(df1: DataFrame, df2: DataFrame,
                    countCol: String = "count",
                    on: Seq[String] = Nil,
                    returnInput: Boolean = true,
                    cols1: ColSpec = ColSpec.default,
                    cols2: ColSpec = ColSpec.default,
                    binSize: Long = IntervalJoin.DefaultBinSize): DataFrame = {
    val l = RowId.withContentId(df1, "__id1")
    val lDist = l
      .select(((cols1.names ++ on).distinct.map(col) :+ col("__id1")): _*)
      .dropDuplicates("__id1")
    val counts = overlapCountsByRank(lDist, "__id1",
      df2.select((cols2.names ++ on).distinct.map(col): _*), countCol, on,
      cols1, cols2, binSize)
    // hash join-back: sort-merge would sort the wide side on a struct key
    val out = l
      .join(counts.withColumnRenamed("__id1", "__cid").hint("shuffle_hash"),
        col("__id1") === col("__cid"), "left")
      .withColumn(countCol, coalesce(col(countCol), lit(0L)))
      .drop("__id1", "__cid")
    if (returnInput) out else out.select(col(countCol))
  }

  /** df1 rows with no overlap in df2 — a semantic anti-join (reference
    * `ops.py:1333-1368`). */
  def setdiff(df1: DataFrame, df2: DataFrame,
              on: Seq[String] = Nil,
              cols1: ColSpec = ColSpec.default,
              cols2: ColSpec = ColSpec.default,
              strategy: Strategy = Auto,
              binSize: Long = IntervalJoin.DefaultBinSize): DataFrame = {
    val l = RowId.withContentId(df1, "__id1")
    val sfx = "__r_"
    // anti-join against the merged, point-promoted df2 — exact for
    // overlap-EXISTS and far smaller than the raw pair relation (see
    // overlap's unmatched branch for why promotion precedes the merge)
    val r = ColSpec.suffixAll(
      merge(promotePoints(concreteRows(df2, cols2), cols2), Some(0), on, cols2)
        .drop("n_intervals"), sfx)
    val p = IntervalJoin.pairs(l, r, cols1, cols2.withSuffix(sfx),
      on.map(k => (k, k + sfx)), strategy, binSize)
    l.join(p.select(col("__id1")), Seq("__id1"), "left_anti").drop("__id1")
  }

  // ------------------------------------------------------- cluster / merge

  /** Border flag for the sorted sweep: a new cluster starts when the gap to
    * the running max of previous ends exceeds `minDist` — `None` means
    * strict overlap only (touching intervals stay separate), exactly the
    * `min_dist=None` vs `0` distinction of reference `arrops.py:459-477`. */
  private def borderFlag(prevMax: Column, start: Column,
                         minDist: Option[Long]): Column = {
    val isNew = minDist match {
      case Some(d) => start > prevMax + lit(d)
      case None    => start >= prevMax
    }
    when(prevMax.isNull, lit(1L)).otherwise(isNew.cast("long"))
  }

  /** True for rows the reference passes through untouched by cluster/merge:
    * any null in the coordinate triple or an `on` group key (reference
    * `ops.py:776-778` skips NA-keyed groups; `ops.py:813-827` re-appends NA
    * rows unmerged with `n_intervals=NA`). Follows the bedframe all-or-none
    * convention: an NA row nulls the whole (chrom,start,end) triple. */
  private def naRow(on: Seq[String], cols: ColSpec): Column =
    (Seq(cols.chromCol, cols.startCol, cols.endCol) ++ on.map(col))
      .map(_.isNull).reduce(_ || _)

  /** Connected components of the overlap graph along the line (reference
    * `ops.py:559-708`): adds `cluster` (id, unique within `(chrom, on)`
    * group), `cluster_start`, `cluster_end`. The cummax (previous max end)
    * and cumsum (border count) sweeps of the reference's kernel
    * (`arrops.py:462-477`) run as two-level prefix scans over
    * `(group, start-bucket)` — no whole-chromosome single-partition
    * window (see [[Scan]]); the per-cluster span window shuffles by
    * cluster id, which is well spread.
    */
  def cluster(df: DataFrame, minDist: Option[Long] = Some(0),
              on: Seq[String] = Nil,
              returnInput: Boolean = true,
              returnClusterIds: Boolean = true,
              returnClusterIntervals: Boolean = true,
              cols: ColSpec = ColSpec.default,
              bucketSize: Long = 1L << 20): DataFrame = {
    require(returnInput || returnClusterIds || returnClusterIntervals,
      "at least one return flag required (reference ops.py:651-655)")
    val keyNames = cols.chrom +: on
    val ord = Seq(cols.startCol.asc, cols.endCol.asc)
    val bucketed = df.withColumn("__b", Scan.bucketOf(cols.startCol, bucketSize))
    val withPrev = Scan.prefixMax(bucketed, keyNames, "__b", ord,
      cols.endCol, inclusive = false, "__pm")
    // NA rows always open their own cluster: two null-keyed rows share a
    // window partition (Spark groups nulls together) but must not chain
    val flagged = withPrev
      .withColumn("__new", when(naRow(on, cols), lit(1L))
        .otherwise(borderFlag(col("__pm"), cols.startCol, minDist)))
    val withId = Scan.prefixSum(flagged, keyNames, "__b", ord,
        col("__new"), inclusive = true, "__cid")
      .withColumn("cluster", col("__cid") - 1)
      .drop("__b", "__pm", "__new", "__cid")
    val wc = Window.partitionBy(grp(cols, on) :+ col("cluster"): _*)
    val full = withId
      .withColumn("cluster_start", min(cols.startCol).over(wc))
      .withColumn("cluster_end", max(cols.endCol).over(wc))
    // reference keeps one output row per input row in every flag combo
    // (ops.py:694-705); flags only select columns
    val dropCols =
      (if (returnInput) Nil else df.columns.toSeq) ++
        (if (returnClusterIds) Nil else Seq("cluster")) ++
        (if (returnClusterIntervals) Nil
         else Seq("cluster_start", "cluster_end"))
    full.drop(dropCols: _*)
  }

  sealed trait MergeStrategy
  /** One window sweep per `(chrom, on)` group — simple, but each group is a
    * single partition (fine locally; skew-prone at extreme scale). */
  case object WindowSweep extends MergeStrategy
  /** Scale path: range-partition by (group, start), merge locally inside
    * each partition with a streaming sweep, then stitch the (tiny) set of
    * partial runs with a second window pass. Cluster-safe: no single
    * partition ever holds a whole chromosome. */
  case object RangePartitioned extends MergeStrategy

  /** Merge overlapping/nearby intervals to their spans + interval count
    * (reference `ops.py:711-839`). Output: group keys, start, end,
    * `n_intervals`. */
  def merge(df: DataFrame, minDist: Option[Long] = Some(0),
            on: Seq[String] = Nil,
            cols: ColSpec = ColSpec.default,
            mergeStrategy: MergeStrategy = RangePartitioned): DataFrame =
    mergeStrategy match {
      case WindowSweep =>
        cluster(df, minDist, on, cols = cols)
          .groupBy(grp(cols, on) :+ col("cluster"): _*)
          .agg(min(cols.startCol).as(cols.start),
               max(cols.endCol).as(cols.end),
               count(lit(1)).as("n_intervals"))
          .withColumn("n_intervals", when(naRow(on, cols),
            lit(null).cast(LongType)).otherwise(col("n_intervals")))
          .drop("cluster")
      case RangePartitioned =>
        mergeRangePartitioned(df, minDist, on, cols)
    }

  /** Local sweep over rows pre-sorted by (group, start, end) within each
    * range partition, emitting partial merged runs; a second, cheap window
    * merge over the runs stitches across partition boundaries. */
  private def mergeRangePartitioned(df: DataFrame, minDist: Option[Long],
                                    on: Seq[String], cols: ColSpec): DataFrame = {
    val keyNames = cols.chrom +: on
    // coords cast to Long up front: the sweep iterator reads them with
    // getLong, and callers may pass int-typed coordinates (the output
    // schema declares LongType either way)
    val proj = df.select(keyNames.map(col) :+
      cols.startCol.cast(LongType).as(cols.start) :+
      cols.endCol.cast(LongType).as(cols.end): _*)
    val sortCols = (keyNames.map(col) :+ cols.startCol :+ cols.endCol)
    val parted = proj
      .repartitionByRange(graft.core.Par.width(proj),
        keyNames.map(col) :+ cols.startCol: _*)
      .sortWithinPartitions(sortCols: _*)
    val nKeys = keyNames.length
    // nullable: NA rows pass through as their own runs with n_intervals
    // null (reference ops.py:813-827)
    val outSchema = StructType(
      keyNames.map(n => proj.schema(n)) ++
        Seq(StructField(cols.start, LongType, nullable = true),
            StructField(cols.end, LongType, nullable = true),
            StructField("n_intervals", LongType, nullable = true)))
    val gapOk: (Long, Long) => Boolean = minDist match {
      case Some(d) => (s, pe) => s <= pe + d
      case None    => (s, pe) => s < pe
    }
    val partial = parted.mapPartitions { rows =>
      new Iterator[Row] {
        private var cur: Array[Any] = null // keys ++ (start, maxEnd, n)
        private var nextOut: Row = null
        private var pendingNA: Row = null // NA row held while cur flushes
        private def sameKeys(r: Row): Boolean =
          (0 until nKeys).forall(i => r.get(i) == cur(i))
        private def emit(): Row =
          Row.fromSeq(cur.toIndexedSeq)
        // reference passthrough contract (ops.py:813-827): any null among
        // the group keys or coords makes the row its own run, n_intervals
        // null — getLong on a null coord would silently read 0 otherwise
        private def isNaRow(r: Row): Boolean =
          (0 until nKeys + 2).exists(r.isNullAt)
        private def advance(): Unit = {
          if (nextOut == null && pendingNA != null) {
            nextOut = pendingNA; pendingNA = null; return
          }
          while (nextOut == null && rows.hasNext) {
            val r = rows.next()
            if (isNaRow(r)) {
              val na = Row.fromSeq((0 until nKeys).map(r.get) ++
                Seq(r.get(nKeys), r.get(nKeys + 1), null))
              if (cur != null) { nextOut = emit(); cur = null; pendingNA = na }
              else nextOut = na
            } else {
              val s = r.getLong(nKeys)
              val e = r.getLong(nKeys + 1)
              if (cur == null) {
                cur = (0 until nKeys).map(r.get).toArray ++ Array[Any](s, e, 1L)
              } else if (sameKeys(r) && gapOk(s, cur(nKeys + 1).asInstanceOf[Long])) {
                cur(nKeys + 1) =
                  math.max(cur(nKeys + 1).asInstanceOf[Long], e)
                cur(nKeys + 2) = cur(nKeys + 2).asInstanceOf[Long] + 1L
              } else {
                nextOut = emit()
                cur = (0 until nKeys).map(r.get).toArray ++ Array[Any](s, e, 1L)
              }
            }
          }
          if (nextOut == null && cur != null) { nextOut = emit(); cur = null }
        }
        override def hasNext: Boolean = { advance(); nextOut != null }
        override def next(): Row = {
          advance(); val r = nextOut; nextOut = null; r
        }
      }
    }(Encoders.row(outSchema))
    // stitch partial runs (cardinality ~ clusters + #partitions, tiny)
    val keys = keyNames.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(cols.startCol, cols.endCol)
    val prevMax = max(cols.endCol).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val wAll = w.rowsBetween(Window.unboundedPreceding, 0)
    partial
      // NA passthrough runs (n_intervals null) never stitch with anything;
      // sum() over a lone null below keeps their n_intervals null
      .withColumn("__new", when(col("n_intervals").isNull, lit(1L))
        .otherwise(borderFlag(prevMax, cols.startCol, minDist)))
      .withColumn("__cid", sum(col("__new")).over(wAll))
      .groupBy(keys :+ col("__cid"): _*)
      .agg(min(cols.startCol).as(cols.start),
           max(cols.endCol).as(cols.end),
           sum(col("n_intervals")).as("n_intervals"))
      .drop("__cid")
  }

  // ------------------------------------------------------------- coverage

  /** Per-df1-interval count of bp covered by df2; df2 is merged first so
    * overlapping df2 rows don't double-count (reference `ops.py:842-916`,
    * merge at `ops.py:888`).
    *
    * Adaptive physical path ([[coveredBp]]): a binned pair join against
    * the disjoint merged runs for narrow probes, or — for a known-large
    * probe relation with a heavy span tail — a pair-FREE rank scan:
    * `covered(probe) = F(probe_end) − F(probe_start)` where `F(x)` (total
    * covered bp below x) decomposes into three running counters over one
    * sorted event list (`F(x) = closedLen(x) + x*openCount(x) −
    * openStartSum(x)`: runs fully ended by x plus the partial prefix of
    * the at-most-one run still open at x), one [[Scan.prefixSumN]] pass,
    * independent of how many runs each probe spans. Run events sort
    * before probe boundaries at equal coordinate: a run ending exactly at
    * x belongs to closedLen and is open for the partial term at none. */
  def coverage(df1: DataFrame, df2: DataFrame,
               coverageCol: String = "coverage",
               cols1: ColSpec = ColSpec.default,
               cols2: ColSpec = ColSpec.default,
               strategy: Strategy = Auto,
               binSize: Long = IntervalJoin.DefaultBinSize,
               rankScan: Option[Boolean] = None): DataFrame = {
    // distinct-probe aggregation + fan-out, as in countOverlaps: covered
    // bp is identical for full-duplicate rows
    val l = RowId.withContentId(df1, "__id1")
    val lDist = l.select(cols1.names.map(col) :+ col("__id1"): _*)
      .dropDuplicates("__id1")
    val covered = coveredBp(lDist, "__id1", df2, coverageCol,
      cols1, cols2, binSize, rankScan, strategy)
    l.join(covered.withColumnRenamed("__id1", "__cid").hint("shuffle_hash"),
        col("__id1") === col("__cid"), "left")
      .withColumn(coverageCol, coalesce(col(coverageCol), lit(0L)))
      .drop("__id1", "__cid")
  }

  /** Covered-bp dispatcher behind [[coverage]] and
    * `Extras.fracGeneCoverage`. Two regimes:
    *  - NARROW probes span few of the disjoint merged runs, so the
    *    binned pair join's fanout is small and it wins on constant
    *    factors (measured 2.4s vs 4.2s at sf0.1, where the fixture's
    *    cover merges to 8 runs);
    *  - WIDE probes (relative to the binning granularity) are exactly
    *    where BOTH the bin replication and the per-probe run fanout
    *    explode — there the rank scan's cost, linear in rows and
    *    independent of fanout, wins asymptotically.
    * `rankScan = None` takes the scan exactly when
    * [[IntervalJoin.heavySpanTail]] does — the decision
    * [[IntervalJoin.resolveAuto]] also makes: a bounded span-tail probe
    * only on a known-large probe relation, and the scan when its p99
    * span crosses the two-level cut. */
  private[ops] def coveredBp(probes: DataFrame, idCol: String,
      anns: DataFrame, outCol: String, cols1: ColSpec, cols2: ColSpec,
      bucketWidth: Long, rankScan: Option[Boolean] = None,
      strategy: Strategy = Auto): DataFrame = {
    val useScan = rankScan.getOrElse(
      IntervalJoin.heavySpanTail(probes, cols1, bucketWidth).isDefined)
    if (useScan) coveredBpByRank(probes, idCol, anns, outCol, cols1, cols2,
      bucketWidth)
    else coveredBpByPairs(probes, idCol, anns, outCol, cols1, cols2,
      bucketWidth, strategy)
  }

  /** Pair-join covered-bp: binned join of distinct probes against the
    * merged (disjoint) runs, clip-sum per probe. Fanout = runs spanned
    * per probe — small for narrow probes, the reason this path wins the
    * common regime. */
  private def coveredBpByPairs(probes: DataFrame, idCol: String,
      anns: DataFrame, outCol: String, cols1: ColSpec, cols2: ColSpec,
      binSize: Long, strategy: Strategy): DataFrame = {
    val sfx = "__r_"
    val merged = ColSpec.suffixAll(
      merge(concreteRows(anns, cols2), Some(0), Nil, cols2)
        .drop("n_intervals"), sfx)
    val c2 = ColSpec(cols2.chrom + sfx, cols2.start + sfx, cols2.end + sfx)
    IntervalJoin.pairs(probes, merged, cols1, c2, Nil, strategy, binSize)
      .groupBy(col(idCol))
      .agg(sum(greatest(lit(0L),
        least(cols1.endCol, c2.endCol) - greatest(cols1.startCol, c2.startCol)))
        .as(outCol))
  }

  /** Scan covered-bp (the wide-probe path of [[coveredBp]]): merges
    * `anns`, then computes `F(probe_end) − F(probe_start)` per distinct
    * probe via one three-counter prefix scan. Returns (probe id, covered
    * bp) for concrete probes; rows of `probes` are assumed distinct on
    * `idCol`. */
  private[ops] def coveredBpByRank(probes: DataFrame, idCol: String,
      anns: DataFrame, outCol: String, cols1: ColSpec, cols2: ColSpec,
      bucketWidth: Long): DataFrame = {
    val merged = merge(concreteRows(anns, cols2), Some(0), Nil, cols2)
      .drop("n_intervals")
    val c2 = ColSpec(cols2.chrom, cols2.start, cols2.end)
    val p = concreteRows(probes, cols1)
    val idType = p.schema(idCol).dataType
    def probeRow(pos: Column, side: Int) =
      p.select(cols1.chromCol.as("__occ"), pos.as("__pos"),
        lit(1).as("__tag"), lit(0L).as("__vl"), lit(0L).as("__vc"),
        lit(0L).as("__vs"), col(idCol), lit(side).as("__side"))
    def runRow(pos: Column, vl: Column, vc: Column, vs: Column) =
      merged.select(c2.chromCol.as("__occ"), pos.as("__pos"),
        lit(0).as("__tag"), vl.as("__vl"), vc.as("__vc"), vs.as("__vs"),
        lit(null).cast(idType).as(idCol), lit(0).as("__side"))
    val ev = runRow(c2.startCol, lit(0L), lit(1L), c2.startCol)
      .unionByName(runRow(c2.endCol, c2.endCol - c2.startCol, lit(-1L),
        -c2.startCol))
      .unionByName(probeRow(cols1.startCol, side = -1))
      .unionByName(probeRow(cols1.endCol, side = 1))
      .withColumn("__bkt", Scan.bucketOf(col("__pos"), bucketWidth))
    val f = col("__closed") + col("__pos") * col("__open") - col("__ssum")
    Scan.prefixSumN(ev, Seq("__occ"), "__bkt",
        Seq(col("__pos"), col("__tag")),
        Seq(col("__vl") -> "__closed", col("__vc") -> "__open",
          col("__vs") -> "__ssum"))
      .filter(col(idCol).isNotNull)
      .groupBy(col(idCol))
      .agg(sum(col("__side") * f).as(outCol))
  }

  // ------------------------------------------------------------- subtract

  /** Remove df2-covered bp from each df1 interval, emitting the surviving
    * fragments (reference `ops.py:1243-1330`). Fully-covered rows drop out;
    * an uncovered zero-length point survives as itself. `returnIndex` adds
    * the per-parent fragment counter `sub_index_` (`ops.py:1323-1329`).
    * NA rows of BOTH sides are ignored (reference `tests/test_ops.py:
    * 1814-1839`); the reference's eager all-null-chromosome ValueError has
    * no lazy-plan analog and is not reproduced.
    */
  def subtract(df1: DataFrame, df2: DataFrame,
               returnIndex: Boolean = false,
               cols1: ColSpec = ColSpec.default,
               cols2: ColSpec = ColSpec.default,
               strategy: Strategy = Auto,
               binSize: Long = IntervalJoin.DefaultBinSize): DataFrame = {
    val sfx = "__r_"
    val merged = ColSpec.suffixAll(
      merge(concreteRows(df2, cols2), Some(0), Nil, cols2)
        .drop("n_intervals"), sfx)
    val c2 = ColSpec(cols2.chrom + sfx, cols2.start + sfx, cols2.end + sfx)
    val l = RowId.withRowId(concreteRows(df1, cols1), "__id1")
    val p = IntervalJoin.pairs(l, merged, cols1, c2, Nil, strategy, binSize)
      .withColumn("__ms", greatest(c2.startCol, cols1.startCol))
      .withColumn("__me", least(c2.endCol, cols1.endCol))

    val wid = Window.partitionBy(col("__id1")).orderBy(col("__ms"))
    // gap before each covering run + one tail gap after the last
    val head = p
      .withColumn("__ps", coalesce(lag(col("__me"), 1).over(wid), cols1.startCol))
      .withColumn("__pe", col("__ms"))
    val tail = p
      .groupBy(col("__id1").as("__tid"))
      .agg(max(col("__me")).as("__ps"))
    val lTail = l
      .join(tail, col("__id1") === col("__tid"), "inner")
      .withColumn("__pe", cols1.endCol)
      .drop("__tid")
    val matchedFrags = head
      .select((l.columns.map(col) :+ col("__ps") :+ col("__pe")).toIndexedSeq: _*)
      .unionByName(lTail
        .select((l.columns.map(col) :+ col("__ps") :+ col("__pe")).toIndexedSeq: _*))
      .filter(col("__ps") < col("__pe"))
    // rows with no overlap at all survive whole (incl. uncovered points)
    val untouched = l
      .join(p.select(col("__id1")), Seq("__id1"), "left_anti")
      .withColumn("__ps", cols1.startCol)
      .withColumn("__pe", cols1.endCol)
    var out = matchedFrags
      .unionByName(untouched
        .select((l.columns.map(col) :+ col("__ps") :+ col("__pe")).toIndexedSeq: _*))
      .withColumn(cols1.start, col("__ps"))
      .withColumn(cols1.end, col("__pe"))
    if (returnIndex) {
      val wf = Window.partitionBy(col("__id1")).orderBy(col("__ps"))
      out = out.withColumn("sub_index_", row_number().over(wf) - 1)
    }
    out.drop("__ps", "__pe", "__id1")
  }

  // ----------------------------------------------------------- complement

  /** Complement with an inferred view (reference `ops.py:1603-1604`):
    * every chromosome present in df spans `[0, int64max)`, so each
    * chromosome's final gap runs to int64max. */
  def complement(df: DataFrame, cols: ColSpec): DataFrame = {
    val v = df.filter(cols.chromCol.isNotNull)
      .select(cols.chromCol.as("chrom")).distinct()
      .select(col("chrom"), lit(0L).as("start"),
        lit(Long.MaxValue).as("end"), col("chrom").as("name"))
    complement(df, v, viewNameCol = "name", cols = cols,
      colsView = ColSpec.default)
  }

  def complement(df: DataFrame): DataFrame = complement(df, ColSpec.default)

  /** Gaps of df within each view region (reference `ops.py:1560-1687`).
    * df intervals are merged (min_dist=0), intersected with each region,
    * and the per-region gaps emitted; regions with no intervals return
    * whole (reference `ops.py:1652-1657`). View is a small dimension —
    * broadcast join. Output: (chrom, start, end, view_region).
    */
  def complement(df: DataFrame, view: DataFrame,
                 viewNameCol: String = "name",
                 cols: ColSpec = ColSpec.default,
                 colsView: ColSpec = ColSpec.default): DataFrame = {
    val m = merge(concreteRows(df, cols), Some(0), Nil, cols)
      .drop("n_intervals")
    val v = view.select(
      col(colsView.chrom).as("__vc"),
      col(colsView.start).as("__vs"),
      col(colsView.end).as("__ve"),
      col(viewNameCol).as("view_region"))
    // merged runs clipped to each region they intersect (strict: zero-length
    // touch contributes no coverage)
    val inRegion = m.join(broadcast(v),
        cols.chromCol === col("__vc") &&
          cols.startCol < col("__ve") && col("__vs") < cols.endCol,
        "inner")
      .withColumn("__ms", greatest(cols.startCol, col("__vs")))
      .withColumn("__me", least(cols.endCol, col("__ve")))
    val wv = Window.partitionBy(col("view_region")).orderBy(col("__ms"))
    val headGaps = inRegion
      .withColumn("__gs", coalesce(lag(col("__me"), 1).over(wv), col("__vs")))
      .withColumn("__ge", col("__ms"))
    val tailGaps = inRegion
      .groupBy(col("__vc"), col("__ve"), col("view_region"))
      .agg(max(col("__me")).as("__gs"))
      .withColumn("__ge", col("__ve"))
    val gapsCols = Seq(col("__vc").as(cols.chrom), col("__gs").as(cols.start),
      col("__ge").as(cols.end), col("view_region"))
    val emptyRegions = v
      .join(inRegion.select(col("view_region")).distinct(),
        Seq("view_region"), "left_anti")
      .select(col("__vc").as(cols.chrom), col("__vs").as(cols.start),
        col("__ve").as(cols.end), col("view_region"))
    headGaps.select(gapsCols: _*)
      .unionByName(tailGaps.select(gapsCols: _*))
      .filter(col(cols.start) < col(cols.end))
      .unionByName(emptyRegions)
  }

  // ----------------------------------------------------- view-keyed ops

  /** Upper bound on rows [[withOrd]] accepts. Its global window funnels the
    * whole input through ONE partition, which is only safe for
    * dimension-sized views (they are broadcast everywhere else anyway); a
    * fact table passed here would silently serialize the job. */
  val MaxOrdViewRows: Long = 1L << 20

  /** View with an explicit `ord` column materializing its row order — the
    * Spark replacement for the reference's ordered-categorical trick
    * (`ops.py:1792-1796`). Guarded: refuses inputs larger than
    * [[MaxOrdViewRows]] instead of single-partitioning them (the probe is a
    * limit-bounded count, so it never scans more than the threshold). */
  def withOrd(view: DataFrame, ordCol: String = "ord"): DataFrame = {
    val probe = view.limit((MaxOrdViewRows + 1).toInt).count()
    require(probe <= MaxOrdViewRows,
      s"withOrd: input exceeds $MaxOrdViewRows rows; it would be funneled " +
        "through a single partition by the global ordering window. Pass a " +
        "dimension-sized view, or precompute an explicit ord column.")
    val w = Window.orderBy(monotonically_increasing_id())
    view.withColumn(ordCol, row_number().over(w) - 1)
  }

  /** Tag each interval with the view region of largest overlap, ties broken
    * by view order (reference `ops.py:1807-1901`). */
  def assignView(df: DataFrame, view: DataFrame,
                 dropUnassigned: Boolean = false,
                 dfViewCol: String = "view_region",
                 viewNameCol: String = "name",
                 viewOrdCol: Option[String] = None,
                 cols: ColSpec = ColSpec.default,
                 colsView: ColSpec = ColSpec.default): DataFrame = {
    val ordered = viewOrdCol match {
      case Some(o) => view.withColumn("__vord", col(o))
      case None    => withOrd(view, "__vord")
    }
    val v = ordered.select(
      col(colsView.chrom).as("__vc"), col(colsView.start).as("__vs"),
      col(colsView.end).as("__ve"), col(viewNameCol).as(dfViewCol),
      col("__vord"))
    val l = RowId.withContentId(df, "__id1")
    val c2 = ColSpec("__vc", "__vs", "__ve")
    val p = l.join(broadcast(v),
      cols.chromCol === col("__vc") &&
        IntervalJoin.overlapPredicate(cols, c2), "inner")
    val wbest = Window.partitionBy(col("__id1")).orderBy(
      (least(cols.endCol, col("__ve")) - greatest(cols.startCol, col("__vs"))).desc,
      col("__vord").asc)
    val best = p.withColumn("__rk", row_number().over(wbest))
      .filter(col("__rk") === 1)
      .select(col("__id1").as("__bid"), col(dfViewCol))
    val joined = l.join(best, col("__id1") === col("__bid"),
      if (dropUnassigned) "inner" else "left")
    joined.drop("__id1", "__bid")
  }

  /** Trim with no view (reference `ops.py:1495-1506`): every chromosome's
    * implied region is `[0, int64max)`, so trimming reduces to clipping
    * both coordinates at zero. Null coordinates stay null (Spark's
    * `greatest` would otherwise swallow them). */
  def trim(df: DataFrame, cols: ColSpec): DataFrame = {
    def clip(c: Column) =
      when(c.isNull, lit(null).cast(LongType)).otherwise(greatest(c, lit(0L)))
    df.withColumn(cols.start, clip(cols.startCol))
      .withColumn(cols.end, clip(cols.endCol))
  }

  def trim(df: DataFrame): DataFrame = trim(df, ColSpec.default)

  /** Clip intervals to their view region; unassigned rows get a null triple
    * (reference `ops.py:1441-1557`). */
  def trim(df: DataFrame, view: DataFrame,
           dfViewCol: Option[String] = None,
           viewNameCol: String = "name",
           viewOrdCol: Option[String] = None,
           cols: ColSpec = ColSpec.default,
           colsView: ColSpec = ColSpec.default): DataFrame = {
    val withRegion = dfViewCol match {
      case Some(_) => df
      case None => assignView(df, view, dropUnassigned = false,
        dfViewCol = "__region", viewNameCol = viewNameCol,
        viewOrdCol = viewOrdCol, cols = cols, colsView = colsView)
    }
    val regionCol = dfViewCol.getOrElse("__region")
    val v = view.select(
      col(viewNameCol).as("__vname"), col(colsView.start).as("__vs"),
      col(colsView.end).as("__ve"))
    val joined = withRegion.join(broadcast(v),
      col(regionCol) === col("__vname"), "left")
    val assigned = col("__vname").isNotNull
    // both coordinates clip INTO [region_start, region_end] (reference
    // ops.py:1551-1552 clips start AND end with the same lower/upper): an
    // interval lying entirely beyond its assigned region collapses to the
    // region edge, never to an inverted (start > end) pair — which the
    // one-sided clamp would produce under a caller-pinned dfViewCol
    // naming a non-overlapping region (tests/test_ops.py:88-90)
    joined
      .withColumn(cols.start,
        when(assigned, least(greatest(cols.startCol, col("__vs")), col("__ve")))
          .otherwise(lit(null).cast(LongType)))
      .withColumn(cols.end,
        when(assigned, greatest(least(cols.endCol, col("__ve")), col("__vs")))
          .otherwise(lit(null).cast(LongType)))
      .withColumn(cols.chrom,
        when(assigned, cols.chromCol).otherwise(lit(null).cast(StringType)))
      .drop("__vname", "__vs", "__ve", "__region")
  }

  /** Sort by (chrom lexicographic, start, end), matching the reference's
    * plain `sort_values` (`ops.py:1690-1804`), or by view row order then
    * coords when a view is given. This operator does NOT natural-sort
    * chromosome names (neither does the reference's `sort_bedframe`);
    * callers wanting chr2 < chr10 sort on
    * [[graft.core.NatOrder.sortKeys]] or pass a natsorted view. Returns a
    * globally sorted DataFrame (range-partitioned sort — no single-node
    * bottleneck). */
  def sortBedframe(df: DataFrame, view: Option[DataFrame] = None,
                   viewNameCol: String = "name",
                   cols: ColSpec = ColSpec.default,
                   colsView: ColSpec = ColSpec.default): DataFrame =
    view match {
      case None =>
        df.orderBy(cols.chromCol.asc_nulls_last,
          cols.startCol.asc_nulls_last, cols.endCol.asc_nulls_last)
      case Some(v) =>
        val assigned = assignView(df, v, dropUnassigned = false,
          dfViewCol = "__region", viewNameCol = viewNameCol,
          cols = cols, colsView = colsView)
        val ord = withOrd(v, "__vord")
          .select(col(viewNameCol).as("__vname"), col("__vord"))
        assigned
          .join(broadcast(ord), col("__region") === col("__vname"), "left")
          .orderBy(col("__vord").asc_nulls_last, cols.startCol.asc_nulls_last,
            cols.endCol.asc_nulls_last)
          .drop("__region", "__vname", "__vord")
    }
}
