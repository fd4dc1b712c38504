package graft

import graft.core.ColSpec
import graft.ops.{Closest, Extras, IntervalJoin, Ops}
import graft.text.{Bm25, Corpus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan contracts — the scale guarantees the operators are
  * designed around, asserted against `executedPlan` so a future rewrite
  * that silently reintroduces a quadratic or single-node construct fails
  * CI, not a 100x production run.
  *
  * Guarded properties: no cartesian/broadcast-nested-loop joins in any
  * core operator plan, parquet filter pushdown for region selection,
  * broadcast (not shuffle) joins against dimension-sized views, and no
  * partition-less global Window in library paths.
  */
class PlanContractSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def ivA = Seq(("chr1", 1L, 5L, 1L), ("chr1", 4L, 9L, 2L),
    ("chr2", 0L, 4L, 3L)).toDF("chrom", "start", "end", "id")
  private def ivB = Seq(("chr1", 3L, 7L, 10L), ("chr2", 5L, 9L, 11L))
    .toDF("chrom", "start", "end", "id")
  private def view = Seq(("chr1", 0L, 10L, "p"), ("chr2", 0L, 10L, "q"))
    .toDF("chrom", "start", "end", "name")

  test("no cartesian or nested-loop join in any core operator plan") {
    val plans = Map(
      "overlap" -> Ops.overlap(ivA, ivB, how = "outer",
        suffixes = ("_1", "_2"), binSize = 4),
      "countOverlaps" -> Ops.countOverlaps(ivA, ivB, binSize = 4),
      "coverage" -> Ops.coverage(ivA, ivB, binSize = 4),
      "subtract" -> Ops.subtract(ivA, ivB, binSize = 4),
      "setdiff" -> Ops.setdiff(ivA, ivB, binSize = 4),
      "closest" -> Closest.closest(ivA, Some(ivB), k = 1,
        suffixes = ("_1", "_2"), binSize = 4, bucketSize = 64),
      "geneCoverage" -> Extras.fracGeneCoverage(ivA, ivB, binSize = 4),
      "pairByDistance" -> Extras.pairByDistance(ivA, 1, 9, binSize = 4))
    plans.foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian join")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name has a nested-loop join")
    }
  }

  test("graft_closest TVF from plain SQL: engine plan (no cartesian, " +
    "no nested loop, WindowGroupLimit ranking), engine results") {
    ivA.createOrReplaceTempView("pcs_tvf_a")
    ivB.createOrReplaceTempView("pcs_tvf_b")
    spark.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, "4")
    val df = spark.sql(
      """SELECT id_1, id_2, distance
        |FROM graft_closest('pcs_tvf_a', 'pcs_tvf_b', 1, 'id')""".stripMargin)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in TVF plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in TVF plan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"k-NN ranking not pre-pruned map-side:\n$p")
    // equals the Scala API call it resolves to (collected compare:
    // combining the two trees in one exceptAll plan would alias the
    // SAME LocalRelation exprIds into a self-join conflict — a test
    // artifact, not a TVF property)
    val api = Closest.closest(ivA, Some(ivB), k = 1,
        tieBreakingCol = Some("id"), suffixes = ("_1", "_2"), binSize = 4)
      .select($"id_1", $"id_2", $"distance")
    assert(rowsOf(df) == rowsOf(api))
  }

  test("graft_merge TVF from plain SQL equals the Scala merge") {
    ivA.createOrReplaceTempView("pcs_tvf_m")
    val df = spark.sql(
      "SELECT chrom, start, `end`, n_intervals " +
        "FROM graft_merge('pcs_tvf_m', 0)")
    val api = Ops.merge(ivA, minDist = Some(0))
      .select($"chrom", $"start", $"end", $"n_intervals")
    assert(rowsOf(df) == rowsOf(api))
  }

  test("graft_cluster / graft_subtract / graft_coverage / " +
    "graft_complement TVFs equal their Scala operators") {
    ivA.createOrReplaceTempView("pcs_tvf_a2")
    ivB.createOrReplaceTempView("pcs_tvf_b2")
    spark.conf.set(graft.plans.IntervalJoinRewrite.BinSizeKey, "4")
    val cl = spark.sql(
      "SELECT id, cluster FROM graft_cluster('pcs_tvf_a2', 0)")
    assert(rowsOf(cl) ==
      rowsOf(Ops.cluster(ivA, minDist = Some(0)).select($"id", $"cluster")))
    val sub = spark.sql(
      "SELECT chrom, start, `end` FROM graft_subtract('pcs_tvf_a2', 'pcs_tvf_b2')")
    assert(rowsOf(sub) == rowsOf(Ops.subtract(ivA, ivB, binSize = 4)
      .select($"chrom", $"start", $"end")))
    val cov = spark.sql(
      "SELECT id, coverage FROM graft_coverage('pcs_tvf_a2', 'pcs_tvf_b2')")
    assert(rowsOf(cov) == rowsOf(Ops.coverage(ivA, ivB, binSize = 4)
      .select($"id", $"coverage")))
    val comp = spark.sql(
      "SELECT chrom, start, `end` FROM graft_complement('pcs_tvf_a2')")
    assert(rowsOf(comp) == rowsOf(Ops.complement(ivA)
      .select($"chrom", $"start", $"end")))
  }

  test("region select pushes the chrom/coordinate filters into the " +
    "parquet scan") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pushdown").toString
    ivA.write.mode("overwrite").parquet(dir)
    val p = plan(Ops.select(spark.read.parquet(dir), "chr1:2-8"))
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(chrom,chr1)"),
      s"region filter not pushed to the scan:\n$p")
  }

  test("chrom-partitioned layout: region select prunes to one partition " +
    "directory at planning time") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_partlayout").toString
    graft.io.Tables.writeChromPartitioned(ivA, dir)
    val read = spark.read.parquet(dir)
    val p = plan(Ops.select(read, "chr1:2-8"))
    // the chrom equality must land in PartitionFilters (directory-level
    // pruning at planning time), not just in the post-scan Filter
    val partFilters = p.linesIterator
      .flatMap(_.split("PartitionFilters: ").drop(1)).mkString
    assert(partFilters.contains("= chr1"),
      s"chrom equality not in PartitionFilters:\n$p")
    // round trip is lossless (column order differs: partition col last)
    assert(rowsOf(read, "chrom", "start", "end", "id") ==
      rowsOf(ivA, "chrom", "start", "end", "id"))
  }

  test("view-dimension joins broadcast instead of shuffling the fact side") {
    Seq(
      "assignView" -> Ops.assignView(ivA, view),
      "trim" -> Ops.trim(ivA, view),
      "complement" -> Ops.complement(ivA, view)
    ).foreach { case (name, df) =>
      assert(plan(df).contains("BroadcastHashJoin")
        || plan(df).contains("BroadcastExchange"),
        s"$name does not broadcast the view")
    }
  }

  test("no partition-less global Window in operator plans (the " +
    "single-partition scale ceiling)") {
    // a partition-less window renders as "Window [...], [x ASC...]" with
    // no partition spec between the two bracket groups; every library
    // window must carry a partition spec
    val plans = Seq(
      Ops.cluster(ivA, Some(0)),
      Ops.merge(ivA, Some(0)),
      Extras.pileup(ivA, bucketSize = 64),
      Extras.markRuns(ivA.withColumn("v", lit("x")), "v", bucketSize = 64),
      Ops.countOverlaps(ivA, ivB, binSize = 4),
      Corpus.repetitionSignals(
        Seq((1L, "a\nb")).toDF("id", "text"), "id", "text"))
    plans.foreach { df =>
      val windowLines = plan(df).linesIterator
        .filter(_.trim.startsWith("Window ")).toSeq
      windowLines.foreach { l =>
        // "Window [exprs], [partSpec], [orderSpec]" has three bracket
        // groups; the partition-less form has only two
        val brackets = l.count(_ == '[')
        assert(brackets >= 3, s"partition-less window: $l")
      }
    }
  }

  test("Auto upgrades to BinnedTwoLevel via the span probe on the " +
    "heavy-tail relation, and the gate plan carries the class-union") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val prev = spark.conf.getOption(IntervalJoin.ProbeThresholdKey)
    spark.conf.set(IntervalJoin.ProbeThresholdKey, (1L << 12).toString)
    try {
      val resolved = IntervalJoin.resolveAuto(
        TestTables.ivLong(spark, dir), TestTables.iv1(spark, dir),
        ColSpec.default, ColSpec.default, binSize = 64)
      assert(resolved == IntervalJoin.BinnedTwoLevel,
        s"span probe did not upgrade the strategy: $resolved")
      // the executed gate plan must carry the three class-disjoint joins
      val p = plan(SparkEntry.queries("iv_overlap_auto_2l")(spark, dir))
      assert(p.contains("Union"), s"no coarse/fine union in plan:\n$p")
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 3,
        s"expected the three class-disjoint equi-joins:\n$p")
      // while here: the uniformly-short pairing must NOT pay two-level
      val short = IntervalJoin.resolveAuto(
        TestTables.iv1(spark, dir), TestTables.iv1(spark, dir),
        ColSpec.default, ColSpec.default, binSize = 64)
      assert(short == IntervalJoin.Binned, s"short spans upgraded: $short")
    } finally prev match {
      case Some(v) => spark.conf.set(IntervalJoin.ProbeThresholdKey, v)
      case None => spark.conf.unset(IntervalJoin.ProbeThresholdKey)
    }
  }

  test("gopherQuality is a single codegen'd projection: no shuffle, no " +
    "join, no window, no higher-order lambda") {
    val p = plan(Corpus.gopherQuality(
      Seq((1L, "the cat\n- b")).toDF("id", "text"), "id", "text"))
    assert(!p.contains("Exchange"), s"quality rules must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"quality rules must stay a projection:\n$p")
    assert(!p.toLowerCase.contains("lambda"),
      s"interpreted higher-order expression in the hot path:\n$p")
  }

  test("covarianceMoments data path is join-free and evaluates the " +
    "cov-terms kernel exactly once (no generator-inferred re-eval)") {
    // parquet-backed, not a local Seq: ConvertToLocalRelation would
    // otherwise fold the projection at plan time and hide the kernel
    val dir = java.nio.file.Files
      .createTempDirectory("graft_covplan").toString
    (0 until 10).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val p = plan(graft.ann.Ann.covarianceMoments(spark.read.parquet(dir)))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"moment fan-out must not self-join the exploded relation:\n$p")
    val kernelEvals = "vec_cov_terms\\(".r.findAllIn(p).size
    assert(kernelEvals == 1,
      s"kernel must be evaluated once per row, found $kernelEvals sites:\n$p")
    assert(!p.toLowerCase.contains("lambdafunction"),
      s"interpreted higher-order expression in the moment path:\n$p")
  }

  test("sampleByHash is one scan-adjacent filter: no shuffle, no join, " +
    "and column pruning reaches the parquet read") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_samplepush").toString
    ivA.write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    val p = plan(Corpus.sampleByHash(read, "id", 0.5).select($"id"))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(!p.contains("Join"), s"sampling must not join:\n$p")
    // projection-only read: the scan schema must not carry text columns
    val readSchema = p.linesIterator
      .flatMap(_.split("ReadSchema: ").drop(1)).mkString
    assert(readSchema.contains("id") && !readSchema.contains("chrom"),
      s"column pruning did not reach the scan:\n$p")
  }

  test("chunk and mixBySource are map-only: no shuffle, no join, no " +
    "window, no interpreted lambda") {
    val docs = Seq((1L, "abcdefghij", "a")).toDF("doc_id", "text", "source")
    for ((name, df) <- Seq(
        "chunk" -> Corpus.chunk(docs, size = 6, overlap = 2),
        "mixBySource" -> Corpus.mixBySource(docs, Map("a" -> 1.5)))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name must stay map-only:\n$p")
      assert(!p.toLowerCase.contains("lambdafunction"),
        s"$name has an interpreted higher-order expression:\n$p")
    }
  }

  test("DSv2 tabix scan reports the pushed region predicates and a " +
    "pruned read schema through the DataFrame API") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2").toString
    val p = s"$dir/c.bed.gz"
    graft.io.Tabix.write(ivA, p)
    val q = spark.read.format("tabix").option("preset", "bed4").load(p)
      .filter($"chrom" === "chr1" && $"start" < 8L && $"end" > 2L)
      .select($"name")
    val planStr = plan(q)
    // the scan description carries the accepted region (pushdown proof)
    assert(planStr.contains("region=chr1"), planStr)
    // pruned schema: only the projected + filter columns reach the scan
    assert(q.queryExecution.executedPlan.collectLeaves()
      .exists(_.schema.fieldNames.sameElements(Array("name"))) ||
      planStr.contains("ReadSchema"), planStr)
    // ivA's chr1 rows [1,5) and [4,9) both overlap [2,8); ids read as
    // the bed4 string name column
    assert(rowsOf(q) == Seq(Seq("1"), Seq("2")), rowsOf(q).toString)
  }

  test("Bm25.topK: query terms broadcast against the postings scan; the " +
    "per-query ranking pre-prunes map-side (WindowGroupLimit)") {
    val docs = (1L to 50L)
      .map(i => (i, s"alpha tok$i beta common")).toDF("doc_id", "text")
    val q = Seq((1L, "alpha tok7")).toDF("query_id", "text")
    val df = Bm25.topK(docs, q, k = 3)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"query terms not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"ranking lacks map-side top-k pre-prune:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pqIvfTopK: probes and ADC table broadcast; the code relation " +
    "shuffles only for the candidate aggregation") {
    import graft.ann.Ann
    val vecs = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 13 + d * 7) % 17) - 8) / 8.0))
    }.toDF("vec_id", "embedding")
    val books = Ann.pqCodebooks(vecs, m = 4, k = 4)
    val cents = Ann.ivfCentroids(vecs, 4)
    val codes = Ann.pqIvfEncode(vecs, books, cents)
      .persist() // index at rest — the search plan is what we audit
    try {
      codes.count()
      // the build is one projection of the corpus scan: assignment and
      // codes are VecNearest calls, with no join and no exchange
      val build = plan(Ann.pqIvfEncode(vecs, books, cents))
      assert(!build.contains("Join") && !build.contains("Exchange"), build)
      val df = Ann.pqIvfTopK(codes, books,
        vecs.filter($"vec_id" % 40 === 0), cents, k = 3, nProbe = 2)
      df.collect()
      // audit the corpus-stream side of the SEARCH plan only: the walk
      // stops at InMemoryTableScan (the index at rest — its one-time
      // build plan is checked above) AND at BroadcastExchange (the
      // ADC-table broadcast side is the small query set crossed with
      // the dimension-sized books — intentionally nested-loop; the
      // contract protects the corpus-sized stream, not it)
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.executedPlan)
        case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
          Seq(p)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: nodes(q.plan)
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(p)
        case _ => p +: p.children.flatMap(nodes)
      }
      val ns = nodes(df.queryExecution.executedPlan)
      assert(ns.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        s"probe/ADC not broadcast:\n${plan(df)}")
      assert(!ns.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
        s"cartesian/BNLJ in the search plan:\n${plan(df)}")
      assert(ns.exists(_.nodeName.contains("WindowGroupLimit")),
        s"no map-side top-k:\n${plan(df)}")
    } finally { codes.unpersist(true); () }
  }

  test("zLayoutStatsScaled: one 1-row broadcast, one stats exchange, " +
      "no window, no sort") {
    val df = Seq.fill(100)((scala.util.Random.nextInt(1000).toLong + 1,
      scala.util.Random.nextInt(50).toLong + 1)).toDF("a", "b")
    val stats = graft.ops.Layout.zLayoutStatsScaled(df, Seq("a", "b"),
      21, 6)
    stats.collect()
    val p = plan(stats)
    // the max-agg side broadcasts (1 row); the only shuffles are the
    // two aggregations' exchanges — no sort, no window, no extra pass
    assert(p.contains("BroadcastExchange"), s"max side not broadcast:\n$p")
    assert(!p.contains("Window"), s"window crept in:\n$p")
    assert(!p.contains("SortExec") && !p.toLowerCase.contains("sortmerge"),
      s"sort crept in:\n$p")
    // AQE repeats the tree under "== Initial Plan ==" — count only the
    // final plan's exchanges
    val finalPlan = p.split("== Initial Plan ==")(0)
    val nShuffles = finalPlan.split("\n")
      .count(_.matches(""".*[+:]- Exchange .*"""))
    assert(nShuffles <= 2, s"more shuffles than the two aggs:\n$p")
  }
}
