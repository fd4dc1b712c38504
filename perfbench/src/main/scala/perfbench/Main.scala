package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable

import graft.ann.Ann
import graft.core.Sig
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Closed-loop harness: one client calls every op of the mix in a fixed
  * order through the public API with default arguments, waits for each
  * result (sunk through `Sig.sink`), and repeats whole passes until the
  * measuring time is used. Writes `result.json` (and `spans.json` when
  * traced) to `--out`; `perfbench/run.py` turns them into metrics.
  *
  * {{{
  * Main --workload peaks --seed 1 --seconds 20 --trace 0 --out <dir>
  * }}}
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: String)

  /** Op calls longer than this are cancelled and counted as failed. */
  val OpTimeoutS = 60L
  /** Setup repetitions whose median is the generate time. */
  val GenerateReps = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val shape = Workload.shapes.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workload.shapes.keys.mkString(", ")}"))
    // one core is left to the calling thread, JIT compilers and GC: sharing
    // all cores with the task threads tripled the run-to-run spread
    val cores = math.min(3, math.max(1, Runtime.getRuntime.availableProcessors() - 1))
    val canaryStart = Canary.seconds()
    val load0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val fallbacks = new CodegenFallbacks; fallbacks.attach()
    val spans = new Spans
    val root = spans.open(0, "workload", o.workload)
    val setupSpan = spans.open(root.id, "setup", "setup")

    def timed[T](parent: Long, name: String)(f: => T): (T, Double) = {
      val s = spans.open(parent, "setup", name)
      val t0 = System.nanoTime()
      val r = f
      s.end = Clock.nowUs
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (spark, sessionS) = timed(setupSpan.id, "session")(session(o.out, cores))
    spark.sparkContext.setLogLevel("WARN")
    val gens = (0 until GenerateReps).map { i =>
      val dir = s"${o.out}/inputs$i"
      val ((manifest, truth), s) =
        timed(setupSpan.id, s"generate$i")(Inputs.write(spark, shape, o.seed, dir))
      (dir, manifest, truth, s)
    }
    gens.init.foreach(g => deleteTree(new File(g._1)))
    val (dir, manifest, truth, _) = gens.last
    val ctx = new Ctx(spark, dir, shape)

    val tracer = if (o.trace) Some(new Tracer(spans)) else None
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    val sc = spark.sparkContext

    /** One op call: the public call, then the sink, timed separately. */
    def runOp(op: Op, pass: Int, passSpan: Span, traced: Boolean,
              verify: Option[Verify]): Double = {
      val span = spans.open(passSpan.id, "op", op.name)
      val group = s"perfbench-$pass-${op.name}"
      sc.setJobGroup(group, op.name, interruptOnCancel = true)
      if (traced) {
        tracer.get.currentOp = span
        sc.setLocalProperty(Tracer.SpanKey, span.id.toString)
      }
      val fb0 = fallbacks.count
      val timer = watchdog.schedule(
        new Runnable { def run(): Unit = sc.cancelJobGroup(group) }, OpTimeoutS, TimeUnit.SECONDS)
      var rows = -1L; var sig = 0L; var error: String = null
      var written: Option[String] = None
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        sc.setLocalProperty(Tracer.PhaseKey, "call")
        val out = op.call(ctx)
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "sink")
        out match {
          case Frame(df) =>
            val r = verify.fold(Sig.sink(df))(_.frame(op, df))
            rows = r._1; sig = r._2
          case Eager(r, s) => rows = r; sig = s
          case Written(t) => written = Some(t)
        }
      } catch {
        case e: Throwable =>
          error = if (timer.isDone) s"timeout after ${OpTimeoutS}s" else e.toString
      }
      val t2 = System.nanoTime()
      span.end = Clock.nowUs
      timer.cancel(false)
      if (traced) {
        PerfbenchBus.drain(sc)
        tracer.get.currentOp = null
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
      sc.setLocalProperty(Tracer.PhaseKey, null)
      // a written table's signature is read back outside the timed region
      written.foreach { t =>
        try { val r = Sig.sink(spark.table(t)); rows = r._1; sig = r._2 }
        catch { case e: Throwable => error = e.toString }
      }
      sc.clearJobGroup()
      if (error == null) verify.foreach(v => error = v.check(op, ctx).orNull)
      span.attrs ++= Map("rows" -> rows, "call_s" -> (t1 - t0) / 1e9)
      calls += Map("pass" -> pass, "op" -> op.name, "family" -> op.family,
        "traced" -> traced, "span" -> span.id,
        "call_s" -> (t1 - t0) / 1e9, "total_s" -> (t2 - t0) / 1e9,
        "rows" -> rows, "sig" -> sig.toString, "error" -> error,
        "codegen_fallbacks" -> (fallbacks.count - fb0))
      (t2 - t0) / 1e9
    }

    def runPass(pass: Int, traced: Boolean, verify: Option[Verify]): Double = {
      val span = spans.open(if (pass < 0) setupSpan.id else root.id, "pass", s"pass $pass")
      if (traced) tracer.get.attach(spark)
      // the pass's wall time is its timed regions: bus drains, read-backs
      // and checks between ops are excluded
      val wall = shape.ops.map(op => runOp(op, pass, span, traced, verify)).sum
      span.end = Clock.nowUs
      if (traced) tracer.get.detach(spark)
      passes += Map("pass" -> pass, "traced" -> traced, "span" -> span.id,
        "wall_s" -> wall) ++
        (if (pass >= 0) Map("heap_peak_mb" -> LiveHeap.settledMb()) else Map.empty)
      wall
    }

    // warm-up: one untimed pass that also records the oracle's summaries
    val verify = new Verify(truth)
    val (_, warmupS) = timed(setupSpan.id, "warmup")(runPass(-1, traced = false, Some(verify)))
    setupSpan.end = Clock.nowUs
    // measured passes start from a settled heap, outside the set-up time
    LiveHeap.settledMb()

    val t0 = System.nanoTime()
    var pass = 0
    // with tracing, passes alternate untraced/traced (at least U T U, so a
    // warm-up drift cancels) and the run measures its own tracing overhead
    while (pass == 0 || (o.trace && pass < 3) ||
        (System.nanoTime() - t0) / 1e9 < o.seconds) {
      runPass(pass, traced = o.trace && pass % 2 == 1, None)
      pass += 1
    }
    root.end = Clock.nowUs
    watchdog.shutdownNow()
    val canaryEnd = Canary.seconds()

    val env = Map(
      "seed" -> o.seed, "workload" -> o.workload, "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_start" -> load0,
      "loadavg_end" -> java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1e6,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "canary_start_s" -> canaryStart, "canary_end_s" -> canaryEnd,
      "manifest" -> manifest)
    val result = Map(
      "env" -> env,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> gens.map(_._4),
        "warmup_s" -> warmupS),
      "calls" -> calls, "passes" -> passes,
      "oracle" -> verify.summaries, "problems" -> verify.problems)
    Files.writeString(Paths.get(o.out, "result.json"), Json(result))
    if (o.trace) Files.writeString(Paths.get(o.out, "spans.json"), Json(spans.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.start, "end_us" -> s.end, "attrs" -> s.attrs.toMap)
    }))
    spark.stop()
  }

  def session(out: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Untimed output checks made during the warm-up pass: integer-column sums
  * of every interval op (compared against DuckDB by `oracle.py`) and the
  * planted ground truth of the corpus ops. */
final class Verify(truth: CorpusTruth) {
  val summaries = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val problems = mutable.LinkedHashMap.empty[String, String]

  private val intervalFamilies = Set("join", "agg_join", "closest", "sweep")
  private var last: DataFrame = _

  /** Rows and signature exactly as `Sig.sink` computes them, plus the
    * integer-column sums, in one aggregation. */
  def frame(op: Op, df: DataFrame): (Long, Long) = {
    last = df
    if (!intervalFamilies(op.family)) Sig.sink(df)
    else {
      val ints = df.schema.fields.collect {
        case f if f.dataType == LongType || f.dataType == IntegerType => f.name
      }
      val r = df.agg(count(lit(1)), (bit_xor(xxhash64(df.columns.toSeq.map(col): _*)) +:
        ints.map(c => sum(col(c).cast("decimal(38,0)"))).toSeq): _*).head()
      val sums = ints.zipWithIndex.map { case (c, i) =>
        c -> Option(r.getDecimal(i + 2)).map(_.toBigInteger.toString).orNull
      }.toMap
      summaries(op.name) = Map("rows" -> r.getLong(0), "sums" -> sums)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }

  /** A problem message when the op's output misses its planted truth. */
  def check(op: Op, c: Ctx): Option[String] = {
    val msg = op.name match {
      case "components" =>
        val comp = last.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val missed = truth.dupGroups.filterNot { g =>
          g.forall(comp.contains) && g.map(comp).distinct.size == 1
        }
        if (missed.isEmpty) None
        else Some(s"${missed.size} of ${truth.dupGroups.size} planted groups not found")
      case "ivf_centroids" =>
        if (c.cents.length == c.shape.clusters) None
        else Some(s"${c.cents.length} centroids for ${c.shape.clusters} clusters")
      case "ivf_topk_indexed" | "ivf_topk" =>
        val probes = Ann.ivfProbes(Workload.queries(c), c.cents, Workload.DefaultProbes).collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
        val bad = probes.count { case (q, ps) =>
          val centre = truth.centres(truth.vecCluster(q))
          val own = c.cents.minBy { case (_, v) =>
            v.indices.map(i => (v(i) - centre(i)) * (v(i) - centre(i))).sum }._1
          !ps.contains(own)
        }
        val nq = truth.vecCluster.keys.count(_ % Workload.QueryEvery == 0)
        if (bad > 0) Some(s"$bad queries miss their own cluster among their probes")
        else if (probes.size != nq) Some(s"${probes.size} probed queries of $nq")
        else None
      case "bpe_train" =>
        val n = c.merges.count()
        if (n == Workload.NumMerges) None else Some(s"$n merges of ${Workload.NumMerges}")
      case "bpe_encode" =>
        val n = last.select("doc_id", "word_pos").distinct().count()
        if (n == truth.words) None else Some(s"$n encoded words of ${truth.words}")
      case _ => None
    }
    msg.foreach(m => problems(op.name) = m)
    msg
  }
}

/** Fixed CPU work timed before and after the run: a disturbed machine
  * shows as a slower end canary. The run is flagged, never corrected. */
object Canary {
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    // keeps the loop from being optimised away
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Writes a workload's seeded inputs as parquet and returns the manifest
  * (rows, bytes, files per table) and the planted corpus truth. */
object Inputs {
  def write(spark: SparkSession, s: Shape, seed: Long,
            dir: String): (Map[String, Map[String, Any]], CorpusTruth) = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    val chroms = Gen.hg38Primary()
    val ivTables = if (s.intervalsPerSide == 0) Nil else Seq(
      "iv_a" -> Gen.intervals(r.split(), chroms, s.intervalsPerSide, s.longShare, 0L).toDF(),
      "iv_b" -> Gen.intervals(r.split(), chroms, s.intervalsPerSide, s.longShare, 1L << 32).toDF(),
      "view" -> chroms.map { case (n, len) => Region(n, 0L, len, n) }.toDF())
    var truth = CorpusTruth(Nil, Map.empty, Array.empty, 0L)
    val corpusTables = if (s.docs == 0) Nil else {
      val (docs, groups, words) = Gen.documents(r.split(), s.docs, s.dupGroups, s.maxGroup)
      val (vecs, vecCluster, centres) = Gen.vectors(r.split(), s.vectors, 32, s.clusters, s.sigma)
      truth = CorpusTruth(groups, vecCluster, centres, words)
      Seq("documents" -> docs.toDF(), "embeddings" -> vecs.toDF())
    }
    val tables = ivTables ++ corpusTables
    val manifest = tables.map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
      val files = new File(s"$dir/$name").listFiles().filter(_.getName.endsWith(".parquet"))
      name -> Map("rows" -> df.count(), "bytes" -> files.map(_.length).sum,
        "files" -> files.length)
    }.toMap
    (manifest, truth)
  }
}
