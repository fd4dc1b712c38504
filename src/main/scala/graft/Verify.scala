package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{FutureTask, TimeUnit, TimeoutException}

/** Driver-run correctness dump: each SparkEntry gate's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Storm-proofing contract (VERDICT r13 #1 — CORRECTNESS_r13.json arrived
  * as `{}` because a driver-side kill during the ~13-minute dump left an
  * outDir with results but NO oracle_sql.json, and an oracle-less compare
  * emits an empty map):
  *
  *   - `oracle_sql.json` and the aux manifest skeleton are written FIRST,
  *     before any query runs — they are derived from static
  *     `SparkEntry.oracleSql`, so a run killed at any point still gates
  *     its completed prefix;
  *   - the aux manifests (`verify_errors.json`, `signatures.json`) are
  *     re-flushed after EVERY query, not once at the end;
  *   - each query runs under a per-query wall budget on its own thread
  *     (job-group cancel on timeout, like Bench) so one degraded query
  *     cannot eat the driver's whole window, and two consecutive slow /
  *     timed-out queries flip a storm mode with a tighter budget until
  *     three consecutive fast queries flip it back;
  *   - a total wall budget stops the dump outright; queries skipped past
  *     it get error-relation placeholders (visible RED, not missing) for
  *     as long as a small grace window allows.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — run just those
    // (local iteration on one gate without paying the full 74-query dump).
    // A leading '-' inverts the set: "-a,b" runs everything EXCEPT a and b
    // (the sf1 gate dumps the bulk suite in one JVM, then the heavy
    // pair-family queries one at a time with deletion in between).
    val rawOnly = args.lift(2)
    val invert = rawOnly.exists(_.startsWith("-"))
    val only: Option[Set[String]] = rawOnly.map(s =>
      s.stripPrefix("-").split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean =
      if (invert) !only.exists(_.contains(name))
      else only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Output file count per query. 1 (the default, what the driver's gate
    // expects) serializes only the final write; >1 parallelizes the dump
    // for sf1-scale outputs where a single writer thread on a ~1e9-row
    // pair relation becomes the wall-clock (the DuckDB compare reads the
    // output via glob, so multi-file dirs gate identically).
    val outParts = sys.env.getOrElse("SPARK_GRAFT_OUT_PARTS", "1").toInt
    // Per-query wall budget in seconds (0 disables). 240s is ~25-50x the
    // healthy per-query time at the driver's sf0.01 — it only fires on a
    // genuine hang / deep VM stall. sf1 runs (tools/check_sf1.py) disable
    // it: the pair-family heavies legitimately run for many minutes.
    val queryBudget = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET", "240").toInt
    // Total wall budget (0 disables): chosen under the driver's own kill
    // window so WE decide what a truncated run looks like (error
    // placeholders, flushed manifests) instead of a SIGKILL mid-write.
    val totalBudget = sys.env.getOrElse("SPARK_GRAFT_VERIFY_TOTAL", "2700").toInt
    val spark = graft.core.Scratch.tune(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // signature/bucket dumps for the hash-based oracles go to a SIBLING
    // dir: the driver's gate scans outDir and must only see query results
    val auxDir = new java.io.File(outDir).getAbsolutePath + "__aux"
    new java.io.File(auxDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // ---- FIRST WRITES: everything derivable without running a query ----
    // {AUX_DIR} marks oracles that read Verify's own signature/bucket
    // dumps (DuckDB cannot recompute xxhash64) — resolve it here so the
    // SQL the driver executes carries the real absolute path.
    // Atomic manifest writes (ADVICE r14): Files.writeString is
    // truncate-then-write, so a driver SIGKILL mid-write — the exact
    // failure this file defends against — could leave a truncated JSON
    // that crashes the gate's json.load instead of degrading. Write to
    // a temp sibling and ATOMIC_MOVE over the target: readers see the
    // old complete file or the new complete file, never a prefix.
    def writeAtomic(path: String, content: String): Unit = {
      val target = Paths.get(path)
      val tmp = Paths.get(path + ".tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{AUX_DIR}", auxDir))}" }
      .mkString("{", ",", "}")
    writeAtomic(s"$outDir/oracle_sql.json", oracleJson)

    // A wired query that errors before producing output must stay VISIBLE:
    // with no output dir the downstream compare silently omits it and the
    // artifact reads as all-green (the r6 events regression hid this way).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val sigs = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    val nWired = SparkEntry.queries.count { case (n, _) => keep(n) }
    var nCompleted = 0
    // Manifest flush — called after EVERY query so a killed run leaves
    // manifests for its completed prefix (r13: they were written once,
    // at the very end, and the round's artifact arrived empty).
    // Aux dumps the total budget skipped, recorded so a hash-based
    // oracle failing on a missing {AUX_DIR} input has a stated reason
    // in the manifest (ADVICE r14). Kept OUT of `errors`: aux names are
    // not query names, and the gate counts every `errors` key as a
    // failing gate — a truncated run must not grow phantom red rows.
    val auxSkipped = scala.collection.mutable.ArrayBuffer[String]()
    def flushManifests(): Unit = {
      val errJson = errors
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      val auxJson = auxSkipped.map(q).mkString("[", ",", "]")
      writeAtomic(s"$auxDir/verify_errors.json",
        s"""{"n_wired":$nWired,"n_completed":$nCompleted,"aux_skipped":$auxJson,"errors":$errJson}""")
      val sigJson = sigs
        .map { case (k, (n, s)) => s"""${q(k)}: {"rows":$n,"sig":${q(s)}}""" }
        .mkString("{", ",", "}")
      writeAtomic(s"$auxDir/signatures.json", sigJson)
    }
    flushManifests() // skeleton: a kill before query 1 still leaves valid JSON

    // Per-gate content signature of the WRITTEN parquet (what the
    // driver's DuckDB compare will read): row count + order-free
    // bit_xor of per-row xxhash64 over the name-sorted string-cast
    // columns. Printed and dumped to the aux sibling so a red driver
    // row can be adjudicated value-level against any other run's
    // signature instead of burning a judge cycle on reruns (VERDICT
    // r11 #1). Disable with SPARK_GRAFT_SIG=0 for sf1-scale dumps
    // where re-reading a ~1e9-row output doubles the wall.
    val wantSig = sys.env.getOrElse("SPARK_GRAFT_SIG", "1") != "0"
    def signature(name: String): Unit = if (wantSig) try {
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(s"$outDir/$name")
      val rowH = xxhash64(df.columns.sorted.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      val r = df.select(rowH.as("__h"))
        .agg(count(lit(1)).as("__n"), bit_xor(col("__h")).as("__sig"))
        .head()
      val sig = f"${if (r.isNullAt(1)) 0L else r.getLong(1)}%016x"
      sigs(name) = (r.getLong(0), sig)
      System.err.println(s"[verify] sig $name rows=${r.getLong(0)} sig=$sig")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] sig $name failed: ${e.getMessage}")
    }

    // Make a failure VISIBLE to the driver's outDir scan (r6 ADVICE: an
    // erroring gate must surface in the artifact, not vanish): a one-row
    // relation with the error under a __verify_error column can never
    // rows/schema/hash-match any oracle, so the compare records a FAILING
    // entry instead of omitting the query. Also clobbers any partial write.
    // Budgeted (ADVICE r14): this runs on the main thread exactly when
    // Spark may be wedged — the condition that triggered the timeout /
    // total-budget path — so an unbudgeted write here could hang past
    // the driver's kill window and defeat the "we decide what a
    // truncated run looks like" guarantee. 30s is ~100x healthy for a
    // one-row parquet write; on overrun the errors manifest (flushed by
    // the caller) still records the failure.
    def writeErrorRelation(name: String, msg: String): Unit = {
      withBudget(s"err-$name", 30) {
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        spark.createDataFrame(
            java.util.Arrays.asList(
              org.apache.spark.sql.Row(s"$name: $msg")),
            StructType(Seq(StructField("__verify_error", StringType))))
          .repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }.left.foreach { case (m, _) =>
        System.err.println(s"[verify] error-relation $name not written: $m") }
    }

    // Run `body` on a daemon thread under `budgetSec`; cancel its Spark
    // jobs and return Left((msg, zombieAlive)) on failure (budgetSec <= 0
    // disables the cap). zombieAlive=true means the cancelled worker
    // outlived the 10s join — its in-flight write to outDir/<name> could
    // still commit, so callers must NOT overwrite that path (a
    // later-committing zombie would clobber the error relation or leave
    // mixed-schema part files — ADVICE r14).
    def withBudget[A](tag: String, budgetSec: Int)(body: => A): Either[(String, Boolean), A] = {
      if (budgetSec <= 0) {
        try Right(body) catch { case e: Throwable =>
          Left((Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(3).mkString(" ").take(400), false)) }
      } else {
        val task = new FutureTask[A](() => {
          spark.sparkContext.setJobGroup(s"verify-$tag", tag, interruptOnCancel = true)
          try body finally spark.sparkContext.clearJobGroup()
        })
        val t = new Thread(task, s"verify-$tag"); t.setDaemon(true); t.start()
        try Right(task.get(budgetSec.toLong, TimeUnit.SECONDS))
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(s"verify-$tag")
            t.join(10000L) // let the cancel land so a zombie doesn't poison the next query
            if (t.isAlive) System.err.println(s"[verify] $tag zombie survived cancel")
            Left((s"timeout after ${budgetSec}s", t.isAlive))
          case e: Throwable =>
            Left((Option(Option(e.getCause).getOrElse(e).getMessage)
              .getOrElse(e.getClass.getName)
              .linesIterator.take(3).mkString(" ").take(400), false))
        }
      }
    }

    val suiteT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - suiteT0) / 1e9
    // Storm detection (like Bench): two consecutive slow/failed queries
    // tighten the budget; three consecutive fast ones relax it. At the
    // driver's sf0.01 a >60s query is ~10x over healthy — VM weather.
    var stormSignals = 0
    var calmStreak = 0
    var storm = false

    SparkEntry.queries.foreach { case (name, fn) =>
      if (!keep(name)) ()
      else if (totalBudget > 0 && elapsed() > totalBudget) {
        errors(name) = s"skipped: verify total budget ${totalBudget}s exceeded"
        // grace window: spend at most 120s past the budget making the
        // skipped tail RED-visible in the driver artifact; past that,
        // only the (cheap) manifests record them
        if (elapsed() < totalBudget + 120) writeErrorRelation(name, errors(name))
        flushManifests()
      } else {
        val t0 = System.nanoTime()
        val budget = if (queryBudget <= 0) 0
          else if (storm) math.min(queryBudget, 120) else queryBudget
        // repartition(1), NOT coalesce(1): coalesce removes the final
        // shuffle boundary, so the whole last stage (joins, windows)
        // collapses onto one thread; repartition keeps the query parallel
        // and only serializes the file write (measured 53s -> 2s on
        // iv_subtract_index at sf0.01)
        withBudget(name, budget) {
          fn(spark, sfDir).repartition(outParts).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } match {
          case Right(_) =>
            val dt = (System.nanoTime() - t0) / 1e9
            nCompleted += 1
            if (dt > 60) { stormSignals += 1; calmStreak = 0 }
            else if (dt < 15) {
              calmStreak += 1; stormSignals = 0
              if (storm && calmStreak >= 3) {
                storm = false
                System.err.println("[verify] storm mode OFF")
              }
            }
            if (!storm && stormSignals >= 2) {
              storm = true
              System.err.println("[verify] storm mode ON (120s budgets)")
            }
            System.err.println(f"[verify] $name%-24s $dt%7.2fs")
            signature(name)
          case Left((msg, zombie)) =>
            stormSignals += 1; calmStreak = 0
            if (!storm && stormSignals >= 2) {
              storm = true
              System.err.println("[verify] storm mode ON (120s budgets)")
            }
            errors(name) = msg
            System.err.println(s"[verify] $name FAILED: $msg")
            // a zombie worker may still be writing outDir/<name>;
            // overwriting it here races that in-flight commit (a
            // later-committing zombie could clobber the error relation
            // or leave mixed-schema part files) — the errors manifest
            // above already records the failure, so skip the relation
            if (!zombie) writeErrorRelation(name, msg)
            else System.err.println(
              s"[verify] $name error relation skipped (zombie may still write)")
        }
        // cache hygiene (r15): drop the operators' Barrier entries and
        // any localCheckpoint blocks between queries so a long dump
        // (sf1 bulk: 160+ queries in one JVM) cannot accumulate cached
        // slim relations into memory pressure
        try {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        } catch { case _: Throwable => () }
        flushManifests()
      }
    }
    // full runs dump every aux; a subset run dumps the aux its kept
    // gates' oracles read, plus any aux listed by name
    val auxRead = SparkEntry.gates.filter(g => keep(g.name))
      .flatMap(g => SparkEntry.auxReads(g.oracle)).toSet
    SparkEntry.auxDumps.foreach { case (name, fn) =>
      if (!keep(name) && !auxRead(name)) ()
      else if (totalBudget > 0 && elapsed() > totalBudget) {
        // record WHY the {AUX_DIR} input is missing: hash-based oracles
        // of already-completed queries read these dumps, and without a
        // stated reason their compare fails with a raw missing-file
        // error (ADVICE r14)
        auxSkipped += s"$name: skipped, verify total budget ${totalBudget}s exceeded"
        flushManifests()
      } else
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$auxDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
        }
    }
    // measured LSH quality: recall of the bucketed ANN vs exact top-k
    if ((rawOnly.isEmpty || invert) &&
        !(totalBudget > 0 && elapsed() > totalBudget)) try {
      import org.apache.spark.sql.functions.col
      val emb = TestTables.table(spark, sfDir, "embeddings")
      val qdf = emb.filter(col("vec_id") % 100 === 0)
      val exact = graft.ann.Ann.bruteForceTopK(emb, qdf, 5)
        .select("query_id", "neighbor_id")
      val approx = graft.ann.Ann.lshTopK(emb, qdf, 5, 6)
        .select("query_id", "neighbor_id")
      val hit = exact.intersect(approx).count()
      val tot = exact.count()
      System.err.println(s"[verify] emb_ann_lsh recall@5 = $hit/$tot")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] recall probe failed: ${e.getMessage}")
    }
    flushManifests()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size}/$nWired wired queries ERRORED: " +
        errors.keys.mkString(","))
    }
    spark.stop()
  }
}
