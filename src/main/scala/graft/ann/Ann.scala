package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once, rank per query). Scale path: random-hyperplane LSH — bucket
  * the corpus by sign bits, probe only matching buckets; or IVF — k-means-ish
  * coarse centroids (here: LSH buckets double as the coarse quantizer).
  *
  * All vector math runs through the fused [[VecKernels]] expressions
  * (sequential index order, double precision — deterministic and
  * engine-reproducible, bit-compatible with the `aggregate`/`zip_with`
  * fold forms they replaced). The folds never entered whole-stage codegen
  * and were the measured 10-30x variance class at sf0.1; the kernels keep
  * the scan inside one codegen span with a tight JIT'd loop per row.
  */
object Ann {
  import org.apache.spark.sql.graftbridge.Bridge.{column => colOf, expression => exprOf}

  /** Sequential-order dot product in double precision (codegen'd kernel). */
  def dot(a: Column, b: Column): Column = colOf(VecDot(exprOf(a), exprOf(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine, == dot(a,b)/(norm(a)*norm(b)) bit-for-bit. */
  def cosine(a: Column, b: Column): Column =
    colOf(VecCosine(exprOf(a), exprOf(b)))

  /** Brute-force exact top-k by cosine. `queries` must be small enough to
    * broadcast (it is hash-joined on a constant — a broadcast nested loop
    * over corpus x queries); the corpus side streams through one scan.
    * Returns (query id, neighbor id, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    var scored = c.crossJoin(broadcast(q))
    if (excludeSelf) scored = scored.filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("__cos").as("cosine"))
  }

  /** Contrastive hard-negative mining: for each query vector, the top-k
    * most-similar corpus vectors carrying a DIFFERENT label — the
    * standard negative-selection step for contrastive/embedding training
    * (high-cosine other-class examples are the informative negatives).
    * Same execution contract as [[bruteForceTopK]] (small broadcast query
    * set, corpus streams once); swap the candidate source for
    * [[ivfTopK]]'s probe lists at corpus scale. Returns
    * (query_id, neighbor_id, neighbor_label, rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col(labelCol).as("__ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      col(labelCol).as("neighbor_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_label") =!= col("__ql"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("rank"))
  }

  /** CORPUS-SCALE hard-negative mining: [[hardNegatives]] semantics with
    * [[ivfTopK]]'s candidate generation — the query set probes the
    * `nProbe` nearest inverted lists and only same-list corpus vectors
    * with a DIFFERENT label are scored, so the corpus is never
    * cross-joined against the queries (candidates per query ~
    * nProbe * N / kCentroids instead of N). Recall-complete whenever the
    * probed lists cover the true top-k other-label neighbors (size
    * `kCentroids`/`nProbe` as for [[ivfTopK]]); same shuffle shape too —
    * broadcast probes + one query_id-keyed ranking window. Pass trained
    * `cents` ([[loadCentroids]]) to skip Lloyd in production. `idCol`
    * must be unique and non-null (see [[ivfAssign]]). Returns
    * (query_id, neighbor_id, neighbor_label, rank). */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame, k: Int,
                       kCentroids: Int = 64, nProbe: Int = 4, iters: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label",
                       cents: Option[Array[(Int, Array[Double])]] = None)
      : DataFrame = {
    val cs = cents.getOrElse(
      ivfCentroids(corpus, kCentroids, iters, idCol, vecCol))
    val probes = ivfProbes(queries, cs, nProbe, idCol, vecCol)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      col(labelCol).as("neighbor_label"),
      nearestId(col(vecCol), cs).as("centroid_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col(labelCol).as("__ql"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    c.join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("neighbor_label") =!= col("__ql"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("rank"))
  }

  /** Sign-bucket signature of `numPlanes` hyperplane bits packed to a long.
    * Hyperplanes are deterministic pseudo-random: component h[p][d] derived
    * from a hash of (p, d), mapped to [-1, 1) — no RNG state, so plans are
    * reproducible and the "model" needs no storage (the unit matrix is
    * cached per executor by [[VecKernels]]).
    *
    * Sizing: expected occupancy is N / 2^numPlanes, so pick
    * `numPlanes ~= log2(N / targetBucketSize)` — e.g. 1e9 vectors at a
    * 10k-row target bucket needs ~17 planes. The toy default (12) is for
    * test-scale corpora; at 100 TB always size explicitly. Crowded buckets
    * beyond `maxBucketSize` are dropped by the join operators below, so a
    * mis-sized `numPlanes` degrades recall, never cost. */
  def lshBucket(vec: Column, numPlanes: Int = 12): Column =
    colOf(VecLshBucket(exprOf(vec), numPlanes))

  /** Drops rows whose `bucketCol` holds more than `cap` rows — the same
    * stop-key semantics as [[graft.dedup.Dedup.ngramJaccardPairs]]'s
    * `maxShingleDf`: one degenerate bucket of f rows contributes f^2 join
    * rows, so an occupancy cap bounds the worst key's cost while only
    * affecting recall (pairs inside a dropped bucket may still meet in
    * another probe/band in multi-table variants). The hot-bucket list is
    * tiny by construction (at most N/cap entries) — broadcast anti-join. */
  private def dropHotBuckets(df: DataFrame, bucketCol: String,
                             cap: Long): DataFrame = {
    val hot = df.groupBy(col(bucketCol)).count()
      .filter(col("count") > cap).select(col(bucketCol))
    df.join(broadcast(hot), Seq(bucketCol), "left_anti")
  }

  /** Approximate top-k: rank within the query's LSH bucket plus, with
    * `probeHamming = 1` (the default), every bucket one sign-bit away —
    * standard multi-probe LSH. Single-bucket probing has chance-level
    * recall on weakly clustered data (each probe sees ~1/2^planes of the
    * corpus); Hamming-1 probing multiplies candidates by numPlanes+1 and
    * recall with them. One shuffle on the bucket id; a corpus row meets
    * each query at most once (its own bucket matches at most one probe). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 8, probeHamming: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucketSize: Option[Long] = Some(100000L)): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      "probeHamming 0 or 1 supported")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      lshBucket(col(vecCol), numPlanes).as("__qb"))
    val probeSet =
      if (probeHamming == 0) array(col("__qb"))
      else array(col("__qb") +: (0 until numPlanes)
        .map(i => col("__qb").bitwiseXOR(lit(1L << i))): _*)
    val probes = q.withColumn("__b", explode(probeSet)).drop("__qb")
    var c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), numPlanes).as("__b"))
    maxBucketSize.foreach(cap => c = dropHotBuckets(c, "__b", cap))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    c.join(broadcast(probes), Seq("__b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("__cos").as("cosine"))
  }

  // ------------------------------------------------------------------- IVF

  /** Deterministic k-means coarse quantizer for IVF (reference-free; the
    * standard IVF recipe, e.g. the FAISS coarse quantizer, recast as
    * DataFrame jobs).
    *
    * Determinism matters here more than convergence polish: the verifier
    * recomputes centroids in two separate plans (aux dump + gate) and they
    * must agree bit-for-bit, so every step is order-independent:
    *  - seeds = the `k` corpus vectors with the smallest
    *    `(xxhash64(id), id)` — a global top-k, not a sample();
    *  - per-dimension means are summed in integer micro-units
    *    (`round(x * 1e6)` as long): long addition is associative and
    *    commutative, so the shuffle order cannot perturb the result the
    *    way double summation would;
    *  - each vector takes its nearest centroid in the scan itself
    *    ([[VecNearest]], ties to the lower centroid id), so the only
    *    shuffles are the dimension-sized mean aggregates.
    *
    * Centroids are collected to the driver each iteration (k x dim doubles
    * — true dimension data, same justification as chromsizes) and ride
    * the next scan's plan, keeping each iteration one shallow scan+agg job
    * instead of a k-deep recursive plan. At corpus scale, train on a
    * bounded sample and persist the centroids next to the index; `iters`
    * here is the same Lloyd loop MLlib's KMeans runs driver-side.
    * `idCol` must be unique. */
  def ivfCentroids(corpus: DataFrame, k: Int, iters: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Array[(Int, Array[Double])] =
    lloyd(corpus, k, iters, idCol, vecCol, Seq(v => v)).head

  /** The deterministic Lloyd loop of [[ivfCentroids]] (one subspace, the
    * whole vector) and [[pqCodebooks]] (`subs` = the m slices, trained
    * together). Seeds are the `k` rows with the smallest
    * `(xxhash64(id), id)` — vector-independent, so every subspace seeds
    * from the same rows. Jobs: one seed collect, then one per
    * iteration; each iteration assigns every subspace map-side (one
    * [[VecNearest]] per subspace under a `posexplode`) and averages in
    * integer micro-units. Returns one `(cid, centroid)` book per
    * subspace, cids ascending. */
  private def lloyd(corpus: DataFrame, k: Int, iters: Int, idCol: String,
                    vecCol: String, subs: Seq[Column => Column])
      : Seq[Array[(Int, Array[Double])]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // native Cast on the array (codegen'd), not a transform() lambda
    val vecs = corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val svs = subs.map(_(col("__v")))
    val seeds = vecs.orderBy(xxhash64(col("__id")), col("__id")).limit(k)
      .select(array(svs: _*)).as[Seq[Array[Double]]].collect()
    var books: Seq[Array[(Int, Array[Double])]] = svs.indices.map(s =>
      seeds.zipWithIndex.map { case (v, cid) => (cid, v(s)) })
    val micro = 1e6
    for (_ <- 0 until iters) {
      val asg = svs.zip(books).map { case (sv, cs) =>
        struct(nearestId(sv, cs).as("cid"), sv.as("sv"))
      }
      val sums = vecs
        .select(posexplode(array(asg: _*)).as(Seq("__sub", "__a")))
        // quantize after the explode so the integer micro-unit math is a
        // scalar codegen'd expression, not a transform() lambda
        .select(col("__sub"), col("__a.cid").as("__cid"),
          posexplode(col("__a.sv")).as(Seq("__dim", "__x")))
        .groupBy(col("__sub"), col("__cid"), col("__dim"))
        .agg(sum(round(col("__x") * micro).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .groupBy(col("__sub"), col("__cid"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"),
          col("__s"), col("__n")))),
          s => s.getField("__s").cast("double") /
            (s.getField("__n") * micro)).as("__cv"))
        .as[(Int, Int, Array[Double])].collect()
        .map { case (s, cid, cv) => (s, cid) -> cv }.toMap
      // a centroid that lost every point keeps its previous position
      books = books.zipWithIndex.map { case (cs, s) =>
        cs.map { case (cid, old) => (cid, sums.getOrElse((s, cid), old)) }
      }
    }
    books
  }

  /** Persist trained coarse-quantizer centroids as a parquet model
    * artifact — the 100 TB workflow trains ONCE (on a bounded sample)
    * and every later job loads the centroids next to the data instead of
    * re-running Lloyd. Dimension-sized, single file. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    cents: Array[(Int, Array[Double])], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(cents.toSeq).toDF("cid", "cv")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[(Int, Array[Double])] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("cid"), col("cv"))
      .as[(Int, Array[Double])].collect().sortBy(_._1)
  }

  /** [[saveCentroids]] for PQ codebooks: (sub, cid, cv) rows. */
  def savePqBooks(spark: org.apache.spark.sql.SparkSession,
                  books: Array[(Int, Int, Array[Double])], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(books.toSeq).toDF("sub", "cid", "cv")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadPqBooks(spark: org.apache.spark.sql.SparkSession,
                  path: String): Array[(Int, Int, Array[Double])] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("sub"), col("cid"), col("cv"))
      .as[(Int, Int, Array[Double])].collect().sortBy(t => (t._1, t._2))
  }

  /** The `n` nearest centroid ids of `vec`, nearest first ([[VecNearest]]). */
  private def nearest(vec: Column, cents: Array[(Int, Array[Double])],
                      n: Int): Column =
    colOf(VecNearest(exprOf(vec), cents, n))

  /** The nearest centroid id of `vec`: the inverted-list assignment. */
  private def nearestId(vec: Column,
                        cents: Array[(Int, Array[Double])]): Column =
    nearest(vec, cents, 1).getItem(0)

  /** Inverted-list assignment: each vector to its nearest centroid,
    * ties to the lower centroid id ([[VecNearest]]). One projection of
    * the corpus scan: no join, no shuffle. One row per input row, so
    * `idCol` must be unique. */
  def ivfAssign(corpus: DataFrame, cents: Array[(Int, Array[Double])],
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"),
      nearestId(col(vecCol), cents).as("centroid_id"))

  /** Per-query probe lists: the `nProbe` nearest centroids, in
    * `(distance, cid)` order ([[VecNearest]]), exploded to one
    * `(query_id, centroid_id)` row each. `idCol` must be unique. */
  def ivfProbes(queries: DataFrame, cents: Array[(Int, Array[Double])],
                nProbe: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    queries.select(col(idCol).as("query_id"),
      explode(nearest(col(vecCol), cents, nProbe)).as("centroid_id"))

  /** IVF approximate top-k: probe the `nProbe` nearest inverted lists,
    * rank candidates by exact cosine. The scale path when the corpus is
    * too large for [[bruteForceTopK]] and sign-bit buckets ([[lshTopK]])
    * cluster poorly: list sizes track the data distribution (~N/k each),
    * and recall/cost trade on `nProbe` alone. The corpus scan computes
    * each vector's list itself and meets the broadcast probes map-side;
    * the one shuffle keys the candidate set on `query_id` for the
    * ranking window. `idCol` must be unique and non-null. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              kCentroids: Int = 64, nProbe: Int = 4, iters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              cents: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val cs = cents.getOrElse(
      ivfCentroids(corpus, kCentroids, iters, idCol, vecCol))
    val probes = ivfProbes(queries, cs, nProbe, idCol, vecCol)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      nearestId(col(vecCol), cs).as("centroid_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    c.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("__cos").as("cosine"))
  }

  /** One increment of the quantized IVF index: every vector assigned to
    * its inverted list ([[ivfAssign]]'s assignment) and stored
    * int8-quantized — `(centroid_id, vec_id, qvec, qscale)`. One pass,
    * no shuffle before the bucketed write. */
  private def ivfIndexRel(df: DataFrame, cents: Array[(Int, Array[Double])],
                          idCol: String, vecCol: String): DataFrame =
    quantizeInt8(df, vecCol).select(
      nearestId(col(vecCol), cents).as("centroid_id"),
      col(idCol).as("vec_id"), col("qvec"), col("qscale"))

  /** Create a persisted quantized IVF index: inverted lists bucketed by
    * `centroid_id` so probes scan hash-clustered list files without ever
    * reshuffling the corpus. The int8 payload makes the index ~4x
    * smaller than the float corpus; exact scores come from a
    * candidates-only rerank against the original vectors
    * ([[ivfTopKIndexed]]). Centroids must be FROZEN for the index's
    * lifetime (persist via [[saveCentroids]]); retrain = rebuild.
    *
    * The ANN member of the persisted-ingest-state family
    * (minhash/bloom/profile indexes): streaming ingest appends each
    * batch ([[appendIvfIndex]]) and similarity search stays available
    * over everything ingested so far, with per-append cost O(batch). */
  def writeIvfIndex(df: DataFrame, cents: Array[(Int, Array[Double])],
                    table: String, path: String, numBuckets: Int = 32,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    ivfIndexRel(df, cents, idCol, vecCol)
      .write.mode("overwrite").option("path", path)
      .bucketBy(numBuckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").saveAsTable(table)
  }

  /** Append an ingest batch to a quantized IVF index (same centroids and
    * bucket spec as the create call). Cost is one pass over the BATCH;
    * the existing lists are untouched. */
  def appendIvfIndex(df: DataFrame, cents: Array[(Int, Array[Double])],
                     table: String, numBuckets: Int = 32,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit =
    ivfIndexRel(df, cents, idCol, vecCol)
      .write.mode("append")
      .bucketBy(numBuckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").saveAsTable(table)

  /** Compact an append-grown IVF index to one file per bucket — same
    * crash-safe shape as `Dedup.compactMinhashIndex`: write to a fresh
    * path, swap the catalog entry by rename, best-effort delete the old
    * location (the live index stays readable until the swap). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String, newPath: String,
                      numBuckets: Int = 32): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val oldLoc = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location
    require(new java.net.URI(newPath).getPath != oldLoc.getPath,
      s"newPath must differ from the current index location $oldLoc")
    val tmpTable = table + "__compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    // plain file read, not the bucketed table: see compactMinhashIndex —
    // the advertised bucket partitioning would elide the repartition
    // while the actual read partitions are not bucket-aligned
    spark.read.parquet(oldLoc.toString)
      .repartition(numBuckets, col("centroid_id"))
      .write.mode("overwrite").option("path", newPath)
      .bucketBy(numBuckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(oldLoc,
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(oldLoc), true)
      ()
    } catch { case _: Exception => () }
  }

  /** Top-k against a persisted quantized IVF index: broadcast the
    * queries' probe lists and quantized forms, scan only the probed
    * inverted lists (hash-clustered off the bucketed index — the
    * corpus-sized relation never shuffles), rank by reconstructed int8
    * dot, and optionally rerank the top `rerankDepth` by exact cosine
    * with float vectors fetched FOR CANDIDATES ONLY from `rerankWith`.
    * Returns (query_id, neighbor_id, rank). */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     queries: DataFrame, cents: Array[(Int, Array[Double])],
                     table: String, k: Int, nProbe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     rerankWith: Option[DataFrame] = None,
                     rerankDepth: Int = 20): DataFrame = {
    val probes = ivfProbes(queries, cents, nProbe, idCol, vecCol)
    val qq = quantizeInt8(queries, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("__qq"),
        col("qscale").as("__qs"))
    val idx = spark.table(table)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("qvec").as("__cq"), col("qscale").as("__cs"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__score").desc, col("neighbor_id").asc)
    val firstPass = idx
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qq), Seq("query_id"))
      .withColumn("__score",
        qdot(col("__qq"), col("__qs"), col("__cq"), col("__cs")))
      .withColumn("rank", row_number().over(w))
    rerankWith match {
      case None =>
        firstPass.filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      case Some(orig) =>
        val cand = firstPass.filter(col("rank") <= math.max(k, rerankDepth))
          .select(col("query_id"), col("neighbor_id"))
        val cv = orig.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        // query-side float vectors come from the QUERY relation (bounded
        // by contract): `orig` is corpus-sized, and broadcasting it
        // keyed as query_id would ship the whole corpus's floats to
        // every executor. Values are identical — query ids originate
        // from `queries`.
        val qv = queries.select(col(idCol).as("query_id"),
          col(vecCol).as("__qv"))
        val w2 = Window.partitionBy(col("query_id"))
          .orderBy(col("__cos").desc, col("neighbor_id").asc)
        cand.join(cv, Seq("neighbor_id"))
          .join(broadcast(qv), Seq("query_id"))
          .withColumn("__cos", cosine(col("__qv"), col("__cv")))
          .withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
    }
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucket candidates verified
    * with exact cosine >= threshold. The same-bucket self-join is the only
    * quadratic-risk step, so the occupancy cap is ON by default — a bucket
    * holding more than `maxBucketSize` rows is dropped from the candidate
    * universe (bounding the worst bucket to cap^2 candidate rows); size
    * `numPlanes` per [[lshBucket]]'s rule so the cap stays a safety net,
    * not the recall path. Pass `None` for uncapped semantics on corpora
    * with known-benign bucket distribution. */
  def cosineDedupPairs(df: DataFrame, threshold: Double, numPlanes: Int = 8,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       maxBucketSize: Option[Long] = Some(100000L)): DataFrame = {
    var b = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      lshBucket(col(vecCol), numPlanes).as("__b"))
    maxBucketSize.foreach(cap => b = dropHotBuckets(b, "__b", cap))
    b.alias("x").join(b.alias("y"),
        col("x.__b") === col("y.__b") && col("x.__id") < col("y.__id"))
      .withColumn("cosine", cosine(col("x.__v"), col("y.__v")))
      .filter(col("cosine") >= threshold)
      .select(col("x.__id").as("id_1"), col("y.__id").as("id_2"), col("cosine"))
  }

  /** L2-normalize an embedding column to unit length (array<double>,
    * codegen'd kernel). Zero vectors pass through unscaled. */
  def l2Normalize(vec: Column): Column = colOf(VecL2Normalize(exprOf(vec)))

  /** max(|x_i|) of a vector (codegen'd kernel) — the symmetric-int8
    * quantization range. */
  def absMax(vec: Column): Column = colOf(VecAbsMax(exprOf(vec)))

  /** Per-vector symmetric int8 quantization: adds `qvecCol`
    * (array<tinyint>, `round_half_away(x / qscale)` clamped to ±127) and
    * `scaleCol` (double, `max|x| / 127`) next to the original columns.
    *
    * The 100 TB motivation is I/O: an int8 corpus is 4x smaller than
    * float32 on disk and in shuffle, and a quantized scan does ONE
    * float multiply per pair (the two scales) instead of one per
    * dimension — the standard recall-cheap first pass in front of an
    * exact re-rank ([[quantizedTopK]]'s `rerankWith`). Both kernel and
    * rounding rule are chosen to be bit-reproducible against SQL
    * `ROUND` (see [[VecKernels.quantI8F]]), so quantized rankings gate
    * exactly. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
                   qvecCol: String = "qvec",
                   scaleCol: String = "qscale"): DataFrame =
    df.withColumn(scaleCol, absMax(col(vecCol)) / lit(127.0))
      .withColumn(qvecCol,
        colOf(VecQuantI8(exprOf(col(vecCol)), exprOf(col(scaleCol)))))

  /** Exact integer dot of two int8 vectors (long; codegen'd kernel). */
  def dotI8(a: Column, b: Column): Column = colOf(VecDotI8(exprOf(a), exprOf(b)))

  /** Reconstructed dot product of two quantized vectors:
    * `(int_dot) * scale_a * scale_b`, one long-to-double conversion and
    * two multiplies — deterministic (the int dot is exact). */
  def qdot(qa: Column, sa: Column, qb: Column, sb: Column): Column =
    dotI8(qa, qb).cast("double") * sa * sb

  /** Brute-force top-k over int8-quantized vectors — [[bruteForceTopK]]
    * semantics on the 4x-smaller representation, ranking by
    * reconstructed dot ([[qdot]]; quantize L2-normalized vectors to make
    * that a cosine approximation). `rerankWith = Some(origCorpus)` adds
    * the production second stage: take `rerankDepth` quantized
    * candidates, join back the float vectors FOR CANDIDATES ONLY (
    * queries × depth rows, never the corpus), and re-rank the survivors
    * by exact cosine. Returns (query_id, neighbor_id, rank). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    excludeSelf: Boolean = true,
                    rerankWith: Option[DataFrame] = None,
                    rerankDepth: Int = 20): DataFrame = {
    val qc = quantizeInt8(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").as("__cq"),
        col("qscale").as("__cs"))
    val qq = quantizeInt8(queries, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("__qq"),
        col("qscale").as("__qs"))
    var scored = qc.crossJoin(broadcast(qq))
    if (excludeSelf) scored = scored.filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__score").desc, col("neighbor_id").asc)
    val firstPass = scored
      .withColumn("__score", qdot(col("__qq"), col("__qs"), col("__cq"), col("__cs")))
      .withColumn("rank", row_number().over(w))
    rerankWith match {
      case None =>
        firstPass.filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      case Some(orig) =>
        val cand = firstPass.filter(col("rank") <= math.max(k, rerankDepth))
          .select(col("query_id"), col("neighbor_id"))
        val cv = orig.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        // query-side float vectors come from the QUERY relation (bounded
        // by contract): `orig` is corpus-sized, and broadcasting it
        // keyed as query_id would ship the whole corpus's floats to
        // every executor. Values are identical — query ids originate
        // from `queries`.
        val qv = queries.select(col(idCol).as("query_id"),
          col(vecCol).as("__qv"))
        val w2 = Window.partitionBy(col("query_id"))
          .orderBy(col("__cos").desc, col("neighbor_id").asc)
        cand.join(cv, Seq("neighbor_id"))
          .join(broadcast(qv), Seq("query_id"))
          .withColumn("__cos", cosine(col("__qv"), col("__cv")))
          .withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster L2-normalized embeddings
    * with the deterministic IVF quantizer ([[ivfCentroids]] on the unit
    * sphere = spherical k-means), generate within-cluster candidate
    * pairs, verify with exact cosine on the ORIGINAL vectors, connect
    * near-duplicates into components and keep the smallest id per
    * component. Returns one row per input: (vec_id, centroid_id, keep).
    *
    * Scale shape: the within-cluster self-join is the only
    * quadratic-risk step — size `kCentroids ~ N / targetClusterSize` so
    * each inverted list stays bounded (the web-scale SemDeDup recipe:
    * ~1e5 clusters over 1e9 embeddings keeps lists at ~1e4). As a safety
    * net `maxClusterSize` drops clusters above the cap from the
    * candidate universe (their members are all kept), bounding the worst
    * key to cap^2 — the [[cosineDedupPairs]] posture. Components reuse
    * [[graft.dedup.Dedup.resolveComponents]] (driver union-find for
    * dimension-sized edge lists, pointer-jumping beyond). */
  def semDedup(df: DataFrame, threshold: Double, kCentroids: Int = 8,
               iters: Int = 2, idCol: String = "vec_id",
               vecCol: String = "embedding",
               maxClusterSize: Option[Long] = Some(100000L),
               cents: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val v = semDedupAssign(df, kCentroids, iters, idCol, vecCol, cents)
      .persist()
    var cand = v
    maxClusterSize.foreach(cap => cand = dropHotBuckets(v, "centroid_id", cap))
    val pairs = cand.alias("x").join(cand.alias("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("__cos", cosine(col("x.__raw"), col("y.__raw")))
      .filter(col("__cos") >= threshold)
      .select(col("x.vec_id").as("id_1"), col("y.vec_id").as("id_2"))
    // resolveComponents is eager (it counts the symmetrized edges), so
    // the pair branch has fully consumed `v` by here; release the
    // barrier instead of leaking a CacheManager entry per call. The
    // final branch recomputes the assignment scan once — deterministic
    // ([[semDedupAssign]]), and `cs` is already a materialized array, so
    // the recompute is one corpus scan, not a second k-means.
    val comps = graft.dedup.Dedup.resolveComponents(pairs)
      .withColumnRenamed("id", "vec_id")
    v.unpersist(blocking = false)
    v.select(col("vec_id"), col("centroid_id"))
      .join(comps, Seq("vec_id"), "left")
      .withColumn("keep",
        coalesce(col("component_id") === col("vec_id"), lit(true)))
      .select(col("vec_id"), col("centroid_id"), col("keep"))
  }

  /** [[semDedup]]'s spherical-cluster assignment: (vec_id, __raw,
    * centroid_id), one scan — normalize, then the nearest centroid
    * ([[VecNearest]]) in the same projection. The raw vector rides along
    * so the verification join reads it without a second corpus scan.
    * One row per input row, so `idCol` must be unique. Deterministic end
    * to end: the oracle's aux dump and the gate recompute identical
    * assignments. */
  def semDedupAssign(df: DataFrame, kCentroids: Int = 8, iters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     cents: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val nd = df.select(col(idCol).as("vec_id"),
      l2Normalize(col(vecCol)).as("__nv"), col(vecCol).as("__raw"))
    val cs = cents.getOrElse(
      ivfCentroids(nd, kCentroids, iters, "vec_id", "__nv"))
    nd.select(col("vec_id"), col("__raw"),
      nearestId(col("__nv"), cs).as("centroid_id"))
  }

  /** Integer-quantized second-moment sums of the embedding column in
    * long format — the distributed half of covariance/PCA, exact and
    * engine-reproducible: every output is a sum of products of
    * `round(x * scale)` longs (scale a power of two keeps the quantize
    * itself exact over float inputs). Rows: `(i, j, s)` with
    * `0 <= i <= j < dim` carrying `sum(q_i * q_j)`, `(i, -1, sum(q_i))`
    * first moments, and `(-1, -1, n)`.
    *
    * Shape (r9): one codegen'd [[VecCovTerms]] projection emits every
    * row's `d(d+1)/2` upper-triangle products plus its `d` first-moment
    * terms as one flat array — the Gram fan-out with NO self-join, so
    * the scan, projection, posexplode and partial aggregation sit in a
    * single whole-stage-codegen span and the only exchange is the
    * dimension-sized final aggregate over `T + d` positions. (The r3-r8
    * form self-joined the exploded (row, i, q) relation on row id:
    * correct, but it shuffled n*d rows twice and probed n*d^2/2 join
    * pairs; measured 6.5x at the sf0.1->sf1 step, the suite's worst
    * ratio.) Position -> (i, j) decode happens AFTER the aggregate via
    * a broadcast of the T+d-row mapping, built with a driver loop over
    * the dimension — taken from the first non-empty vector; ragged
    * inputs fail loudly inside the kernel. A null vector contributes
    * only to n (as before); a null ELEMENT now drops the whole row's
    * product/first terms where the join form dropped just that
    * element's (fixtures and any sane embedding column have neither). */
  def covarianceMoments(df: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        scale: Double = 1024.0): DataFrame = {
    val cnt = df.agg(count(lit(1)).as("s"))
      .select(lit(-1L).as("i"), lit(-1L).as("j"), col("s"))
    val dimRow = df.select(size(col(vecCol)).as("__d"))
      .filter(col("__d") > 0).limit(1).collect()
    if (dimRow.isEmpty) return cnt
    val dim = dimRow(0).getInt(0)
    val t = dim * (dim + 1) / 2
    val posPairs: Seq[(Long, Long, Long)] =
      (for { i <- 0 until dim; j <- i until dim }
        yield ((i * (2 * dim - i + 1) / 2 + (j - i)).toLong, i.toLong, j.toLong)) ++
      (0 until dim).map(i => ((t + i).toLong, i.toLong, -1L))
    val posMap = df.sparkSession.createDataFrame(posPairs)
      .toDF("__p", "i", "j")
    // posexplode_OUTER on purpose: the non-outer form makes Catalyst
    // infer `size(terms) > 0 AND isnotnull(terms)` below the Generate,
    // re-evaluating the kernel twice more per row; outer infers nothing,
    // and its null/empty marker row (null __p) falls out of the inner
    // broadcast join on __p.
    val sums = df
      .select(colOf(VecCovTerms(exprOf(col(vecCol)), dim, scale)).as("__terms"))
      .select(posexplode_outer(col("__terms")).as(Seq("__p", "__v")))
      .groupBy(col("__p")).agg(sum(col("__v")).as("s"))
    sums.join(broadcast(posMap), "__p")
      .select(col("i"), col("j"), col("s"))
      .unionByName(cnt)
  }

  /** Covariance matrix + PCA basis from [[covarianceMoments]]: the
    * moment relation is dimension-sized (d(d+3)/2 + 1 rows), so the
    * eigensolve runs on the driver — classic cyclic Jacobi on the
    * symmetric covariance, deterministic sweep order. Returns the top-k
    * (eigenvalue, eigenvector) pairs, eigenvalues descending. */
  def pca(df: DataFrame, k: Int, idCol: String = "vec_id",
          vecCol: String = "embedding",
          scale: Double = 1024.0,
          sweeps: Int = 16): Array[(Double, Array[Double])] = {
    val m = covarianceMoments(df, idCol, vecCol, scale).collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2))).toMap
    val n = m((-1, -1)).toDouble
    require(n > 1, s"pca needs > 1 row, got $n")
    val dim = m.keys.iterator.map(_._1).max + 1
    val mean = Array.tabulate(dim)(i => m((i, -1)) / n / scale)
    val c = Array.tabulate(dim, dim) { (i, j) =>
      val s = m((math.min(i, j), math.max(i, j))).toDouble / (scale * scale)
      s / n - mean(i) * mean(j)
    }
    // cyclic Jacobi: rotate out the (p,q) off-diagonal entries in fixed
    // row-major order until convergence; V accumulates the eigenvectors
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      for (p <- 0 until dim; qq <- (p + 1) until dim) {
        off = math.max(off, math.abs(c(p)(qq)))
        if (math.abs(c(p)(qq)) > 1e-14) {
          val theta = 0.5 * math.atan2(2 * c(p)(qq), c(qq)(qq) - c(p)(p))
          val (cs, sn) = (math.cos(theta), math.sin(theta))
          for (i <- 0 until dim) {
            val (a1, a2) = (c(i)(p), c(i)(qq))
            c(i)(p) = cs * a1 - sn * a2; c(i)(qq) = sn * a1 + cs * a2
          }
          for (i <- 0 until dim) {
            val (a1, a2) = (c(p)(i), c(qq)(i))
            c(p)(i) = cs * a1 - sn * a2; c(qq)(i) = sn * a1 + cs * a2
            val (v1, v2) = (v(i)(p), v(i)(qq))
            v(i)(p) = cs * v1 - sn * v2; v(i)(qq) = sn * v1 + cs * v2
          }
        }
      }
      sweep += 1
    }
    (0 until dim).map(i => (c(i)(i), Array.tabulate(dim)(r => v(r)(i))))
      .sortBy(-_._1).take(k).toArray
  }

  /** Project the embedding column onto a PCA basis: `k` fused dot
    * products per row against broadcast literal basis vectors — one
    * codegen'd scan, no shuffle, no UDF. Output column `outCol` is
    * `array<double>` of length k. */
  def pcaProject(df: DataFrame, basis: Array[Array[Double]],
                 vecCol: String = "embedding",
                 outCol: String = "pca"): DataFrame = {
    val comps = basis.map { bvec =>
      dot(col(vecCol), array(bvec.map(lit): _*).cast("array<double>"))
    }
    df.withColumn(outCol, array(comps: _*))
  }

  // --------------------------------------------- product quantization

  /** Product-quantization codebooks (Jegou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector space splits
    * into `m` contiguous subspaces of d/m dims, each trained with its own
    * k-centroid deterministic Lloyd (the [[ivfCentroids]] loop, all m
    * subspaces in the same jobs: one seed job plus one per iteration).
    * An encoded corpus then stores
    * `m * log2(k)` bits per vector instead of d floats — the RAM path
    * for billion-vector ANN (64 dims of float32 -> 8 nibble codes is a
    * 64x compression). `d` is the first row's length. `idCol` must be
    * unique. Returns (sub, cid, centroid-subvector) rows. */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, iters: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[(Int, Int, Array[Double])] = {
    val d = corpus.select(size(col(vecCol)).as("__d")).head.getInt(0)
    require(d % m == 0, s"dims=$d not divisible by m=$m subspaces")
    val sd = d / m
    lloyd(corpus, k, iters, idCol, vecCol,
        (0 until m).map(s => (v: Column) => subVec(v, s, sd)))
      .zipWithIndex.flatMap { case (cs, s) =>
        cs.map { case (cid, cv) => (s, cid, cv) }
      }.toArray
  }

  /** Subspace `s` of a vector cut into `sd`-dim slices. */
  private def subVec(v: Column, s: Int, sd: Int): Column =
    slice(v, lit(s * sd + 1), lit(sd))

  /** The PQ encode generator: `posexplode` of one [[VecNearest]] code
    * per subspace of the array<double> column `v`, yielding
    * `(sub, code)`. The books must cover subspaces 0..m-1. */
  private def pqCodes(v: Column,
                      books: Array[(Int, Int, Array[Double])]): Column = {
    val sd = books.head._3.length
    val bySub = books.groupBy(_._1).toSeq.sortBy(_._1)
    require(bySub.map(_._1) == bySub.indices,
      s"PQ books must cover subspaces 0..${bySub.size - 1}")
    posexplode(array(bySub.map { case (s, bs) =>
      nearestId(subVec(v, s, sd), bs.map { case (_, cid, cv) => (cid, cv) })
    }: _*)).as(Seq("sub", "code"))
  }

  /** Long-format PQ codes: one (vec_id, sub, code) row per subspace —
    * the shuffle-friendly layout (the ADC scan joins on (sub, code)
    * directly; no array re-assembly lambda anywhere). Encoding is one
    * projection of the corpus scan: the nearest book entry per subspace
    * ([[VecNearest]], ties to the lower cid), no join, no shuffle. One
    * row per input row and subspace, so `idCol` must be unique. */
  def pqEncode(corpus: DataFrame, books: Array[(Int, Int, Array[Double])],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("vec_id"), pqCodes(col("__v"), books))

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    * quantized (sub, cid) -> partial-distance lookup table (query and
    * centroid coordinates rounded to `scale` units, so every distance is
    * an EXACT long — deterministic and engine-reproducible), then an
    * exhaustive scan of the code relation that joins the broadcast table
    * on (sub, code) and sums m partial distances per (query, vector).
    * That exhaustive-but-cheap scan is PQ's contract: distance cost is m
    * lookups, memory cost is the codes. The per-query ranking is a
    * `row_number <= k` filter, which Spark plans as a WindowGroupLimit —
    * each map task pre-prunes to k rows per query before the exchange,
    * so no query ever funnels the corpus through one partition. The
    * query set is small by contract (same as [[lshTopK]]). */
  /** Per-query ADC lookup table: `(query_id, __tsub, __tcid, __pd)` —
    * the quantized partial squared distance from each query's subvector
    * to every codebook centroid, exact in longs (both coordinates
    * rounded to `scale` units before the subtraction). m*k rows per
    * query — broadcast-sized by the small-query-set contract. */
  private def adcTable(queries: DataFrame,
                       books: Array[(Int, Int, Array[Double])],
                       idCol: String, vecCol: String,
                       scale: Double): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val sd = books.head._3.length
    val b = books.toSeq.toDF("__tsub", "__tcid", "__cv")
    queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .crossJoin(broadcast(b))
      .withColumn("__qs", slice(col("__qv"), col("__tsub") * sd + 1, lit(sd)))
      .select(col("query_id"), col("__tsub"), col("__tcid"),
        posexplode(arrays_zip(col("__qs"), col("__cv")))
          .as(Seq("__z", "__pair")))
      .select(col("query_id"), col("__tsub"), col("__tcid"),
        (round(col("__pair").getField("__qs") * scale).cast("long") -
          round(col("__pair").getField("__cv") * scale).cast("long")).as("__dq"))
      .groupBy(col("query_id"), col("__tsub"), col("__tcid"))
      .agg(sum(col("__dq") * col("__dq")).as("__pd"))
  }

  def pqAdcTopK(codes: DataFrame, books: Array[(Int, Int, Array[Double])],
                queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                scale: Double = 1024.0): DataFrame = {
    val table = adcTable(queries, books, idCol, vecCol, scale)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    codes.select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
      .join(broadcast(table),
        col("sub") === col("__tsub") && col("code") === col("__tcid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__pd")).as("dist"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("dist"))
  }

  /** PQ codes WITH their inverted-list assignment:
    * `(vec_id, centroid_id, sub, code)` — the relation
    * [[pqIvfTopK]] scans. The coarse assignment ([[ivfAssign]]'s) and
    * the [[pqEncode]] codes are one projection of the corpus scan, so
    * indexing costs no join and no exchange. At rest, persist bucketed
    * by `centroid_id` (the [[writeIvfIndex]] layout) and probes scan
    * hash-clustered list files. `idCol` must be unique. */
  def pqIvfEncode(corpus: DataFrame, books: Array[(Int, Int, Array[Double])],
                  cents: Array[(Int, Array[Double])],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .select(col("vec_id"), nearestId(col("__v"), cents).as("centroid_id"),
        pqCodes(col("__v"), books))

  /** Persist an IVF-addressed PQ code relation as a bucketed table
    * (external at `path`), bucketed+sorted by `centroid_id` — the
    * at-rest layout [[pqIvfTopK]]'s scaladoc prescribes: a probe's
    * broadcast-join against the probe list then prunes hash-clustered
    * list files instead of rescanning a fresh encode, and the
    * (construction-heavy) Lloyd + encode cost is paid once per corpus,
    * not per query. Same posture as [[writeIvfIndex]]; append batches
    * with mode("append") on the same table like [[appendIvfIndex]]. */
  def writePqIvfIndex(corpus: DataFrame,
                      books: Array[(Int, Int, Array[Double])],
                      cents: Array[(Int, Array[Double])],
                      table: String, path: String, numBuckets: Int = 32,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val s = corpus.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    pqIvfEncode(corpus, books, cents, idCol, vecCol)
      .write.mode("overwrite").option("path", path)
      .bucketBy(numBuckets, "centroid_id").sortBy("centroid_id")
      .format("parquet").saveAsTable(table)
  }

  /** IVF-shortlisted ADC top-k — the composition that retires the
    * exhaustive [[pqAdcTopK]] scan at corpus scale: candidates come
    * from the query's `nProbe` probed inverted lists (coarse pruning,
    * the [[ivfTopKIndexed]] half), distances from the m-lookup ADC
    * tables (the PQ half), so the scan touches `nProbe/k_centroids` of
    * the code relation instead of all of it and per-candidate cost
    * stays m integer lookups.
    *
    * Plan shape: the indexed-code scan broadcast-joins the probe list
    * (prunes to probed-list members — with a `centroid_id`-bucketed
    * layout the files themselves prune), broadcast-joins the ADC
    * table, and partially aggregates the m partial distances map-side;
    * the only exchange carries candidate `(query, neighbor)` sums, and
    * the `row_number <= k` ranking plans as a WindowGroupLimit that
    * pre-prunes to k per query before it. Same exact-long distance as
    * [[pqAdcTopK]]: identical ranks wherever the shortlist contains
    * the exhaustive winner. */
  def pqIvfTopK(indexedCodes: DataFrame,
                books: Array[(Int, Int, Array[Double])],
                queries: DataFrame, cents: Array[(Int, Array[Double])],
                k: Int, nProbe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding",
                scale: Double = 1024.0): DataFrame = {
    val probes = ivfProbes(queries, cents, nProbe, idCol, vecCol)
    val table = adcTable(queries, books, idCol, vecCol, scale)
      .withColumnRenamed("__tsub", "sub").withColumnRenamed("__tcid", "code")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    indexedCodes.select(col("vec_id").as("neighbor_id"),
        col("centroid_id"), col("sub"), col("code"))
      .join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(table), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__pd")).as("dist"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("dist"))
  }
}
