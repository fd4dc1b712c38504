package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.{Ann, VecSqDist}

/** The cross-join forms of the nearest-centroid argmin and of the
  * Lloyd loop: every (vector, centroid) pair's squared distance reduced
  * by `min_by(cid, struct(d, cid))` per vector, and a `(d, cid)`
  * `row_number` window for probe lists. [[NearestCentroidSpec]] holds
  * `Ann`'s [[graft.ann.VecNearest]] paths to these, row for row and bit
  * for bit. */
object NearestReference {
  import org.apache.spark.sql.graftbridge.Bridge.{column => colOf, expression => exprOf}

  private def sqDist(a: Column, b: Column): Column =
    colOf(VecSqDist(exprOf(a), exprOf(b)))

  private def centroidDf(df: DataFrame,
                         cents: Array[(Int, Array[Double])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    broadcast(spark.createDataset(cents.toSeq).toDF("__cid", "__cv"))
  }

  /** (vec_id, centroid_id): the nearest centroid of `vecCol`. */
  def assign(df: DataFrame, cents: Array[(Int, Array[Double])],
             vecCol: String = "embedding"): DataFrame =
    df.select(col("vec_id"), col(vecCol).as("__v"))
      .crossJoin(centroidDf(df, cents))
      .withColumn("__d", sqDist(col("__v"), col("__cv")))
      .groupBy(col("vec_id"))
      .agg(min_by(col("__cid"), struct(col("__d"), col("__cid")))
        .as("centroid_id"))

  /** (query_id, centroid_id): the `n` nearest centroids. */
  def probes(df: DataFrame, cents: Array[(Int, Array[Double])],
             n: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").asc, col("__cid").asc)
    df.select(col("vec_id").as("query_id"), col("embedding").as("__v"))
      .crossJoin(centroidDf(df, cents))
      .withColumn("__d", sqDist(col("__v"), col("__cv")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .select(col("query_id"), col("__cid").as("centroid_id"))
  }

  /** (vec_id, sub, code): the nearest book entry per subspace. */
  def pqEncode(df: DataFrame,
               books: Array[(Int, Int, Array[Double])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sd = books.head._3.length
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
      .crossJoin(broadcast(books.toSeq.toDF("sub", "__cid", "__cv")))
      .withColumn("__d",
        sqDist(slice(col("__v"), col("sub") * sd + 1, lit(sd)), col("__cv")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("__cid"), struct(col("__d"), col("__cid"))).as("code"))
  }

  /** One subspace's Lloyd loop: seeds are the `k` rows with the smallest
    * `(xxhash64(id), id)`, means are summed in integer micro-units. */
  def centroids(df: DataFrame, k: Int, iters: Int,
                vec: Column): Array[(Int, Array[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col("vec_id").as("__id"),
      vec.cast("array<double>").as("__v"))
    var cents: Array[(Int, Array[Double])] = vecs
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(k).select(col("__v")).as[Array[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }
    val micro = 1e6
    for (_ <- 0 until iters) {
      val sums = vecs.crossJoin(centroidDf(df, cents))
        .withColumn("__d", sqDist(col("__v"), col("__cv")))
        .groupBy(col("__id"), col("__v"))
        .agg(min_by(col("__cid"), struct(col("__d"), col("__cid"))).as("__cid"))
        .select(col("__cid"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy(col("__cid"), col("__dim"))
        .agg(sum(round(col("__x") * micro).cast("long")).as("__s"),
          count(lit(1)).as("__n"))
        .groupBy(col("__cid"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"),
          col("__s"), col("__n")))),
          s => s.getField("__s").cast("double") /
            (s.getField("__n") * micro)).as("__cv"))
        .as[(Int, Array[Double])].collect().toMap
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    cents
  }
}

/** [[graft.ann.VecNearest]] reproduces the argmin it replaced on the
  * cases where the ordering matters: exact ties (duplicate centroids
  * under different, unsorted cids), NaN (sorts last), and a null
  * distance (sorts first: a null vector, a null element, a length
  * mismatch, a ragged or null centroid), over array<float> and
  * array<double> input, for n = 1 through n > k. */
class NearestCentroidSpec extends SparkSpec {
  import NearestReference._

  private def fixture(elem: DataType): DataFrame = {
    val rows = (0 until 60).map { i =>
      val v: Seq[java.lang.Double] = i match {
        case 0 => null
        case 1 => Seq(1.0, Double.NaN, 0.0, 0.5)
        case 2 => Seq(1.0, 2.0, 3.0)
        case 3 => Seq(1.0, null, 0.0, 0.0)
        case _ => (0 until 4).map(d =>
          java.lang.Double.valueOf((((i * 7 + d * 3) % 11) - 5) / 4.0))
      }
      val cast: Seq[Any] =
        if (v == null || elem == DoubleType) v
        else v.map(x => if (x == null) null else x.floatValue)
      Row(i.toLong, cast)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(elem, containsNull = true)))))
  }

  // cids out of order; 7 duplicates 5 and 0 duplicates 2 (exact ties
  // on every vector); 9 holds a NaN, so its distance is always NaN
  private val cents: Array[(Int, Array[Double])] = Array(
    (5, Array(0.5, 0.5, 0.0, -0.25)),
    (2, Array(-0.5, 0.25, 0.5, 0.0)),
    (7, Array(0.5, 0.5, 0.0, -0.25)),
    (0, Array(-0.5, 0.25, 0.5, 0.0)),
    (3, Array(1.0, -1.0, 0.25, 0.5)),
    (9, Array(0.0, Double.NaN, 0.0, 0.0)))
  // plus a ragged and a null centroid: null distances, which sort first
  private val centsOdd = cents ++ Array((4, Array(0.0, 0.0)), (8, null))

  private def assertSame(got: DataFrame, ref: DataFrame, what: String): Unit = {
    val (g, r) = (rowsOf(got), rowsOf(ref))
    assert(g == r, s"$what\ngot: $g\nref: $r")
  }

  private val cases = for {
    elem <- Seq(FloatType, DoubleType)
    (cs, tag) <- Seq((cents, "cents"), (centsOdd, "odd cents"))
  } yield (elem, cs, s"$elem, $tag")

  test("ivfAssign and ivfProbes equal the cross-join argmin and probe " +
    "window (ties, NaN, nulls, ragged; float and double; n = 0..k+2)") {
    for ((elem, cs, tag) <- cases) {
      val df = fixture(elem)
      assertSame(Ann.ivfAssign(df, cs), assign(df, cs), s"ivfAssign $tag")
      for (n <- Seq(0, 1, 2, cs.length, cs.length + 2))
        assertSame(Ann.ivfProbes(df, cs, n), probes(df, cs, n),
          s"ivfProbes n=$n $tag")
    }
  }

  test("pqEncode and pqIvfEncode equal the cross-join argmin per subspace") {
    // 2 subspaces of 2 dims; sub 1 repeats sub 0's ties and NaN entry
    val books: Array[(Int, Int, Array[Double])] = for {
      s <- Array(0, 1)
      (cid, cv) <- Array((3, Array(0.5, 0.5)), (1, Array(-0.5, 0.25)),
        (2, Array(0.5, 0.5)), (0, Array(Double.NaN, 0.0)))
    } yield (s, cid, cv)
    for ((elem, cs, tag) <- cases) {
      val df = fixture(elem)
      val ref = pqEncode(df, books)
      assertSame(Ann.pqEncode(df, books), ref, s"pqEncode $tag")
      assertSame(
        Ann.pqIvfEncode(df, books, cs)
          .select("vec_id", "centroid_id", "sub", "code"),
        ref.join(assign(df, cs), "vec_id")
          .select("vec_id", "centroid_id", "sub", "code"),
        s"pqIvfEncode $tag")
    }
  }

  test("semDedupAssign equals the cross-join argmin on normalized vectors") {
    for ((elem, cs, tag) <- cases) {
      val df = fixture(elem)
      val got = Ann.semDedupAssign(df, cents = Some(cs))
        .select("vec_id", "centroid_id")
      val ref = assign(df.withColumn("__nv", Ann.l2Normalize(col("embedding"))),
        cs, "__nv")
      assertSame(got, ref, s"semDedupAssign $tag")
    }
  }

  test("ivfCentroids and pqCodebooks equal the per-subspace reference " +
    "Lloyd loop bit for bit") {
    def bits(cs: Array[(Int, Array[Double])]): Seq[(Int, Seq[Long])] =
      cs.toSeq.map { case (cid, cv) =>
        (cid, Option(cv).toSeq.flatten.map(java.lang.Double.doubleToRawLongBits))
      }
    for (elem <- Seq(FloatType, DoubleType)) {
      // the null vector stays in; NaN or a null element would make the
      // micro-unit cast fail in either form
      val df = fixture(elem).filter(col("vec_id") === 0 || col("vec_id") >= 4)
      assert(bits(Ann.ivfCentroids(df, 5, iters = 3)) ==
        bits(centroids(df, 5, 3, col("embedding"))), s"ivfCentroids $elem")
      val books = Ann.pqCodebooks(df.filter(col("vec_id") > 0), m = 2, k = 3,
        iters = 3)
      for (s <- 0 until 2) {
        val ref = centroids(df.filter(col("vec_id") > 0), 3, 3,
          slice(col("embedding").cast("array<double>"), s * 2 + 1, 2))
        assert(bits(books.filter(_._1 == s).map(b => (b._2, b._3))) == bits(ref),
          s"pqCodebooks sub $s $elem")
      }
    }
  }

  test("k=447 x 64-d: writeIvfIndex and pqIvfEncode compile without the " +
    "codegen fallback and equal the reference") {
    val rnd = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("nearest-k447")
    // read back from parquet: over a local relation the optimizer would
    // evaluate the assignment itself, and no code would be generated
    val vecs = {
      import spark.implicits._
      (0 until 600).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
      spark.read.parquet(s"$dir/vecs")
    }
    val cs = Array.tabulate(447)(c => (c, Array.fill(64)(rnd.nextDouble() - 0.5)))
    val books = for (s <- Array.range(0, 8); c <- Array.range(0, 16))
      yield (s, c, Array.fill(8)(rnd.nextDouble() - 0.5))
    val table = "nearest_k447"
    val path = s"$dir/idx"
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val (indexed, encoded) =
      try {
        Ann.writeIvfIndex(vecs, cs, table, path, numBuckets = 4)
        (spark.table(table).select("vec_id", "centroid_id").collect(),
          Ann.pqIvfEncode(vecs, books, cs)
            .select("vec_id", "centroid_id", "sub", "code").collect())
      } finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    val ref = assign(vecs, cs)
    def sorted(rs: Array[Row]) = rs.toSeq.map(_.toSeq).sortBy(_.mkString(" "))
    assert(sorted(indexed) == rowsOf(ref))
    assert(sorted(encoded) == rowsOf(pqEncode(vecs, books).join(ref, "vec_id")
      .select("vec_id", "centroid_id", "sub", "code")))
  }
}
