package graft

import graft.io.{Schemas, Tables}
import graft.mm.Multimodal
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class IoSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = java.nio.file.Files.createTempDirectory("graft-io").toString

  test("read_table with jaspar preset parses the reference fixture shape") {
    val p = s"$tmp/jaspar.bed"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "chr1\t10470\t10489\tCTCF\t803\t390\t-\nchr1\t200\t220\tCTCF\t100\t5\t+\n")
    val df = Tables.readTable(spark, p, "jaspar")
    assert(df.schema == Schemas("jaspar"))
    assertFrame(df.select($"chrom", $"start", $"end", $"score"),
      Seq(Seq("chr1", 10470L, 10489L, 803L), Seq("chr1", 200L, 220L, 100L)),
      "chrom", "start", "end", "score")
  }

  test("read_table: '.' placeholders in typed columns become null (bed9)") {
    val p = s"$tmp/b9.bed"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "chr1\t193500\t194500\t.\t400\t+\t.\t.\t179,45,0\n")
    val df = Tables.readTable(spark, p, "bed9")
    val r = df.collect()(0)
    assert(r.getAs[Any]("thickStart") == null && r.getLong(1) == 193500L)
  }

  test("read_table schema fill vs strict: a chrom-only file widens to the " +
    "preset with null tails; strict raises on all-null columns; bedpe " +
    "parses 10 wide (tests/test_fileops.py:13-36)") {
    val p1 = s"$tmp/chromonly.bed"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p1),
      "chr1\nchr2\nchr2\n")
    val lax = Tables.readTable(spark, p1, "bed3")
    assert(lax.columns.length == 3 && lax.count() == 3)
    assert(lax.filter($"start".isNull && $"end".isNull).count() == 3)
    val e = intercept[IllegalArgumentException] {
      Tables.readTable(spark, p1, "bed3", schemaIsStrict = true)
    }
    assert(e.getMessage.contains("start"))
    val p2 = s"$tmp/full3.bed"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p2),
      "chr1\t5\t10\nchr1\t10\t20\nchr2\t30\t40\n")
    assert(Tables.readTable(spark, p2, "bed3").columns.length == 3)
    assert(Tables.readTable(spark, p2, "bed6").columns.length == 6)
    assert(Tables.readTable(spark, p2, "bed12").columns.length == 12)
    val p3 = s"$tmp/pairs.bedpe"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p3),
      "chr1\t5\t10\tchr2\t5\t10\tinterval1\t.\t+\t-\n" +
        "chr1\t10\t20\tchr1\t5\t10\tinterval2\t.\t+\t-\n" +
        "chr2\t30\t40\tchr2\t5\t10\tinterval3\t12\t+\t-\n")
    val pe = Tables.readTable(spark, p3, "bedpe")
    assert(pe.columns.length == 10 && pe.count() == 3)
  }

  test("read_chromsizes: a file without lengths raises; a trailing " +
    "whitespace line is tolerated; output is name-sorted " +
    "(tests/test_fileops.py:39-49)") {
    val bad = s"$tmp/bad.sizes"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad),
      "chr1\nchr2\nchr2\n")
    intercept[IllegalArgumentException] {
      Tables.readChromsizes(spark, bad, filterChroms = Nil)
    }
    val ok = s"$tmp/ok.sizes"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ok),
      "chr1\t1\nchr3\t2\nchr2\t3\n \n")
    val cs = Tables.readChromsizes(spark, ok, filterChroms = Nil)
    assert(cs.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("chr1", 1L), ("chr2", 3L), ("chr3", 2L)))
  }

  test("to_bed round trip (tests/test_bed.py:17)") {
    val df = Seq(("chr1", 5L, 10L, "a", "100", "+"),
      ("chr1", 0L, 8L, "b", "900", "-")).toDF(Schemas("bed6").fieldNames.toIndexedSeq: _*)
    val out = s"$tmp/out_bed"
    Tables.toBed(df, out, "bed6", singleFile = true)
    val back = Tables.readTable(spark, out, "bed6")
    assert(rowsOf(back.select($"chrom", $"start", $"end", $"name")) ==
      rowsOf(df.select($"chrom", $"start", $"end", $"name")))
  }

  test("BED validation catches out-of-range scores and bad strands") {
    val bad = Seq(("chr1", 5L, 10L, "a", "5000", "x"))
      .toDF(Schemas("bed6").fieldNames.toIndexedSeq: _*)
    val violations = Tables.validateBed(bad, "bed6").toMap
    assert(violations.contains("score") && violations.contains("strand"))
  }

  test("BED field validators: chrom shape, end<start, name length, thick " +
    "bounds, itemRgb component range (tests/test_bed.py:20-118)") {
    def bed6(chrom: String = "chr1", start: Long = 5L, end: Long = 10L,
             name: String = "a") =
      Seq((chrom, start, end, name, "500", "+"))
        .toDF(Schemas("bed6").fieldNames.toIndexedSeq: _*)
    def offends(df: org.apache.spark.sql.DataFrame, field: String,
                schema: String = "bed6") =
      Tables.validateBed(df, schema).toMap.contains(field)
    assert(offends(bed6(chrom = "value with space"), "chrom"))
    assert(offends(bed6(chrom = ""), "chrom"))
    assert(offends(bed6(chrom = "a" * 300), "chrom"))
    assert(offends(bed6(start = 11L, end = 10L), "end"))
    assert(offends(bed6(name = ""), "name"))
    assert(offends(bed6(name = "a" * 300), "name"))
    assert(!Tables.validateBed(bed6(), "bed6").toMap.nonEmpty)
    // thick bounds and itemRgb shapes on a bed9 row
    def bed9(thickStart: Long = 5L, thickEnd: Long = 10L,
             rgb: String = "255,0,0") =
      Seq(("chr1", 5L, 10L, "a", "500", "+", thickStart, thickEnd, rgb))
        .toDF(Schemas("bed9").fieldNames.toIndexedSeq: _*)
    assert(offends(bed9(thickEnd = 11L), "thickEnd", "bed9"))
    assert(offends(bed9(thickStart = 4L), "thickStart", "bed9"))
    assert(offends(bed9(rgb = "a,12,13"), "itemRgb", "bed9"))
    assert(offends(bed9(rgb = "12,13"), "itemRgb", "bed9"))
    assert(offends(bed9(rgb = "12,13,14,15"), "itemRgb", "bed9"))
    assert(offends(bed9(rgb = "12,13,300"), "itemRgb", "bed9"))
    assert(offends(bed9(rgb = "300"), "itemRgb", "bed9"))
    assert(!offends(bed9(rgb = "128"), "itemRgb", "bed9"))
    assert(!offends(bed9(), "itemRgb", "bed9"))
  }

  private def bed12Row(name: String = "a", thickEnd: Long = 90L,
                       blockCount: Long = 2L, blockSizes: String = "10,20,",
                       blockStarts: String = "0,80") =
    ("chr1", 0L, 100L, name, "500", "+", 0L, thickEnd, "255,0,0",
      blockCount, blockSizes, blockStarts)

  test("bed12 block validators: count/range/first/last/sorted/overlap " +
    "(io/bed.py:342-475)") {
    val cols = Schemas("bed12").fieldNames.toIndexedSeq
    // valid: blocks [0,10) and [80,100) inside [0,100)
    assert(Tables.validateBed(Seq(bed12Row()).toDF(cols: _*), "bed12").isEmpty)
    // thickEnd beyond end
    assert(Tables.validateBed(Seq(bed12Row(thickEnd = 101L)).toDF(cols: _*),
      "bed12").toMap.contains("thickEnd"))
    // name too long
    assert(Tables.validateBed(Seq(bed12Row(name = "x" * 256)).toDF(cols: _*),
      "bed12").toMap.contains("name"))
    // count mismatch flags both list columns
    val mis = Tables.validateBed(Seq(bed12Row(blockCount = 3L)).toDF(cols: _*),
      "bed12").toMap
    assert(mis.contains("blockSizes") && mis.contains("blockStarts"))
    // last block must end at end
    assert(Tables.validateBed(
      Seq(bed12Row(blockSizes = "10,19,")).toDF(cols: _*), "bed12")
      .toMap.contains("blockStarts"))
    // overlapping blocks
    assert(Tables.validateBed(
      Seq(bed12Row(blockSizes = "90,20,")).toDF(cols: _*), "bed12")
      .toMap.contains("blockStarts"))
  }

  test("to_bed bed12 round trip (tests/test_bed.py:17)") {
    val cols = Schemas("bed12").fieldNames.toIndexedSeq
    val df = Seq(bed12Row(), bed12Row(name = "b")).toDF(cols: _*)
    val out = s"$tmp/out_bed12"
    Tables.toBed(df, out, "bed12", singleFile = true)
    val back = Tables.readTable(spark, out, "bed12")
    assert(rowsOf(back) == rowsOf(df))
  }

  test("assembly_info: packaged registry, role/unit filters, aliases " +
    "(io/assembly.py:85-184, tests/test_assembly_info.py)") {
    val hg38 = graft.io.Assembly.assemblyInfo(spark, "hg38")
    assert(hg38.provider == "ucsc" && hg38.organism == "homo sapiens")
    val names = hg38.chromnames
    assert(names.contains("chr1") && names.contains("chrM"))
    assert(!names.exists(_.contains("_alt"))) // default roles exclude alts
    assert(hg38.aliasMap("1") == "chr1" &&
      hg38.aliasMap("NC_000001.11") == "chr1")
    assert(hg38.cytobands.get.filter($"chrom" === "chr1").count() > 0)
    // provider-qualified + role widening
    val ncbi = graft.io.Assembly.assemblyInfo(spark, "ncbi.GRCh38",
      roles = Some(Seq("all")), units = Some(Seq("all")))
    assert(ncbi.chromnames.size > names.size)
    // viewframe is a valid view of the genome
    assert(graft.core.Checks.isViewframe(hg38.viewframe))
    intercept[IllegalArgumentException] {
      graft.io.Assembly.assemblyInfo(spark, "nonexistent123")
    }
  }

  test("chromsizes reader filters and natural-sorts") {
    val p = s"$tmp/test.chrom.sizes"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "chr10\t1000\nchr2\t2000\nchr1\t3000\nchr1_gl000191_random\t50\nchrM\t16000\n")
    val df = Tables.readChromsizes(spark, p)
    assert(df.select("chrom").collect().map(_.getString(0)).toSeq ==
      Seq("chr1", "chr2", "chr10", "chrM"))
    assert(Tables.chromsizesAsMap(df)("chr2") == 2000L)
  }

  test("GTF attribute expansion") {
    val df = Seq(("""gene_id "ENSG1"; gene_name "TP53";"""))
      .toDF("attributes")
    val out = Tables.parseGtfAttributes(df, "attributes",
      Seq("gene_id", "gene_name"))
    assertFrame(out.select($"gene_id", $"gene_name"),
      Seq(Seq("ENSG1", "TP53")), "gene_id", "gene_name")
  }

  test("bedGraph round trip preserves the relation (bigWig delegation " +
    "contract, reference io/fileops.py:379-431, 515-591)") {
    val df = Seq(("chr2", 50L, 80L, 0.25),
      ("chr1", 0L, 10L, 1.5), ("chr1", 10L, 30L, -2.0))
      .toDF("chrom", "start", "end", "value")
    val out = s"$tmp/out_bedgraph"
    Tables.toBedGraph(df, out, singleFile = true)
    val back = Tables.readBedGraph(spark, out)
    assert(back.schema == Schemas("bedGraph"))
    assert(rowsOf(back) == rowsOf(df))
  }

  test("bedGraph region query returns overlapping intervals unclipped, " +
    "and skips track/comment header lines (read_bigwig fetch shape)") {
    val p = s"$tmp/hdr.bedGraph"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "track type=bedGraph name=cov\n# comment\n" +
        "chr1\t0\t10\t1.0\nchr1\t10\t30\t2.0\nchr1\t30\t40\t3.0\n" +
        "chr2\t0\t10\t9.0\n")
    val hit = Tables.readBedGraph(spark, p,
      chrom = Some("chr1"), start = Some(15L), end = Some(35L))
    assertFrame(hit, Seq(Seq("chr1", 10L, 30L, 2.0), Seq("chr1", 30L, 40L, 3.0)),
      "chrom", "start", "end", "value")
    // no region: all records, header lines dropped
    assert(Tables.readBedGraph(spark, p).count() == 4)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary payload decode plumbing: schema, determinism, frame sampling") {
    val docs = Seq((1L, "hello world"), (2L, "abc")).toDF("id", "txt")
    val media = Multimodal.asMedia(docs, "id", "txt", "text/plain")
    assert(media.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Multimodal.mediaSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val dec = Multimodal.decode(media)
    val rows = dec.orderBy("media_id").collect()
    assert(rows(0).getAs[Long]("n_bytes") == 11L)
    assert(rows(1).getAs[Long]("n_bytes") == 3L)
    // deterministic: re-decoding yields identical features
    val again = Multimodal.decode(media).orderBy("media_id").collect()
    assert(rows.map(_.getSeq[Float](6)).toSeq == again.map(_.getSeq[Float](6)).toSeq)
    val frames = Multimodal.sampleFrames(dec, step = 4)
    assert(frames.filter($"media_id" === 1L).count() == 3) // frames 0,4,8 of 12
  }

  test("decode never shuffles payload bytes an adequately-partitioned " +
    "scan already delivers (numPartitions is a floor, not an exact count)") {
    val dir = java.nio.file.Files.createTempDirectory("mmscan").toString
    Multimodal.syntheticPng(Seq(1L, 2L, 3L, 4L).toDF("id"), "id")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val have = scan.rdd.getNumPartitions
    val dec = Multimodal.decode(scan, numPartitions = Some(1))
    val plan = dec.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    val aud = Multimodal.decodeAudio(scan, numPartitions = Some(1))
    assert(!aud.queryExecution.executedPlan.toString.contains("Exchange"))
    // the floor still binds: asking for MORE than the scan has shuffles
    val dec2 = Multimodal.decode(scan, numPartitions = Some(have + 4))
    assert(dec2.queryExecution.executedPlan.toString.contains("Exchange"))
    // and elision changes no answers
    assert(dec.orderBy("media_id").collect().toSeq ==
      dec2.orderBy("media_id").collect().toSeq)
  }

  test("real PNG decode: planted dims + fill color recovered; corrupt -> null") {
    val ids = Seq(0L, 5L, 42L, 255L).toDF("id")
    val media = Multimodal.syntheticPng(ids, "id")
    val dec = Multimodal.decode(media).orderBy("media_id").collect()
    Seq(0L, 5L, 42L, 255L).zip(dec).foreach { case (id, r) =>
      val (w, h) = Multimodal.plantedDims(id)
      assert(r.getInt(3) == w && r.getInt(4) == h, s"dims for id=$id")
      assert(r.getInt(5) == 1) // still image: one frame
      // solid fill: every grid cell's mean RGB is exactly the fill color
      val rgb = Multimodal.plantedRgb(id)
      val want = Seq((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        .map(_ / 255.0f)
      val feat = r.getSeq[Float](6)
      assert(feat.size == 12)
      (0 until 4).foreach { cell =>
        (0 until 3).foreach { c =>
          assert(math.abs(feat(cell * 3 + c) - want(c)) < 1e-6f,
            s"cell $cell chan $c id=$id")
        }
      }
    }
    // corrupt payload with an image mime: null metadata, row survives
    val bad = Seq((9L, Array[Byte](1, 2, 3), "image/png"),
        (10L, null.asInstanceOf[Array[Byte]], "image/png"))
      .toDF("media_id", "payload", "mime")
    val badRows = Multimodal.decode(bad).orderBy("media_id").collect()
    assert(badRows.length == 2)
    badRows.foreach { r =>
      assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6))
    }
    assert(badRows(0).getAs[Long]("n_bytes") == 3L)
    // truncated REAL png (header intact, data chopped) also nulls out
    val full = media.limit(1).collect()(0).getAs[Array[Byte]]("payload")
    val trunc = Seq((11L, full.take(20), "image/png"))
      .toDF("media_id", "payload", "mime")
    assert(Multimodal.decode(trunc).collect()(0).isNullAt(3))
    // non-image mime still routes through the byte-stat stand-in
    val txt = Multimodal.decode(
      Multimodal.asMedia(Seq((1L, "abc")).toDF("id", "t"), "id", "t",
        "text/plain")).collect()(0)
    assert(!txt.isNullAt(3) && txt.getAs[Long]("n_bytes") == 3L)
  }

  test("imageAHash: pixel-identical images hash equal, split layouts " +
    "differ, resolution-independent, corrupt -> None") {
    def png(w: Int, h: Int)(rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def twoTone(w: Int, h: Int, splitFrac: Double) =
      png(w, h)((x, _) => if (x < (w * splitFrac).toInt) 0x202020 else 0xE0E0E0)
    val a = Multimodal.imageAHash(twoTone(64, 64, 0.25)).get
    val b = Multimodal.imageAHash(twoTone(64, 64, 0.25)).get
    val c = Multimodal.imageAHash(twoTone(64, 64, 0.75)).get
    assert(a == b, "identical pixels must hash equal")
    assert(a != c, "different split layouts must differ")
    // resolution independence: same layout at 2x the resolution
    val big = Multimodal.imageAHash(twoTone(128, 128, 0.25)).get
    assert(big == a, "block-mean hash is resolution-independent")
    // the bit layout is the planted geometry: 2 dark 8px block-columns
    // at split 0.25 -> bits clear for bx<2, set for bx>=2, every row
    (0 until 8).foreach { by =>
      (0 until 8).foreach { bx =>
        val bit = (a >> (by * 8 + bx)) & 1L
        assert(bit == (if (bx < 2) 0L else 1L), s"bit ($bx,$by)")
      }
    }
    // solid image: no block exceeds the global mean -> hash 0
    assert(Multimodal.imageAHash(png(16, 16)((_, _) => 0x808080)).get == 0L)
    assert(Multimodal.imageAHash(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.imageAHash(null).isEmpty)
    // phashGroups: mod-7 classes collapse, undecodable represents itself
    val media = Multimodal.syntheticPngTwoTone(
      (0L until 21L).toDF("id"), "id")
    val groups = Multimodal.phashGroups(media)
      .as[(Long, Long)].collect().toMap
    (0L until 21L).foreach(id => assert(groups(id) == id % 7))
    val withBad = media.unionByName(Seq(
        (99L, Array[Byte](0, 1), "image/png"))
      .toDF("media_id", "payload", "mime"))
    assert(Multimodal.phashGroups(withBad)
      .filter($"media_id" === 99L).head().getLong(1) == 99L)
  }

  test("real WAV decode: planted format recovered; sine RMS; corrupt -> null") {
    val ids = Seq(0L, 3L, 7L, 13L).toDF("id")
    val media = Multimodal.syntheticWav(ids, "id")
    val dec = Multimodal.decodeAudio(media).orderBy("media_id").collect()
    Seq(0L, 3L, 7L, 13L).zip(dec).foreach { case (id, r) =>
      assert(r.getInt(3) == 8000 && r.getInt(4) == 1 && r.getInt(5) == 16,
        s"format words for id=$id")
      val n = Multimodal.plantedSamples(id).toLong
      assert(r.getLong(6) == n)
      assert(r.getLong(7) == n * 1000L / 8000L)
      // 0.5-amplitude sine: per-window RMS ~ 0.5/sqrt(2)
      val feat = r.getSeq[Float](8)
      assert(feat.size == 4)
      feat.foreach(f => assert(math.abs(f - 0.35355f) < 0.02f, s"rms id=$id"))
    }
    // corrupt / truncated / non-RIFF payloads: null metadata, rows survive
    val full = media.limit(1).collect()(0).getAs[Array[Byte]]("payload")
    val bad = Seq(
        (20L, Array[Byte](1, 2, 3), "audio/wav"),
        (21L, null.asInstanceOf[Array[Byte]], "audio/wav"),
        (22L, full.take(50), "audio/wav")) // header intact, data chopped
      .toDF("media_id", "payload", "mime")
    val badRows = Multimodal.decodeAudio(bad).orderBy("media_id").collect()
    assert(badRows.length == 3)
    badRows.foreach(r => assert(r.isNullAt(3) && r.isNullAt(6)))
    // 8-bit PCM path: hand-built 4-sample mono file, full-scale square
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(100).putInt(100)
      .putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(4)
      .put(Array[Byte](0, -1, 0, -1)) // 0x00,0xff -> -1.0,+0.992
    val m8 = Multimodal.wavDecode(bb.array()).get
    assert(m8.bits == 8 && m8.sampleRate == 100 && m8.nSamples == 4L)
    assert(math.abs(m8.feature(0) - 1.0f) < 0.01f)
  }

  test("real MP4 container decode: planted box arithmetic recovered; " +
    "generic decode routes mp4 so sampleFrames sees real n_frames") {
    val ids = Seq(0L, 3L, 7L, 19L, 42L).toDF("id")
    val media = Multimodal.syntheticMp4(ids, "id")
    val dec = Multimodal.decodeVideo(media).orderBy("media_id").collect()
    Seq(0L, 3L, 7L, 19L, 42L).zip(dec).foreach { case (id, row) =>
      val (w, h, frames) = Multimodal.plantedVideo(id)
      assert(row.getInt(3) == w, s"width of $id")
      assert(row.getInt(4) == h, s"height of $id")
      assert(row.getInt(5) == frames, s"n_frames of $id")
      assert(row.getLong(6) == frames * 40L, s"duration_ms of $id")
    }
    // generic decode path: same dims/frames, feature stays null
    val gen = Multimodal.decode(media).orderBy("media_id").collect()
    Seq(0L, 3L, 7L, 19L, 42L).zip(gen).foreach { case (id, row) =>
      val (w, h, frames) = Multimodal.plantedVideo(id)
      assert(row.getInt(3) == w && row.getInt(4) == h &&
        row.getInt(5) == frames)
      assert(row.isNullAt(6), "video feature must be null (no pixel codec)")
    }
    // sampleFrames consumes the REAL frame count
    val f7 = Multimodal.sampleFrames(
      Multimodal.decode(Multimodal.syntheticMp4(Seq(7L).toDF("id"), "id")),
      step = 4)
    val (_, _, frames7) = Multimodal.plantedVideo(7L)
    assert(f7.count() == (0 until frames7 by 4).length)
  }

  test("extractFrames: real sample-table walk recovers every planted " +
    "frame payload; step sampling, truncated mdat, and non-video rows") {
    val ids = Seq(0L, 3L, 7L, 19L)
    val media = Multimodal.syntheticMp4(ids.toDF("id"), "id")
    // full extraction (step 1) reproduces plantedFrame bytes exactly
    val all = Multimodal.extractFrames(media, step = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2)))
    ids.foreach { id =>
      val (_, _, frames) = Multimodal.plantedVideo(id)
      val mine = all.filter(_._1 == id).sortBy(_._2)
      assert(mine.map(_._2).sameElements(0 until frames), s"frames of $id")
      mine.foreach { case (_, i, bytes) =>
        assert(java.util.Arrays.equals(bytes, Multimodal.plantedFrame(id, i)),
          s"payload of ($id, $i)") }
    }
    // step sampling keeps exactly indices 0, step, 2*step, ...
    val s4 = Multimodal.extractFrames(media, step = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    ids.foreach { id =>
      val (_, _, frames) = Multimodal.plantedVideo(id)
      assert(s4.filter(_._1 == id).map(_._2).sorted
        .sameElements(0 until frames by 4)) }
    // mp4FrameRanges on the raw fixture agrees with the planted layout
    val good = Multimodal.buildMp4(3L, 16, 16, 13)
    val ranges = Multimodal.mp4FrameRanges(good).get
    assert(ranges.length == 13)
    assert(ranges.map(_._2).sameElements(
      (0 until 13).map(Multimodal.plantedFrame(3L, _).length)))
    // a truncated mdat drops the out-of-range tail, keeps the head
    val cut = good.take(good.length - 10)
    val headFrames = Multimodal.extractFrames(
      Seq((3L, cut, "video/mp4")).toDF("media_id", "payload", "mime"),
      step = 1).count()
    assert(headFrames > 0 && headFrames < 13)
    // non-video mime and corrupt payloads contribute no rows, no throw
    val junk = Seq((1L, "not a movie".getBytes, "video/mp4"),
        (2L, good, "text/plain"))
      .toDF("media_id", "payload", "mime")
    assert(Multimodal.extractFrames(junk, step = 1).count() == 0)
  }

  test("mp4Decode never throws on corrupt/foreign containers; " +
    "no-video-track and truncated payloads yield None") {
    val good = Multimodal.buildMp4(5L, 64, 48, 12)
    assert(Multimodal.mp4Decode(good).contains(
      Multimodal.Mp4Meta(64, 48, 12, 480L)))
    // every truncation parses to None or a value, never throws
    (0 until good.length by 7).foreach { n =>
      Multimodal.mp4Decode(good.take(n))
    }
    assert(Multimodal.mp4Decode(good.take(40)).isEmpty)
    assert(Multimodal.mp4Decode(null).isEmpty)
    assert(Multimodal.mp4Decode("not a movie".getBytes).isEmpty)
    // bit flips in the size fields must not throw either
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Multimodal.mp4Decode(b)
    }
    // a container whose only track is not 'vide' has no video metadata
    val soun = good.clone()
    val idx = {
      // find the 'vide' handler tag and rewrite it
      val s = new String(soun.map(_.toChar))
      s.indexOf("vide")
    }
    "soun".getBytes.copyToArray(soun, idx)
    assert(Multimodal.mp4Decode(soun).isEmpty)
  }

  test("resizeImages: REAL pixel resize matches resizeMeta arithmetic, " +
    "preserves solid fill, passes poison through byte-identical") {
    val ids = Seq(0L, 5L, 42L).toDF("id")
    val media = Multimodal.syntheticPng(ids, "id")
    val resized = Multimodal.resizeImages(media, 8, 6)
    val dec = Multimodal.decode(resized).orderBy("media_id").collect()
    Seq(0L, 5L, 42L).zip(dec).foreach { case (id, r) =>
      val (w, h) = Multimodal.plantedDims(id)
      val scale = math.min(8.0 / w, 6.0 / h)
      assert(r.getInt(3) == math.max(1, math.floor(w * scale).toInt))
      assert(r.getInt(4) == math.max(1, math.floor(h * scale).toInt))
      // solid fill survives scaling exactly: every grid cell = fill color
      val rgb = Multimodal.plantedRgb(id)
      val want = Seq((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        .map(_ / 255.0f)
      val feat = r.getSeq[Float](6)
      (0 until 4).foreach(cell => (0 until 3).foreach(c =>
        assert(math.abs(feat(cell * 3 + c) - want(c)) < 1e-6f)))
    }
    // corrupt image + non-image mime: byte-identical passthrough
    val poison = Seq(
        (9L, Array[Byte](1, 2, 3), "image/png"),
        (10L, Array[Byte](4, 5), "text/plain"))
      .toDF("media_id", "payload", "mime")
    val through = Multimodal.resizeImages(poison, 8, 6)
      .orderBy("media_id").collect()
    assert(through(0).getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3))
    assert(through(0).getString(2) == "image/png")
    assert(through(1).getAs[Array[Byte]](1).toSeq == Seq[Byte](4, 5))
  }

  test("wavDecode never throws on fuzzed containers; canonicalizeUrl is " +
    "idempotent") {
    // byte-level fuzz around the RIFF grammar: prefixes of a real file,
    // flipped chunk sizes, random tails — None or Some, never a throw
    val real = Multimodal.syntheticWav(Seq(3L).toDF("id"), "id")
      .collect()(0).getAs[Array[Byte]]("payload")
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { i =>
      val b = real.clone()
      i % 4 match {
        case 0 => // truncate anywhere
          Multimodal.wavDecode(b.take(rnd.nextInt(b.length)))
        case 1 => // corrupt a random byte (header or data)
          b(rnd.nextInt(b.length)) = rnd.nextInt().toByte
          Multimodal.wavDecode(b)
        case 2 => // nonsense chunk size
          b(4 + rnd.nextInt(4)) = 0xff.toByte
          Multimodal.wavDecode(b)
        case _ => // pure noise
          val n = new Array[Byte](44 + rnd.nextInt(100))
          rnd.nextBytes(n)
          Multimodal.wavDecode(n)
      }
    }
    // idempotence: a canonical URL canonicalizes to itself
    import graft.text.TextOps
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/Path/Page/?utm_source=x&id=7&gclid=9#f",
      "http://example.com:80/", "http://news.example.co.uk/a/b?x=1&y=2",
      "https://sub.example.com/products?ref=feed", "not a url")
    val once = urls.toDF("u")
      .select(TextOps.canonicalizeUrl(col("u")).as("c")).as[String].collect()
    val twice = once.toSeq.toDF("u")
      .select(TextOps.canonicalizeUrl(col("u")).as("c")).as[String].collect()
    assert(once.toSeq == twice.toSeq)
  }

  test("resizeMeta: aspect-preserving fit into the target box, floor 1px") {
    val dec = Seq((1L, 640, 480), (2L, 100, 400), (3L, 1, 10000))
      .toDF("media_id", "width", "height")
    val out = Multimodal.resizeMeta(dec, tw = 320, th = 320)
      .orderBy("media_id")
      .select("out_width", "out_height").collect()
    assert(out(0).getInt(0) == 320 && out(0).getInt(1) == 240) // scale 0.5
    assert(out(1).getInt(0) == 80 && out(1).getInt(1) == 320)  // scale 0.8
    assert(out(2).getInt(0) == 1)                              // floor at 1px
  }
}

class StreamingSpec extends SparkSpec with IndexCompactionCheck {
  import spark.implicits._

  test("streaming merge emits closed runs across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[StreamOps.Iv]
    val q = StreamOps.streamingMerge(input.toDS(), minDist = 0)
      .writeStream.format("memory").queryName("merged")
      .outputMode("append").start()
    try {
      input.addData(StreamOps.Iv("chr1", 0, 10), StreamOps.Iv("chr1", 5, 12))
      q.processAllAvailable()
      input.addData(StreamOps.Iv("chr1", 11, 20)) // extends the open run
      q.processAllAvailable()
      input.addData(StreamOps.Iv("chr1", 100, 110)) // gap -> closes run
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM merged").as[StreamOps.MergedRun]
        .collect().toSeq
      assert(out == Seq(StreamOps.MergedRun("chr1", 0, 20, 3)))
    } finally q.stop()
  }

  test("stream-stream join: inner emits exactly the in-bound matches; " +
    "leftOuter adds null-right rows once the watermark closes them out") {
    implicit val sq = spark.sqlContext
    val H = 3600000L
    // left events for user 1 at t=2h and user 2 at t=5h; right events
    // for user 1 at t=1h (in the 2h bound) and t=4h (after the left,
    // never matches); user 2 has no right events at all
    val lRows = Seq(StreamOps.JEv(10, 1, 2 * H), StreamOps.JEv(11, 2, 5 * H))
    val rRows = Seq(StreamOps.JEv(20, 1, 1 * H), StreamOps.JEv(21, 1, 4 * H))
    for (how <- Seq("inner", "leftOuter")) {
      val lIn = MemoryStream[StreamOps.JEv]
      val rIn = MemoryStream[StreamOps.JEv]
      spark.catalog.dropTempView(s"ssj_$how")
      val q = StreamOps.streamingEventJoin(lIn.toDS(), rIn.toDS(),
          withinMs = 2 * H, joinType = how)
        .writeStream.format("memory").queryName(s"ssj_$how")
        .outputMode("append").start()
      try {
        lIn.addData(lRows); rIn.addData(rRows)
        q.processAllAvailable()
        // two flush rounds: outer emission needs the watermark (computed
        // from batch N-1) to pass left.ts + bound
        for (k <- 0 to 1) {
          lIn.addData(StreamOps.JEv(-1L - k, -1, 20 * H + k))
          rIn.addData(StreamOps.JEv(-3L - k, -1, 20 * H + k))
          q.processAllAvailable()
        }
        val out = spark.table(s"ssj_$how")
          .filter($"l_id" >= 0)
          .select($"l_id", $"r_id", $"dt_ms")
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) -99L else r.getLong(1),
            if (r.isNullAt(2)) -99L else r.getLong(2))).toSeq.sorted
        val matches = Seq((10L, 20L, H))
        val expected =
          if (how == "inner") matches
          else (matches :+ ((11L, -99L, -99L))).sorted
        assert(out == expected, s"$how: got $out")
      } finally q.stop()
    }
  }

  test("streaming dedup suppresses within-watermark duplicates but " +
    "re-emits a key after its state is evicted") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    // 10s horizon; tms is epoch-millis
    val q = StreamOps.streamingDedup(input.toDS(), delay = "10 seconds")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      // tms well above epoch 0: a row with eventTime <= the initial
      // watermark (0) is silently dropped as late
      input.addData(StreamOps.Ev(1L, 1000000L, "click", 1.0),
        StreamOps.Ev(2L, 1001000L, "view", 2.0))
      q.processAllAvailable()
      // duplicate id 1 inside the horizon, poisoned value -> suppressed
      input.addData(StreamOps.Ev(1L, 1002000L, "click", 999.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT value FROM dedup_sink WHERE eventId = 1")
        .collect().map(_.getDouble(0)).toSeq == Seq(1.0))
      // advance the watermark far past 1000s + 10s, evicting id 1 ...
      input.addData(StreamOps.Ev(3L, 1100000L, "view", 3.0))
      q.processAllAvailable()
      // ... then a FRESH arrival of id 1 is emitted again (bounded state)
      input.addData(StreamOps.Ev(1L, 1101000L, "click", 4.0))
      q.processAllAvailable()
      val id1 = spark.sql("SELECT value FROM dedup_sink WHERE eventId = 1")
        .collect().map(_.getDouble(0)).toSeq.sorted
      assert(id1 == Seq(1.0, 4.0),
        s"expected re-emission after eviction, got $id1")
      assert(spark.sql("SELECT * FROM dedup_sink").count() == 4)
    } finally q.stop()
  }

  test("streaming merge repairs out-of-order arrivals within allowedLag") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[StreamOps.Iv]
    val q = StreamOps.streamingMerge(input.toDS(), minDist = 0,
        allowedLag = 50)
      .writeStream.format("memory").queryName("merged_ooo")
      .outputMode("append").start()
    try {
      input.addData(StreamOps.Iv("chr1", 100, 110), StreamOps.Iv("chr1", 130, 140))
      q.processAllAvailable()
      // late by 35 < allowedLag: must merge into [95,110) before emission
      input.addData(StreamOps.Iv("chr1", 95, 105))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM merged_ooo").count() == 0) // all open
      input.addData(StreamOps.Iv("chr1", 400, 410)) // frontier 350
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM merged_ooo")
        .as[StreamOps.MergedRun].collect().toSeq.sortBy(_.start)
      assert(out == Seq(StreamOps.MergedRun("chr1", 95, 110, 2),
        StreamOps.MergedRun("chr1", 130, 140, 1)))
    } finally q.stop()
  }

  test("events gates are encoding-robust: a nanos-as-long events table " +
    "produces the same sessionization as the timestamp[us] original") {
    // the r6 regression class: testdata regens have shipped ts as BOTH
    // TIMESTAMP(NANOS)->long and timestamp[us]; the gates must survive a
    // flip in either direction. Synthesize a nanos-long twin of the real
    // sf0.001 events table and run the REAL gate query against both.
    val real = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$real/events.parquet").exists())
    val dir = java.nio.file.Files.createTempDirectory("graft_evnanos").toString
    spark.read.parquet(s"$real/events.parquet")
      .withColumn("ts",
        (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sanity: the twin really is long-typed
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      == org.apache.spark.sql.types.LongType)
    for (gate <- Seq("evt_sessionize", "evt_window_agg")) {
      val a = rowsOf(SparkEntry.queries(gate)(spark, real))
      val b = rowsOf(SparkEntry.queries(gate)(spark, dir))
      assert(a == b, s"$gate diverges between ts encodings")
      assert(a.nonEmpty)
    }
  }

  test("evt_ingest_e2e counts a null source and a literal \"__null\" " +
    "source as two strata") {
    // a documents twin of sf0.001 with both kinds of source; the gate's
    // first batch (doc_id % 3 == 0) is admitted whole, so both strata
    // reach the length histogram
    val real = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$real/documents.parquet").exists())
    val dir = java.nio.file.Files.createTempDirectory("graft_nullsrc").toString
    spark.read.parquet(s"$real/documents.parquet")
      .withColumn("source",
        when(col("doc_id") % 12 === 0, lit(null).cast("string"))
          .when(col("doc_id") % 12 === 6, lit("__null"))
          .otherwise(col("source")))
      .write.parquet(s"$dir/documents.parquet")
    // the admitted set as the oracle derives it: rows whose text arrives
    // in no earlier batch (the re-keyed replays only repeat earlier texts)
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("text"), (col("doc_id") % 3).as("b"))
    val earlier = d.select(col("text").as("__t"), col("b").as("__b"))
    val adm = d.join(earlier,
      col("text") === col("__t") && col("__b") < col("b"), "left_anti")
    assert(adm.filter(col("source").isNull).count() > 0)
    assert(adm.filter(col("source") === "__null").count() > 0)
    val got = SparkEntry.queries("evt_ingest_e2e")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("hist_strata") == adm.select("source").distinct().count())
    assert(got("hist_docs") == got("admitted_total"))
    assert(got("profile_docs") == got("admitted_total"))
  }

  test("windowed event counts run in batch mode over the events table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // robust to both ts encodings: raw-nanos Long and timestamp[us]
    val events = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    val out = StreamOps.windowedEventCounts(events)
    assert(out.count() > 0)
  }

  test("streaming ingest dedup: each micro-batch probes the index, then " +
    "appends its keys so later batches dedup against it") {
    import graft.dedup.Dedup
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mk = (salt: Int, changed: Int) => (0 until 60)
      .map(i => if (i == changed) s"CH$salt" else s"tok${salt}_$i").mkString(" ")
    // corpus doc 1; batch A brings 2 (near-dup of 1) and 4; batch B
    // brings 6 (near-dup of 4 — FOUND ONLY IF batch A's keys were
    // appended) and 8 (unique)
    val corpus = Seq((1L, mk(0, -1))).toDF("doc_id", "text")
    val batchA = Seq((2L, mk(0, 30)), (4L, mk(2, -1)))
    val batchB = Seq((6L, mk(2, 20)), (8L, (0 until 60).map(i => s"u$i").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    spark.sql("DROP TABLE IF EXISTS sidx_spec")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "sidx_spec",
      s"$dir/idx", numBuckets = 4)
    corpus.write.mode("overwrite").parquet(s"$dir/store/batch=seed")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.streamingIngestDedup(
        input.toDF().toDF("doc_id", "text"), "sidx_spec", s"$dir/store",
        (pairs, batchId) => seen ++= pairs.collect().map(r =>
          (batchId, r.getLong(0), r.getLong(1))),
        threshold = 0.5)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(batchA); q.processAllAvailable()
      input.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    val byBatch = seen.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sorted.toList).toMap
    assert(byBatch(0L) == List((1L, 2L)), s"batch 0: ${byBatch.get(0L)}")
    assert(byBatch(1L) == List((4L, 6L)), s"batch 1: ${byBatch.get(1L)}")
    // the doc store accumulated everything (batch-addressed dirs)
    assert(spark.read.parquet(s"$dir/store/batch=*").count() == 5)
  }

  test("streaming ingest with bloom prefilter: exact dups dropped at the " +
    "door, near-dups still found, verify-join input is fpp-bounded") {
    import graft.dedup.{Bloom, Dedup}
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mk = (salt: Int, changed: Int) => (0 until 60)
      .map(i => if (i == changed) s"CH$salt" else s"tok${salt}_$i").mkString(" ")
    val corpus = Seq((1L, mk(0, -1)), (2L, mk(5, -1))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bidx").toString
    spark.sql("DROP TABLE IF EXISTS bidx_spec")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "bidx_spec",
      s"$dir/idx", numBuckets = 4)
    Bloom.writeIndex(corpus, col("text"), s"$dir/bloom", numBuckets = 4,
      expectedItems = 100000L)
    corpus.write.mode("overwrite").parquet(s"$dir/store/batch=seed")
    // A: 3 = EXACT dup of 1; 4 = near-dup of 2; 5 = novel.
    // B: 6 = EXACT dup of 5 (ingested in A — proves the bloom append
    // made batch A visible); 7 = novel.
    val batchA = Seq((3L, mk(0, -1)), (4L, mk(5, 30)), (5L, mk(9, -1)))
    val batchB = Seq((6L, mk(9, -1)),
      (7L, (0 until 60).map(i => s"w$i").mkString(" ")))
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val exact = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.streamingIngestDedup(
        input.toDF().toDF("doc_id", "text"), "bidx_spec", s"$dir/store",
        (p, b) => pairs ++= p.collect().map(r =>
          (b, r.getLong(0), r.getLong(1))),
        threshold = 0.5,
        bloomIndexPath = s"$dir/bloom",
        onExactDups = (d, b) => exact ++= d.select("doc_id").collect()
          .map(r => (b, r.getLong(0))),
        bloomExpectedItems = 100000L, bloomBuckets = 4)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(batchA); q.processAllAvailable()
      input.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    assert(exact.sorted.toList == List((0L, 3L), (1L, 6L)), exact.toList)
    // near-dup pair (2,4) still found; the exact dups produce NO pairs
    assert(pairs.map(t => (t._2, t._3)).sorted.toList == List((2L, 4L)),
      pairs.toList)
    // the store holds only fresh docs: seed 1,2 + A's 4,5 + B's 7
    assert(spark.read.parquet(s"$dir/store/batch=*")
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 7L))
    // "verify join only for bloom-positive rows": a 2000-row disjoint
    // batch sends only ~fpp of itself into probeNew's verify join
    val idx = spark.read.parquet(s"$dir/bloom")
    val disjoint = (0 until 2000).map(i => s"novel text $i").toDF("text")
    val maybes = Bloom.probeMaybe(idx, disjoint, col("text"), 4).count()
    assert(maybes < 200, s"fpp blowout: $maybes of 2000")
    // and a batch with k planted dups pays the join for ~k rows
    val planted = (Seq(mk(0, -1), mk(9, -1)) ++
      (0 until 500).map(i => s"fresh doc $i")).toDF("text")
    val m2 = Bloom.probeMaybe(idx, planted, col("text"), 4).count()
    assert(m2 >= 2 && m2 < 2 + 100, s"maybe count $m2 for 2 planted dups")
  }

  test("compactMinhashIndex: file count returns to one per bucket, " +
    "probe results unchanged") {
    checkCompaction(minhashKind)
  }

  test("streaming ingest maintains the profile index: per-batch appends " +
    "merge to the one-shot profile of the novel rows") {
    import graft.dedup.Dedup
    import graft.streaming.StreamOps
    import graft.text.ProfileIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mk = (salt: Int) => (0 until 40).map(i => s"w${salt}_$i").mkString(" ")
    val corpus = Seq((1L, "web", mk(0))).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    spark.sql("DROP TABLE IF EXISTS pidx_spec")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "pidx_spec",
      s"$dir/idx", numBuckets = 4)
    corpus.write.mode("overwrite").parquet(s"$dir/store/batch=seed")
    val batchA = Seq((2L, "web", mk(1)), (3L, "book", mk(2)))
    val batchB = Seq((4L, "book", mk(3)))
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.streamingIngestDedup(
        input.toDF().toDF("doc_id", "source", "text"), "pidx_spec",
        s"$dir/store", (_, _) => (), threshold = 0.5,
        profileIndexPath = s"$dir/prof")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(batchA); q.processAllAvailable()
      input.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    val got = ProfileIndex.readProfile(spark, s"$dir/prof")
    val all = (batchA ++ batchB).toDF("doc_id", "source", "text")
    val oneShot = ProfileIndex.profileOneShot(all, "source", "text")
    // exact columns equal; estimates compared with the sketch-envelope
    // contract (union-of-partials need not equal a direct sketch)
    val ex = Seq("stratum", "n_docs", "n_chars", "n_tokens", "tok_min",
      "tok_max").map(col)
    assert(got.select(ex: _*).exceptAll(oneShot.select(ex: _*)).isEmpty &&
      oneShot.select(ex: _*).exceptAll(got.select(ex: _*)).isEmpty)
    val g = got.select($"stratum", $"vocab_est", $"docs_est")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    oneShot.select($"stratum", $"vocab_est", $"docs_est")
      .as[(String, Long, Long)].collect().foreach { case (s, v, d) =>
        assert(math.abs(g(s)._1 - v) <= math.max(2L, (v * 0.05).toLong))
        assert(math.abs(g(s)._2 - d) <= math.max(2L, (d * 0.05).toLong))
      }
  }

  test("ingest tail: with two failing tail writers the first error is " +
    "rethrown and the other rides along as suppressed") {
    import graft.dedup.Dedup
    import graft.streaming.StreamOps
    val corpus = Seq((1L, "web", "alpha beta gamma delta"))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tail").toString
    spark.sql("DROP TABLE IF EXISTS tail_spec")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "tail_spec",
      s"$dir/idx", numBuckets = 4)
    val b0 = Seq((2L, "web", "epsilon zeta eta theta"))
      .toDF("doc_id", "source", "text")
    // the profile and length-histogram writers both read the strata
    // column, which the batch lacks; the CMS writer succeeds
    val e = intercept[Exception](StreamOps.ingestDedupBatch(
      b0, 0L, "tail_spec", s"$dir/store", (p, _) => { p.count(); () },
      profileIndexPath = s"$dir/prof",
      profileStrataCol = "no_such_col",
      lenHistPath = s"$dir/lenhist", lenHistSbBits = 4,
      cmsPath = s"$dir/cms", cmsDepth = 3, cmsWidth = 64))
    // Spark may attach its own caller-stack trace as a suppressed too
    val all = e +: e.getSuppressed.toSeq
    val tail = all.filter(_.getMessage.contains("no_such_col"))
    assert(tail.size == 2 && tail.head == e,
      s"expected 2 tail errors, got: ${all.mkString("; ")}")
  }

  test("ingest replay: re-delivering a batchId after a completed store " +
    "write keeps the store rows and does not double the profile") {
    import graft.dedup.{Bloom, Dedup}
    import graft.streaming.StreamOps
    import graft.text.ProfileIndex
    val mk = (salt: Int, changed: Int) => (0 until 60)
      .map(i => if (i == changed) s"CH$salt" else s"tok${salt}_$i").mkString(" ")
    val corpus = Seq((1L, "web", mk(0, -1))).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ridx").toString
    spark.sql("DROP TABLE IF EXISTS ridx_spec")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "ridx_spec",
      s"$dir/idx", numBuckets = 4)
    Bloom.writeIndex(corpus, col("text"), s"$dir/bloom", numBuckets = 4,
      expectedItems = 100000L)
    corpus.select("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/store/batch=seed")
    // batch 0: one exact dup of the corpus (2), one near-dup (3), one
    // novel (4)
    val b0 = Seq((2L, "web", mk(0, -1)), (3L, "web", mk(0, 30)),
      (4L, "book", mk(7, -1))).toDF("doc_id", "source", "text")
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val exact = scala.collection.mutable.ArrayBuffer.empty[Long]
    def deliver(): Unit = StreamOps.ingestDedupBatch(
      b0, 0L, "ridx_spec", s"$dir/store",
      (p, _) => pairs ++= p.collect().map(r => (r.getLong(0), r.getLong(1))),
      threshold = 0.5,
      bloomIndexPath = s"$dir/bloom",
      onExactDups = (d, _) => exact ++= d.select("doc_id")
        .as[Long].collect(),
      bloomExpectedItems = 100000L, bloomBuckets = 4,
      profileIndexPath = s"$dir/prof",
      lenHistPath = s"$dir/lenhist", lenHistSbBits = 4,
      cmsPath = s"$dir/cms", cmsDepth = 3, cmsWidth = 64)
    deliver()
    val storeAfterFirst = spark.read.parquet(s"$dir/store/batch=*")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(storeAfterFirst == Seq(1L, 3L, 4L), storeAfterFirst)
    assert(exact.sorted.toSeq == Seq(2L))
    val profFirst = ProfileIndex.readProfile(spark, s"$dir/prof")
      .orderBy("stratum").collect().map(_.toSeq).toSeq
    // REPLAY the same batchId (simulates a foreachBatch re-delivery
    // after a failure that got past the store write). The store must
    // still hold the rows (the r9 bug verify-joined the batch against
    // its own store dir, classified every row an exact dup, and
    // overwrote the dir with an empty relation), exact dups must be
    // re-detected identically, and the profile must not double.
    pairs.clear(); exact.clear()
    deliver()
    val storeAfterReplay = spark.read.parquet(s"$dir/store/batch=*")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(storeAfterReplay == Seq(1L, 3L, 4L),
      s"replay lost store rows: $storeAfterReplay")
    assert(exact.sorted.toSeq == Seq(2L), s"replay exact-dup drift: $exact")
    val profReplay = ProfileIndex.readProfile(spark, s"$dir/prof")
      .orderBy("stratum").collect().map(_.toSeq).toSeq
    assert(profReplay == profFirst, "replay doubled the profile")
    // the length-histogram index is batch-addressed too: replay must
    // not double counts, and the merged histogram must equal a
    // one-shot over the batch's NOVEL rows (3, 4)
    import graft.text.Hdr
    val hist = Hdr.readHistogram(spark, s"$dir/lenhist", Seq("source"))
      .orderBy("source", "bucket")
    val novel = b0.filter($"doc_id".isin(3L, 4L))
      .select($"source", length($"text").as("__len"))
    val oneShotH = Hdr.buildHistogram(novel, "__len", Seq("source"), 4)
      .orderBy("source", "bucket")
    assert(rowsOf(hist) == rowsOf(oneShotH),
      "histogram replay/merge drift")
    // the CMS term-frequency index is batch-addressed too: the merged
    // sketch must equal a one-shot sketch over the batch's NOVEL rows
    // (replay replaced, not doubled, the cells), so every point
    // estimate — here a never-under-count spot check on a token each
    // novel doc contains — is replay-stable
    import graft.text.Cms
    val sk = Cms.readSketch(spark, s"$dir/cms").orderBy("row", "bucket")
    val oneShotS = Cms.buildSketch(b0.filter($"doc_id".isin(3L, 4L)),
      "text", depth = 3, width = 64).orderBy("row", "bucket")
    assert(rowsOf(sk) == rowsOf(oneShotS), "CMS replay/merge drift")
    // the tokenizer splits on `_`, so mk's words tokenize as e.g.
    // ["tok0", "5"]; "tok0" appears once per word of doc 3, "tok7"
    // once per word of doc 4
    val probes = Seq("tok0", "tok7").toDF("term")
    val est = Cms.estimate(Cms.readSketch(spark, s"$dir/cms"), probes,
        "term", depth = 3, width = 64)
      .as[(String, Long)].collect().toMap
    assert(est("tok0") >= 59L && est("tok7") >= 60L)
  }

  test("streaming ANN ingest: per-batch appends equal a one-shot index; " +
    "compaction cadence bounds the file count") {
    import graft.ann.Ann
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mkv = (i: Int) => Array.tabulate(8)(d =>
      (((i * 31 + d * 7) % 23) - 11) / 11.0f)
    val seed = (0 until 40).map(i => (i.toLong, mkv(i)))
      .toDF("vec_id", "embedding")
    val cents = Ann.ivfCentroids(seed, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_sivf").toString
    spark.sql("DROP TABLE IF EXISTS sivf_spec")
    Ann.writeIvfIndex(seed, cents, "sivf_spec", s"$dir/idx", numBuckets = 4)
    val batches = (1 to 3).map(b =>
      (0 until 20).map(i => (100L * b + i, mkv(b * 100 + i))))
    val input = MemoryStream[(Long, Array[Float])]
    var nextPath = 0
    val q = StreamOps.streamingIngestAnn(
        input.toDF().toDF("vec_id", "embedding"), cents, "sivf_spec",
        compactPathFor = bid => s"$dir/compact_$bid", compactEvery = 2)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // index content == one-shot over seed + all batches
    val everything = seed.unionByName(
      batches.flatten.toDF("vec_id", "embedding"))
    Ann.writeIvfIndex(everything, cents, "sivf_ref", s"$dir/ref",
      numBuckets = 4)
    val got = spark.table("sivf_spec")
    val ref = spark.table("sivf_ref")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    // the batch-2 compaction rewrote to one file per bucket; batch 3
    // appended after it, so file count is bounded by buckets + one append
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("sivf_spec")).location
    val files = new java.io.File(loc.getPath)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 8, s"compaction should bound files, got $files")
    // probes over the streamed index match brute force at full depth
    val queries = everything.filter(org.apache.spark.sql.functions
      .col("vec_id") % 50 === 0)
    val probed = Ann.ivfTopKIndexed(spark, queries, cents, "sivf_spec",
      k = 3, nProbe = 4, rerankWith = Some(everything), rerankDepth = 1000)
    val exact = Ann.bruteForceTopK(everything, queries, k = 3)
      .select("query_id", "neighbor_id", "rank")
    assert(probed.exceptAll(exact).isEmpty && exact.exceptAll(probed).isEmpty)
  }

  test("ANN ingest replay: a re-delivered compaction batch skips the " +
    "already-applied compaction instead of wedging the stream") {
    import graft.ann.Ann
    import graft.streaming.StreamOps
    val mkv = (i: Int) => Array.tabulate(8)(d =>
      (((i * 29 + d * 5) % 19) - 9) / 9.0f)
    val seed = (0 until 30).map(i => (i.toLong, mkv(i)))
      .toDF("vec_id", "embedding")
    val cents = Ann.ivfCentroids(seed, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_rivf").toString
    spark.sql("DROP TABLE IF EXISTS rivf_spec")
    Ann.writeIvfIndex(seed, cents, "rivf_spec", s"$dir/idx", numBuckets = 4)
    val b2 = (0 until 10).map(i => (200L + i, mkv(200 + i)))
      .toDF("vec_id", "embedding")
    def deliver(): Unit = StreamOps.ingestAnnBatch(b2, 2L, cents,
      "rivf_spec", compactPathFor = bid => s"$dir/compact_$bid",
      compactEvery = 2)
    deliver() // appends, then compacts to $dir/compact_2
    val loc1 = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("rivf_spec")).location
    assert(loc1.getPath.endsWith("compact_2"), loc1.toString)
    // replay of the SAME batchId: before the fix, the compaction's
    // same-path require threw on every retry, wedging the stream —
    // now the already-applied compaction is detected and skipped
    deliver()
    val loc2 = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("rivf_spec")).location
    assert(loc2.getPath == loc1.getPath)
    // the replayed append is at-least-once (rows may duplicate) but the
    // index still serves every vector
    val ids = spark.table("rivf_spec").select("vec_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 30L) ++ (200L until 210L)).sorted.toSeq)
  }
}
