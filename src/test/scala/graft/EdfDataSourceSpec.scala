package graft

import org.apache.spark.sql.functions._
import graft.sources.{EdfSchema, EdfWriterUtil}

/** The EDF detector-file source: write real EDF bytes with the
  * minimal writer, read them back through the DSv2 path, and check
  * values, pruning and malformed-input behavior.
  */
class EdfDataSourceSpec extends SparkSpec {

  private def tmpFile(name: String): java.io.File = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_edf_spec")
    dir.mkdirs()
    new java.io.File(dir, name)
  }

  private def conf = spark.sessionState.newHadoopConf()

  test("round-trip every datatype in both byte orders") {
    val w = 5; val h = 3
    val frame = Array.tabulate(w * h)(i => (i * 7 % 120).toDouble)
    for {
      dt <- Seq("UnsignedByte", "SignedByte", "UnsignedShort", "SignedShort",
        "UnsignedInteger", "SignedInteger", "FloatValue", "DoubleValue")
      little <- Seq(true, false)
    } {
      val f = tmpFile(s"rt_${dt}_$little.edf")
      EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, dt, little, Seq(frame))
      val rows = spark.read.format("edf").load(f.getAbsolutePath).collect()
      assert(rows.length === 1, s"$dt little=$little")
      val r = rows(0)
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      assert(r.getAs[String]("datatype") === dt)
      assert(r.getAs[String]("byte_order") ===
        (if (little) "LowByteFirst" else "HighByteFirst"))
      assert(r.getAs[Seq[Double]]("pixels") === frame.toSeq, s"$dt little=$little")
    }
  }

  test("multi-frame stack: ordinals, frame-filter pruning, metadata-only read") {
    val w = 8; val h = 4
    val frames = (0 until 6).map(fr => Array.tabulate(w * h)(i => (fr * 100 + i).toDouble))
    val f = tmpFile("stack.edf")
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "SignedInteger", true, frames)
    val df = spark.read.format("edf").load(f.getAbsolutePath)
    assert(df.count() === 6)
    // frame filter prunes partitions before data reads
    val one = df.filter(col("frame") === 3).select("pixels").collect()
    assert(one.length === 1 && one(0).getAs[Seq[Double]](0) === frames(3).toSeq)
    val range = df.filter(col("frame") >= 4).count()
    assert(range === 2)
    // pixels pruned away -> pure header/metadata read
    val meta = df.select("frame", "width", "n_frames").collect()
    assert(meta.length === 6 && meta.forall(_.getAs[Long]("n_frames") === 6L))
  }

  test("partition cap splits a stack into bounded contiguous runs") {
    val w = 16; val h = 16 // 1 KiB per SignedInteger frame
    val frames = (0 until 10).map(fr => Array.tabulate(w * h)(i => (fr + i).toDouble))
    val f = tmpFile("parts.edf")
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "SignedInteger", true, frames)
    val df = spark.read.format("edf")
      .option("maxPartitionBytes", (2 * w * h * 4).toString) // 2 frames per part
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions === 5)
    assert(df.select(sum(col("pixels")(0))).collect()(0).getDouble(0) ===
      frames.map(_(0)).sum)
  }

  test("multi-chunk (1024-byte) headers and unknown keys parse fine") {
    // Hand-build a block whose header spans TWO 512-byte chunks.
    val w = 3; val h = 2
    val px = Array.tabulate(w * h)(_.toDouble)
    val body = new StringBuilder
    body.append("{\n")
    body.append("HeaderID = EH:000001:000000:000000 ;\n")
    body.append(s"Dim_1 = $w ;\nDim_2 = $h ;\nDataType = DoubleValue ;\n")
    body.append(s"Size = ${w * h * 8} ;\nByteOrder = LowByteFirst ;\n")
    body.append("Title = a long comment " + ("x" * 500) + " ;\n") // force 2 chunks
    val tail = "}\n"
    val pad = 512 - ((body.length + tail.length) % 512)
    if (pad != 512) body.append(" " * pad)
    body.append(tail)
    assert(body.length % 512 === 0 && body.length === 1024)
    val f = tmpFile("twochunk.edf")
    val out = new java.io.FileOutputStream(f)
    out.write(body.toString.getBytes("ISO-8859-1"))
    val bb = java.nio.ByteBuffer.allocate(w * h * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    px.foreach(bb.putDouble)
    out.write(bb.array()); out.close()
    val rows = spark.read.format("edf").load(f.getAbsolutePath).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Seq[Double]]("pixels") === px.toSeq)
  }

  test("truncated data section fails with the path in the message") {
    val f = tmpFile("trunc.edf")
    EdfWriterUtil.write(f.getAbsolutePath, conf, 4, 4, "DoubleValue", true,
      Seq(Array.fill(16)(1.0)))
    // chop the last 8 bytes of pixel data
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.setLength(raf.length() - 8); raf.close()
    val e = intercept[Exception] {
      spark.read.format("edf").load(f.getAbsolutePath).collect()
    }
    assert(e.getMessage != null)
  }

  test("streaming source tails a growing EDF stack, block by block") {
    import org.apache.spark.sql.functions.{col, element_at}
    val dir = java.nio.file.Files.createTempDirectory("edfstream").toFile
    val f = new java.io.File(dir, "live.edf")
    val w = 2; val h = 2
    def frame(k: Int) = Array.tabulate(w * h)(i => (10.0 * k + i))
    def block(k: Int) = EdfWriterUtil.blockBytes(w, h, "UnsignedShort", true, frame(k), k)
    // two complete blocks + a PARTIAL third (header only, data cut)
    val partial = block(2).take(512 + 3)
    java.nio.file.Files.write(f.toPath,
      block(0) ++ block(1) ++ partial)
    val q = spark.readStream.format("edf").load(f.getPath)
      .select(col("frame"), element_at(col("pixels"), 1).as("p0"))
      .writeStream.format("memory").queryName("edf_live")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("edf_live").collect()
      assert(first.map(_.getLong(0)).toSet === Set(0L, 1L),
        "partial third block must be held back")
      // acquisition completes block 2 and appends a fourth
      java.nio.file.Files.write(f.toPath,
        block(0) ++ block(1) ++ block(2) ++ block(3))
      q.processAllAvailable()
      val now = spark.table("edf_live").collect()
      assert(now.map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L))
      assert(now.map(_.getDouble(1)).sorted.toSeq === Seq(0.0, 10.0, 20.0, 30.0))
    } finally q.stop()
  }

  test("streaming equals batch on a complete stack") {
    val w = 3; val h = 2
    val frames = (0 until 5).map(k => Array.tabulate(w * h)(i => (k * 7 + i).toDouble))
    val f = tmpFile("sb.edf")
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "SignedInteger", true, frames)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("frame")), r.getSeq[Double](r.fieldIndex("pixels")).toList)
    val batch = spark.read.format("edf").load(f.getAbsolutePath)
      .select("frame", "pixels").collect().map(key).toSet
    val q = spark.readStream.format("edf").load(f.getAbsolutePath)
      .select("frame", "pixels")
      .writeStream.format("memory").queryName("edf_sb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("edf_sb").collect().map(key).toSet === batch)
    } finally q.stop()
  }

  test("edfidx sidecar caches the header walk and self-evicts on change") {
    val w = 4; val h = 3
    val f = tmpFile("side.edf")
    def frames(n: Int) = (0 until n).map(k => Array.tabulate(w * h)(i => (k * 10 + i).toDouble))
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "UnsignedShort", true, frames(2))
    assert(spark.read.format("edf").load(f.getAbsolutePath).count() === 2)
    val side = new java.io.File(f.getAbsolutePath + ".edfidx")
    assert(side.exists(), "sidecar written on first read")
    val v1 = new String(java.nio.file.Files.readAllBytes(side.toPath))
    assert(v1.startsWith("edfidx\tv1\t") && v1.linesIterator.count(_.startsWith("F\t")) === 2)
    // second read validates and reuses it (content unchanged)
    assert(spark.read.format("edf").load(f.getAbsolutePath).count() === 2)
    // grow the file: length changes -> sidecar invalid -> reindex + rewrite
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "UnsignedShort", true, frames(3))
    assert(spark.read.format("edf").load(f.getAbsolutePath).count() === 3)
    val v2 = new String(java.nio.file.Files.readAllBytes(side.toPath))
    assert(v2.linesIterator.count(_.startsWith("F\t")) === 3, "sidecar rewritten")
    // a corrupt sidecar is ignored, not fatal
    java.nio.file.Files.write(side.toPath, "garbage".getBytes)
    assert(spark.read.format("edf").load(f.getAbsolutePath).count() === 3)
    // sidecars in a directory listing are not mistaken for data files
    val dir = f.getParentFile
    val all = spark.read.format("edf")
      .load(dir.listFiles().filter(_.getName == "side.edf").head.getAbsolutePath)
    assert(all.count() === 3)
    // indexCache=false never writes one
    val f2 = tmpFile("noside.edf")
    EdfWriterUtil.write(f2.getAbsolutePath, conf, w, h, "UnsignedShort", true, frames(1))
    spark.read.format("edf").option("indexCache", "false")
      .load(f2.getAbsolutePath).count()
    assert(!new java.io.File(f2.getAbsolutePath + ".edfidx").exists())
  }

  test("index walk reads headers only (offsets are exact)") {
    val w = 6; val h = 5
    val frames = (0 until 3).map(fr => Array.tabulate(w * h)(i => (fr * 10 + i).toDouble))
    val f = tmpFile("idx.edf")
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "UnsignedShort", true, frames)
    val idx = EdfSchema.indexFile(f.getAbsolutePath, conf)
    assert(idx.size === 3)
    assert(idx(0).dataOffset === 512)
    assert(idx(1).dataOffset === 512 + w * h * 2 + 512)
    assert(idx.forall(fr => fr.width === w && fr.height === h))
  }

  test("pushFilters: untranslatable values stay in the residual instead of crashing planning") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, In}
    val b = new graft.sources.EdfScanBuilder(Seq("/nonexistent.edf"), 1L << 20)
    // a null inside In(...) and a non-numeric EqualTo must be LEFT
    // for Spark to evaluate post-scan — and must not be "accepted"
    val bad: Array[Filter] = Array(
      In("frame", Array[Any](java.lang.Long.valueOf(1L), null)),
      EqualTo("frame", "not-a-number"))
    val residual = b.pushFilters(bad)
    assert(residual.toSeq === bad.toSeq)
    assert(b.pushedFilters().isEmpty)
    // integral literals of every width are accepted as before
    val good: Array[Filter] = Array(
      EqualTo("frame", java.lang.Integer.valueOf(2)),
      GreaterThan("frame", java.lang.Short.valueOf(0.toShort)))
    assert(b.pushFilters(good).isEmpty)
    assert(b.pushedFilters().toSeq === good.toSeq)
  }

  test("COUNT(*)/MIN/MAX(frame) push down to the header walk (agg row, no data read)") {
    val w = 2; val h = 2
    val frames = (0 until 9).map(fr => Array.tabulate(w * h)(i => (fr + i).toDouble))
    val f = tmpFile("agg.edf")
    EdfWriterUtil.write(f.getAbsolutePath, conf, w, h, "SignedInteger", true, frames)
    val df = spark.read.format("edf").load(f.getAbsolutePath)
    val cq = df.groupBy().count()
    assert(cq.queryExecution.executedPlan.toString.contains("agg_count"))
    assert(cq.collect()(0).getLong(0) == 9L)
    // composed with pushed frame bounds: the agg sees pruned frames
    val mq = df.filter(col("frame") >= 3).agg(min(col("frame")), max(col("frame")))
    val mplan = mq.queryExecution.executedPlan.toString
    assert(mplan.contains("agg_min_frame") && mplan.contains("agg_max_frame"), mplan)
    val r = mq.collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 8L)
    // row path unaffected for non-pushable shapes
    assert(df.groupBy(col("datatype")).count().collect()(0).getLong(1) == 9L)
  }

  test("many files plan via the distributed header-read job") {
    val dir = java.nio.file.Files.createTempDirectory("edfpar").toFile
    val n = graft.sources.SpeSchema.ParallelHeaderThreshold + 4
    for (k <- 1 to n)
      EdfWriterUtil.write(new java.io.File(dir, f"s$k%03d.edf").getAbsolutePath, conf, 2, 1,
        "UnsignedShort", true, Seq(Array(k.toDouble, 0.0), Array(k.toDouble, 1.0)))
    val df = spark.read.format("edf").load(dir.getAbsolutePath)
    assert(df.select("file", "frame").collect().length == 2 * n)
    val sums = df.select(sum(element_at(col("pixels"), 1))).collect().head.getDouble(0)
    assert(sums == 2.0 * (1 to n).sum)
    val cq = df.groupBy().count()
    assert(cq.queryExecution.executedPlan.toString.contains("agg_count"))
    assert(cq.collect()(0).getLong(0) == 2L * n)
  }
}
