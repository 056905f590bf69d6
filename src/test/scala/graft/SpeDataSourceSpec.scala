package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{SpeSchema, SpeWriterUtil}

class SpeDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()

  private def mkSpe(dir: java.io.File, name: String, w: Int, h: Int,
                    dtype: Int, frames: Seq[Array[Double]],
                    exp: Double = 1.0): String = {
    val f = new java.io.File(dir, name)
    SpeWriterUtil.write(f.getAbsolutePath, conf, w, h, dtype, exp, frames)
    f.getAbsolutePath
  }

  test("round-trip across every SPE datatype") {
    val dir = Files.createTempDirectory("spert").toFile
    // values chosen to exercise sign/width edges of each type
    val cases = Seq(
      0 -> Seq(Array(0.5, -1.25, 3.0, 100.0)),            // float32
      1 -> Seq(Array(-2147483648.0, -1.0, 0.0, 2147483647.0)), // int32
      2 -> Seq(Array(-32768.0, -1.0, 0.0, 32767.0)),       // int16
      3 -> Seq(Array(0.0, 1.0, 40000.0, 65535.0)),         // uint16
      5 -> Seq(Array(math.Pi, -1e300, 0.0, 1e-300)),       // float64
      6 -> Seq(Array(0.0, 1.0, 128.0, 255.0)),             // uint8
      8 -> Seq(Array(0.0, 1.0, 3000000000.0, 4294967295.0))) // uint32
    for ((dt, frames) <- cases) {
      val p = mkSpe(dir, s"t$dt.spe", 2, 2, dt, frames)
      val row = spark.read.format("spe").load(p).collect().head
      val px = row.getSeq[Double](row.fieldIndex("pixels"))
      assert(px == frames.head.toSeq, s"datatype $dt round-trip")
      assert(row.getInt(row.fieldIndex("width")) == 2)
      assert(row.getInt(row.fieldIndex("height")) == 2)
    }
  }

  test("multi-frame file: one row per frame, metadata consistent") {
    val dir = Files.createTempDirectory("spemf").toFile
    val frames = (0 until 5).map(f => Array.tabulate(6)(i => (f * 10 + i).toDouble))
    val p = mkSpe(dir, "m.spe", 3, 2, 3, frames, exp = 0.25)
    val df = spark.read.format("spe").load(p)
    assert(df.count() == 5)
    val r = df.filter($"frame" === 3).collect().head
    assert(r.getSeq[Double](r.fieldIndex("pixels")) == Seq(30.0, 31.0, 32.0, 33.0, 34.0, 35.0))
    assert(r.getLong(r.fieldIndex("n_frames")) == 5L)
    assert(math.abs(r.getDouble(r.fieldIndex("exp_sec")) - 0.25) < 1e-7)
    assert(r.getString(r.fieldIndex("datatype")) == "uint16")
  }

  test("frame filters prune partitions before any data read") {
    val dir = Files.createTempDirectory("spepr").toFile
    val frames = (0 until 20).map(f => Array.tabulate(4)(_ => f.toDouble))
    val p = mkSpe(dir, "p.spe", 2, 2, 3, frames)
    val pruned = spark.read.format("spe").load(p).filter($"frame" >= 15 && $"frame" < 18)
    assert(pruned.select("frame").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(15L, 16L, 17L))
    val nParts = pruned.rdd.getNumPartitions
    assert(nParts <= 3, s"expected <=3 pruned partitions, got $nParts")
    val eq = spark.read.format("spe").load(p).filter($"frame" === 7)
    assert(eq.rdd.getNumPartitions == 1)
    assert(eq.collect().head.getLong(1) == 7L)
  }

  test("maxPartitionBytes batches contiguous frames per task") {
    val dir = Files.createTempDirectory("spebatch").toFile
    // 16 frames x 8 B/frame (2x2 uint16): cap at 32 B => 4 frames/part
    val frames = (0 until 16).map(f => Array.tabulate(4)(_ => f.toDouble))
    val p = mkSpe(dir, "b.spe", 2, 2, 3, frames)
    val df = spark.read.format("spe").option("maxPartitionBytes", "32").load(p)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 16)
    // default cap: tiny file = one partition
    assert(spark.read.format("spe").load(p).rdd.getNumPartitions == 1)
  }

  test("metadata-only projection never opens the data section") {
    val dir = Files.createTempDirectory("spemeta").toFile
    val p = mkSpe(dir, "meta.spe", 2, 2, 3, Seq(Array(1.0, 2.0, 3.0, 4.0)))
    // truncate the data section away: header promises 1 frame but the
    // bytes are gone — pixel reads would fail, metadata must not
    val raw = Files.readAllBytes(new java.io.File(p).toPath)
    Files.write(new java.io.File(p).toPath, raw.take(SpeSchema.HeaderBytes))
    val ex = intercept[Exception] {
      spark.read.format("spe").load(p).select("pixels").collect()
    }
    assert(ex.getMessage != null)
  }

  test("truncated header fails fast with the path in the message") {
    val dir = Files.createTempDirectory("spetrunc").toFile
    val f = new java.io.File(dir, "short.spe")
    Files.write(f.toPath, Array.fill[Byte](100)(0))
    val ex = intercept[Exception] {
      spark.read.format("spe").load(f.getAbsolutePath).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("short.spe")))
  }

  test("decoded frames feed the existing array operators (dark subtract)") {
    val dir = Files.createTempDirectory("speops").toFile
    // frame 0 is the dark; frames 1..3 are dark + signal
    val dark = Array.tabulate(16)(i => (i % 4).toDouble * 10)
    val lit_ = (f: Int) => Array.tabulate(16)(i => dark(i) + f * 100 + i)
    val p = mkSpe(dir, "ops.spe", 4, 4, 3, dark +: (1 to 3).map(lit_))
    val df = spark.read.format("spe").load(p).select($"frame", $"pixels")
    val darkDf = df.filter($"frame" === 0).select($"pixels".as("dark"))
    val corrected = df.filter($"frame" > 0)
      .crossJoin(broadcast(darkDf))
      .select($"frame",
        zip_with($"pixels", $"dark", (a, b) => a - b).as("corr"))
    val sums = corrected
      .select($"frame", aggregate($"corr", lit(0.0), (a, x) => a + x).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // sum over i of (f*100 + i) = 1600f + 120
    assert(sums == Map(1L -> 1720.0, 2L -> 3320.0, 3L -> 4920.0))
  }

  test("glob over a directory of SPE files") {
    val dir = Files.createTempDirectory("speglob").toFile
    for (k <- 1 to 3)
      mkSpe(dir, s"run$k.spe", 2, 1, 3, Seq(Array(k.toDouble, k * 2.0)))
    val df = spark.read.format("spe").load(dir.getAbsolutePath + "/*.spe")
    assert(df.count() == 3)
    assert(df.select("file").distinct().count() == 3)
  }

  test("streaming source tails a growing SPE stack, frame by frame") {
    val dir = Files.createTempDirectory("spestream").toFile
    val proto = new java.io.File(dir, "proto.bin") // template bytes only
    // header promises 4 frames (planned count)
    val frames = (0 until 4).map(k => Array.tabulate(4)(i => (10.0 * k + i)))
    SpeWriterUtil.write(proto.getAbsolutePath, conf, 2, 2, 3, 0.1, frames)
    val full = Files.readAllBytes(proto.toPath)
    // the LIVE file is only ever touched with raw writes (no Hadoop
    // .crc sidecar — a rewritten file would fail checksum otherwise)
    val f = new java.io.File(dir, "live.spe")
    val frameB = 8 // 2x2 uint16
    def truncateTo(nBytes: Int): Unit =
      Files.write(f.toPath, full.take(SpeSchema.HeaderBytes + nBytes))
    truncateTo(2 * frameB + 3) // 2 complete frames + a PARTIAL third
    val q = spark.readStream.format("spe").load(f.getPath)
      .select(col("frame"), element_at(col("pixels"), 1).as("p0"))
      .writeStream.format("memory").queryName("spe_live")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("spe_live").collect()
      assert(first.map(_.getLong(0)).toSet == Set(0L, 1L),
        "partial third frame must be held back")
      assert(first.map(_.getDouble(1)).sorted.toSeq == Seq(0.0, 10.0))
      // acquisition finishes: full file, plus trailing garbage past
      // the planned NumFrames that must NOT become a phantom frame
      Files.write(f.toPath, full ++ Array.fill[Byte](frameB + 2)(0x7F))
      q.processAllAvailable()
      val now = spark.table("spe_live").collect()
      assert(now.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L),
        "NumFrames cap must stop phantom frames from trailing bytes")
      assert(now.map(_.getDouble(1)).sorted.toSeq == Seq(0.0, 10.0, 20.0, 30.0))
    } finally q.stop()
  }

  test("streaming equals batch on complete stacks (parity fuzz)") {
    val rnd = new scala.util.Random(20260812)
    for (trial <- 0 until 4) {
      val dir = Files.createTempDirectory(s"spesb$trial").toFile
      val (w, h) = (1 + rnd.nextInt(5), 1 + rnd.nextInt(5))
      val dt = Seq(3, 1, 5, 6)(trial)
      val limit = dt match { case 6 => 256L; case 3 => 65536L; case _ => 100000L }
      val nf = 1 + rnd.nextInt(7)
      val frames = (0 until nf).map(_ => Array.fill(w * h)((rnd.nextLong().abs % limit).toDouble))
      val p = mkSpe(dir, "sb.spe", w, h, dt, frames)
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(r.fieldIndex("frame")), r.getSeq[Double](r.fieldIndex("pixels")).toList)
      val batch = spark.read.format("spe").load(p)
        .select("frame", "pixels").collect().map(key).toSet
      val q = spark.readStream.format("spe").load(p)
        .select("frame", "pixels")
        .writeStream.format("memory").queryName(s"spe_sb$trial")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val stream = spark.table(s"spe_sb$trial").collect().map(key).toSet
        assert(stream == batch, s"trial $trial (dt=$dt ${w}x$h x$nf)")
      } finally q.stop()
    }
  }

  test("many files plan via the distributed header-read job") {
    val dir = Files.createTempDirectory("spepar").toFile
    val n = graft.sources.FrameSource.ParallelHeaderThreshold + 4
    for (k <- 1 to n)
      mkSpe(dir, f"s$k%03d.spe", 2, 1, 3, Seq(Array(k.toDouble, 0.0), Array(k.toDouble, 1.0)))
    val df = spark.read.format("spe").load(dir.getAbsolutePath)
    assert(df.count() == 2L * n)
    val sums = df.select(sum(element_at(col("pixels"), 1))).collect().head.getDouble(0)
    assert(sums == 2.0 * (1 to n).sum)
  }

  test("COUNT(*)/MIN/MAX(frame) push down to the header pass (agg row, no data read)") {
    val dir = java.nio.file.Files.createTempDirectory("speagg").toFile
    val frames = (0 until 9).map(i => Array.tabulate(4)(j => (i + j).toDouble))
    val p = mkSpe(dir, "agg.spe", 2, 2, 3, frames)
    val df = spark.read.format("spe").load(p)
    val cq = df.groupBy().count()
    assert(cq.queryExecution.executedPlan.toString.contains("agg_count"))
    assert(cq.collect()(0).getLong(0) == 9L)
    val mq = df.filter(col("frame") >= 3).agg(min(col("frame")), max(col("frame")))
    val mplan = mq.queryExecution.executedPlan.toString
    assert(mplan.contains("agg_min_frame") && mplan.contains("agg_max_frame"), mplan)
    val r = mq.collect()(0)
    assert(r.getLong(0) == 3L && r.getLong(1) == 8L)
    // row path unaffected for non-pushable shapes
    assert(df.groupBy(col("datatype")).count().collect()(0).getLong(1) == 9L)
  }
}
