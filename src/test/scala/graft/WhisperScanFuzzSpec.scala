package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{WhisperCodec, WhisperWriter}
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}

/**
 * Randomized end-to-end equivalence: the DSv2 `whisper` scan against a pure-JVM
 * reference read built from the codec primitives alone (`WhisperCodec.parseMeta`
 * + `streamPoints`). `WhisperCodecProps` already fuzzes writer->codec; this spec
 * closes the remaining gap (VERDICT r7 #6): codec->connector, across random
 * (archive count, sizes, rotation, fill, timestamp era, out-of-era residue,
 * truncation point, gzip) x (dropTimeZero, timeSort, toDatetime, dtype,
 * maxPointsPerSplit) configurations, including pushdown-vs-post-filter
 * equality and each partition's emission order.
 *
 * Determinism: one fixed seed; every generated config is reproducible and the
 * failure message prints it.
 */
class WhisperScanFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .appName("whisper-fuzz")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir: Path = Files.createTempDirectory("whisper-fuzz")

  override def afterAll(): Unit = {
    try spark.stop()
    finally super.afterAll()
  }

  private case class Cfg(
      spec: FileSpec,
      // (archive, slot, timestamp) patched over the written ring: stale
      // residue from older eras, or a duplicate of a live timestamp
      residue: Seq[(Int, Long, Long)],
      gz: Boolean,
      truncKeep: Option[Int], // uncompressed-only; keep >= header size
      dropTimeZero: Boolean,
      timeSort: Boolean,
      toDatetime: Boolean,
      dtype: String,
      maxPointsPerSplit: Long
  )

  private def genCfg(rnd: Random): Cfg = {
    val nArch = 1 + rnd.nextInt(4)
    // strictly increasing spp so retentions are sane (whisper convention)
    var spp = 1L + rnd.nextInt(20)
    val archives = (0 until nArch).map { _ =>
      spp *= (1 + rnd.nextInt(5))
      val points = 50L + rnd.nextInt(1500)
      val filled = rnd.nextInt(points.toInt + 1).toLong
      val rotation = rnd.nextInt(points.toInt).toLong
      // u32 seconds before 2^31, straddling it, or wholly past it (2038-01-19)
      val lastTs = rnd.nextInt(3) match {
        case 0 => 1500000000L + rnd.nextInt(400000000)
        case 1 => (1L << 31) + rnd.nextLong(spp * points)
        case _ => (1L << 31) + rnd.nextInt(2000000000)
      }
      ArchiveSpec(spp, points, filled, lastTs - lastTs % spp, rotation)
    }
    val spec = FileSpec(archives = archives)
    val residue = archives.zipWithIndex.flatMap { case (a, ai) =>
      if (rnd.nextInt(3) != 0) Nil
      else Seq.fill(1 + rnd.nextInt(3)) {
        val ts =
          if (rnd.nextBoolean() && a.filled > 0) a.lastTimestamp - rnd.nextLong(a.filled) * a.secondsPerPoint
          else {
            val older = a.lastTimestamp - a.retention * (1 + rnd.nextInt(3)) -
              rnd.nextLong(a.points) * a.secondsPerPoint
            if (older > 0) older else 1L + rnd.nextInt(1000)
          }
        (ai, rnd.nextLong(a.points), ts)
      }
    }
    val gz = rnd.nextInt(4) == 0
    val headerSize = (WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize * nArch).toLong
    val totalSize = headerSize + archives.map(_.points * WhisperCodec.PointSize).sum
    val trunc =
      if (!gz && rnd.nextInt(5) == 0)
        Some((headerSize + rnd.nextLong(totalSize - headerSize + 1)).toInt)
      else None
    val dropTimeZero = rnd.nextBoolean()
    val timeSort = rnd.nextBoolean()
    val toDatetime = rnd.nextBoolean()
    val dtype = if (rnd.nextBoolean()) "double" else "float"
    rnd.nextBoolean() // the draw of a retired config field: keeps the seeded configs unchanged
    Cfg(spec, residue, gz, trunc, dropTimeZero, timeSort, toDatetime, dtype,
      maxPointsPerSplit = if (rnd.nextBoolean()) 1L << 23 else 64L + rnd.nextInt(512))
  }

  /** The file's (uncompressed) bytes: the written rings, residue patched
   * in, truncated. */
  private def fileBytes(cfg: Cfg): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    WhisperWriter.write(bos, cfg.spec)
    val full = bos.toByteArray
    val bb = ByteBuffer.wrap(full)
    cfg.residue.foreach { case (ai, slot, ts) =>
      val offset = bb.getInt(WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize * ai)
      bb.putInt(offset + (slot * WhisperCodec.PointSize).toInt, ts.toInt)
    }
    cfg.truncKeep.fold(full)(full.take)
  }

  private def writeFile(cfg: Cfg, path: Path): Unit = {
    val out = Files.newOutputStream(path)
    val sink = if (cfg.gz) new GZIPOutputStream(out) else out
    try sink.write(fileBytes(cfg))
    finally sink.close()
  }

  /** (archive, position, rawTimestampSeconds, valueBitsAfterDtypeCast) */
  private def referenceRows(cfg: Cfg): Seq[(Int, Long, Long, Long)] = {
    val bytes = fileBytes(cfg)
    val meta = WhisperCodec.parseMeta(bytes, "mem", bytes.length.toLong)
    val out = Seq.newBuilder[(Int, Long, Long, Long)]
    meta.archives.foreach { a =>
      if (a.offset < bytes.length) {
        val in = new DataInputStream(
          new ByteArrayInputStream(bytes, a.offset.toInt, bytes.length - a.offset.toInt))
        WhisperCodec.streamPoints(in, a.points) { (pos, ts, v) =>
          if (!(cfg.dropTimeZero && ts == 0L)) {
            val bits =
              if (cfg.dtype == "float") java.lang.Float.floatToIntBits(v.toFloat).toLong
              else java.lang.Double.doubleToLongBits(v)
            out += ((a.index, pos, ts, bits))
          }
        }
      }
    }
    out.result()
  }

  /** The scan's rows, each partition's in emission order, keyed by
   * partition id. */
  private def scanPartitions(cfg: Cfg, path: Path): Seq[(Int, Seq[(Int, Long, Long, Long)])] = {
    val df = spark.read.format("whisper")
      .option("dropTimeZero", cfg.dropTimeZero.toString)
      .option("timeSort", cfg.timeSort.toString)
      .option("toDatetime", cfg.toDatetime.toString)
      .option("dtype", cfg.dtype)
      .option("maxPointsPerSplit", cfg.maxPointsPerSplit.toString)
      .load(path.toString)
    val rows = df.select(spark_partition_id(), col("*")).collect().toSeq.map { r =>
      val ts =
        if (cfg.toDatetime) r.getTimestamp(4).toInstant.getEpochSecond
        else r.getInt(4).toLong & 0xffffffffL
      val bits =
        if (cfg.dtype == "float") java.lang.Float.floatToIntBits(r.getFloat(5)).toLong
        else java.lang.Double.doubleToLongBits(r.getDouble(5))
      r.getInt(0) -> (r.getInt(2), r.getLong(3), ts, bits)
    }
    rows.map(_._1).distinct.map(p => p -> rows.collect { case (`p`, row) => row })
  }

  /** Number of descents in one archive's kept timestamps, in ring order. */
  private def descents(rows: Seq[(Int, Long, Long, Long)]): Int =
    rows.sliding(2).count(p => p.size == 2 && p(1)._3 < p(0)._3)

  test("fuzz: bin-packed multi-file trees == per-unit partitions, 6 random forests") {
    val rnd = new Random(8148L)
    (1 to 6).foreach { i =>
      val nFiles = 50 + rnd.nextInt(250)
      val forest = dir.resolve(s"forest$i")
      (0 until nFiles).foreach { f =>
        val spp = 5L + rnd.nextInt(60)
        val points = 40L + rnd.nextInt(300)
        val spec = FileSpec(archives = Seq(ArchiveSpec(
          spp, points,
          filled = rnd.nextInt(points.toInt + 1).toLong,
          lastTimestamp = 1600000000L + rnd.nextInt(100000),
          rotation = rnd.nextInt(points.toInt).toLong)))
        WhisperWriter.writeFile(
          forest.resolve(f"t$f%04d.wsp" + (if (rnd.nextInt(6) == 0) ".gz" else "")), spec)
      }
      def readAll(binThreshold: String) = spark.read.format("whisper")
        .option("binThreshold", binThreshold)
        .option("dropTimeZero", "true")
        .load(s"$forest/*")
      val binned = readAll("16")
      val unbinned = readAll("1000000")
      val ctx = s"forest #$i ($nFiles files)"
      assert(binned.rdd.getNumPartitions < unbinned.rdd.getNumPartitions, s"$ctx did not bin")
      val cols = Seq("file", "archive", "position", "timestamp", "value")
      val a = binned.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val b = unbinned.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$ctx binned content diverges")
    }
  }

  test("fuzz: streaming tail cumulative output == batch scan, 4 random forests x random bins (r9)") {
    // The batch side of bin-packing is fuzzed above; this closes the
    // remaining corner (VERDICT r8 #7): the micro-batch tail runs the SAME
    // WhisperPlanning.binPack per trigger, so a multi-trigger replay over a
    // randomized (binThreshold, maxPointsPerSplit, file count, gz mix)
    // forest must deliver, cumulatively, exactly the batch scan's rows —
    // no loss or duplication at bin boundaries or micro-batch window cuts.
    import org.apache.spark.sql.streaming.Trigger
    val rnd = new Random(90914L)
    (1 to 4).foreach { i =>
      val nFiles = 30 + rnd.nextInt(90)
      val forest = dir.resolve(s"sforest$i")
      var minTs = Long.MaxValue
      var maxTs = 0L
      (0 until nFiles).foreach { f =>
        val spp = 5L + rnd.nextInt(50)
        val points = 40L + rnd.nextInt(250)
        val filled = rnd.nextInt(points.toInt + 1).toLong
        val last = 1600000000L + rnd.nextInt(100000)
        minTs = math.min(minTs, last - spp * points)
        maxTs = math.max(maxTs, last)
        WhisperWriter.writeFile(
          forest.resolve(f"s$f%04d.wsp" + (if (rnd.nextInt(6) == 0) ".gz" else "")),
          FileSpec(archives = Seq(ArchiveSpec(
            spp, points, filled, last, rotation = rnd.nextInt(points.toInt).toLong))))
      }
      val binThreshold = (8 + rnd.nextInt(64)).toString
      val mpps = (64L + rnd.nextInt(4096)).toString
      val optMap = Map(
        "dropTimeZero" -> "true", "binThreshold" -> binThreshold,
        "maxPointsPerSplit" -> mpps)
      val cols = Seq("file", "archive", "position", "timestamp", "value")
      val batch = spark.read.format("whisper").options(optMap).load(s"$forest/*")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

      // three AvailableNow triggers at random window cuts (last cut past max)
      val cut1 = minTs + rnd.nextLong(math.max(maxTs - minTs, 1L))
      val cut2 = cut1 + rnd.nextLong(math.max(maxTs - cut1, 1L)) + 1
      val ckpt = Files.createTempDirectory(s"sfuzz-ckpt$i").toString
      val out = Files.createTempDirectory(s"sfuzz-out$i").toString
      Seq(cut1, cut2, maxTs + 1).foreach { now =>
        val q = spark.readStream.format("whisper").options(optMap)
          .option("streamNowOverride", now.toString)
          .load(s"$forest/*")
          .writeStream.outputMode("append").format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
      val streamed = spark.read.parquet(out)
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"forest #$i ($nFiles files, bin=$binThreshold mpps=$mpps cuts=($cut1,$cut2)): " +
          s"streamed ${streamed.size} rows != batch ${batch.size}")
    }
  }

  test("fuzz: ordered chunking — oversized timeSort archives split into multiple ordered partitions (r10)") {
    // 12 random dense rings (the whisper write model: one contiguous filled
    // run, possibly wrapped, zeros elsewhere), each forced to chunk by a
    // small maxPointsPerSplit. Properties: (1) the scan actually plans more
    // partitions than archives (no straggler), (2) content is identical to
    // the unchunked scan, (3) the per-archive partition concatenation stays
    // globally time-sorted — the rotation probe must emit the oldest run
    // first, with truncation (EOF-as-zeros) and empty rings degrading
    // gracefully.
    val rnd = new Random(101010L)
    (1 to 12).foreach { i =>
      val points = 2000L + rnd.nextInt(6000)
      val spp = 1L + rnd.nextInt(30)
      // dense-ish fill so the probe anchor always survives truncation (an
      // all-zero or fully-truncated ring legitimately falls back to a single
      // partition and is covered by the 24-config fuzz below)
      val filled = 3 * points / 4 + rnd.nextInt((points / 4).toInt + 1)
      val rotation = rnd.nextInt(points.toInt).toLong
      val lastTs = 1500000000L + rnd.nextInt(400000000)
      val spec = FileSpec(archives = Seq(
        ArchiveSpec(spp, points, filled, lastTs - lastTs % spp, rotation)))
      val path = dir.resolve(s"ord$i.wsp")
      if (rnd.nextInt(3) == 0) {
        val tmp = dir.resolve(s"ord${i}_full.wsp")
        WhisperWriter.writeFile(tmp, spec)
        val headerSize = WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize
        val total = headerSize + points * WhisperCodec.PointSize
        val keepMin = headerSize + (points / 2) * WhisperCodec.PointSize
        WhisperWriter.truncateCopy(tmp, path,
          (keepMin + rnd.nextLong(total - keepMin + 1)).toInt)
        Files.delete(tmp)
      } else WhisperWriter.writeFile(path, spec)

      val mpps = 256L + rnd.nextInt(1024)
      def read(maxSplit: Long) = spark.read.format("whisper")
        .option("dropTimeZero", "true").option("toDatetime", "false")
        .option("maxPointsPerSplit", maxSplit.toString)
        .load(path.toString)
      val chunked = read(mpps)
      val whole = read(1L << 23)
      val ctx = s"ring #$i (points=$points spp=$spp filled=$filled rot=$rotation mpps=$mpps)"
      assert(chunked.rdd.getNumPartitions > 1, s"$ctx did not split")
      assert(whole.rdd.getNumPartitions == 1, s"$ctx unchunked control split")
      val a = chunked.collect().map(r => (r.getLong(2), r.getInt(3), r.getDouble(4)))
      val b = whole.collect().map(r => (r.getLong(2), r.getInt(3), r.getDouble(4)))
      assert(a.sortBy(_._1) sameElements b.sortBy(_._1), s"$ctx chunked content diverges")
      // partition-concatenation order (collect preserves partition index
      // order, and each chunk its emission order)
      val ts = a.map(_._2)
      assert(ts.indices.forall(j => j == 0 || ts(j - 1) <= ts(j)),
        s"$ctx chunk concatenation not time-sorted")
    }
  }

  test("ordered chunking: pathological out-of-era ring fails loudly under elision, reads fine otherwise (r10)") {
    // A ring with stale multi-era residue is NOT a rotated sorted array; the
    // plan-time probe only samples, so the sort elision must convert its
    // ordering claim into a runtime-checked one. Build an unrotated dense
    // ring, then patch one mid-ring slot two eras back (valid grid value, so
    // only the window check can see it).
    val points = 16384L
    val spp = 10L
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(spp, points, filled = points, lastTimestamp = 1600000000L, rotation = 0)))
    val path = dir.resolve("patho.wsp")
    WhisperWriter.writeFile(path, spec)
    val headerSize = (WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize).toLong
    val raf = new java.io.RandomAccessFile(path.toFile, "rw")
    try {
      val slot = 5000L
      raf.seek(headerSize + slot * WhisperCodec.PointSize)
      val origTs = raf.readInt().toLong & 0xffffffffL
      raf.seek(headerSize + slot * WhisperCodec.PointSize)
      raf.writeInt((origTs - 2L * spp * points).toInt)
    } finally raf.close()

    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder().master("local[4,2]")
        .appName("ordered-chunk-patho")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      def read(extra: (String, String)*) = {
        val base = s2.read.format("whisper")
          .option("dropTimeZero", "true")
          .option("maxPointsPerSplit", "2048")
        extra.foldLeft(base)((r, kv) => r.option(kv._1, kv._2)).load(path.toString)
      }
      // without a global sort: chunks are each internally sorted; the stale
      // value is just data — full content, no error
      assert(read().count() == points)
      // with the elided global sort: the window enforcement must trip
      val ex = intercept[org.apache.spark.SparkException] {
        read().orderBy("timestamp").collect()
      }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last).getMessage
      assert(rootMsg(ex).contains("dense-rotation invariant"), s"unexpected: ${rootMsg(ex)}")
      // the named escape hatch: one ordered partition, real full sort result
      val hatch = read("orderedSplit" -> "false").orderBy("timestamp")
      assert(hatch.rdd.getNumPartitions == 1)
      val hts = hatch.select("timestamp").collect().map(_.getTimestamp(0).getTime)
      assert(hts.length == points && (hts sameElements hts.sorted))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("INT timestamps across 2^31: orderBy and sortWithinPartitions sort signed") {
    // toDatetime=false holds the u32 seconds as a signed int, so seconds past
    // 2^31 read as negative and the ring's chronological emission order is
    // not the column's order. The scan must not claim timestamp order there,
    // or Spark drops the sort and returns unsigned order.
    val path = dir.resolve("straddle.wsp")
    WhisperWriter.writeFile(path, FileSpec(archives = Seq(
      ArchiveSpec(1, 4000, filled = 4000, lastTimestamp = (1L << 31) + 500, rotation = 1234))))
    Seq(1L << 23, 512L).foreach { mpps =>
      val df = spark.read.format("whisper")
        .option("toDatetime", "false").option("maxPointsPerSplit", mpps.toString)
        .load(path.toString).select("timestamp")
      val ctx = s"maxPointsPerSplit=$mpps"
      val want = df.collect().map(_.getInt(0)).sorted.toSeq
      assert(want.head < 0 && want.last > 0, s"$ctx ring does not straddle 2^31")
      def check(what: String, got: Seq[Int], expected: Seq[Int]): Unit =
        if (got != expected)
          fail(s"$ctx $what starts ${got.take(3)}, signed order starts ${expected.take(3)}")
      check("orderBy", df.orderBy("timestamp").collect().map(_.getInt(0)).toSeq, want)
      val perPartition = df.sortWithinPartitions("timestamp")
        .select(spark_partition_id(), col("timestamp")).collect()
        .groupBy(_.getInt(0)).values.map(_.map(_.getInt(1)).toSeq).toSeq
      perPartition.foreach(ts => check("sortWithinPartitions", ts, ts.sorted))
      check("sortWithinPartitions content", perPartition.flatten.sorted, want)
    }
  }

  test("fuzz: DSv2 scan == pure-JVM codec read across 24 random configs") {
    val rnd = new Random(20260814L)
    var past2038 = 0
    var unsorted = 0
    (1 to 24).foreach { i =>
      val cfg = genCfg(rnd)
      val path = dir.resolve(s"fuzz$i.wsp" + (if (cfg.gz) ".gz" else ""))
      writeFile(cfg, path)
      val expected = referenceRows(cfg)
      val partitions = scanPartitions(cfg, path)
      val actual = partitions.flatMap(_._2)
      val ctx = s"config #$i: $cfg"
      assert(actual.size == expected.size, s"$ctx row count ${actual.size} != ${expected.size}")
      assert(actual.sorted == expected.sorted, s"$ctx content mismatch")
      if (expected.exists(_._3 >= (1L << 31))) past2038 += 1
      if (expected.groupBy(_._1).values.exists(descents(_) > 1)) unsorted += 1

      // emission order: each partition (one archive, or one chunk of it) in
      // ring order, or with timeSort a stable sort of that by UNSIGNED
      // timestamp
      partitions.foreach { case (pid, rows) =>
        val ringOrder = rows.sortBy(r => (r._1, r._2))
        val want = if (cfg.timeSort) ringOrder.sortBy(_._3) else ringOrder
        assert(rows == want, s"$ctx partition $pid emission order")
      }

      // timeSort contract: within an archive (one scan partition, so collect
      // preserves its emission order) timestamps are non-decreasing once
      // never-filled slots are dropped; out-of-era residue voids it across
      // an archive's ordered chunks
      if (cfg.timeSort && cfg.dropTimeZero && cfg.residue.isEmpty) {
        actual.groupBy(_._1).foreach { case (a, rows) =>
          assert(rows.sliding(2).forall(p => p.size < 2 || p(0)._3 <= p(1)._3),
            s"$ctx archive $a not time-sorted")
        }
      }

      // pushdown equality: a timestamp range + archive equality predicate
      // evaluated by the connector's pushdown must match the same predicate
      // applied to the reference rows
      if (expected.nonEmpty) {
        val tsCut = expected(rnd.nextInt(expected.size))._3
        val arch = expected(rnd.nextInt(expected.size))._1
        val df = spark.read.format("whisper")
          .option("dropTimeZero", cfg.dropTimeZero.toString)
          .option("toDatetime", cfg.toDatetime.toString)
          .option("timeSort", cfg.timeSort.toString)
          .option("dtype", cfg.dtype)
          .option("maxPointsPerSplit", cfg.maxPointsPerSplit.toString)
          .load(path.toString)
        val filtered =
          if (cfg.toDatetime)
            df.filter(col("archive") === arch &&
              col("timestamp") >= timestamp_seconds(lit(tsCut)))
          else
            df.filter(col("archive") === arch && col("timestamp") >= lit(tsCut.toInt))
        val got = filtered.count()
        // an INT timestamp column holds the u32 seconds as a signed int
        val want = expected.count(r => r._1 == arch &&
          (if (cfg.toDatetime) r._3 >= tsCut else r._3.toInt >= tsCut.toInt)).toLong
        assert(got == want, s"$ctx pushdown count $got != $want (arch=$arch tsCut=$tsCut)")
      }
    }
    assert(past2038 > 0 && unsorted > 0,
      s"generator coverage: $past2038 configs with timestamps >= 2^31, $unsorted with a multi-descent ring")
  }
}
