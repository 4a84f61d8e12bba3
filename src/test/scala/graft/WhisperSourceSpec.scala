package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{WhisperCodec, WhisperWriter}
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}
import graft.meta.WhisperMeta
import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions, WhisperStreamPartition}

/**
 * Port of the reference test suite (`/root/reference/test_whisper_pandas.py`)
 * onto synthesized fixtures (the reference's large binary fixtures are
 * stripped from its clone), plus connector-specific coverage the reference
 * cannot have (pushdown, pruning, multi-file).
 *
 * Fixture `mini.wsp` mirrors the reference example file's 3-tier structure
 * (structure golden values at `test_whisper_pandas.py:19-40`), downscaled per
 * /root/repo/FIXTURES.md.
 */
class WhisperSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .appName("whisper-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir: Path = Files.createTempDirectory("whisper-fixtures")
  val mini: Path = dir.resolve("mini.wsp")
  val miniGz: Path = dir.resolve("mini.wsp.gz")
  val miniTrunc: Path = dir.resolve("mini_truncated.wsp")

  // FIXTURES.md golden structure: (spp, points, offset)
  // arch0 (10, 8640, 52), arch1 (60, 43200, 103732), arch2 (3600, 8760, 622132)
  val spec: FileSpec = FileSpec(
    aggregationMethod = "average",
    xFilesFactor = 0.5f,
    archives = Seq(
      ArchiveSpec(10, 8640, filled = 8640, lastTimestamp = 1600000000L, rotation = 4000),
      ArchiveSpec(60, 43200, filled = 23000, lastTimestamp = 1599999960L, rotation = 100),
      ArchiveSpec(3600, 8760, filled = 8000, lastTimestamp = 1599998400L, rotation = 0)
    )
  )
  val expectedSize = 727252L // 52 + (8640 + 43200 + 8760) * 12

  override def beforeAll(): Unit = {
    WhisperWriter.writeFile(mini, spec)
    WhisperWriter.writeFile(miniGz, spec)
    WhisperWriter.truncateCopy(mini, miniTrunc, 4096)
    (0 until 4).foreach { i =>
      WhisperWriter.writeFile(
        dir.resolve(s"multi/m$i.wsp"),
        FileSpec(archives = Seq(ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L + i * 10, rotation = 7)))
      )
    }
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    try spark.stop()
    finally super.afterAll()
  }

  private def read(path: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("whisper")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  // --- metadata (test_whisper_pandas.py:19-40) ---

  test("file meta golden values") {
    val m = WhisperMeta.read(mini.toString)
    assert(m.aggregationMethod == "average")
    assert(m.xFilesFactor == 0.5f)
    assert(m.headerSize == 52L)
    assert(m.maxRetention == 31536000L)
    assert(m.fileSizeExpected == expectedSize)
    assert(m.fileSizeActual == expectedSize)
    assert(!m.fileSizeMismatch)
    assert(m.archives.map(a => (a.secondsPerPoint, a.points, a.offset)) ==
      Seq((10L, 8640L, 52L), (60L, 43200L, 103732L), (3600L, 8760L, 622132L)))
    assert(m.archives.map(_.retention) == Seq(86400L, 2592000L, 31536000L))
    assert(m.archives.map(_.size) == Seq(103680L, 518400L, 105120L))
  }

  test("describe DataFrames") {
    val dm = WhisperMeta.describeMeta(spark, mini.toString).collect().head
    assert(dm.getAs[String]("aggregation_method") == "average")
    assert(dm.getAs[Boolean]("file_size_mismatch") == false)
    val da = WhisperMeta.describeArchives(spark, mini.toString).collect()
    assert(da.length == 3)
    assert(da.map(_.getAs[Long]("points")).toSeq == Seq(8640L, 43200L, 8760L))
  }

  // --- data reads (test_whisper_pandas.py:43-77) ---

  test("default read: schema, counts per archive") {
    val df = read(mini.toString)
    assert(df.schema.fieldNames.toSeq == Seq("file", "archive", "position", "timestamp", "value"))
    assert(df.schema("timestamp").dataType == TimestampType)
    assert(df.schema("value").dataType == DoubleType)
    val counts = df.groupBy("archive").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 8640L, 1 -> 23000L, 2 -> 8000L))
  }

  test("ring rotation: sorted output starts at rotation position") {
    // oldest point of archive 0 lives at physical position = rotation (4000);
    // newest at rotation-1 (3999) — cf. golden indices test_whisper_pandas.py:47-50
    val a0 = read(mini.toString).filter(col("archive") === 0).select("position", "timestamp", "value")
    import spark.implicits._
    val rows = a0.as[(Long, java.sql.Timestamp, Double)].collect()
    assert(rows.head._1 == 4000L)
    assert(rows.last._1 == 3999L)
    // monotonic non-decreasing timestamps (test_whisper_pandas.py:62-64)
    assert(rows.sliding(2).forall(p => !p(1)._2.before(p(0)._2)))
    // golden first/last timestamps
    assert(rows.head._2.toInstant.getEpochSecond == 1600000000L - 8639L * 10)
    assert(rows.last._2.toInstant.getEpochSecond == 1600000000L)
    // value precision to 1e-5 (test_whisper_pandas.py:52)
    assert(math.abs(rows.last._3 - math.sin(3999 / 10.0) * 100.0) < 1e-5)
  }

  test("archive 1: partial fill + rotation") {
    import spark.implicits._
    val rows = read(mini.toString).filter(col("archive") === 1)
      .select("position").as[Long].collect()
    assert(rows.length == 23000)
    assert(rows.head == 100L)
    assert(rows.last == (100L + 23000L - 1) % 43200L)
  }

  // --- option knobs (test_whisper_pandas.py:80-84) ---

  test("toDatetime=false, dtype=float") {
    val df = read(mini.toString, Map("toDatetime" -> "false", "dtype" -> "float"))
    assert(df.schema("timestamp").dataType == IntegerType)
    assert(df.schema("value").dataType == FloatType)
    val first = df.filter(col("archive") === 2).select("timestamp").head().getInt(0)
    assert(first == 1599998400 - 7999 * 3600)
  }

  test("dropTimeZero=false keeps unfilled slots") {
    val df = read(mini.toString, Map("dropTimeZero" -> "false"))
    val counts = df.groupBy("archive").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 8640L, 1 -> 43200L, 2 -> 8760L))
  }

  test("timeSort=false emits physical ring order") {
    import spark.implicits._
    val pos = read(mini.toString, Map("timeSort" -> "false"))
      .filter(col("archive") === 0).select("position").as[Long].collect()
    assert(pos.toSeq == (0L until 8640L))
  }

  // --- gzip (test_whisper_pandas.py:91-97) ---

  test("gzip: same data, decompressed size reported") {
    val m = WhisperMeta.read(miniGz.toString)
    assert(m.fileSizeActual == expectedSize) // decompressed, != on-disk
    assert(!m.fileSizeMismatch)
    val counts = read(miniGz.toString).groupBy("archive").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 8640L, 1 -> 23000L, 2 -> 8000L))
  }

  test("WhisperFile.read opens .gz header-only; meta streams the decompressed size on use") {
    def archive1(f: WhisperFile) = f.archive(1).toFrame().collect().toSeq
    val gz = WhisperFile.read(spark, miniGz.toString)
    val rows = archive1(gz)
    assert(rows.length == 23000)
    assert(rows == archive1(WhisperFile.read(spark, mini.toString)))
    assert(gz.meta.fileSizeActual == expectedSize) // decompressed, != on-disk
    assert(!gz.meta.fileSizeMismatch)
    // a .gz cut short after its header still opens: read never streams the body
    val cut = dir.resolve("mini_cut.wsp.gz")
    WhisperWriter.truncateCopy(miniGz, cut, (Files.size(miniGz) / 2).toInt)
    val cutFile = WhisperFile.read(spark, cut.toString)
    assert(cutFile.archives.map(_.meta.points) == Seq(8640L, 43200L, 8760L))
    intercept[java.io.EOFException](cutFile.meta)
  }

  // --- corruption (test_whisper_pandas.py:100-103) ---

  test("truncated file: headers parse, mismatch flagged, scan degrades cleanly") {
    val m = WhisperMeta.read(miniTrunc.toString)
    assert(m.archives.length == 3)
    assert(m.fileSizeActual == 4096L)
    assert(m.fileSizeMismatch)
    // only (4096 - 52) / 12 = 337 points of archive 0 exist on disk
    val df = read(miniTrunc.toString)
    assert(df.count() == 337L)
    assert(df.select("archive").distinct().head().getInt(0) == 0)
  }

  test("many small files bin-pack into shared partitions (r8)") {
    val many = dir.resolve("many200")
    (0 until 200).foreach { i =>
      WhisperWriter.writeFile(
        many.resolve(f"b$i%03d.wsp"),
        FileSpec(archives = Seq(
          ArchiveSpec(10, 120, filled = 120, lastTimestamp = 1600000000L + i * 10, rotation = 3))))
    }
    val binned = read(s"$many/*.wsp")
    val unbinned = read(s"$many/*.wsp", Map("binThreshold" -> "1000000"))
    // 200 units exceed the default threshold (128): packed into few tasks
    assert(binned.rdd.getNumPartitions < 20,
      s"expected bin-packed partitions, got ${binned.rdd.getNumPartitions}")
    assert(unbinned.rdd.getNumPartitions == 200)
    // identical content either way (order-insensitive)
    val cols = Seq("file", "archive", "position", "timestamp", "value")
    val a = binned.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val b = unbinned.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(a == b)
    assert(binned.count() == 200L * 120)
    // pushdown evaluates identically inside a bin
    val cut = to_timestamp(lit("2020-09-13 12:30:00"))
    assert(binned.filter(col("timestamp") >= cut).count() ==
      unbinned.filter(col("timestamp") >= cut).count())
  }

  test("file/archive constants follow each unit inside bin-packed partitions") {
    val tree = dir.resolve("consttree")
    val files = (0 until 12).map { i =>
      val path = tree.resolve(f"c$i%02d.wsp" + (if (i % 4 == 3) ".gz" else ""))
      WhisperWriter.writeFile(path, FileSpec(archives = (0 to i % 3).map { a =>
        ArchiveSpec(10L * (a + 1), 30L + 7 * i + a, filled = 20L + i, lastTimestamp = 1600000000L, rotation = i.toLong)
      }))
      path.getFileName.toString -> WhisperMeta.read(path.toString)
    }
    // dropTimeZero=false keeps every slot, so each (file, archive) count is its header's points
    val fromHeaders = files.flatMap { case (name, m) => m.archives.map(a => (name, a.index) -> a.points) }.toMap
    def name(file: String) = file.substring(file.lastIndexOf('/') + 1)
    val df = read(s"$tree/*", Map("binThreshold" -> "1", "dropTimeZero" -> "false"))
    assert(df.rdd.getNumPartitions < fromHeaders.size, "units were not bin-packed")
    val counts = df.groupBy("file", "archive").count().collect()
      .map(r => (name(r.getString(0)), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts == fromHeaders)
    assert(df.select("file").distinct().count() == files.size.toLong)
    // some task switches between units with different constants
    val unitsPerTask = df.select(spark_partition_id().as("pid"), col("file"), col("archive"))
      .distinct().groupBy("pid").count()
    assert(unitsPerTask.filter(col("count") > 1).count() > 0)
  }

  // --- pushdown & pruning (connector-specific) ---

  test("filter pushdown appears in plan and prunes partitions") {
    val df = read(mini.toString).filter(col("archive") === 1 && col("timestamp") >= to_timestamp(lit("2020-09-01 00:00:00")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WhisperScan"))
    assert(df.rdd.getNumPartitions >= 1)
    val cnt = df.count()
    val oracle = read(mini.toString).collect().count { r =>
      r.getInt(1) == 1 && !r.getTimestamp(3).before(java.sql.Timestamp.valueOf("2020-09-01 00:00:00"))
    }
    assert(cnt == oracle)
  }

  test("column pruning: value-only projection") {
    val df = read(mini.toString).select("value")
    assert(df.schema.fieldNames.toSeq == Seq("value"))
    assert(df.count() == 39640L)
  }

  // --- multi-file (scale path, no reference analogue) ---

  test("glob read unions files with file column") {
    val df = read(dir.resolve("multi").toString + "/*.wsp")
    assert(df.select("file").distinct().count() == 4L)
    assert(df.count() == 200L) // 4 files x 50 filled
  }


  test("batch scan reads columnar: ColumnarToRow in the plan") {
    val plan = read(mini.toString).queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected columnar path in:\n$plan")
  }

  test("streaming tail: first batch delivers history, next batch only new points") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.Trigger
    val swsp = dir.resolve("stream.wsp")
    val t0 = 1600000000L
    WhisperWriter.writeFile(swsp, FileSpec(archives = Seq(
      ArchiveSpec(10, 1000, filled = 500, lastTimestamp = t0, rotation = 0))))
    val ckpt = java.nio.file.Files.createTempDirectory("wsp-ckpt").toString

    val outDir = java.nio.file.Files.createTempDirectory("wsp-tail-out").toString
    def runBatch(now: Long): Long = {
      // parquet sink: the memory sink refuses checkpoint recovery; the frozen
      // "now" makes the window deterministic (production uses the wall clock)
      val q = spark.readStream.format("whisper")
        .option("streamNowOverride", now)
        .load(swsp.toString)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // micro-batches decode through the batch scan's columnar reader
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"), s"expected columnar micro-batch in:\n$plan")
      spark.read.parquet(outDir).count()
    }

    assert(runBatch(t0) == 500L) // all history in (0, t0]

    // append 100 newer points by rewriting the ring with a later lastTimestamp
    WhisperWriter.writeFile(swsp, FileSpec(archives = Seq(
      ArchiveSpec(10, 1000, filled = 600, lastTimestamp = t0 + 1000, rotation = 0))))
    val total = runBatch(t0 + 1000)
    // offsets resume from the checkpoint: only points in (lastOffset, now]
    // arrive, i.e. nothing is re-delivered; totals reflect exactly the file's
    // 600 filled slots (500 old + 100 new)
    assert(total == 600L, s"got $total")
  }

  test("gzip archive larger than one stream chunk decodes identically to plain") {
    // 1.5M points > the 1M-point gzip decode chunk: exercises multi-chunk
    // streaming (posBase advancement across chunk boundaries)
    val big = dir.resolve("big.wsp")
    val bigGz = dir.resolve("big.wsp.gz")
    val bigSpec = FileSpec(archives = Seq(
      ArchiveSpec(10, 1500000, filled = 1400000, lastTimestamp = 1600000000L, rotation = 123457)))
    WhisperWriter.writeFile(big, bigSpec)
    WhisperWriter.writeFile(bigGz, bigSpec)
    def fingerprint(path: String) = {
      val df = spark.read.format("whisper").load(path)
        .selectExpr("count(*) AS n", "bit_xor(xxhash64(position, timestamp, value)) AS h",
          "min(timestamp) AS lo", "max(timestamp) AS hi")
      df.collect().head
    }
    val (fp, fpGz) = (fingerprint(big.toString), fingerprint(bigGz.toString))
    assert(fp == fpGz)
    assert(fp.getLong(0) == 1400000L)
  }

  test("directory paths recurse into nested metric trees") {
    val tree = Files.createTempDirectory("whisper-tree")
    val sub = tree.resolve("servers/web01")
    Files.createDirectories(sub)
    val smallSpec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 7)))
    WhisperWriter.writeFile(tree.resolve("top.wsp"), smallSpec)
    WhisperWriter.writeFile(sub.resolve("cpu.wsp"), smallSpec)
    WhisperWriter.writeFile(sub.resolve("mem.wsp.gz"), smallSpec)
    WhisperWriter.writeFile(sub.resolve("ignored.txt"), smallSpec) // wrong suffix
    val files = spark.read.format("whisper").load(tree.toString)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Set("top.wsp", "cpu.wsp", "mem.wsp.gz"))
  }

  test("sort elision: global orderBy(timestamp) over one ordered archive drops Sort+Exchange") {
    // fresh session so GraftExtensions' query-stage-prep rule is installed
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4,2]")
        .appName("sort-elide-spec")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate() // shares the JVM's SparkContext, not the sessionState
      val single = dir.resolve("elide.wsp")
      WhisperWriter.writeFile(single, FileSpec(archives = Seq(
        ArchiveSpec(10, 5000, filled = 4000, lastTimestamp = 1600000000L, rotation = 777))))
      def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

      val ordered = s2.read.format("whisper").load(single.toString)
        .where("value >= 0.0").select("timestamp", "value").orderBy("timestamp")
      assert(!planOf(ordered).contains("Sort ["), "single-archive sort must be elided")
      assert(!planOf(ordered).contains("Exchange"), "range exchange must be elided")
      val ts = ordered.select("timestamp").collect().map(_.getTimestamp(0).getTime)
      assert(ts.length > 0 && ts.sameElements(ts.sorted), "elided result must still be sorted")

      // r10: an oversized archive split into rotation-ordered chunks elides
      // too — multiple tasks, no Sort, no Exchange, still globally sorted
      val chunked = s2.read.format("whisper")
        .option("maxPointsPerSplit", "1024")
        .load(single.toString)
        .select("timestamp", "value").orderBy("timestamp")
      assert(!planOf(chunked).contains("Sort ["), "chunked single-archive sort must be elided")
      assert(!planOf(chunked).contains("Exchange"), "chunked range exchange must be elided")
      assert(chunked.rdd.getNumPartitions > 1, "oversized archive must scan as multiple tasks")
      val cts = chunked.select("timestamp").collect().map(_.getTimestamp(0).getTime)
      assert(cts.length == 4000 && cts.sameElements(cts.sorted),
        "chunk-concatenation must be globally sorted")

      // guards: multi-archive scan, desc, and non-timestamp sorts keep their Sort
      val multi = s2.read.format("whisper").load(mini.toString).orderBy("timestamp")
      assert(planOf(multi).contains("Sort ["), "multi-archive scan keeps its sort")
      val desc = s2.read.format("whisper").load(single.toString)
        .orderBy(org.apache.spark.sql.functions.col("timestamp").desc)
      assert(planOf(desc).contains("Sort ["), "descending sort is kept")
      val byValue = s2.read.format("whisper").load(single.toString).orderBy("value")
      assert(planOf(byValue).contains("Sort ["), "non-timestamp sort is kept")
      // do NOT s2.stop(): it would stop the shared SparkContext
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("streaming tail bin-packs many small files per trigger (r8)") {
    import org.apache.spark.sql.streaming.Trigger
    // reuse the 200-file tree from the batch binning test (written there if
    // that test ran first; write idempotently here for isolation)
    val many = dir.resolve("many200")
    if (!java.nio.file.Files.exists(many.resolve("b000.wsp"))) {
      (0 until 200).foreach { i =>
        WhisperWriter.writeFile(
          many.resolve(f"b$i%03d.wsp"),
          FileSpec(archives = Seq(
            ArchiveSpec(10, 120, filled = 120, lastTimestamp = 1600000000L + i * 10, rotation = 3))))
      }
    }
    val ckpt = java.nio.file.Files.createTempDirectory("wsp-bin-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("wsp-bin-out").toString
    val q = spark.readStream.format("whisper")
      .option("streamNowOverride", 1600010000L)
      .load(s"$many/*.wsp")
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(outDir)
    assert(out.count() == 200L * 120)
    assert(out.select("file").distinct().count() == 200L)
  }

  test("micro-batch stream picks up files appearing after stream start") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val growing = Files.createTempDirectory("whisper-growing")
    val smallSpec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0)))
    WhisperWriter.writeFile(growing.resolve("a.wsp"), smallSpec)
    val opts = WhisperOptions(new CaseInsensitiveStringMap(new java.util.HashMap[String, String]()))
    val stream = new WhisperMicroBatchStream(
      Seq(growing.toString + "/*.wsp"), opts, Seq.empty, opts.schema, 0L)
    val n1 = stream.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)).length
    WhisperWriter.writeFile(growing.resolve("b.wsp"), smallSpec)
    // replaying the SAME batch window must be deterministic (the offset
    // contract; Spark re-evaluates one batch's partitions several times per
    // trigger) — the new file must NOT appear in the already-planned window
    val replay = stream.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)).length
    // ...it appears in the NEXT window, as at a real trigger
    val n2 = stream.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L)).length
    assert(n1 == 1 && replay == 1 && n2 == 2, s"got $n1 / $replay / $n2")
  }

  test("stream header cache invalidates when a file is recreated with a different layout") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // The per-stream header cache is keyed on (path, file length): whisper
    // file length is a create-time constant (point writes mutate slots in
    // place), so it changes exactly when the file is rewritten with a
    // different retention layout — the one event that makes cached archive
    // offsets stale (ADVICE r11). A resize mid-stream must yield the NEW
    // archive count on the next trigger, not decode garbage off old offsets.
    val tree = Files.createTempDirectory("whisper-resize")
    val f = tree.resolve("m.wsp")
    WhisperWriter.writeFile(f, FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0))))
    val opts = WhisperOptions(new CaseInsensitiveStringMap(new java.util.HashMap[String, String]()))
    val stream = new WhisperMicroBatchStream(
      Seq(tree.toString + "/*.wsp"), opts, Seq.empty, opts.schema, 0L)
    val n1 = stream.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)).length
    // in-place re-layout: 2 archives now — different length, different offsets
    WhisperWriter.writeFile(f, FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0),
      ArchiveSpec(60, 400, filled = 100, lastTimestamp = 1600000000L, rotation = 0))))
    val n2 = stream.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L)).length
    assert(n1 == 1 && n2 == 2,
      s"resized file must re-read its header (got $n1 then $n2 planned archive units)")
  }

  test("stream revalidation catches a SAME-LENGTH re-layout mid-stream (VERDICT r13 #1)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // A resize that preserves file length (same archive count, same point
    // count, different secondsPerPoint) evades the (path, len) cache key by
    // construction — before r14 the stream served the stale spp until
    // restart. With streamRevalidateTriggers=N, the N-th planned window
    // re-reads a rotated header sample, detects the divergence, and clears
    // the cache, so THIS trigger already plans with the fresh header.
    def mkStream(tree: java.nio.file.Path, revalidate: Int): WhisperMicroBatchStream = {
      val m = new java.util.HashMap[String, String]()
      m.put("streamRevalidateTriggers", revalidate.toString)
      m.put("binThreshold", "100000") // unit-per-archive so spp is readable
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      new WhisperMicroBatchStream(Seq(tree.toString + "/*.wsp"), opts, Seq.empty, opts.schema, 0L)
    }
    def plannedSpp(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Set[Long] =
      parts.collect { case p: WhisperStreamPartition => p.base.secondsPerPoint }.toSet
    val tree = Files.createTempDirectory("whisper-revalidate")
    for (i <- 0 until 6)
      WhisperWriter.writeFile(tree.resolve(s"m$i.wsp"), FileSpec(archives = Seq(
        ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0))))
    val guarded = mkStream(tree, revalidate = 2)
    val blind = mkStream(tree, revalidate = 0)
    // trigger 1 on both: caches fill with spp=10 headers
    assert(plannedSpp(guarded.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L))) == Set(10L))
    assert(plannedSpp(blind.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L))) == Set(10L))
    // same-length re-layout: spp 10 -> 20, identical byte size
    for (i <- 0 until 6)
      WhisperWriter.writeFile(tree.resolve(s"m$i.wsp"), FileSpec(archives = Seq(
        ArchiveSpec(20, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0))))
    // trigger 2 (a NEW window): the guarded stream's revalidation sweep
    // fires (window 2 % 2 == 0), discards the cache, and plans fresh;
    // the unguarded stream documents the old hole — stale spp served
    val g2 = plannedSpp(guarded.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L)))
    val b2 = plannedSpp(blind.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L)))
    assert(g2 == Set(20L), s"revalidation missed the same-length re-layout: planned spp $g2")
    assert(b2 == Set(10L), s"control without revalidation should have served the stale header, got $b2")
    // and the guarded stream keeps serving fresh headers afterwards
    val g3 = plannedSpp(guarded.planInputPartitions(WhisperOffset(1800000000L), WhisperOffset(1900000000L)))
    assert(g3 == Set(20L), s"post-revalidation trigger regressed to $g3")
  }

  test("file predicate prunes paths BEFORE the header read (r11)") {
    // a pushed file='...' must not cost one header I/O per tree entry: the
    // witness is a file whose header is GARBAGE — if planning still read
    // it, the scan would blow up; with path-level pruning it is never
    // opened, so the query succeeds and plans exactly the kept file
    val tree = Files.createTempDirectory("whisper-prefilter")
    val good = tree.resolve("good.wsp")
    WhisperWriter.writeFile(good, FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 60, lastTimestamp = 1600000000L, rotation = 3))))
    Files.write(tree.resolve("corrupt.wsp"),
      Array.fill[Byte](64)(0x7f)) // nonsense aggregation type: parseMeta throws
    // the native file column carries the EXPANDED (fs-qualified) path
    val goodQualified = graft.sources.whisper.WhisperIO
      .expandPatterns(Seq(tree.toString + "/*.wsp")).find(_.contains("good.wsp")).get
    val df = spark.read.format("whisper").load(tree.toString + "/*.wsp")
      .where(col("file") === goodQualified)
    assert(df.count() == 60L)
    assert(df.rdd.getNumPartitions == 1)
    // sanity: without the predicate the corrupt header IS read and rejected
    val all = spark.read.format("whisper").load(tree.toString + "/*.wsp")
    assertThrows[Throwable](all.count())
  }

  test("export CLI path: whisper tree -> one parquet dataset, full-fidelity round trip") {
    // Main.exportTree driven at the library level (Main.main builds and
    // stops its own session, which getOrCreate would alias to this one):
    // both output shapes must carry the identical point set and schema
    val tree = Files.createTempDirectory("whisper-export")
    for (i <- 0 until 5)
      WhisperWriter.writeFile(tree.resolve(s"m$i.wsp"), FileSpec(archives = Seq(
        ArchiveSpec(10, 200, filled = 150, lastTimestamp = 1600000000L, rotation = i * 7))))
    val src = spark.read.format("whisper").load(tree.toString)
    def fp(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("count(*) AS n", "bit_xor(xxhash64(file, archive, position, timestamp, value)) AS h")
      .head()
    val want = fp(src)
    for (target <- Seq(None, Some(2))) { // scan-mirrored AND range-compacted
      val out = Files.createTempDirectory("whisper-export-out").toString + "/pq"
      assert(Main.exportTree(spark, tree.toString, out, target) == 750L)
      val back = spark.read.parquet(out)
      assert(back.schema.fieldNames.toSet == src.schema.fieldNames.toSet)
      assert(fp(back) == want, s"round-trip fingerprint mismatch for target=$target")
      if (target == Some(2)) assert(back.rdd.getNumPartitions == 2)
    }
  }

  test("incremental export: base + watermark-resumed deltas == one full export (r12)") {
    // The round-trip identity that makes delta export trustworthy: windows
    // (-inf, w0], (w0, w1], (w1, inf) tile time, so appending each window to
    // the dataset reconstructs the full export exactly — same fingerprint.
    val tree = Files.createTempDirectory("whisper-export-inc")
    val w0 = 1600000000L - 600L // watermark cuts mid-history
    val w1 = 1600000000L - 200L
    for (i <- 0 until 4)
      WhisperWriter.writeFile(tree.resolve(s"m$i.wsp"), FileSpec(archives = Seq(
        ArchiveSpec(10, 200, filled = 150, lastTimestamp = 1600000000L, rotation = i * 3))))
    def fp(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("count(*) AS n", "bit_xor(xxhash64(file, archive, position, timestamp, value)) AS h")
      .head()
    val full = Files.createTempDirectory("whisper-export-full").toString + "/pq"
    assert(Main.exportTree(spark, tree.toString, full, Some(2)) == 600L)
    val want = fp(spark.read.parquet(full))

    val inc = Files.createTempDirectory("whisper-export-base").toString + "/pq"
    val nBase = Main.exportFull(spark, tree.toString, inc, Some(2), untilTs = w0)
    assert(Main.readWatermark(spark, inc).contains(w0))
    val nD1 = Main.exportDelta(spark, tree.toString, inc, Some(2), untilTs = w1)
    val nD2 = Main.exportDelta(spark, tree.toString, inc, Some(2), untilTs = 1600000001L)
    assert(Main.readWatermark(spark, inc).contains(1600000001L))
    assert(nBase + nD1 + nD2 == 600L, s"windows must tile: $nBase + $nD1 + $nD2")
    assert(nD1 > 0 && nD2 > 0, "watermarks chosen mid-history must yield non-empty deltas")
    assert(fp(spark.read.parquet(inc)) == want,
      "base + deltas fingerprint differs from the one-shot full export")
    // an empty delta (no new points) appends nothing and still advances
    assert(Main.exportDelta(spark, tree.toString, inc, Some(2), untilTs = 1600005000L) == 0L)
    assert(fp(spark.read.parquet(inc)) == want)
    // a window that has NOT advanced past the watermark (frequent-delta
    // cron with untilTs = now - slop) is a no-op, not an error, and leaves
    // the watermark where it was (ADVICE r12 write-behind margin)
    assert(Main.exportDelta(spark, tree.toString, inc, Some(2), untilTs = 1600004000L) == 0L)
    assert(Main.readWatermark(spark, inc).contains(1600005000L))
    assert(fp(spark.read.parquet(inc)) == want)
    // watermark publish is rename-based: rewriting over an existing
    // watermark (every delta does) must land the new value intact
    Main.writeWatermark(spark, inc, 1600006000L)
    assert(Main.readWatermark(spark, inc).contains(1600006000L))
  }

  test("exportDelta is exactly-once across every crash sliver of the staged protocol (VERDICT r12 #3)") {
    val tree = Files.createTempDirectory("whisper-export-eo")
    for (i <- 0 until 4)
      WhisperWriter.writeFile(tree.resolve(s"m$i.wsp"), FileSpec(archives = Seq(
        ArchiveSpec(10, 200, filled = 150, lastTimestamp = 1600000000L, rotation = i * 3))))
    def fp(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("count(*) AS n", "bit_xor(xxhash64(file, archive, position, timestamp, value)) AS h")
      .head()
    val full = Files.createTempDirectory("whisper-export-eo-full").toString + "/pq"
    assert(Main.exportTree(spark, tree.toString, full, Some(2)) == 600L)
    val want = fp(spark.read.parquet(full))
    def noDups(out: String): Unit = {
      val d = spark.read.parquet(out)
        .groupBy("file", "archive", "position", "timestamp")
        .count().filter(org.apache.spark.sql.functions.col("count") > 1).count()
      assert(d == 0L, s"$d duplicated (file,archive,position,timestamp) keys — not exactly-once")
    }
    val (w0, w1, w2, w3) = (1600000000L - 900L, 1600000000L - 600L, 1600000000L - 300L, 1600000001L)
    val out = Files.createTempDirectory("whisper-export-eo-inc").toString + "/pq"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Main.exportFull(spark, tree.toString, out, Some(2), untilTs = w0)

    // crash A: stage written, marker NOT yet written -> the orphan stage is
    // discarded and the window re-covered by the normal run (overwrite)
    Main.exportTree(spark, tree.toString, Main.stageDir(out, w1).toString, Some(2),
      sinceTs = w0, untilTs = w1)
    val nA = Main.exportDelta(spark, tree.toString, out, Some(2), untilTs = w1)
    assert(nA > 0 && Main.readWatermark(spark, out).contains(w1))
    noDups(out)

    // crash B: stage frozen AND marker written, merge never started -> the
    // next run completes the merge from the frozen stage without rescanning
    Main.exportTree(spark, tree.toString, Main.stageDir(out, w2).toString, Some(2),
      sinceTs = w1, untilTs = w2)
    Main.writeWatermarkStaged(spark, out, w1, w2)
    assert(Main.exportDelta(spark, tree.toString, out, Some(2), untilTs = w2) == 0L)
    assert(Main.readWatermark(spark, out).contains(w2))
    assert(!fs.exists(Main.stageDir(out, w2)), "recovered stage must be cleaned up")
    noDups(out)

    // crash C: marker written and merge HALF done -> recovery moves exactly
    // the remainder (unique part names; nothing moved twice)
    Main.exportTree(spark, tree.toString, Main.stageDir(out, w3).toString, Some(2),
      sinceTs = w2, untilTs = w3)
    Main.writeWatermarkStaged(spark, out, w2, w3)
    val parts = fs.listStatus(Main.stageDir(out, w3))
      .filter(s => !s.isDirectory && s.getPath.getName.startsWith("part-"))
    assert(parts.length >= 2, "need >= 2 part files to simulate a half-done merge")
    assert(fs.rename(parts.head.getPath,
      new org.apache.hadoop.fs.Path(out, parts.head.getPath.getName)))
    assert(Main.exportDelta(spark, tree.toString, out, Some(2), untilTs = w3) == 0L)
    assert(Main.readWatermark(spark, out).contains(w3))
    noDups(out)

    // every sliver recovered: the dataset equals the one-shot full export
    assert(fp(spark.read.parquet(out)) == want,
      "crash-recovered base + deltas fingerprint differs from the one-shot full export")

    // single-writer lock: a held lock fails fast with the cleanup recipe; a
    // released one lets the next run proceed; success releases it (r13)
    val lock = new org.apache.hadoop.fs.Path(out.stripSuffix("/") + "._graft_export_lock")
    val o = fs.create(lock, false); o.close()
    val ex = intercept[RuntimeException] {
      Main.exportDelta(spark, tree.toString, out, Some(2), untilTs = w3 + 100L)
    }
    assert(ex.getMessage.contains("export lock held"), ex.getMessage)
    assert(fp(spark.read.parquet(out)) == want, "a lock-refused run must not touch the dataset")
    fs.delete(lock, false)
    assert(Main.exportDelta(spark, tree.toString, out, Some(2), untilTs = w3 + 100L) == 0L)
    assert(!fs.exists(lock), "lock must release after a successful run")
  }

  test("export lock on a conditional-create store: acquire / contend / release (VERDICT r13 #3)") {
    // the capability-faking FS models S3A conditional writes (HADOOP-19256):
    // create(overwrite=false) of an existing object does NOT fail up front —
    // the If-None-Match PUT fails at close(), and the object on the store is
    // the WINNER's. The lock path must map that to "lock held" and must NOT
    // delete the winner's lock.
    spark.sparkContext.hadoopConfiguration.set("fs.condfs.impl", classOf[CondCreateFs].getName)
    val tree = Files.createTempDirectory("whisper-condlock")
    WhisperWriter.writeFile(tree.resolve("m.wsp"), FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0))))
    val out = "condfs:" + Files.createTempDirectory("whisper-condlock-out").toString + "/ds"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.hasPathCapability(new org.apache.hadoop.fs.Path(out), Main.ConditionalCreateCapability))
    val lock = new org.apache.hadoop.fs.Path(out.stripSuffix("/") + "._graft_export_lock")
    // ACQUIRE: a clean run takes and releases the lock, export succeeds
    assert(Main.exportFull(spark, tree.toString + "/*.wsp", out, None, untilTs = 1700000000L) == 50L)
    assert(!fs.exists(lock), "lock must release after a successful conditional-create run")
    // CONTEND: another writer's lock is on the store; our conditional PUT
    // loses at close -> "lock held", and the WINNER's lock file survives
    val winner = fs.create(lock, false)
    winner.write("""{"acquired_ts": 123}""".getBytes("UTF-8")); winner.close()
    val winnerLen = fs.getFileStatus(lock).getLen
    val ex = intercept[RuntimeException] {
      Main.exportDelta(spark, tree.toString + "/*.wsp", out, None, untilTs = 1800000000L)
    }
    assert(ex.getMessage.contains("export lock held"), ex.getMessage)
    assert(fs.exists(lock) && fs.getFileStatus(lock).getLen == winnerLen,
      "the loser must not delete or truncate the winner's lock")
    // RELEASE: the winner finishing (deleting its lock) unblocks the next run
    fs.delete(lock, false)
    assert(Main.exportDelta(spark, tree.toString + "/*.wsp", out, None, untilTs = 1800000000L) == 0L)
    assert(!fs.exists(lock))
  }

  test("export-delta with mtime pruning skips idle files at plan time (opt-in)") {
    val tree = Files.createTempDirectory("whisper-export-prune")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 80, lastTimestamp = 1600000000L, rotation = 0)))
    WhisperWriter.writeFile(tree.resolve("hot.wsp"), spec)  // mtime = now
    WhisperWriter.writeFile(tree.resolve("cold.wsp"), spec)
    Files.setLastModifiedTime(tree.resolve("cold.wsp"),
      java.nio.file.attribute.FileTime.from(java.time.Instant.ofEpochSecond(1000)))
    // floor above cold's mtime: only hot.wsp is planned at all
    val df = spark.read.format("whisper")
      .option("mtimeFloor", "2000").load(tree.toString + "/*.wsp")
    assert(df.select("file").distinct().count() == 1L)
    assert(df.count() == 80L)
    // floor off: both files
    assert(spark.read.format("whisper").load(tree.toString + "/*.wsp")
      .select("file").distinct().count() == 2L)
  }

  test("streaming tail prunes idle files at plan time (mtime + slop <= window start)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val tree = Files.createTempDirectory("whisper-idle")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0)))
    WhisperWriter.writeFile(tree.resolve("active.wsp"), spec)  // mtime = now
    WhisperWriter.writeFile(tree.resolve("idle.wsp"), spec)
    // idle since 1970: under the tail's write-behind model it cannot hold
    // points inside any modern window
    Files.setLastModifiedTime(tree.resolve("idle.wsp"),
      java.nio.file.attribute.FileTime.from(java.time.Instant.ofEpochSecond(1000)))
    def plan(extra: (String, String)*): Int = {
      val m = new java.util.HashMap[String, String]()
      extra.foreach { case (k, v) => m.put(k, v) }
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      new WhisperMicroBatchStream(Seq(tree.toString + "/*.wsp"), opts, Seq.empty, opts.schema, 0L)
        .planInputPartitions(WhisperOffset(1600000000L), WhisperOffset(1600010000L)).length
    }
    // pruning is OPT-IN (ADVICE r11): the default must scan everything —
    // the prune's write-behind/clock-skew assumptions are the user's to assert
    assert(plan() == 2, "default (-1) must not prune")
    assert(plan("streamMtimeSlop" -> "3600") == 1, "opted-in slop must prune the 1970-idle file")
    assert(plan("streamMtimeSlop" -> "-1") == 2, "slop -1 must disable pruning")
    // batch 0 (lo = 0) always plans everything: mtime + slop > 0
    val opts = WhisperOptions(new CaseInsensitiveStringMap(new java.util.HashMap[String, String]()))
    val all = new WhisperMicroBatchStream(
      Seq(tree.toString + "/*.wsp"), opts, Seq.empty, opts.schema, 0L)
      .planInputPartitions(WhisperOffset(0L), WhisperOffset(1600010000L)).length
    assert(all == 2, "the backfill batch must include idle history")
  }

  test("streaming tail under manifestListing: manifest-served plan, reconcile staleness, mtime degrade (r15)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperManifest, WhisperStreamMultiPartition}
    val tree = Files.createTempDirectory("whisper-stream-manifest")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0)))
    WhisperWriter.writeFile(tree.resolve("a.wsp"), spec)
    WhisperWriter.writeFile(tree.resolve("b.wsp"), spec)
    val manifest = tree.resolve("headers.jsonl").toString
    assert(WhisperManifest.write(Seq(tree.toString + "/*.wsp"), manifest) == 2L)
    def files(extra: (String, String)*): Set[String] = {
      val m = new java.util.HashMap[String, String]()
      m.put("headerManifest", manifest)
      m.put("manifestListing", "true")
      extra.foreach { case (k, v) => m.put(k, v) }
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      // fresh stream per plan: the window memo would otherwise hide changes
      new WhisperMicroBatchStream(Seq(tree.toString), opts, Seq.empty, opts.schema, 0L)
        .planInputPartitions(WhisperOffset(1600000000L), WhisperOffset(1600010000L))
        .toSeq.flatMap {
          case p: WhisperStreamPartition => Seq(p.base.filePath)
          case p: WhisperStreamMultiPartition => p.units.toSeq.map(_.filePath)
          case other => sys.error(s"unexpected partition $other")
        }.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    }
    // 1. the plan is served from the manifest (both files, no walk needed)
    assert(files() == Set("a.wsp", "b.wsp"))
    // 2. staleness — a NEW file joins the plan within the reconcile bound
    //    (its header is read fresh downstream; the manifest has none)
    WhisperWriter.writeFile(tree.resolve("c.wsp"), spec)
    assert(files() == Set("a.wsp", "b.wsp", "c.wsp"),
      "reconcile sweep must surface a post-manifest file on the next trigger")
    // 3. staleness — a DELETED file drops from the plan in the covered range
    Files.delete(tree.resolve("b.wsp"))
    assert(files() == Set("a.wsp", "c.wsp"),
      "reconcile sweep must drop a deleted file in its covered range")
    // 4. with reconcile OFF the manifest is trusted verbatim: c is invisible,
    //    deleted b stays planned (and scans as empty — the documented state)
    assert(files("manifestReconcileFiles" -> "0") == Set("a.wsp", "b.wsp"))
    // 5. mtime idle-pruning DEGRADES for manifest-served entries (mtime is
    //    unknown, -1): a naive mtime+slop<=lo filter would prune EVERYTHING
    //    served from the manifest; unknown must mean unprunable
    assert(files("manifestReconcileFiles" -> "0", "streamMtimeSlop" -> "3600")
      == Set("a.wsp", "b.wsp"),
      "manifest-served entries (no mtime) must not be idle-pruned")
  }

  test("stream revalidation tolerates a store-deleted manifest-listed file (r15 review fix)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.WhisperManifest
    // under manifestListing a deleted-but-listed file is a documented
    // steady state (plan + decode tolerate it as empty) — but the periodic
    // header revalidation re-reads CACHED metas raw, and the stream's
    // metaFor caches manifest-served metas too, so the rotating sample
    // eventually lands on the deleted file's key; pre-fix that crashed the
    // stream with FileNotFoundException on the revalidation trigger
    val tree = Files.createTempDirectory("whisper-stream-reval")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0)))
    WhisperWriter.writeFile(tree.resolve("a.wsp"), spec)
    WhisperWriter.writeFile(tree.resolve("b.wsp"), spec)
    val manifest = tree.resolve("headers.jsonl").toString
    assert(WhisperManifest.write(Seq(tree.toString + "/*.wsp"), manifest) == 2L)
    val m = new java.util.HashMap[String, String]()
    m.put("headerManifest", manifest)
    m.put("manifestListing", "true")
    m.put("manifestReconcileFiles", "0")  // deleted file STAYS planned (trusted manifest)
    m.put("streamRevalidateTriggers", "2") // fire on the second planned window
    val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
    val st = new WhisperMicroBatchStream(Seq(tree.toString), opts, Seq.empty, opts.schema, 0L)
    assert(st.planInputPartitions(WhisperOffset(1600000000L), WhisperOffset(1600001000L)).nonEmpty)
    Files.delete(tree.resolve("b.wsp"))
    // trigger 2: the revalidation sweep samples BOTH cached metas (k=8 >=
    // served) including the deleted one — it must neither throw nor void
    // the cache over a deletion
    val planned = st.planInputPartitions(WhisperOffset(1600001000L), WhisperOffset(1600002000L))
    assert(planned.nonEmpty, "revalidation trigger lost the plan")
  }

  test("sharded manifest: entries tile exactly; sharded streams plan disjoint covers (r15)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperManifest, WhisperStreamMultiPartition}
    val tree = Files.createTempDirectory("whisper-manifest-shards")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 100, filled = 50, lastTimestamp = 1600000000L, rotation = 0)))
    val names = (0 until 37).map(i => f"m$i%02d.wsp")
    names.foreach(n => WhisperWriter.writeFile(tree.resolve(n), spec))
    val base = tree.resolve("headers.jsonl.gz").toString
    val nShards = 4
    assert(WhisperManifest.write(Seq(tree.toString + "/*.wsp"), base, shards = nShards) == 37L)

    // tiling at the FILE level: the union of shard manifests is exactly the
    // unsharded manifest, shards are pairwise disjoint, and each entry sits
    // in the shard its path hash names (writer/consumer agreement)
    val shardMaps = (0 until nShards).map(i =>
      WhisperManifest.load(WhisperManifest.shardPath(base, i, nShards)))
    assert(shardMaps.map(_.size).sum == 37)
    val union = shardMaps.reduce(_ ++ _)
    assert(union.size == 37, "shard manifests overlap")
    union.keys.foreach { p =>
      val owner = WhisperManifest.shardOf(p, nShards)
      assert(shardMaps(owner).contains(p), s"$p not in its owning shard $owner")
    }
    assert(shardMaps.count(_.nonEmpty) > 1, "degenerate shard split (all in one)")

    // consumer side: n sharded manifestListing streams plan DISJOINT file
    // sets whose union is the whole tree — same harness as the batch scan,
    // through the streaming planner (the path that pays planning per trigger)
    def planned(shard: String): Set[String] = {
      val m = new java.util.HashMap[String, String]()
      m.put("headerManifest", base)
      m.put("manifestListing", "true")
      m.put("streamShard", shard)
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      new WhisperMicroBatchStream(Seq(tree.toString), opts, Seq.empty, opts.schema, 0L)
        .planInputPartitions(WhisperOffset(1600000000L), WhisperOffset(1600010000L))
        .toSeq.flatMap {
          case p: WhisperStreamPartition => Seq(p.base.filePath)
          case p: WhisperStreamMultiPartition => p.units.toSeq.map(_.filePath)
          case other => sys.error(s"unexpected partition $other")
        }.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    }
    val covers = (0 until nShards).map(i => planned(s"$i/$nShards"))
    assert(covers.map(_.size).sum == 37, s"shard covers overlap or drop: ${covers.map(_.size)}")
    assert(covers.reduce(_ ++ _) == names.toSet)

    // reconcile adds respect shard ownership: a post-manifest file joins
    // exactly ONE shard's plan (its hash owner), not all n
    WhisperWriter.writeFile(tree.resolve("zz_new.wsp"), spec)
    val after = (0 until nShards).map(i => planned(s"$i/$nShards"))
    val holders = after.zipWithIndex.filter(_._1.contains("zz_new.wsp")).map(_._2)
    val qualified = graft.sources.whisper.WhisperIO
      .expandPatterns(Seq(tree.toString + "/zz_new.wsp")).head
    assert(holders == Seq(WhisperManifest.shardOf(qualified, nShards)),
      s"reconcile-added file planned by shards $holders")
    assert(after.map(_.size).sum == 38)
  }
}
