package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.WhisperFile
import graft.format.WhisperWriter
import graft.sources.whisper.WhisperManifest

/** What one operation returned to the benchmark. `work` counts the units
 * `work_per_s` is measured in (points, or one per query). */
final case class Outcome(ok: Boolean, work: Long, note: String = "")

/** One timed operation. `primary` operations feed the latency metrics. */
final case class Op(label: String, primary: Boolean, run: () => Outcome)

/** Shared by the workloads: the session, the tracer, and the one way an
 * operation reads a result (every column, through its own plan). */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val corpus: Path,
    val oracle: Path,
    val perturb: Boolean) {
  /** Final plan of the last frame an operation read, for the plan layer. */
  var lastFrame: Option[DataFrame] = None

  /** A perturbed expectation, for the gate's negative test. */
  def expect(d: Digest): Digest = if (perturb) d.copy(sum = d.sum ^ 1L) else d

  /** Loads through `load`, forces planning, materializes and digests every
   * column, and compares with `expected`. */
  def frame(expected: Digest, order: OrderCheck = OrderCheck.None, work: Long => Long = _ => 1L)(
      load: => DataFrame): Outcome = {
    val df = tracer.span("load")(load)
    val projected = tracer.span("plan") {
      val p = Checksum.project(df, order)
      p.queryExecution.executedPlan
      p
    }
    val got = tracer.span("execute")(Checksum.collect(projected, order))
    lastFrame = Some(projected)
    tracer.span("check") {
      val want = expect(expected)
      if (got.digest != want) Outcome(false, 0L, s"digest ${got.digest} != expected $want")
      else if (!got.ordered) Outcome(false, 0L, s"rows out of order ($order)")
      else Outcome(true, work(got.digest.rows))
    }
  }
}

trait Workload {
  def name: String
  /** Writes the workload's inputs through the program; timed as set-up. */
  def synthesize(ctx: Ctx, dir: Path): Unit
  /** Derives the expected results; benchmark work, not timed. */
  def expectations(ctx: Ctx, dir: Path): Unit
  /** One pass over the workload's operations. */
  def pass(ctx: Ctx, dir: Path): Seq[Op]
  /** Untimed passes before the timed ones: as many as it takes the JIT to
   * bring a pass within ~10% of a warm one. */
  def warmPasses: Int = 1
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "whisper" => WhisperWorkload
    case "corpus-ops" => CorpusOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Every Whisper path in one pass: the reference-shape reads, whose walls
 * are the latency samples, then the tree's operations. The tree's short,
 * listing- and scheduling-bound operations spread run to run several times
 * more than the reads, so they count in `pass_s` and in the traced layers
 * but not in the latency samples. */
object WhisperWorkload extends Workload {
  val name = "whisper"
  private val parts = Seq(WhisperScanWorkload, WhisperTreeWorkload)
  def synthesize(ctx: Ctx, dir: Path): Unit = parts.foreach(_.synthesize(ctx, dir))
  def expectations(ctx: Ctx, dir: Path): Unit = parts.foreach(_.expectations(ctx, dir))
  def pass(ctx: Ctx, dir: Path): Seq[Op] = parts.flatMap(_.pass(ctx, dir))
}

/** The reference-shape file and its .wsp.gz twin, read through the
 * reference's `to_frame` knobs. */
object WhisperScanWorkload extends Workload {
  val name = "whisper-scan"
  private var expected = Map.empty[(String, String), Digest]

  private def spec(ctx: Ctx) = Fixtures.referenceShape(new Random(ctx.seed))
  private def files(dir: Path) = Seq("wsp" -> dir.resolve("ref.wsp"), "gz" -> dir.resolve("ref.wsp.gz"))

  def synthesize(ctx: Ctx, dir: Path): Unit = {
    val wsp = dir.resolve("ref.wsp")
    WhisperWriter.writeFile(wsp, spec(ctx))
    require(Files.size(wsp) == Fixtures.ReferenceBytes, "reference-shape size")
    Fixtures.gzip(wsp, dir.resolve("ref.wsp.gz"))
  }

  def expectations(ctx: Ctx, dir: Path): Unit = {
    val s = spec(ctx)
    def whole(p: Path, asFloat: Boolean, pts: => Iterator[Fixtures.Pt]) = {
      val f = UTF8String.fromString(Fixtures.fileColumn(p))
      Checksum.ofRows(Fixtures.frameSchema(if (asFloat) FloatType else DoubleType),
        pts.map(Fixtures.frameRow(f, _, asFloat, micros = true)))
    }
    val wsp = dir.resolve("ref.wsp")
    val jobs: Seq[((String, String), () => Digest)] = Seq(
      ("wsp", "default") -> (() => whole(wsp, asFloat = false, Fixtures.filled(s))),
      ("wsp", "float") -> (() => whole(wsp, asFloat = true, Fixtures.filled(s))),
      ("wsp", "raw") -> (() => whole(wsp, asFloat = false, Fixtures.slots(s))),
      ("wsp", "archive1") -> (() => Checksum.ofRows(Fixtures.ArchiveSchema,
        Fixtures.filled(s).filter(_.archive == 1).map(Fixtures.archiveRow))),
      ("gz", "default") -> (() => whole(dir.resolve("ref.wsp.gz"), asFloat = false, Fixtures.filled(s))))
    expected = Fixtures.inParallel(jobs.map(_._2)).zip(jobs.map(_._1)).map(_.swap).toMap
  }

  /** The .wsp through all four knobs; the .gz twin, whose single gzip
   * stream decodes in one task, through the default knob only, to keep a
   * pass short. */
  def pass(ctx: Ctx, dir: Path): Seq[Op] = files(dir).flatMap { case (kind, p) =>
    val path = p.toString
    val perRun = OrderCheck.PerRun(Seq("file", "archive"), "timestamp")
    def read(knob: String, order: OrderCheck)(df: WhisperFile => DataFrame) =
      Op(s"$kind-$knob", primary = true, () =>
        ctx.frame(expected((kind, knob)), order, rows => rows)(df(WhisperFile.read(ctx.spark, path))))
    val default = read("default", perRun)(_.toFrame())
    if (kind == "gz") Seq(default)
    else Seq(default,
      read("float", perRun)(_.toFrame(dtype = "float")),
      read("raw", OrderCheck.None)(_.toFrame(timeSort = false, dropTimeZero = false)),
      read("archive1", OrderCheck.Global("timestamp"))(_.archive(1).toFrame().orderBy("timestamp")))
  }
}

/** A Graphite-like tree of small files: a glob load with a pushed
 * time-window aggregate, the same query served from a header manifest,
 * the manifest write, and the export to parquet with its read-back. */
object WhisperTreeWorkload extends Workload {
  val name = "whisper-tree"
  val TreeFiles = 600
  private var specs = Seq.empty[(String, WhisperWriter.FileSpec)]
  private var windows = Seq.empty[(Long, Long, Digest)]
  private var exportDigest = Digest.Empty

  def synthesize(ctx: Ctx, dir: Path): Unit = {
    specs = Fixtures.tree(new Random(ctx.seed), TreeFiles)
    specs.foreach { case (rel, s) => WhisperWriter.writeFile(dir.resolve("tree").resolve(rel), s) }
  }

  private val AggSchema = StructType.fromDDL(
    "archive INT, n BIGINT, ts_sum BIGINT, pos_sum BIGINT, v_sum BIGINT")

  private def windowed(df: DataFrame, lo: Long, hi: Long): DataFrame =
    df.filter(col("timestamp") > timestamp_seconds(lit(lo)) && col("timestamp") <= timestamp_seconds(lit(hi)))
      .groupBy("archive")
      .agg(count(lit(1)).as("n"), sum(unix_seconds(col("timestamp"))).as("ts_sum"),
        sum(col("position")).as("pos_sum"), sum((col("value") * 1e6).cast("long")).as("v_sum"))

  def expectations(ctx: Ctx, dir: Path): Unit = {
    val rng = new Random(ctx.seed ^ 0x5eedL)
    val pts = specs.flatMap { case (_, s) => Fixtures.filled(s).map(p => (p.archive, p.ts, p.position, p.value)) }
    windows = (0 until 2).map { _ =>
      val lo = 1700000000L - 86400L - rng.nextInt(3 * 86400)
      val hi = lo + 86400L + rng.nextInt(86400)
      val rows = pts.filter(p => p._2 > lo && p._2 <= hi).groupBy(_._1).toSeq.map { case (a, ps) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
          a, ps.size.toLong, ps.map(_._2).sum, ps.map(_._3).sum, ps.map(p => (p._4 * 1e6).toLong).sum))
      }
      (lo, hi, Checksum.ofRows(AggSchema, rows.iterator))
    }
    val root = dir.resolve("tree")
    exportDigest = Checksum.ofRows(Fixtures.frameSchema(DoubleType),
      specs.iterator.flatMap { case (rel, s) =>
        val f = UTF8String.fromString(Fixtures.fileColumn(root.resolve(rel)))
        Fixtures.filled(s).map(Fixtures.frameRow(f, _, asFloat = false, micros = true))
      })
  }

  def pass(ctx: Ctx, dir: Path): Seq[Op] = {
    val root = dir.resolve("tree").toString
    val manifest = dir.resolve("tree.manifest.jsonl.gz").toString
    val out = dir.resolve("export").toString
    def query(label: String, w: (Long, Long, Digest), withManifest: Boolean) =
      Op(label, primary = false, () => ctx.frame(w._3) {
        val r = ctx.spark.read.format("whisper")
        windowed((if (withManifest) r.option("headerManifest", manifest) else r).load(s"$root/*"), w._1, w._2)
      })
    val queries = windows.indices.flatMap(i => Seq(
      query(s"glob-window-$i", windows(i), withManifest = false),
      query(s"manifest-window-$i", windows(i), withManifest = true)))
    Seq(
      Op("manifest-write", primary = false, () => {
        val n = ctx.tracer.span("manifest-write")(WhisperManifest.write(Seq(root), manifest))
        if (n == TreeFiles) Outcome(true, 0L) else Outcome(false, 0L, s"manifest has $n entries, want $TreeFiles")
      })) ++ queries ++ Seq(
      Op("export", primary = false, () => {
        val n = ctx.tracer.span("write")(
          graft.Main.exportFull(ctx.spark, root, out, None, untilTs = System.currentTimeMillis() / 1000L))
        val back = ctx.tracer.span("readback")(
          ctx.frame(exportDigest, work = rows => rows)(ctx.spark.read.parquet(out)))
        if (n != exportDigest.rows) Outcome(false, 0L, s"export wrote $n points, want ${exportDigest.rows}")
        else back
      }))
  }
}

/** A fixed mix of library queries over the seeded corpus, run in a seeded
 * order: heavy lineages, one or more queries of every operator module, and
 * two streaming replays (documents through the micro-batch engine, the
 * Whisper tail through the streaming source). Expected digests come from
 * DuckDB running each query's oracle SQL on the same tables, before the
 * timed region. */
object CorpusOps extends Workload {
  val name = "corpus-ops"
  // after one, the next pass of the mix still took up to twice a warm one
  override val warmPasses = 2
  val Heavy = Seq("q60_dedup_clusters", "q109_ngram_repetition")
  val Light = Seq("q09_join_shuffle", "q20_text_tokens", "q27_knn_bruteforce",
    "q84_mm_png_decode", "q56_stratified_sample", "q19_resample_gapfill", "q43_curation_pipeline")
  val Replays = Seq("q132_stream_lsh_dedup", "q123_stream_whisper_tail")
  def queries(seed: Long): Seq[String] = new Random(seed).shuffle(Heavy ++ Light ++ Replays)

  private var expected = Map.empty[String, Digest]

  def synthesize(ctx: Ctx, dir: Path): Unit = ()

  def expectations(ctx: Ctx, dir: Path): Unit =
    expected = queries(ctx.seed).map { q =>
      val f = ctx.oracle.resolve(s"$q.parquet")
      q -> (if (Files.exists(f)) Checksum.run(ctx.spark.read.parquet(f.toString)).digest
            else Digest(-1L, 0L))
    }.toMap

  def pass(ctx: Ctx, dir: Path): Seq[Op] = queries(ctx.seed).map { q =>
    val fn = graft.SparkEntry.queries(q)
    Op(q, primary = true, () => ctx.frame(expected(q))(fn(ctx.spark, ctx.corpus.toString)))
  }
}
