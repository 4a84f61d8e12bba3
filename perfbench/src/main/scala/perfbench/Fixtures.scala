package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}

/** Whisper inputs drawn from a seed, and what reading them must return,
 * derived from the specs alone: slot k of an archive (0 = oldest) holds
 * timestamp `last - (filled-1-k)*spp` at ring position
 * `(rotation + k) mod points`, with value `sin(position/10)*100`; every
 * other slot is unfilled (timestamp 0, value 0). This is the formula of the
 * library's q33/q69/q123 oracles, evaluated here without the reader. */
object Fixtures {
  def value(pos: Long): Double = math.sin(pos.toDouble / 10.0) * 100.0

  def archive(spp: Long, points: Long, filled: Long, last: Long, rotation: Long): ArchiveSpec =
    ArchiveSpec(spp, points, filled, last - last % spp, rotation, value)

  /** The reference example file's shape (82,785,664 bytes; archives of
   * 1,555,200 / 5,256,000 / 87,601 slots holding 1,555,200 / 2,331,015 /
   * 38,855 points), with rotations and last timestamps from the seed. */
  def referenceShape(rng: Random): FileSpec = {
    val t0 = 1700000000L - rng.nextInt(10000000)
    def rot(points: Long) = (rng.nextDouble() * points).toLong
    FileSpec(archives = Seq(
      archive(10L, 1555200L, 1555200L, t0, rot(1555200L)),
      archive(60L, 5256000L, 2331015L, t0, rot(5256000L)),
      archive(3600L, 87601L, 38855L, t0, rot(87601L))))
  }

  val ReferenceBytes = 82785664L

  /** One point as the reader reports it (timestamp in epoch seconds). */
  final case class Pt(archive: Int, position: Long, ts: Long, value: Double)

  /** Every slot of every archive in physical order: filled ones with their
   * point, the rest unfilled. */
  def slots(spec: FileSpec): Iterator[Pt] =
    spec.archives.iterator.zipWithIndex.flatMap { case (a, i) =>
      val ts = new Array[Long](a.points.toInt)
      var k = 0L
      while (k < a.filled) {
        ts(((a.rotation + k) % a.points).toInt) = a.lastTimestamp - (a.filled - 1 - k) * a.secondsPerPoint
        k += 1
      }
      Iterator.range(0, a.points.toInt).map(p =>
        if (ts(p) == 0L) Pt(i, p.toLong, 0L, 0.0) else Pt(i, p.toLong, ts(p), value(p.toLong)))
    }

  def filled(spec: FileSpec): Iterator[Pt] = slots(spec).filter(_.ts != 0L)

  /** Runs independent expectation builds on all cores. */
  def inParallel[A](jobs: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try jobs.map(j => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = j() })).map(_.get())
    finally pool.shutdown()
  }

  /** The gzip twin of a file, compressed for speed: the reader sees the
   * same single gzip stream whatever the level. */
  def gzip(src: Path, dst: Path): Unit = {
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(dst), 1 << 16) {
      `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
    }
    try java.nio.file.Files.copy(src, out)
    finally out.close()
  }

  /** The path string the reader reports in its `file` column. */
  def fileColumn(path: Path): String = "file:" + path.toAbsolutePath.normalize.toString

  /** Schema of a whole-file read with the given value type. */
  def frameSchema(valueType: DataType, timestampType: DataType = TimestampType): StructType =
    StructType(Seq(
      StructField("file", StringType), StructField("archive", IntegerType),
      StructField("position", LongType), StructField("timestamp", timestampType),
      StructField("value", valueType)))

  /** A whole-file read row: timestamps in micros, or seconds when raw. */
  def frameRow(file: UTF8String, p: Pt, asFloat: Boolean, micros: Boolean): InternalRow =
    new GenericInternalRow(Array[Any](file, p.archive, p.position,
      if (micros) p.ts * 1000000L else p.ts.toInt,
      if (asFloat) p.value.toFloat else p.value))

  val ArchiveSchema: StructType = StructType(Seq(
    StructField("position", LongType), StructField("timestamp", TimestampType),
    StructField("value", DoubleType)))

  def archiveRow(p: Pt): InternalRow =
    new GenericInternalRow(Array[Any](p.position, p.ts * 1000000L, p.value))

  /** A Graphite-like tree: `files` small files nested two or three
   * directories deep, one to three archives each, partly filled, every
   * 25th one gzipped. Returns each file's path relative to the root with
   * its spec. */
  def tree(rng: Random, files: Int): Seq[(String, FileSpec)] = {
    val tiers = Seq(10L, 60L, 300L, 3600L)
    (0 until files).map { i =>
      val depth = 2 + rng.nextInt(2)
      val dirs = (0 until depth).map(d => s"d$d-${rng.nextInt(if (d == 0) 8 else 6)}")
      val name = s"m$i.wsp" + (if (i % 25 == 0) ".gz" else "")
      val n = 1 + rng.nextInt(3)
      val t0 = 1700000000L - rng.nextInt(86400)
      val archives = tiers.take(n).map { spp =>
        val points = 60L + rng.nextInt(661)
        val filled = (points * (0.3 + 0.7 * rng.nextDouble())).toLong
        archive(spp, points, filled, t0, (rng.nextDouble() * points).toLong)
      }
      ((dirs :+ name).mkString("/"), FileSpec(archives = archives))
    }
  }
}
