package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.format.WhisperCodec.{ArchiveMeta, FileMeta}
import graft.meta.WhisperMeta
import graft.sources.whisper.WhisperIO

/**
 * User-facing facade mirroring the reference's object model
 * (`whisper_pandas.py:11-16`: `WhisperFile`, `WhisperFileMeta`,
 * `WhisperArchive`, `WhisperArchiveMeta`), so a reference user can port
 * call-for-call:
 *
 * {{{
 * // reference:  wsp = WhisperFile.read(path); df = wsp.archives[1].to_frame(dtype="float32")
 * val wsp = WhisperFile.read(spark, path)
 * val df  = wsp.archive(1).toFrame(dtype = "float")
 * }}}
 *
 * Unlike the reference, `read` touches only headers — point data stays on
 * executors, materialized lazily per query (`README.md:64`'s whole-file
 * eager read does not scale; this does). A `.gz` file is opened header-only
 * too: only [[meta]]'s decompressed `fileSizeActual` needs the whole stream.
 */
final class WhisperFile private (val spark: SparkSession, val path: String, header: FileMeta) {

  /** File metadata (`WhisperFileMeta`). For `.gz` its decompressed
   * `fileSizeActual` (`test_whisper_pandas.py:91-97`) streams the whole file
   * once, on first use; the header-only open reports it as -1. */
  lazy val meta: FileMeta = if (header.fileSizeActual >= 0) header else WhisperMeta.read(path)

  /** One lazy view per archive tier (`whisper_pandas.py:277-282`). */
  def archives: Seq[WhisperArchive] = header.archives.map(a => new WhisperArchive(this, a))

  def archive(i: Int): WhisperArchive = {
    require(i >= 0 && i < header.archives.size, s"archive $i out of range 0..${header.archives.size - 1}")
    archives(i)
  }

  /** All archives as one DataFrame (the notebook's tag+concat, native). */
  def toFrame(
      dtype: String = "double",
      toDatetime: Boolean = true,
      dropTimeZero: Boolean = true,
      timeSort: Boolean = true
  ): DataFrame =
    spark.read.format("whisper")
      .option("dtype", dtype)
      .option("toDatetime", toDatetime)
      .option("dropTimeZero", dropTimeZero)
      .option("timeSort", timeSort)
      .load(path)

  /** `describe_meta()` parity (`whisper_pandas.py:147-157`). */
  def describeMeta: DataFrame = WhisperMeta.describeMeta(spark, path)

  /** `describe_archives()` parity (`whisper_pandas.py:159-163`). */
  def describeArchives: DataFrame = WhisperMeta.describeArchives(spark, path)

  /** `print_info()` parity (`whisper_pandas.py:165-168`). */
  def printInfo(): Unit = WhisperMeta.printInfo(spark, path)
}

object WhisperFile {
  /** Header-only open (`WhisperFile.read`, `whisper_pandas.py:244-275`),
   * gzip-aware by suffix (`whisper_pandas.py:257-261`). */
  def read(spark: SparkSession, path: String): WhisperFile =
    new WhisperFile(spark, path, WhisperIO.readMetaHeaderOnly(path, path.endsWith(".gz")))
}

/** One retention tier (`WhisperArchive`, `whisper_pandas.py:171-234`). */
final class WhisperArchive(file: WhisperFile, val meta: ArchiveMeta) {

  /** `to_frame` parity with the reference's four knobs and defaults
   * (`whisper_pandas.py:186-191`): a 3-column (position, timestamp, value)
   * frame for this tier, filtered to it by partition pruning. */
  def toFrame(
      dtype: String = "double",
      toDatetime: Boolean = true,
      dropTimeZero: Boolean = true,
      timeSort: Boolean = true
  ): DataFrame =
    file.toFrame(dtype, toDatetime, dropTimeZero, timeSort)
      .filter(col("archive") === meta.index)
      .select(col("position"), col("timestamp"), col("value"))

  def describe: DataFrame = {
    import file.spark.implicits._
    Seq((meta.index, meta.secondsPerPoint, meta.points, meta.retention, meta.offset, meta.size))
      .toDF("archive", "seconds_per_point", "points", "retention", "offset", "size")
  }
}
