package graft.sources.whisper

import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions => ExpressionsV2, SortDirection => SortDirectionV2, SortOrder => SortOrderV2}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.format.WhisperCodec

/**
 * Scan pipeline for the whisper source.
 *
 * Scale design (the reference reads whole files eagerly on one node,
 * `whisper_pandas.py:263-269`; we do not):
 *  - planning reads ONLY headers (16 + 12*N bytes per file);
 *  - one scan unit per (file, archive); plain archives larger than
 *    `min(maxPointsPerSplit, 1M)` points are split into byte-range chunks,
 *    so neither a file's one big archive nor a huge one (u32 points admits
 *    ~51 GB) serializes through one straggler task — with `timeSort=true`
 *    the chunks are rotation-ordered with checked time windows (see
 *    [[RingProbe]]); past `binThreshold` units,
 *    SMALL units are bin-packed into shared partitions (see
 *    [[WhisperMultiPartition]]) so a million-file tree schedules
 *    O(bytes/split) tasks, not O(files);
 *  - filters on archive/file prune partitions at plan time; filters on
 *    timestamp/position/value are evaluated during decode, before rows are
 *    materialized (`SupportsPushDownFilters`);
 *  - column pruning (`SupportsPushDownRequiredColumns`) means a
 *    value-only or metadata-only query never materializes the other columns;
 *  - `timeSort=true` restores chronological order WITHOUT a shuffle: a
 *    well-formed ring buffer is at most 2 ascending runs
 *    (`whisper_pandas.py:231-232` does a full pandas sort instead), so the
 *    reader emits the rotation; a full per-partition sort is only a fallback;
 *  - decode works on the read buffer in place (like the reference's
 *    `np.frombuffer` view, `whisper_pandas.py:178-184`): one pass keeps the
 *    indices of surviving records, and column vectors fill straight from the
 *    records, so a partition holds its 12-byte records plus 4 B per kept row
 *    (nothing extra when every record is kept). Gzip partitions hold only
 *    the kept records, copied out of a bounded stream chunk;
 *  - one reader: every partition, of a batch scan or a streaming
 *    micro-batch, decodes into ColumnarBatches ([[WhisperReaderFactory]],
 *    [[WhisperColumnarReader]]), like the reference's single decode path.
 */
final case class WhisperInputPartition(
    filePath: String,
    gzip: Boolean,
    archiveIndex: Int,
    archiveOffset: Long,
    secondsPerPoint: Long,
    points: Long,
    posStart: Long,
    posCount: Long,
    // Planned timestamp window [winLo, winHi) of a rotation-ordered chunk
    // (see [[RingProbe]]); (MinValue, MaxValue) = unchunked / no claim. The
    // windows make cross-chunk ordering a CHECKED invariant: when the sort
    // elision engages a multi-chunk scan, readers verify every kept row falls
    // in its chunk's window, so elided output is never silently misordered.
    winLo: Long = Long.MinValue,
    winHi: Long = Long.MaxValue
) extends InputPartition

/** Several small scan units served by ONE task, reading them sequentially.
 * A graphite tree is millions of small .wsp files; one task per
 * (file, archive) would be scheduler overhead, not I/O (BENCH_NOTES
 * "Round-8 scale_check8d":
 * 2000 files = 2000 tasks of ~2 ms each). Units are bin-packed by the
 * planner up to `maxPointsPerSplit` points per bin with a per-unit open
 * cost, mirroring Spark's own FilePartition packing of small files. */
final case class WhisperMultiPartition(units: Array[WhisperInputPartition]) extends InputPartition

/** Serializable subset of pushed-down predicates, evaluated exactly in the
 * reader (so Spark can drop its own copy of these filters). */
sealed trait WPred extends Serializable {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean
}
final case class NumCmp(col: String, op: String, v: Long) extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = {
    val x = WPred.numeric(col, archive, pos, ts)
    op match {
      case "="  => x == v
      case "!=" => x != v
      case ">"  => x > v
      case ">=" => x >= v
      case "<"  => x < v
      case "<=" => x <= v
    }
  }
}
final case class NumIn(col: String, vs: Set[Long]) extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean =
    vs.contains(WPred.numeric(col, archive, pos, ts))
}
/** Trivially-true marker for filters we accept without reader-side work
 * (IsNotNull on an all-non-nullable schema); stripped before the decode loop. */
case object TruePred extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = true
}
final case class FileCmp(op: String, v: String) extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = op match {
    case "="  => file == v
    case "!=" => file != v
  }
}
final case class FileIn(vs: Set[String]) extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = vs.contains(file)
}

object WPred {
  /** The value a numeric predicate on `col` compares. "timestamp32" is the
   * INT timestamp column (toDatetime=false): it holds the u32 seconds as a
   * signed int, so seconds past 2^31 read as negative there. */
  def numeric(col: String, archive: Int, pos: Long, ts: Long): Long = col match {
    case "archive"     => archive.toLong
    case "position"    => pos
    case "timestamp32" => ts.toInt.toLong
    case _             => ts
  }

  /** Predicates on `archive` or `file`: constant over a scan unit, so they
   * decide whole partitions (at plan time, and once per partition read). */
  def partitionLevel(p: WPred): Boolean = p match {
    case NumCmp("archive", _, _) | NumIn("archive", _) | FileCmp(_, _) | FileIn(_) => true
    case _                                                                       => false
  }

  /** Convert timestamp-typed filter values to whole epoch seconds; None when
   * the value has sub-second precision (then we refuse the pushdown and Spark
   * evaluates the original filter itself — never wrong, only slower). */
  private def epochSeconds(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      val inst = t.toInstant
      if (inst.getNano == 0) Some(inst.getEpochSecond) else None
    case i: java.time.Instant =>
      if (i.getNano == 0) Some(i.getEpochSecond) else None
    case _ => num(v)
  }

  private def num(v: Any): Option[Long] = v match {
    case i: Int    => Some(i.toLong)
    case l: Long   => Some(l)
    case s: Short  => Some(s.toLong)
    case b: Byte   => Some(b.toLong)
    case _         => None
  }

  private def cmp(col: String, op: String, v: Any, toDatetime: Boolean): Option[WPred] = col match {
    case "archive" | "position" => num(v).map(NumCmp(col, op, _))
    case "timestamp"            => epochSeconds(v).map(NumCmp(timestampCol(toDatetime), op, _))
    // "value" filters are NOT pushed: Spark SQL's NaN ordering/equality
    // semantics differ from Java double comparisons, and a claimed-but-wrong
    // pushdown silently drops rows. Spark evaluates them itself.
    case "file" =>
      v match {
        case s: String if op == "=" || op == "!=" => Some(FileCmp(op, s))
        case u: UTF8String if op == "=" || op == "!=" => Some(FileCmp(op, u.toString))
        case _ => None
      }
    case _ => None
  }

  /** A pushed timestamp predicate compares in the column's own domain. */
  private def timestampCol(toDatetime: Boolean): String = if (toDatetime) "timestamp" else "timestamp32"

  /** Translate a V1 source filter; None = not supported, stays with Spark.
   * `toDatetime` is the scan's option: it decides the timestamp column's type. */
  def translate(f: Filter, toDatetime: Boolean): Option[WPred] = f match {
    case EqualTo(c, v)            => cmp(c, "=", v, toDatetime)
    case GreaterThan(c, v)        => cmp(c, ">", v, toDatetime)
    case GreaterThanOrEqual(c, v) => cmp(c, ">=", v, toDatetime)
    case LessThan(c, v)           => cmp(c, "<", v, toDatetime)
    case LessThanOrEqual(c, v)    => cmp(c, "<=", v, toDatetime)
    case Not(EqualTo(c, v))       => cmp(c, "!=", v, toDatetime)
    case In(c, vs) =>
      c match {
        case "archive" | "position" | "timestamp" =>
          val longs = vs.toSeq.map(v => if (c == "timestamp") epochSeconds(v) else num(v))
          val col = if (c == "timestamp") timestampCol(toDatetime) else c
          if (longs.forall(_.isDefined)) Some(NumIn(col, longs.flatten.toSet)) else None
        case "file" =>
          val strs = vs.toSeq.collect { case s: String => s; case u: UTF8String => u.toString }
          if (strs.length == vs.length) Some(FileIn(strs.toSet)) else None
        case _ => None
      }
    // All five columns are non-nullable: IsNotNull is trivially true —
    // accepted (so Spark drops it) but contributes no per-point work.
    case IsNotNull("file" | "archive" | "position" | "timestamp" | "value") =>
      Some(TruePred)
    case _ => None
  }
}

class WhisperScanBuilder(paths: Seq[WhisperIO.FileEntry], rawPatterns: Seq[String], options: WhisperOptions)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var preds: Seq[WPred] = Seq.empty
  private var requiredSchema: StructType = options.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.map(f => f -> WPred.translate(f, options.toDatetime))
    pushed = translated.collect { case (f, Some(_)) => f }
    preds = translated.collect { case (_, Some(p)) if p != TruePred => p }.toSeq
    translated.collect { case (f, None) => f }
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // Keep our column order but only the requested fields (empty = count(*)).
    val names = required.fieldNames.toSet
    requiredSchema = StructType(options.schema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = new WhisperScan(paths, rawPatterns, options, preds, pushed, requiredSchema)
}

class WhisperScan(
    paths: Seq[WhisperIO.FileEntry],
    rawPatterns: Seq[String],
    options: WhisperOptions,
    preds: Seq[WPred],
    pushedV1: Array[Filter],
    requiredSchema: StructType,
    enforceWindows: Boolean = false,
    // Partitions carried over from an already-validated plan (the
    // window-enforcing copy, see [[withWindowEnforcement]]): the enforcing
    // scan must execute EXACTLY the chunks the sort-elision rule validated —
    // replanning from the file at execution time would re-run the ring
    // probe, and a concurrently-rewritten archive (normal for live graphite
    // trees) could make the fresh probe decline into physicalChunks with
    // vacuous (MinValue, MaxValue) windows AFTER the global sort was
    // already elided — silently misordered output (ADVICE r10). It also
    // halves probe I/O per planned query.
    prePlanned: Option[Array[InputPartition]] = None
) extends Scan
    with Batch
    with SupportsReportStatistics
    with SupportsReportOrdering {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  /** Streaming tail: timestamp-watermark offsets (see [[WhisperMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String) =
    new WhisperMicroBatchStream(rawPatterns, options, preds, requiredSchema, options.streamStartTimestamp)

  override def description(): String =
    s"WhisperScan(files=${paths.size}, pushed=[${pushedV1.mkString(", ")}], cols=${requiredSchema.fieldNames.mkString(",")})"

  /** Header reads are tiny but latency-bound; plan many files concurrently
   * through a dedicated pool sized by `planningParallelism` (measured to
   * hide 10-50 ms object-store-class GETs, LatencyPlanningSpec /
   * BENCH_NOTES r12). With a `headerManifest`, current entries skip the
   * header read entirely (length-keyed staleness; see [[WhisperManifest]]). */
  private lazy val unitPartitions: Array[WhisperInputPartition] =
    WhisperPlanning.plan(paths, options, preds,
      metaFor = WhisperPlanning.manifestAwareMetaFor(options, paths))
      .map(_.asInstanceOf[WhisperInputPartition])

  private lazy val plannedPartitions: Array[InputPartition] =
    prePlanned.getOrElse(WhisperPlanning.binPack(unitPartitions, options))

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  /** Size/row estimates from headers alone — lets Catalyst/AQE pick broadcast
   * vs shuffle without touching point data. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(unitPartitions.map(_.posCount * graft.format.WhisperCodec.PointSize).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(unitPartitions.map(_.posCount).sum)
  }

  /** With timeSort on, every partition (one archive, or one rotation-ordered
   * chunk of an oversized archive) is emitted in ascending timestamp order —
   * declared so per-partition consumers skip their own sort. NOT declarable
   * once bin-packing merges several archives into one partition: the units
   * are emitted sequentially and their time ranges overlap across files. */
  override def outputOrdering(): Array[SortOrderV2] =
    if (ordersTimestamp && plannedPartitions.forall(_.isInstanceOf[WhisperInputPartition]))
      Array(ExpressionsV2.sort(ExpressionsV2.column("timestamp"), SortDirectionV2.ASCENDING))
    else Array.empty

  /** Emission order is unsigned-seconds order. Only the TimestampType column
   * (`toDatetime`) sorts that way: its micros are never negative. The INT
   * column (`toDatetime=false`) reads seconds past 2^31 as negative, so a
   * ring straddling 2^31 emits it out of signed order — no claim there. */
  private def ordersTimestamp: Boolean =
    options.timeSort && options.toDatetime && requiredSchema.fieldNames.contains("timestamp")

  /** Is the CONCATENATION of the planned partitions, in partition-index
   * order, globally ascending by timestamp? True for a single sorted
   * partition (the pre-r10 elision case), and for one archive's
   * rotation-ordered chunks whose planned windows tile disjointly
   * ([[RingProbe]]) — there, partition i's rows all precede partition i+1's,
   * so dropping a global `Sort ts ASC` (+ its range exchange) above this
   * scan preserves semantics. [[graft.plans.WhisperSortElision]] consumes
   * this together with [[withWindowEnforcement]] so the multi-chunk claim
   * is runtime-checked, never trusted. */
  def globallyOrderedPartitions: Boolean = {
    if (!ordersTimestamp) false
    else {
      val ps = plannedPartitions
      if (ps.length == 1 && ps.head.isInstanceOf[WhisperInputPartition]) true
      else if (!options.dropTimeZero) false // kept ts=0 rows sort to each chunk's head
      else
        ps.forall(_.isInstanceOf[WhisperInputPartition]) && {
          val us = ps.map(_.asInstanceOf[WhisperInputPartition])
          us.forall(u =>
            u.filePath == us.head.filePath && u.archiveIndex == us.head.archiveIndex &&
              u.winLo != Long.MinValue && u.winHi != Long.MaxValue && u.winLo < u.winHi) &&
            us.iterator.sliding(2).forall(p => p.length < 2 || p(0).winHi == p(1).winLo)
        }
    }
  }

  /** Copy of this scan whose readers verify each kept row against its
   * chunk's planned window — swapped in by the sort-elision rule before it
   * removes a global sort over a multi-chunk scan. The copy CARRIES this
   * scan's planned partitions (see `prePlanned`): the chunks the rule
   * validated are the chunks that execute, with no second ring probe. */
  def withWindowEnforcement: WhisperScan =
    new WhisperScan(paths, rawPatterns, options, preds, pushedV1, requiredSchema,
      enforceWindows = true, prePlanned = Some(plannedPartitions))

  override def createReaderFactory(): PartitionReaderFactory =
    new WhisperReaderFactory(options, preds, requiredSchema, enforceWindows)
}

/** Shared partition planning for the batch scan and each streaming
 * micro-batch: header-only reads, plan-time archive/file pruning, and
 * byte-range splits. */
private[whisper] object WhisperPlanning {

  /** Plan-time pruning: archive/file predicates decide whole partitions. */
  def partitionSurvives(preds: Seq[WPred], file: String, archive: Int): Boolean =
    preds.forall(p => !WPred.partitionLevel(p) || p.eval(file, archive, 0, 0, 0))

  /** Default header source for batch planning: the manifest when the
   * `headerManifest` option names one AND its entry's length matches the
   * walk's (stale/absent entries fall back to a fresh ranged read) AND the
   * per-plan content spot check passes — length staleness alone cannot see
   * a same-length re-layout (ADVICE r12; [[WhisperManifest.spotCheck]]), so
   * up to `manifestSpotCheck` served headers are re-read and compared, and
   * any divergence discards the manifest for the whole plan (every header
   * read fresh — correct, just slower). Otherwise a header read that reuses
   * the walk's length, skipping the per-file getFileStatus round trip.
   *
   * `candidates` is the walk's entry list the spot check samples from (the
   * caller's pre-predicate set is fine; only manifest-SERVED entries are
   * sampled). */
  def manifestAwareMetaFor(
      options: WhisperOptions,
      candidates: Seq[WhisperIO.FileEntry]): (WhisperIO.FileEntry, Boolean) => graft.format.WhisperCodec.FileMeta = {
    if (options.headerManifest.isEmpty)
      (e, gz) => WhisperIO.readMetaHeaderOnly(e.path, gz, e.len)
    else {
      // EAGER, on the calling (driver) thread — deliberately NOT a lazy val
      // inside the closure. The r12 lazy form deadlocked the planning pool
      // (caught by this round's baseline run): the first ForkJoin worker to
      // touch the lazy held its monitor through loadRaw's stream close,
      // where Hadoop's IOStatisticsSnapshot.aggregate runs a PARALLEL java
      // stream — nested ForkJoin work scheduled on the same pool whose
      // every other worker was blocked on that very monitor, and the
      // holder's helpJoin could only steal more blocked-on-the-monitor map
      // tasks. Monitor-guarded I/O inside pool workers is the same pitfall
      // family as CHM.computeIfAbsent I/O (three r12 incidents). Eager costs
      // one manifest stat per plan (the version both memos are stamped
      // with), paid even by a plan whose file predicates then prune
      // everything — correctness over that sliver of laziness. The spot
      // check itself runs ONCE PER MANIFEST VERSION per JVM (ADVICE r13:
      // re-running the deterministic-per-version check on every plan — and
      // on every streaming trigger — paid k header GETs for nothing), so a
      // steady-state plan over an unchanged manifest costs that one stat,
      // zero header GETs.
      val path = options.effectiveManifest
      val version = WhisperManifest.version(path)
      val manifest = WhisperManifest.load(path, version)
      val trusted = WhisperManifest.spotCheck(path, manifest, candidates,
        options.manifestSpotCheck, options.planningParallelism, options.gzipFor, version)
      (e, gz) =>
        manifest.get(e.path) match {
          case Some(entry) if entry.len == e.len && trusted => entry.meta
          case _ =>
            try WhisperIO.readMetaHeaderOnly(e.path, gz, e.len)
            catch {
              // manifestListing: a reconcile-added or manifest-listed file
              // deleted between listing and header read plans as EMPTY (no
              // archives -> no partitions), mirroring the decode-side
              // tolerance; walk-based plans keep failing loudly
              case _: java.io.FileNotFoundException if options.manifestListing =>
                graft.format.WhisperCodec.FileMeta(e.path, 0, 0L, 0f, Seq.empty, 0L)
            }
        }
    }
  }

  /** Points per split: plain archives above `min(maxPointsPerSplit, this)`
   * are cut into byte-range chunks. A 1M-point chunk (12 MB) lets one
   * file's few large archives feed every task slot, and it is far below
   * the 2 GiB read buffer, so the buffer never sets the step. */
  private val SplitPoints = 1000000L

  /** `probeOrdered=false` (the streaming tail) skips the per-archive
   * rotation probe: micro-batches prune by pushed time-window predicates and
   * never consume cross-chunk ordering, so oversized `timeSort` archives
   * stay one partition there exactly as before r10.
   *
   * `metaFor` lets a caller supply cached header metadata: whisper headers
   * (archive count/offsets/spp/points) are CREATE-TIME CONSTANTS of the
   * fixed-size preallocated format — point writes mutate slots in place and
   * never touch the header — so the streaming tail caches them per stream
   * and pays the per-file header read once, not once per trigger. */
  def plan(
      paths: Seq[WhisperIO.FileEntry],
      options: WhisperOptions,
      preds: Seq[WPred],
      probeOrdered: Boolean = true,
      metaFor: (WhisperIO.FileEntry, Boolean) => graft.format.WhisperCodec.FileMeta =
        (e, gz) => WhisperIO.readMetaHeaderOnly(e.path, gz, e.len)): Array[InputPartition] = {
    // File-only predicates decide BEFORE the header read: a pushed
    // `file = '...'` / `file IN (...)` must not cost one header I/O per
    // tree entry when it keeps a handful — at 1M files a single-metric
    // query otherwise reads a million headers to plan one partition
    // (and a file excluded this way is never opened at all, so plan time
    // no longer depends on the READABILITY of irrelevant files). Archive
    // predicates still prune per archive after the read, as before.
    val liveEntries = paths.filter { e =>
      preds.forall {
        case f @ (FileCmp(_, _) | FileIn(_)) => f.eval(e.path, -1, 0L, 0L, 0.0)
        case _                               => true
      }
    }
    val step = math.min(options.maxPointsPerSplit, SplitPoints)
    val perFile = WhisperIO.parMap(liveEntries, options.planningParallelism) { entry =>
      val path = entry.path
      val gz = options.gzipFor(path)
      val meta = metaFor(entry, gz)
      meta.archives.filter(a => partitionSurvives(preds, path, a.index)).flatMap { a =>
        // an archive too big for one in-memory buffer MUST split even with
        // timeSort on (ordering then holds per chunk, not per archive);
        // gzip is non-splittable: one stream per file/archive regardless.
        val mustSplit = !gz && a.points * WhisperCodec.PointSize > Int.MaxValue.toLong
        def whole =
          Seq(WhisperInputPartition(path, gz, a.index, a.offset, a.secondsPerPoint, a.points, 0L, a.points))
        def physicalChunks =
          (0L until a.points by step).map { start =>
            val cnt = math.min(step, a.points - start)
            WhisperInputPartition(path, gz, a.index, a.offset, a.secondsPerPoint, a.points, start, cnt)
          }
        if (gz || a.points <= step) whole
        else if (!options.timeSort) physicalChunks
        else if (options.orderedSplit && probeOrdered) {
          // timeSort: chunk the ring's two sorted runs oldest-first so the
          // archive parallelizes WITHOUT losing its per-archive order — a
          // file's one big archive must not become one straggler task while
          // the other slots idle. Probe failure (all-zero, budget spent,
          // non-dense ring detected on the probe path) keeps the pre-r10
          // single-partition shape unless the 2 GiB buffer limit forces a
          // split.
          RingProbe.probe(path, entry.len, a.offset, a.secondsPerPoint, a.points) match {
            case Some(rp) => RingProbe.orderedChunks(path, a.index, a.offset, a.secondsPerPoint, a.points, rp, step)
            case None     => if (mustSplit) physicalChunks else whole
          }
        } else if (mustSplit) physicalChunks
        else whole
      }
    }
    perFile.flatten.toArray
  }

  /** Task slots of the session planning the scan (its `defaultParallelism`);
   * 8 only when no session exists, e.g. a plan built outside any query. */
  def parallelism(): Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.defaultParallelism)
      .getOrElse(8)

  /** Bin-pack small units into shared partitions once the unit count
   * exceeds `binThreshold` (the many-small-files regime): first-fit over a
   * path-sorted unit list (file locality per bin), capacity
   * `maxPointsPerSplit` points per bin, each unit charged
   * max(posCount, openCost) where openCost = maxPointsPerSplit/256 —
   * the same open-cost idea Spark's FilePartition packing uses so tiny
   * files cannot over-pack a bin. Below the threshold units pass through
   * 1:1 and the scan keeps its per-archive ordering declaration. */
  def binPack(units: Array[WhisperInputPartition], options: WhisperOptions): Array[InputPartition] = {
    if (units.length <= options.binThreshold) units.toArray[InputPartition]
    else {
      val openCost = math.max(1L, options.maxPointsPerSplit / 256)
      // Capacity mirrors Spark's FilePartition sizing: never bigger than
      // maxPointsPerSplit, but small enough that the cluster's parallelism
      // is fed (totalCost/parallelism) — 200 small files must not collapse
      // into one task on a 32-core box while a million files still bound
      // the partition count at O(totalBytes / maxSplit).
      val totalCost = units.map(u => math.max(u.posCount, openCost)).sum
      val capacity = math.max(
        2L * openCost,
        math.min(options.maxPointsPerSplit, totalCost / math.max(1, parallelism()) + 1))
      val sorted = units.sortBy(u => (u.filePath, u.archiveIndex, u.posStart))
      val bins = scala.collection.mutable.ArrayBuffer.empty[Array[WhisperInputPartition]]
      val cur = scala.collection.mutable.ArrayBuffer.empty[WhisperInputPartition]
      var curPts = 0L
      for (u <- sorted) {
        val cost = math.max(u.posCount, openCost)
        if (cur.nonEmpty && curPts + cost > capacity) {
          bins += cur.toArray; cur.clear(); curPts = 0L
        }
        cur += u; curPts += cost
      }
      if (cur.nonEmpty) bins += cur.toArray
      bins.map { b =>
        if (b.length == 1) b.head: InputPartition else WhisperMultiPartition(b)
      }.toArray
    }
  }
}

/**
 * Plan-time ring-rotation probe for oversized `timeSort` archives.
 *
 * A healthy whisper ring written at every interval is a rotated sorted
 * array: physical slots `[w, N)` hold the oldest ascending run, `[0, w)` the
 * newest, and a partly filled ring has one never-written gap of zeros
 * between them (`whisper_pandas.py:231-232` recovers order with a full sort;
 * the single-partition reader with a ring rotation; this probe lets MULTIPLE
 * partitions share one archive and still tile disjoint ascending time
 * windows). The format fixes each slot's timestamp up to an era:
 * `ts(i) = anchor + (i - anchorIdx)*spp  (mod spp*N)`, so ONE nonzero anchor
 * plus a search for the era drop `w` yields, arithmetically, a planned
 * window `[predTs(s), predTs(e))` per chunk — no boundary reads.
 *
 * The probe reads 4,096-slot blocks. It keeps the newest and the oldest
 * written slot it has seen; going round the ring from the newest to the
 * oldest, every slot in between is either never written or continues one of
 * the two runs, so each nonzero read there moves one end inward, and a zero
 * or holed stretch is just stepped over. It reads both end blocks of the
 * READABLE extent first (the file length bounds it, so a truncated ring
 * ends early rather than wraps), then the middle block of the longest
 * unread stretch between newest and oldest, until none is left or the
 * budget is spent. Once nothing between them is unread the cut is exact; a
 * long never-written gap instead leaves the budget spent with blocks of
 * zeros sampled evenly across it, and the cut goes at the middle one of
 * those — the gap is never scanned, and a hole inside a run draws fewer
 * samples than the gap.
 *
 * Cost: at most [[MaxReads]] block reads of 48 KB; a dense ring needs
 * O(log N) (about 10 for a full 1.5M-slot ring), a ring with a gap longer
 * than the budget can read spends it all.
 * The probe DECLINES (returns None) on: all-zero or unreadable archives, no
 * written slot found within the budget, or any probed nonzero point off the
 * anchor's interval grid / outside the two runs' eras — a sparsely-written
 * ring carrying stale multi-era residue is not a rotated sorted array, and
 * chunking it ordered would be wrong. Because the probe samples a long gap
 * (a written run shorter than the sample spacing can hide in it), the claim
 * is additionally CHECKED at read time when the sort elision consumes it
 * ([[WhisperScan.withWindowEnforcement]]), and every chunk still sorts its
 * own rows.
 */
private[whisper] object RingProbe {

  final case class Probe(w: Long, anchorIdx: Long, anchorTs: Long)

  private val BlockPts = 4096
  val MaxReads = 64
  private object GiveUp extends Exception with scala.util.control.NoStackTrace

  /** Probes the archive at `archiveOffset` of a plain file `fileLen` bytes
   * long (negative = unknown: every slot counts as readable). */
  def probe(path: String, fileLen: Long, archiveOffset: Long, spp: Long, points: Long): Option[Probe] = {
    val readable =
      if (fileLen < 0) points
      else math.max(0L, math.min(points, (fileLen - archiveOffset) / WhisperCodec.PointSize))
    val p = new HPath(path)
    try {
      val fs = p.getFileSystem(WhisperIO.hadoopConf())
      val in = fs.open(p)
      try locate(readable, spp, points)(slotReader(in, archiveOffset))
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Timestamps of slots `[start, start+cnt)` of the archive at `off`;
   * EOF reads as zeros. */
  private def slotReader(in: org.apache.hadoop.fs.FSDataInputStream, off: Long)(start: Long, cnt: Int): Array[Long] = {
    val buf = new Array[Byte](cnt * WhisperCodec.PointSize)
    var got = 0
    try {
      in.seek(off + start * WhisperCodec.PointSize)
      got = WhisperCodec.readFully(in, buf, buf.length)
    } catch { case _: java.io.EOFException => }
    val out = new Array[Long](cnt)
    var i = 0
    while (i < got / WhisperCodec.PointSize) { out(i) = WhisperCodec.timestampAt(buf, i * WhisperCodec.PointSize); i += 1 }
    out
  }

  /** The cut of a ring of `points` slots whose first `readable` can be
   * read, through `read(start, cnt)` (the timestamps of those slots). Each
   * call of `read` counts against [[MaxReads]]. */
  def locate(readable: Long, spp: Long, points: Long)(read: (Long, Int) => Array[Long]): Option[Probe] = {
    if (spp <= 0 || points <= 1 || spp > Long.MaxValue / points || readable < 1) return None
    val n = points
    val sppN = spp * n
    // read ranges [start, end); slots past EOF count as read zeros
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    if (readable < n) seen += ((readable, n))
    // newest (nw) and oldest (o) written slot seen; nw = -1 until one is
    var nw, tNw, o, tO = -1L
    def fwd(i: Long, from: Long): Long = Math.floorMod(i - from, n)
    // slots strictly between nw and o, going forward from nw, are unknown
    def span: Long = if (o == nw) n else fwd(o, nw)

    def take(i: Long, ts: Long): Unit =
      if (nw < 0) { nw = i; tNw = ts; o = i; tO = ts }
      else {
        val d = fwd(i, nw)
        if (d > 0 && d < span) {
          if (ts == tNw + d * spp) { nw = i; tNw = ts }
          else if (ts == tNw + d * spp - sppN) { o = i; tO = ts }
          else throw GiveUp
        } else if (ts != tO + fwd(i, o) * spp) throw GiveUp // between o and nw: one run
      }
    var reads = 0
    def readRange(s: Long, e: Long): Unit = {
      reads += 1
      val ts = read(s, (e - s).toInt)
      seen += ((s, e))
      var k = 0
      while (k < ts.length) { if (ts(k) != 0L) take(s + k, ts(k)); k += 1 }
    }
    // the unknown region as linear ranges: the whole ring until a written
    // slot is seen, then the slots strictly between nw and o
    def region: Seq[(Long, Long)] =
      if (nw < 0) Seq((0L, n))
      else if (nw + span <= n) Seq((nw + 1, nw + span))
      else Seq((nw + 1, n), (0L, nw + span - n))
    def unread: Seq[(Long, Long)] = {
      val sorted = seen.sortBy(_._1)
      region.flatMap { case (s, e) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var at = s
        sorted.foreach { case (rs, re) =>
          if (re > at && rs < e) { if (rs > at) out += ((at, rs)); at = math.max(at, re) }
        }
        if (at < e) out += ((at, e))
        out
      }
    }

    try {
      val head = math.min(BlockPts.toLong, readable)
      readRange(0L, head)
      if (readable > head) readRange(math.max(head, readable - BlockPts), readable)
      var open = unread
      while (open.nonEmpty && reads < MaxReads) {
        // the middle block of the longest unread stretch, on the stretch's
        // block grid: a written block moves an end inward (halving a dense
        // ring's stretch), an all-zero one splits it into whole blocks, so
        // a stretch of k blocks is read through in at most k reads
        val (s, e) = open.maxBy { case (s, e) => e - s }
        val from = s + (e - s - 1) / BlockPts / 2 * BlockPts
        readRange(from, math.min(e, from + BlockPts))
        open = unread
      }
      if (nw < 0) None // all zero, or no written slot found in the budget
      else if (nw + span >= n) Some(Probe(0L, nw, tNw)) // one run across the ring's end
      else if (open.isEmpty) Some(Probe(o, nw, tNw))
      else {
        // budget spent: cut in the middle of the zero blocks read between
        // the runs
        val zeros = seen.toSeq.flatMap { case (s, e) =>
          val (zs, ze) = (math.max(s, nw + 1), math.min(e, o))
          if (zs < ze) Some(zs) else None
        }.sorted
        if (zeros.isEmpty) None else Some(Probe(zeros(zeros.size / 2), nw, tNw))
      }
    } catch { case GiveUp => None }
  }

  /** One archive's chunks in GLOBAL ascending-time order — the older run
   * `[w, N)` (era -1) first, then `[0, w)` (era 0) — each cut at `step`
   * points and stamped with its arithmetic window `[predTs(s), predTs(e))`
   * (shifted one era down for the older run). Windows tile: run -1's last
   * bound equals `predTs(0)`, run 0's first. */
  def orderedChunks(
      path: String,
      archiveIndex: Int,
      archiveOffset: Long,
      spp: Long,
      points: Long,
      rp: Probe,
      step: Long): Seq[WhisperInputPartition] = {
    val sppN = spp * points
    def predTs(i: Long): Long = rp.anchorTs + (i - rp.anchorIdx) * spp
    def cut(from: Long, until: Long, eraShift: Long): Seq[WhisperInputPartition] =
      (from until until by step).map { s =>
        val e = math.min(s + step, until)
        WhisperInputPartition(path, gzip = false, archiveIndex, archiveOffset, spp, points,
          posStart = s, posCount = e - s,
          winLo = predTs(s) + eraShift, winHi = predTs(e) + eraShift)
      }
    if (rp.w == 0) cut(0L, points, 0L)
    else cut(rp.w, points, -sppN) ++ cut(0L, rp.w, 0L)
  }
}

/** The one reader factory of the whisper source, for batch scans and
 * streaming micro-batches alike. Every partition is read columnar: decode
 * goes straight into column vectors, and Spark's ColumnarToRow +
 * whole-stage codegen consume the batch in a tight loop (same fast path as
 * parquet). A micro-batch partition adds its `(lo, hi]` window to the pushed
 * predicates, so the window prunes during decode. */
class WhisperReaderFactory(
    options: WhisperOptions,
    preds: Seq[WPred],
    requiredSchema: StructType,
    enforceWindows: Boolean = false)
    extends PartitionReaderFactory {

  /** Never called: Spark builds a row reader only for partitions that do not
   * support columnar reads, and an empty micro-batch plans no partitions. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("whisper partitions are read columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case m: WhisperMultiPartition       => sequential(m.units, preds)
      case p: WhisperInputPartition       => reader(p, preds)
      case m: WhisperStreamMultiPartition => sequential(m.units, preds ++ window(m.lo, m.hi))
      case p: WhisperStreamPartition      => reader(p.base, preds ++ window(p.lo, p.hi))
    }

  private def window(lo: Long, hi: Long): Seq[WPred] =
    Seq(NumCmp("timestamp", ">", lo), NumCmp("timestamp", "<=", hi))

  private def reader(u: WhisperInputPartition, ps: Seq[WPred]): PartitionReader[ColumnarBatch] =
    new WhisperColumnarReader(u, options, ps, requiredSchema, enforceWindows)

  private def sequential(units: Array[WhisperInputPartition], ps: Seq[WPred]): PartitionReader[ColumnarBatch] =
    new WhisperSequentialReader(units, reader(_, ps))
}

/** Drains one inner reader per unit, in order; a unit's reader is built
 * lazily so at most one unit's decode buffer is live at a time. */
class WhisperSequentialReader(
    units: Array[WhisperInputPartition],
    mk: WhisperInputPartition => PartitionReader[ColumnarBatch]
) extends PartitionReader[ColumnarBatch] {
  private val it = units.iterator
  private var cur: PartitionReader[ColumnarBatch] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = mk(it.next())
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Shared partition decode: one pass over the read buffer that keeps the
 * surviving records where they are and orders them without moving rows. */
private[whisper] object WhisperDecode {
  import WhisperCodec.{PointSize, timestampAt, valueAt}

  /** One partition's kept rows over its record buffer. Emitted row `r` is
   * the record at [[slot]]`(r)`: the rotation `rot` and the selection `sel`
   * (null = every record, in buffer order) give the emission order. A
   * record's ring position is `posBase` plus its relative index, which is
   * the slot itself unless `relPos` (u32, null = slot) says otherwise. */
  final class Decoded(
      recs: Array[Byte],
      posBase: Long,
      relPos: Array[Int],
      sel: Array[Int],
      rot: Int,
      val nRows: Int) {
    def slot(r: Int): Int = {
      var j = r + rot
      if (j >= nRows) j -= nRows
      if (sel == null) j else sel(j)
    }
    def position(slot: Int): Long =
      posBase + (if (relPos == null) slot.toLong else relPos(slot) & 0xffffffffL)
    def timestamp(slot: Int): Long = timestampAt(recs, slot * PointSize)
    def value(slot: Int): Double = valueAt(recs, slot * PointSize)
  }

  private val Empty = new Decoded(Array.emptyByteArray, 0L, null, null, 0, 0)

  /** The most records one gzip partition's compacted buffer holds. */
  private val MaxGzipRows: Int = (Int.MaxValue - 8) / PointSize

  def load(
      part: WhisperInputPartition,
      options: WhisperOptions,
      preds: Seq[WPred],
      enforceWindows: Boolean = false): Decoded = {
    // archive/file predicates are constant over the partition: decided once
    if (!WhisperPlanning.partitionSurvives(preds, part.filePath, part.archiveIndex)) return Empty
    val pass = new Pass(part, options, preds.filterNot(WPred.partitionLevel).toArray, enforceWindows)
    val p = new HPath(part.filePath)
    val fs = p.getFileSystem(WhisperIO.hadoopConf())
    val raw =
      try fs.open(p)
      catch {
        // Under manifestListing the plan's file list can outlive the store's
        // (a file deleted after the manifest was written): scan it as EMPTY —
        // exactly the rows a post-deletion walk-based plan would produce —
        // instead of failing a 100 TB query over one vanished metric. The
        // walk-based plan keeps failing loudly (its file list was just
        // observed, so FileNotFound there means something is truly wrong).
        case _: java.io.FileNotFoundException if options.manifestListing => return Empty
      }
    try {
      if (part.gzip) loadGzipStreaming(raw, part, pass)
      else loadRanged(raw, part, pass)
    } finally raw.close()
  }

  /** The ordered-chunk claim, verified: when the sort elision removed a
   * global sort on the strength of this chunk's planned window, every kept
   * row must actually fall inside it. A violation means the ring carries
   * stale out-of-era residue (sparse writes across a wrap) — the archive is
   * not a rotated sorted array and its chunks cannot be ordered by
   * concatenation, so fail loudly rather than emit misordered rows. */
  private def checkWindow(part: WhisperInputPartition, pos: Long, ts: Long): Unit =
    if (ts < part.winLo || ts >= part.winHi)
      throw new IllegalStateException(
        s"whisper ring violates the dense-rotation invariant: slot $pos ts $ts outside the " +
          s"planned chunk window [${part.winLo}, ${part.winHi}) in ${part.filePath} " +
          s"archive ${part.archiveIndex}. The archive holds out-of-era residue (sparsely " +
          "written ring), so its chunks cannot be emitted pre-ordered for the global-sort " +
          "elision. Retry with option orderedSplit=false to scan it as one ordered partition.")

  /** One pass's row filter and bookkeeping. It applies dropTimeZero, the
   * row-level pushed predicates and the window check; records each kept
   * row's relative record index only once some record has been dropped
   * (until then kept row j is record j); and counts the descents of the kept
   * timestamps, from which [[decoded]] derives the emission order. */
  private final class Pass(
      part: WhisperInputPartition,
      options: WhisperOptions,
      preds: Array[WPred],
      enforceWindows: Boolean) {
    var kept = 0
    private var idx: Array[Int] = null
    private var descents = 0
    private var descentAt = 0
    private var firstTs = 0L
    private var prevTs = 0L

    def accepts(rel: Long, ts: Long, v: Double): Boolean = {
      if (options.dropTimeZero && ts == 0L) return false
      val pos = part.posStart + rel
      var i = 0
      while (i < preds.length) {
        if (!preds(i).eval(part.filePath, part.archiveIndex, pos, ts, v)) return false
        i += 1
      }
      if (enforceWindows) checkWindow(part, pos, ts)
      true
    }

    /** Keeps the record at relative index `rel` (< 2^32) as the next row. */
    def add(rel: Long, ts: Long): Unit = {
      if (idx != null || rel != kept) {
        if (idx == null) idx = Array.tabulate(grown)(identity)
        else if (kept == idx.length) idx = java.util.Arrays.copyOf(idx, grown)
        idx(kept) = rel.toInt
      }
      if (kept == 0) firstTs = ts
      else if (ts < prevTs) { descents += 1; descentAt = kept }
      prevTs = ts
      kept += 1
    }

    private def grown: Int =
      math.max(kept + 1, math.min(part.posCount, math.max(1024L, 2L * kept)).toInt)

    /** The kept rows over `recs`. Plain reads keep records in place, so the
     * kept indices select slots; gzip compacts kept records, so the indices
     * are the slots' positions. With timeSort the order is the ring
     * rotation (one descent, wrapping cleanly) or else a stable sort by
     * unsigned timestamp. */
    def decoded(recs: Array[Byte], compacted: Boolean): Decoded = {
      val (relPos, sel) = if (compacted) (idx, null) else (null, idx)
      if (!options.timeSort || descents == 0) new Decoded(recs, part.posStart, relPos, sel, 0, kept)
      else if (descents == 1 && prevTs < firstTs)
        new Decoded(recs, part.posStart, relPos, sel, descentAt, kept)
      else new Decoded(recs, part.posStart, relPos, sortedSlots(recs, sel), 0, kept)
    }

    /** Slots ordered by unsigned timestamp, ties in kept order: the packed
     * key `ts << 31 | j` (ts < 2^32, j < 2^31) sorts as a plain long. */
    private def sortedSlots(recs: Array[Byte], sel: Array[Int]): Array[Int] = {
      val keys = new Array[Long](kept)
      var j = 0
      while (j < kept) {
        keys(j) = (timestampAt(recs, (if (sel == null) j else sel(j)) * PointSize) << 31) | j
        j += 1
      }
      java.util.Arrays.sort(keys)
      val out = new Array[Int](kept)
      j = 0
      while (j < kept) {
        val k = (keys(j) & 0x7fffffffL).toInt
        out(j) = if (sel == null) k else sel(k)
        j += 1
      }
      out
    }
  }

  /** Plain files: one ranged read per split, filtered in place. The planner
   * caps splits at maxPointsPerSplit / Int.MaxValue bytes, so the buffer
   * always fits. */
  private def loadRanged(
      raw: org.apache.hadoop.fs.FSDataInputStream,
      part: WhisperInputPartition,
      pass: Pass): Decoded = {
    val byteStart = part.archiveOffset + part.posStart * PointSize
    val byteLen = part.posCount * PointSize
    require(byteLen <= Int.MaxValue, s"split too large: $byteLen bytes; lower maxPointsPerSplit")
    val buf = new Array[Byte](byteLen.toInt)
    var got = 0
    try {
      raw.seek(byteStart)
      got = WhisperCodec.readFully(raw, buf, buf.length)
    } catch {
      case _: java.io.EOFException => // truncated: keep what we read
    }
    val nPoints = got / PointSize
    var k = 0
    while (k < nPoints) {
      val ts = timestampAt(buf, k * PointSize)
      if (pass.accepts(k, ts, valueAt(buf, k * PointSize))) pass.add(k, ts)
      k += 1
    }
    pass.decoded(buf, compacted = false)
  }

  /** Gzip archives are non-splittable (one partition spans the whole
   * archive) and therefore must NOT be buffered whole: a >2 GiB decompressed
   * region would exceed the JVM array limit. Decode the stream in bounded
   * chunks and copy the kept records into one growable buffer — memory
   * scales with the rows KEPT, not the archive's decompressed size. Only a
   * kept-row count beyond that one buffer is a hard error (and says so). */
  private def loadGzipStreaming(
      raw: org.apache.hadoop.fs.FSDataInputStream,
      part: WhisperInputPartition,
      pass: Pass): Decoded = {
    val gin = new GZIPInputStream(raw, 1 << 16)
    val chunkPts = math.min(part.posCount, 1L << 20).toInt // <= 12 MiB buffer
    // at least 64 KiB, the scratch the bytes ahead of the archive inflate
    // into: `skip` would inflate them through a fresh 512-byte array
    val chunk = new Array[Byte](math.max(chunkPts * PointSize, 1 << 16))
    var toSkip = part.archiveOffset + part.posStart * PointSize
    while (toSkip > 0) {
      val n = gin.read(chunk, 0, math.min(toSkip, chunk.length.toLong).toInt)
      if (n < 0) toSkip = 0 else toSkip -= n
    }
    var recs = new Array[Byte](chunkPts * PointSize)
    var copied = 0
    // appends chunk records [from, until), all kept, after the kept records
    def copy(from: Int, until: Int): Unit = if (until > from) {
      val need = (copied + until - from).toLong * PointSize
      if (need > recs.length)
        recs = java.util.Arrays.copyOf(recs, math.min(math.max(need, 2L * recs.length), MaxGzipRows.toLong * PointSize).toInt)
      System.arraycopy(chunk, from * PointSize, recs, copied * PointSize, (until - from) * PointSize)
      copied += until - from
    }
    var rel = 0L
    var remaining = part.posCount
    var eof = false
    while (remaining > 0 && !eof) {
      val wantPts = math.min(remaining, chunkPts.toLong).toInt
      val want = wantPts * PointSize
      val got =
        try WhisperCodec.readFully(gin, chunk, want)
        catch { case _: java.io.EOFException => 0 } // truncated: keep what we read
      val n = got / PointSize
      var run = 0 // chunk records [run, k) are kept and not yet copied
      var k = 0
      while (k < n) {
        val ts = timestampAt(chunk, k * PointSize)
        if (pass.accepts(rel + k, ts, valueAt(chunk, k * PointSize))) {
          if (pass.kept == MaxGzipRows)
            throw new IllegalStateException(
              s"gzip archive too large: more than $MaxGzipRows rows survive filtering in " +
                s"${part.filePath} archive ${part.archiveIndex}, the most one decode buffer holds; " +
                "gzip is non-splittable — re-compress as plain .wsp to enable ranged splits")
          pass.add(rel + k, ts)
        } else {
          copy(run, k)
          run = k + 1
        }
        k += 1
      }
      copy(run, n)
      rel += n
      remaining -= n
      if (got < want) eof = true
    }
    pass.decoded(recs, compacted = true)
  }
}

/** Executor-side reader for one (file, archive[, chunk]). It decodes the
 * 12-byte big-endian records (`whisper_pandas.py:31,178-184`), applies
 * dropTimeZero (`:214-215`) and the pushed predicates during decode, and
 * restores chronological order by ring rotation (vs the reference's full
 * sort, `:231-232`); truncated files stop cleanly at EOF
 * (`test_whisper_pandas.py:100-103`). It emits ColumnarBatches of up to
 * `BatchSize` rows, filled straight from the partition's records; `file`
 * and `archive` are set once per partition as constant vectors. */
class WhisperColumnarReader(
    part: WhisperInputPartition,
    options: WhisperOptions,
    preds: Seq[WPred],
    requiredSchema: StructType,
    enforceWindows: Boolean = false
) extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector

  private val BatchSize = 4096
  private val d = WhisperDecode.load(part, options, preds, enforceWindows)
  private var offset = 0
  private val slots = new Array[Int](BatchSize)
  private val vectors: Array[ColumnVector] = requiredSchema.fields.map { f =>
    f.name match {
      case "file" =>
        val c = new ConstantColumnVector(BatchSize, f.dataType)
        c.setUtf8String(UTF8String.fromString(part.filePath))
        c
      case "archive" =>
        val c = new ConstantColumnVector(BatchSize, f.dataType)
        c.setInt(part.archiveIndex)
        c
      case _ => new OnHeapColumnVector(BatchSize, f.dataType)
    }
  }
  private val batch = new ColumnarBatch(vectors)

  override def next(): Boolean = {
    if (offset >= d.nRows) return false
    val n = math.min(BatchSize, d.nRows - offset)
    var i = 0
    while (i < n) { slots(i) = d.slot(offset + i); i += 1 }
    var f = 0
    while (f < vectors.length) {
      vectors(f) match {
        case v: OnHeapColumnVector =>
          v.reset()
          requiredSchema.fields(f).name match {
            case "position" =>
              i = 0
              while (i < n) { v.putLong(i, d.position(slots(i))); i += 1 }
            case "timestamp" =>
              i = 0
              if (options.toDatetime)
                while (i < n) { v.putLong(i, d.timestamp(slots(i)) * 1000000L); i += 1 }
              else
                while (i < n) { v.putInt(i, d.timestamp(slots(i)).toInt); i += 1 }
            case "value" =>
              i = 0
              if (options.dtype == "float")
                while (i < n) { v.putFloat(i, d.value(slots(i)).toFloat); i += 1 }
              else
                while (i < n) { v.putDouble(i, d.value(slots(i))); i += 1 }
          }
        case _ => // constant per partition
      }
      f += 1
    }
    batch.setNumRows(n)
    offset += n
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}
