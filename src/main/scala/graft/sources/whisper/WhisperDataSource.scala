package graft.sources.whisper

import java.util
import java.util.zip.GZIPInputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.WhisperCodec
import graft.format.WhisperCodec.FileMeta

/**
 * DataSource V2 provider: `spark.read.format("whisper").load(path...)`.
 *
 * Planning is header-only: per file we read `16 + 12*archive_count` bytes
 * (seek/stream, never the whole file — unlike the reference's eager
 * whole-file read, `whisper_pandas.py:263-269`, which cannot scale).
 * Point data is only touched executor-side, per partition.
 */
class WhisperDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "whisper"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WhisperOptions(options).schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    val map = new CaseInsensitiveStringMap(properties)
    val patterns = WhisperIO.rawPatterns(map)
    val options = WhisperOptions(map)
    // manifestListing: the file list comes from the manifest itself (plus a
    // bounded store reconcile) — a flat million-entry prefix plans at the
    // cost of the memoized manifest parse instead of ~1000 serial LIST
    // pages (VERDICT r13 #1). Batch only; the streaming tail keeps walking
    // (it needs fresh mtimes and unbounded new-file discovery).
    val entries =
      if (options.manifestListing) WhisperIO.manifestListing(patterns, options)
      else WhisperIO.expandStatuses(patterns,
        parallelism = options.planningParallelism, shard = options.shard,
        shardDepth = options.streamShardDepth)
    // opt-in idle-file floor (mtimeFloor): plan-time prune on the walk's
    // free mtimes — the incremental-export fast path over mostly-idle trees
    val live =
      if (options.mtimeFloorSeconds < 0) entries
      else entries.filter(_.mtimeMs / 1000L >= options.mtimeFloorSeconds)
    new WhisperTable(live, patterns, options)
  }
}

/** Path resolution + header-only metadata reads (driver and executor side). */
object WhisperIO {

  /** Hadoop configuration honoring the application's `spark.hadoop.*` keys
   * (S3 credentials, HDFS nameservices, ...) on BOTH driver and executors —
   * a bare `new Configuration()` would silently drop them. Driver side uses
   * the session's hadoopConf; executor side rebuilds from SparkEnv's conf.
   *
   * MEMOIZED per (active session | executor JVM): the scan's hot paths call
   * this once per FILE (header planning) and once per UNIT (decode open),
   * and `sessionState.newHadoopConf()` clones the full Configuration — XML
   * resource re-parse — per call. At 100k files that clone dominated the
   * whole planning wall (scale_check11_files: ~1.6 ms/file before, see
   * BENCH_NOTES r11). Concurrent READS of one Configuration are safe (its
   * store is a synchronized Properties); the scan never writes to it.
   *
   * The memo is a small per-session map (weak session keys — a stopped
   * session's entry is GC-reclaimable), so two sessions interleaving on one
   * driver each keep their own conf instead of thrashing a single slot
   * (ADVICE r11). The conf is FROZEN at a session's first whisper scan:
   * runtime `spark.conf.set("spark.hadoop.*", ...)` changes after that
   * (e.g. rotating object-store credentials mid-session) are not picked up
   * automatically — call [[invalidateHadoopConf]] after such a change (the
   * alternative, fingerprinting the session's runtime conf per call, would
   * reintroduce the per-file cost the memo exists to remove). Executor JVMs
   * key on null and build once from SparkEnv. */
  private val confCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[AnyRef, Configuration]())
  private val NullKey = new Object // WeakHashMap key for the executor-JVM case
  def hadoopConf(): Configuration = {
    val key: AnyRef = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(NullKey)
    val cached = confCache.get(key)
    if (cached != null) cached
    else {
      val conf = buildHadoopConf(key)
      confCache.put(key, conf)
      conf
    }
  }

  /** Drop the memoized hadoop conf for the active session (all sessions when
   * none is active) so the next whisper I/O rebuilds it from the session's
   * CURRENT runtime conf — the explicit refresh hook for mid-session
   * `spark.hadoop.*` changes such as credential rotation. */
  def invalidateHadoopConf(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => confCache.remove(s)
      case None    => confCache.clear()
    }

  private def buildHadoopConf(sessionOrNull: AnyRef): Configuration =
    sessionOrNull match {
      case s: org.apache.spark.sql.SparkSession => s.sessionState.newHadoopConf()
      case _ =>
        val conf = new Configuration()
        val env = org.apache.spark.SparkEnv.get
        if (env != null) {
          env.conf.getAll.foreach { case (k, v) =>
            if (k.startsWith("spark.hadoop.")) conf.set(k.stripPrefix("spark.hadoop."), v)
          }
        }
        conf
    }

  /** The user-supplied path patterns, un-expanded: a single `path` or a
   * JSON `paths` array (DataFrameReader.load(paths*) passes the latter). The
   * streaming source re-expands them per micro-batch to pick up newly
   * written files. */
  def rawPatterns(map: CaseInsensitiveStringMap): Seq[String] = {
    val raw = mutable.ArrayBuffer[String]()
    Option(map.get("paths")).foreach { json =>
      val arr = new ObjectMapper().readTree(json)
      arr.elements().asScala.foreach(n => raw += n.asText())
    }
    Option(map.get("path")).foreach(raw += _)
    require(raw.nonEmpty, "whisper source requires a path: spark.read.format(\"whisper\").load(path)")
    raw.toSeq
  }

  /** One expanded file: path plus the two FileStatus fields the directory
   * walk yields for free — mtime (ms; the streaming tail's idle-prune key)
   * and length (bytes; create-time-constant for the preallocated format, so
   * it doubles as the header-cache staleness key: a file rewritten in place
   * with a different retention layout changes length exactly then). */
  final case class FileEntry(path: String, mtimeMs: Long, len: Long)

  /** Glob/directory expansion. `lenient` skips the no-match error — a
   * stream tailing a glob must tolerate a window with no files yet. */
  def expandPatterns(patterns: Seq[String], lenient: Boolean = false): Seq[String] =
    expandStatuses(patterns, lenient).map(_.path)

  /** Stable shard assignment: hash of a path component NAME (scheme- and
   * qualification-independent), MurmurHash3 so sibling names spread evenly. */
  private def inShard(name: String, shard: Option[(Int, Int)]): Boolean =
    shard match {
      case None => true
      case Some((i, n)) => math.floorMod(scala.util.hashing.MurmurHash3.stringHash(name), n) == i
    }

  /** Run `f` over `xs` with a DEDICATED bounded pool. Planning I/O is
   * latency-bound on remote stores (a header read / directory list is a
   * 10-50 ms GET); the default ForkJoinPool is sized for CPU work and is
   * shared with everything else on the driver, so latency hiding gets its
   * own short-lived pool sized by `planningParallelism`. */
  private[graft] def parMap[A, B](xs: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    if (xs.length <= 1 || parallelism <= 1) xs.map(f)
    else {
      val pool = new java.util.concurrent.ForkJoinPool(math.min(parallelism, xs.length))
      try {
        val pc = new scala.collection.parallel.immutable.ParVector(xs.toVector)
        pc.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
        pc.map(f).seq
      } finally pool.shutdown()
    }

  /** Expansion keeping each file's modification time and length — free
   * metadata from the directory walk (see [[FileEntry]]).
   *
   * `parallelism` > 1 walks sibling directories concurrently (one listing
   * per directory is a GET on object stores; a deep serial walk of a
   * million-file tree would pay them one at a time). `shard` = Some((i, n))
   * keeps only the i-th of n stable hash-shards of each matched root's
   * TOP-LEVEL entries — n readers split one tree at walk granularity, each
   * listing only its own subtrees. */
  def expandStatuses(
      patterns: Seq[String],
      lenient: Boolean = false,
      parallelism: Int = 1,
      shard: Option[(Int, Int)] = None,
      shardDepth: Int = 1): Seq[FileEntry] =
    patterns.flatMap(p => expand(p, lenient, parallelism, shard, shardDepth))

  private def expand(
      pattern: String,
      lenient: Boolean,
      parallelism: Int,
      shard: Option[(Int, Int)],
      shardDepth: Int): Seq[FileEntry] = {
    val p = new HPath(pattern)
    val fs = p.getFileSystem(hadoopConf())
    // globStatus is already list-based for wildcard components (measured on
    // the SlowFs counters: zero per-match stats for a trailing glob), so no
    // custom matcher is warranted here
    val matches: Seq[FileStatus] =
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    require(lenient || matches.nonEmpty, s"whisper path matches no files: $pattern")
    // Graphite trees nest metrics (dir/sub/metric.wsp): recurse the whole
    // subtree, not just the first level. Recursion is a manual listStatus
    // walk, NOT fs.listFiles(path, recursive=true): listFiles wraps every
    // entry in a LocatedFileStatus whose constructor eagerly loads POSIX
    // permissions, and on a local FS without native hadoop libs that FORKS
    // a shell per file (RawLocalFileSystem.loadPermissionInfoByNonNativeIO)
    // — measured minutes-to-hours against a million-file tree
    // (BENCH_NOTES r11). Plain FileStatus keeps permissions lazy; the walk
    // reads only path + isDirectory + mtime + length, one directory listing
    // per dir. The walk is LEVEL-SYNCHRONOUS: each level's directories list
    // concurrently through [[parMap]] (trees are wide, so the pool fills
    // from level 1), results merged between levels.
    val (dirMatches, fileMatches) = matches.partition(_.isDirectory)
    val files = mutable.ArrayBuffer[FileEntry]()
    files ++= fileMatches.collect {
      case st if inShard(st.getPath.getName, shard) =>
        FileEntry(st.getPath.toString, st.getModificationTime, st.getLen)
    }
    def keep(f: FileStatus): Boolean = {
      val name = f.getPath.getName
      name.endsWith(".wsp") || name.endsWith(".wsp.gz")
    }
    // depth 0 = the matched roots themselves (never sharded). Ownership is
    // decided by the stable hash of the path component at `shardDepth`
    // levels below the root (default 1 = direct children, the balanced-
    // fan-out case): entries DEEPER than that inherit their ancestor's
    // assignment (their whole subtree was kept or pruned there), dirs
    // SHALLOWER are walked by every shard (they are above the ownership
    // boundary), and files shallower hash by their own name — so every
    // file is assigned by exactly one rule and shards tile the tree.
    def owned(name: String, isDir: Boolean, childDepth: Int): Boolean =
      if (childDepth > shardDepth) true
      else if (childDepth == shardDepth) inShard(name, shard)
      else if (isDir) true
      else inShard(name, shard)
    var level: Seq[HPath] = dirMatches.map(_.getPath)
    var depth = 0
    while (level.nonEmpty) {
      val listed = parMap(level, parallelism) { d =>
        val dirs = mutable.ArrayBuffer[HPath]()
        val out = mutable.ArrayBuffer[FileEntry]()
        val it = fs.listStatusIterator(d)
        while (it.hasNext) {
          val f = it.next()
          val sharded = owned(f.getPath.getName, f.isDirectory, depth + 1)
          if (sharded) {
            if (f.isDirectory) dirs += f.getPath
            else if (keep(f)) out += FileEntry(f.getPath.toString, f.getModificationTime, f.getLen)
          }
        }
        (dirs.toSeq, out.toSeq)
      }
      listed.foreach { case (_, fe) => files ++= fe }
      level = listed.flatMap(_._1)
      depth += 1
    }
    files.toSeq.sortBy(_.path)
  }

  /**
   * Walk-free planning for flat prefixes (VERDICT r13 #1): the plan-time
   * file list comes FROM the header manifest instead of a directory walk.
   *
   * Why: object stores page listings (~1000 entries per response, SERIAL
   * continuation tokens), so a FLAT million-entry prefix costs ~1000 list
   * round trips no walk parallelism can hide — sharding splits subtrees,
   * and a flat prefix has none (the r13 probe's headline: 10,001 LISTs at
   * the 1M tree even when the manifest served every header). The manifest
   * already enumerates every file with its length; serving the LIST from
   * it turns the plan floor into the manifest parse (memoized per version).
   *
   * Pattern matching is driver-side string work against the manifest's
   * QUALIFIED paths, zero store requests: a manifest entry is served when
   * its path equals a qualified pattern, falls under a pattern-named
   * directory, or — for wildcard patterns — glob-matches the full path or
   * one of its ancestor directories (note `*`/`?` here may cross `/`,
   * unlike the component-wise walk glob; a superset for sane trees, and
   * the flat-prefix shapes this mode targets use directory patterns).
   *
   * Staleness contract: within [[reconcileRoot]]'s bounded lexicographic
   * sweep (`manifestReconcileFiles` direct entries per directory pattern),
   * new files JOIN the plan (their headers read fresh), deleted files
   * DROP, and changed lengths refresh; beyond the bound the manifest is
   * trusted until its next refresh — a new file is invisible and a deleted
   * file scans as EMPTY (decode tolerates FileNotFound under this mode,
   * producing exactly the rows a post-deletion walk would have) until
   * `manifest --update` runs. The per-plan content spot check still
   * guards the served headers themselves.
   */
  /** The SERVE phase of [[manifestListing]] memoized per (manifest path +
   * qualified patterns, manifest version): iterating a million-entry map,
   * pattern-matching every path, allocating the FileEntry list, and
   * sorting it is pure driver CPU that measured ~3.7 s per call at 1M
   * entries (r16 decomposition) — and a steady-state streaming trigger
   * paid it EVERY trigger even after the parse and the bin-packed plan
   * were memoized. Inputs are deterministic per manifest version, so the
   * sorted entry list is cached exactly like the parse ([[WhisperManifest
   * .load]]'s (len, mtime) stamp, replace-on-refresh so superseded
   * versions are not stranded). Entries are immutable and share the
   * parse's path strings; the reconcile sweep runs per call ON TOP of the
   * memoized list, so store freshness is untouched. */
  private val listingCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Seq[FileEntry])]()

  def manifestListing(patterns: Seq[String], options: WhisperOptions): Seq[FileEntry] = {
    require(options.headerManifest.nonEmpty, "manifestListing requires headerManifest")
    // qualified patterns: pure path arithmetic, no store round trips
    val quals = patterns.map { pat =>
      val p = new HPath(pat)
      p.getFileSystem(hadoopConf()).makeQualified(p).toString
    }
    val manifestPath = options.effectiveManifest
    val version =
      try {
        val p = new HPath(manifestPath)
        val st = p.getFileSystem(hadoopConf()).getFileStatus(p)
        (st.getLen, st.getModificationTime)
      } catch { case scala.util.control.NonFatal(_) => null }
    val cacheKey = manifestPath + "\u0000" + quals.mkString("\u0001")
    val hit = if (version == null) null else listingCache.get(cacheKey)
    val served: Seq[FileEntry] =
      if (hit != null && hit._1 == version) hit._2
      else {
        // sharded streams load their own 1/n manifest file (r15) — the
        // serve below then tiles by construction; reconcile ADDS are
        // shard-filtered at the end so a store file never plans twice
        val manifest = WhisperManifest.load(manifestPath)
        val globs = quals.map(q =>
          if (new org.apache.hadoop.fs.GlobPattern(q).hasWildcard)
            Some(new org.apache.hadoop.fs.GlobPattern(q))
          else None)
        def matches(path: String): Boolean =
          quals.indices.exists { i =>
            globs(i) match {
              case None => path == quals(i) || path.startsWith(quals(i) + "/")
              case Some(g) =>
                g.matches(path) || {
                  // a glob that named DIRECTORIES in walk mode recurses
                  // them; here: any ancestor dir matching the glob serves
                  var anc = path.lastIndexOf('/')
                  var hit = false
                  while (!hit && anc > 0) {
                    hit = g.matches(path.substring(0, anc))
                    anc = path.lastIndexOf('/', anc - 1)
                  }
                  hit
                }
            }
          }
        // a VECTOR (IndexedSeq), sorted: the reconcile fast path binary-
        // searches it, and sorted order is the deletion-range contract
        val built = manifest.iterator.collect {
          case (path, e) if matches(path) => FileEntry(path, mtimeMs = -1L, len = e.len)
        }.toVector.sortBy(_.path)
        if (version != null) listingCache.put(cacheKey, (version, built))
        built
      }
    // bounded store reconcile: only non-glob DIRECTORY patterns (the flat
    // prefix target); glob patterns are served purely from the manifest
    // shard ownership (r15): the reconcile sweep lists STORE entries, which
    // include every shard's files — only this stream's may JOIN its plan
    // (served entries already belong: they come from the shard's own
    // manifest file); foreign files are not "new", so the add path and its
    // log counts are ownership-filtered at the source
    val owns: String => Boolean = options.shard match {
      case Some((i, n)) => p => WhisperManifest.shardOf(p, n) == i
      case None         => _ => true
    }
    // ADVICE r15: under sharding each stream owns only ~1/n of the store's
    // lexicographic prefix, so a fixed `limit` consumed entries dilutes
    // per-shard new-file coverage to ~limit/n — page until `limit` OWNED
    // whisper entries have been seen, hard-capped at limit * n consumed
    // (at most n pages instead of 1; the fleet's total LIST cost per
    // trigger is then n * n pages, the price of n independent planners)
    val shardN = options.shard.map(_._2).getOrElse(1)
    if (options.manifestReconcileFiles <= 0) served // memoized list, already sorted
    else {
      val dirQuals =
        quals.filterNot(q => new org.apache.hadoop.fs.GlobPattern(q).hasWildcard)
      // mtimes are load-bearing only for the stream's opt-in idle prune
      // (batch mtimeFloor is incompatible with manifestListing by require):
      // with the prune off, a drift-free page may return the memoized list
      // UNCHANGED instead of rebuilding it with store mtimes
      val mtimesUnused = options.streamMtimeSlopSeconds < 0
      // sorted-input flag (ADVICE r16): the zero-drift fast path binary-
      // searches `entries`, which is only valid on the memoized SORTED
      // vector — after one root takes the slow path (kept ++ unsorted
      // adds), later roots in the fold must not attempt it
      val (reconciled, _) = dirQuals.foldLeft((served: Seq[FileEntry], true)) {
        case ((acc, sorted), root) =>
          val r = reconcileRoot(acc, root, options.manifestReconcileFiles,
            options.planningParallelism, owns, shardN, mtimesUnused, sorted,
            options.manifestReconcilePageBudget,
            cacheKey + "\u0002" + String.valueOf(version) + "\u0002" + root)
          (r, sorted && (r eq acc))
      }
      if (reconciled eq served) served // zero drift everywhere: keep the memoized instance
      else
        // kept entries preserve the memoized sort; only the page's handful
        // of adds land out of order, so this re-sort is near-linear (TimSort)
        reconciled.sortBy(_.path)
    }
  }

  /** Persistent roaming LIST cursor for the SHARDED manifest reconcile
   * (VERDICT r16 watch #2): one continuation iterator per (stream cache
   * key, root) surviving across micro-batch triggers, so each trigger
   * consumes `pageBudget * limit` entries and the directory is swept
   * round-robin — the continuation-token shape object stores serve
   * natively. `lastName` is the window's exclusive lower bound for the
   * next trigger's deletion range. Bounded map; an entry holds only a
   * lazy listing iterator. */
  private final class RoamCursor {
    var it: org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.FileStatus] = null
    var lastName: String = ""
    // drift MEMORY (name -> Some(entry) for an add/length-update, None for
    // a deletion): a change discovered in one window must stay applied on
    // triggers whose windows do NOT cover it — without this a new file
    // would be in 1 of ceil(dir/limit) plans and its stream windows would
    // silently lose points. Reset by manifest refresh (the version is part
    // of the cursor key) and re-decided by any window that covers the name.
    var overrides: Map[String, Option[FileEntry]] = Map.empty
  }
  private val roamCursors = new java.util.concurrent.ConcurrentHashMap[String, RoamCursor]()

  /** Test/maintenance hook: drop all roaming reconcile cursors. */
  private[graft] def resetRoamCursors(): Unit = roamCursors.clear()

  /** Diff the manifest-derived entry list against the FIRST `limit` direct
   * entries of `root` (one bounded paged LIST — on object stores a
   * lexicographic prefix). In the covered range: files present in the
   * store but not the list are ADDED (header read fresh downstream, the
   * manifest has none), files in the list but not the store are DROPPED,
   * lengths refresh from the store. Deletion detection needs a defined
   * range: applied for names <= the last listed name only when the
   * listing arrived sorted (object stores do; an unsorted local listing
   * that was cut short reconciles adds/updates only). Nested files are
   * untouched — the bound covers DIRECT children, which is the flat-prefix
   * shape this mode exists for.
   *
   * `shardN` > 1 (VERDICT r16 watch #2, superseding the r15
   * n-pages-per-trigger owned-coverage sweep): the consumer owns ~1/shardN
   * of the store's entries and sweeps the directory with a PERSISTENT
   * ROAMING CURSOR instead of re-listing the same prefix — each call
   * consumes up to `pageBudget * limit` entries CONTINUING where the
   * previous trigger's window ended (the continuation-token shape object
   * stores serve natively), so per-trigger LIST cost is flat (budget
   * pages) and full-directory drift coverage is EVENTUAL: a new, deleted,
   * or changed file is surfaced within one full sweep — at most
   * ceil(dirEntries / (pageBudget * limit)) triggers after the sweep that
   * snapshotted before the change finishes (see the discovery-latency
   * spec). Deletions are ranged per WINDOW, (windowStart, lastListed],
   * both bounds meaningful only on sorted listings; `pageBudget = shardN`
   * restores r15's per-trigger owned coverage on top of the roaming
   * cursor. */
  private def reconcileRoot(
      entries: Seq[FileEntry], root: String, limit: Int, parallelism: Int,
      owns: String => Boolean = _ => true, shardN: Int = 1,
      mtimesUnused: Boolean = false, sortedInput: Boolean = true,
      pageBudget: Int = 1, cursorKey: String = null): Seq[FileEntry] = {
    val rp = new HPath(root)
    val fs = rp.getFileSystem(hadoopConf())
    val seen = mutable.LinkedHashMap[String, FileEntry]() // direct whisper children listed
    var consumed = 0
    var exhausted = false
    var windowStart = "" // exclusive lower bound of this window ("" = dir start)
    var lastListed = ""  // last consumed name (any entry type)
    val roaming = shardN > 1 && cursorKey != null
    var cur: RoamCursor = null
    var remembered: Map[String, Option[FileEntry]] = Map.empty
    try {
      if (roaming) {
        // bound the cursor map (keys churn with manifest versions)
        if (roamCursors.size > 256) roamCursors.clear()
        cur = roamCursors.computeIfAbsent(cursorKey, _ => new RoamCursor)
        cur.synchronized {
          remembered = cur.overrides
          if (cur.it == null) { cur.it = fs.listStatusIterator(rp); cur.lastName = "" }
          windowStart = cur.lastName
          val cap = pageBudget.toLong * limit
          while (cur.it.hasNext && consumed < cap) {
            val st = cur.it.next()
            consumed += 1
            val name = st.getPath.getName
            if (!st.isDirectory && (name.endsWith(".wsp") || name.endsWith(".wsp.gz")))
              seen.put(name, FileEntry(st.getPath.toString, st.getModificationTime, st.getLen))
            cur.lastName = name
          }
          lastListed = cur.lastName
          exhausted = !cur.it.hasNext
          if (exhausted) { cur.it = null; cur.lastName = "" } // next trigger re-lists from the top
        }
      } else {
        val it = fs.listStatusIterator(rp)
        while (it.hasNext && consumed < limit) {
          val st = it.next()
          consumed += 1
          val name = st.getPath.getName
          if (!st.isDirectory && (name.endsWith(".wsp") || name.endsWith(".wsp.gz")))
            seen.put(name, FileEntry(st.getPath.toString, st.getModificationTime, st.getLen))
          lastListed = name
        }
        exhausted = !it.hasNext
      }
    } catch {
      case _: java.io.FileNotFoundException =>
        if (roaming) roamCursors.remove(cursorKey)
        return entries // root gone: manifest as-is
    }
    if (seen.isEmpty && !exhausted && !roaming) return entries
    val names = seen.keys.toVector
    // window order evidence: whisper names sorted AND consistent with the
    // previous window's bound — deletions are only safe on sorted listings
    val windowSorted = names.iterator.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)) &&
      (windowStart.isEmpty || names.isEmpty || names.head > windowStart)
    val fullCover = exhausted && windowStart.isEmpty
    // this window's deletion range: a direct child in it that the store
    // page did not list is deleted
    def covered(name: String): Boolean =
      fullCover || (windowSorted &&
        (windowStart.isEmpty || name > windowStart) &&
        (exhausted || name <= lastListed))
    def direct(path: String): Option[String] = { // Some(name) iff a direct child of root
      if (!path.startsWith(root + "/")) None
      else {
        val rest = path.substring(root.length + 1)
        if (rest.contains('/')) None else Some(rest)
      }
    }
    // ZERO-DRIFT fast path (r16): the steady-state trigger's store page
    // usually matches the manifest exactly, yet the rebuild below pays an
    // O(n) flatMap + name-set + sort over the (million-entry) list EVERY
    // trigger — after the r16 listing/plan memos that rebuild IS the
    // trigger floor. When the input is the memoized SORTED vector
    // (`sortedInput`, ADVICE r16: a prior root's slow-path result is NOT
    // sorted and must not be binary-searched) and mtimes are unused
    // downstream (`mtimesUnused`; with the mtime idle prune active the
    // page's fresh store mtimes are load-bearing and the rebuild must
    // run), detect drift by binary-searching each page entry and
    // range-scanning the covered window for deletions — O(page log n) —
    // and return `entries` UNCHANGED (same instance: the stream's
    // base-plan memo then hits on reference equality) when nothing moved.
    val zeroDrift = mtimesUnused && sortedInput && remembered.isEmpty && (entries match {
      case v: IndexedSeq[FileEntry] if v.nonEmpty =>
        def lowerBound(key: String): Int = {
          var lo = 0; var hi = v.length
          while (lo < hi) { val m = (lo + hi) >>> 1; if (v(m).path < key) lo = m + 1 else hi = m }
          lo
        }
        // sharded streams: the page lists EVERY shard's files but v holds
        // only this shard's manifest — foreign entries are not drift
        // (ADVICE r16: without this filter the fast path never fired under
        // sharding and every trigger paid the O(n) rebuild)
        val ownedPage =
          if (shardN == 1) seen.valuesIterator.toSeq
          else seen.valuesIterator.filter(st => owns(st.path)).toSeq
        val pageClean = ownedPage.forall { st =>
          val i = lowerBound(st.path)
          i < v.length && v(i).path == st.path && v(i).len == st.len
        }
        pageClean && {
          // covered deletion range: direct children in this window must
          // all be in `seen`; bail on the first miss — the slow path
          // below recomputes correctness
          var i = lowerBound(root + "/" + windowStart)
          var clean = true
          var scanned = 0
          val scanCap = seen.size * 2 + 64 // nested entries interleave; drift beyond this -> slow path
          while (clean && i < v.length && v(i).path.startsWith(root + "/") && scanned < scanCap) {
            direct(v(i).path) match {
              case Some(name) if covered(name) =>
                scanned += 1
                clean = seen.contains(name)
              case Some(name) if !exhausted && windowSorted && name > lastListed =>
                i = v.length // sorted: nothing covered remains
              case _ => // window's exclusive bound / nested entry: outside the contract
            }
            i += 1
          }
          clean && scanned <= ownedPage.size // more covered entries than the page listed = drift
        }
      case _ => false
    })
    if (zeroDrift) return entries
    var drops = 0
    var updates = 0
    val kept = entries.flatMap { e =>
      direct(e.path) match {
        case Some(name) if seen.contains(name) =>
          val st = seen(name)
          if (st.len != e.len) updates += 1
          Some(st) // store's mtime + length win (length mismatch => fresh header read)
        case Some(name) if covered(name) =>
          drops += 1; None // covered window, absent from the store: deleted
        case Some(name) if remembered.contains(name) =>
          remembered(name) // outside this window: an earlier window's verdict stands
        case _ => Some(e) // nested / beyond the window: trust the manifest
      }
    }
    // name -> manifest length for the direct children (one pass; also the
    // O(1) lookup the drift recording below needs)
    val knownLen: Map[String, Long] =
      entries.iterator.flatMap(e => direct(e.path).map(n => n -> e.len)).toMap
    // `seen` stays UNFILTERED (the deletion range and length refresh cover
    // exactly what the page listed); ownership gates only what may JOIN
    val adds = seen.collect {
      case (name, st) if !knownLen.contains(name) && owns(st.path) => st
    }.toSeq
    // remembered adds from earlier windows, not re-decided by this one
    val rememberedAdds = remembered.collect {
      case (name, Some(fe))
          if !knownLen.contains(name) && !seen.contains(name) && !covered(name) => fe
    }.toSeq
    if (roaming) cur.synchronized {
      // this window's verdicts supersede memory inside its range...
      var ov = cur.overrides.filter { case (name, _) =>
        !covered(name) && !seen.contains(name)
      }
      // ...and its own drift is recorded: adds + length-updates (store
      // entry differs from the manifest) and deletions
      seen.foreach { case (name, st) =>
        if (owns(st.path)) {
          knownLen.get(name) match {
            case None                      => ov += name -> Some(st)
            case Some(len) if len != st.len => ov += name -> Some(st)
            case _                          =>
          }
        }
      }
      knownLen.keysIterator.foreach { name =>
        if (covered(name) && !seen.contains(name)) ov += name -> None
      }
      cur.overrides = ov
    }
    if (drops + updates + adds.size > 0)
      System.err.println(
        s"INFO WhisperIO.manifestListing: reconciled $root against $consumed " +
          s"store entries" + (if (roaming) s" (window after '$windowStart')" else "") +
          s": +${adds.size} new, -$drops deleted, $updates length-changed " +
          "(drift beyond this window surfaces on later triggers or at the next manifest refresh)")
    kept ++ adds ++ rememberedAdds
  }

  /** Header-only metadata read (gzip-aware). Mirrors `WhisperFile.read` +
   * `WhisperFileMeta.from_buffer` (`whisper_pandas.py:244-275, 98-123`) but
   * reads only the header bytes. `fileSizeActual` for gzip files is the
   * decompressed size, matching the reference which measures the decompressed
   * buffer (`test_whisper_pandas.py:91-97`) — computed by streaming the file
   * once without materializing it. Scan planning uses
   * [[readMetaHeaderOnly]] instead: it never pays the full-stream cost. */
  def readMeta(pathStr: String, gzip: Boolean): FileMeta = {
    val p = new HPath(pathStr)
    val fs = p.getFileSystem(hadoopConf())
    val onDiskSize = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      if (gzip) {
        val gin = new GZIPInputStream(in)
        // decompressed size: header first, then count remaining bytes
        val headBuf = new Array[Byte](64 * 1024)
        val headLen = WhisperCodec.readFully(gin, headBuf, headBuf.length)
        var total = headLen.toLong
        val skipBuf = new Array[Byte](1 << 20)
        var n = 0
        while (n >= 0) {
          n = gin.read(skipBuf)
          if (n > 0) total += n
        }
        WhisperCodec.parseMeta(headBuf.take(headLen), pathStr, total)
      } else {
        WhisperCodec.readMeta(in, pathStr, onDiskSize)
      }
    } finally in.close()
  }

  /** Planning-path metadata: reads ONLY the header region even for gzip
   * (decompresses just the first bytes; never streams the body). The
   * decompressed `fileSizeActual` is unknowable without a full pass, so it is
   * reported as -1 — partition planning never consults it. At 100 TB / many
   * thousands of files this is the difference between planning in seconds
   * and planning in hours. */
  def readMetaHeaderOnly(pathStr: String, gzip: Boolean): FileMeta =
    readMetaHeaderOnly(pathStr, gzip, knownLen = -2L)

  /** `knownLen >= 0` (the directory walk's FileStatus length — free) skips
   * the per-file getFileStatus round trip: on an object store that is one
   * GET per file saved, HALVING the planning sweep's request count. */
  def readMetaHeaderOnly(pathStr: String, gzip: Boolean, knownLen: Long): FileMeta = {
    val p = new HPath(pathStr)
    val fs = p.getFileSystem(hadoopConf())
    val onDiskSize = if (knownLen >= 0) knownLen else fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      if (gzip) WhisperCodec.readMeta(new GZIPInputStream(in), pathStr, -1L)
      else WhisperCodec.readMeta(in, pathStr, onDiskSize)
    } finally in.close()
  }
}

class WhisperTable(paths: Seq[WhisperIO.FileEntry], rawPatterns: Seq[String], options: WhisperOptions)
    extends Table with SupportsRead {
  // The table name rides in every plan string, RDD operation scope (JSON
  // with a 20 MB Jackson cap), UI label, and event-log line — embedding a
  // million expanded paths made it a 20+ MB string and broke df.rdd at 1M
  // files (BENCH_NOTES r11). Name by the user's PATTERNS (bounded input),
  // capped, with the expanded file count alongside.
  override def name(): String = {
    val shown = rawPatterns.take(3).mkString(",")
    val more = if (rawPatterns.size > 3) s",... +${rawPatterns.size - 3} patterns" else ""
    s"whisper($shown$more; ${paths.size} files)"
  }
  override def schema(): StructType = options.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new WhisperScanBuilder(paths, rawPatterns, options)
}
