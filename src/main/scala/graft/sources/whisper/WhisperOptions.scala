package graft.sources.whisper

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * Reader options — the four user-facing knobs of the reference's `to_frame`
 * (defaults at `whisper_pandas.py:188-191`) plus compression inference
 * (`whisper_pandas.py:252-261`) and a scale knob the reference lacks.
 *
 *  - `dropTimeZero` (default true): drop never-filled ring slots (timestamp 0).
 *  - `toDatetime`   (default true): timestamp as TimestampType (UTC) vs raw int seconds.
 *                   `false` makes no ordering claim: the int column reads
 *                   seconds past 2^31 as negative, so Spark sorts it itself.
 *  - `timeSort`     (default true): emit each archive in chronological order
 *                   (the ring buffer is physically rotated).
 *  - `dtype`        (default "double"): value column type, "double" | "float".
 *  - `compression`  (default "infer"): "infer" (by .gz suffix) | "none" | "gzip".
 *  - `maxPointsPerSplit` (default 8M): archives larger than this are split into
 *                   multiple scan partitions (byte-range reads). With
 *                   `timeSort=true` the chunks are emitted oldest-run-first via a
 *                   plan-time ring-rotation probe so each chunk is ascending AND
 *                   chunk boundaries tile disjoint time windows (see
 *                   `orderedSplit`); a probe failure falls back to one partition
 *                   per archive (the pre-r10 shape) so per-archive order is never
 *                   silently lost.
 *  - `orderedSplit` (default true): allow the rotation-probed ordered chunking of
 *                   oversized `timeSort` archives. `false` restores one partition
 *                   per archive (the escape hatch named by the runtime
 *                   dense-rotation enforcement error).
 *  - `binThreshold` (default 128): when a glob expands to more scan units than
 *                   this, small units are bin-packed into shared partitions
 *                   (up to `maxPointsPerSplit` points per bin, with a
 *                   per-unit open cost) so a million-file graphite tree
 *                   schedules thousands of tasks, not millions.
 */
final case class WhisperOptions(
    dropTimeZero: Boolean,
    toDatetime: Boolean,
    timeSort: Boolean,
    dtype: String,
    compression: String,
    maxPointsPerSplit: Long,
    streamStartTimestamp: Long,
    streamNowOverride: Long,
    binThreshold: Int = 128,
    orderedSplit: Boolean = true,
    // Header planning is LATENCY-bound on remote object stores (a header
    // read is a ~10-50 ms GET); this many concurrent header/list operations
    // hide that latency. Local filesystems are indifferent to the extra
    // threads (syscall-bound, measured r12), so one default serves both.
    planningParallelism: Int = 64,
    // Path to a header manifest written by `graft.Main manifest` (or
    // [[WhisperManifest.write]]): planning takes header metadata from the
    // manifest instead of one ranged read per file — headers are
    // create-time constants, so a manifest turns million-file remote
    // planning from a GET-per-file sweep into one manifest load + the
    // directory walk. Entries are staleness-keyed on file length; a file
    // whose length changed since the manifest (re-layout) is read fresh.
    headerManifest: String = "",
    // Content spot check per plan against the SAME-LENGTH re-layout hole
    // (length staleness cannot see a resize that preserves archive/point
    // counts — ADVICE r12, [[WhisperManifest]] scaladoc): re-read up to
    // this many manifest-served headers and discard the manifest for the
    // plan on any divergence. 0 disables (restores the r12 zero-header-
    // opens plan at the cost of trusting the manifest blindly).
    manifestSpotCheck: Int = 8,
    // Batch twin of the streaming idle prune, OPT-IN (-1 = off): files whose
    // mtime (seconds) is BELOW this floor are dropped at plan time — no
    // header read, no scan. The caller asserts the same write-behind/clock
    // assumptions as streamMtimeSlop; incremental export passes
    // `watermark - slop` so a delta run over a mostly-idle tree reads only
    // recently-written files.
    mtimeFloorSeconds: Long = -1L,
    // "i/n": this reader owns shard i of n, assigned by a stable hash of
    // each top-level subtree under the matched roots (files directly under
    // a root hash by their own name). n streams over one tree each walk
    // only ~1/n of it — the r11 answer to the million-file steady-state
    // discovery floor, now first-class. Empty = no sharding.
    streamShard: String = "",
    // Component depth below each matched root at which the stable hash
    // assigns shard ownership (default 1 = top-level subtrees, the r12
    // behavior). Top-level assignment assumes balanced top-level fan-out —
    // true for graphite service trees, FALSE when one subtree holds most of
    // the files (VERDICT r12 open-surface #3): there depth-1 sharding gives
    // one stream ~the whole skewed subtree. depth=2 hashes the NEXT level
    // (e.g. hosts under the one giant service), splitting the hot subtree
    // across shards; the price is every shard listing the levels ABOVE the
    // shard depth (one LIST per shallow dir per shard — cheap for the wide
    // shallow levels this targets). Files shallower than the shard depth
    // hash by their own name, so shards always tile the tree exactly —
    // PROVIDED all n readers use the same depth (the depth is part of the
    // shard scheme, not a per-reader preference; mixed depths overlap).
    streamShardDepth: Int = 1,
    // Streaming only: every N-th trigger, re-read up to `manifestSpotCheck`
    // headers the per-stream cache is serving and compare content —
    // closing the cache's SAME-LENGTH re-layout hole for long-lived
    // streams (VERDICT r13 #1: a mid-stream resize that preserves length
    // served stale spp to window pruning until restart). Any divergence
    // clears the whole cache (re-layout migrations are systematic — the
    // same blast-radius stance as the manifest discard) and invalidates
    // the manifest's memoized spot-check verdict so the next plan
    // re-verifies against the store. Amortized cost at the default:
    // <= 8 header GETs per 64 triggers (~0.13/trigger); 0 disables, and
    // manifestSpotCheck=0 disables too (the user opted out of content
    // checking entirely).
    streamRevalidateTriggers: Int = 64,
    // Take the plan-time FILE LIST from the header manifest itself instead
    // of walking the store (VERDICT r13 #1: a FLAT million-entry prefix
    // costs ~1000 SERIAL list pages no directory-walk parallelism can
    // hide — with this on, the plan floor is the manifest parse).
    // Requires `headerManifest`. Staleness contract: new/deleted files
    // are surfaced by the bounded reconcile sweep below within its
    // lexicographic bound and otherwise at the next manifest refresh;
    // a manifest-listed file deleted from the store reads as EMPTY (the
    // same rows a post-deletion walk would have produced) instead of
    // failing the scan. Applies to batch AND the streaming tail (r15 —
    // the tail paid the walk EVERY trigger, the worst case of the flat-
    // prefix shape); for streams, new-file discovery rides the reconcile
    // sweep, mtime idle-pruning degrades to unprunable (mtime unknown)
    // for manifest-served entries, and the periodic content revalidation
    // keeps guarding served headers.
    manifestListing: Boolean = false,
    // With `manifestListing`: reconcile the manifest against the store's
    // FIRST `manifestReconcileFiles` direct entries of each directory
    // pattern (bounded paged LIST — lexicographic prefix on object
    // stores). In the covered range, new files join the plan (headers
    // read fresh), deleted files drop, changed lengths refresh; beyond
    // it the manifest is trusted until its next refresh. 0 disables.
    manifestReconcileFiles: Int = 1000,
    // With `manifestListing` + `streamShard`: LIST pages (of
    // `manifestReconcileFiles` consumed entries each) the reconcile may
    // spend per trigger. Sharded streams ROAM a persistent listing cursor
    // across triggers (continuation-token round-robin over the directory)
    // instead of re-listing the same prefix, so the whole directory is
    // covered EVENTUALLY — within ceil(entries / (budget * files)) triggers
    // — at a flat budget-pages-per-trigger cost (VERDICT r16: the r15
    // owned-coverage fix paid up to n pages per trigger per shard, n^2
    // LIST pages per trigger fleet-wide).
    manifestReconcilePageBudget: Int = 1,
    // streaming only: a file whose mtime + slop precedes the micro-batch
    // window start is pruned at PLAN time (an idle file cannot hold points
    // inside the window under the tail's write-behind model, where a point's
    // write wall-time tracks its timestamp). OPT-IN (-1 = no pruning, the
    // default): the prune assumes (a) points are never written with
    // timestamps more than `slop` ahead of the writer's wall clock, and
    // (b) the file server's clock lags the driver's (which derives window
    // offsets from ITS wall clock) by less than `slop` — whisper the FORMAT
    // permits any timestamp, so a tree violating either assumption would
    // silently lose data under a default-on prune (ADVICE r11). Set it
    // explicitly (3600 is the measured sweet spot for carbon-style
    // write-behind trees: empty trigger 12 s -> sub-second at 100k files,
    // BENCH_NOTES r11) once those assumptions are known to hold.
    streamMtimeSlopSeconds: Long = -1L
) {
  require(dtype == "double" || dtype == "float", s"dtype must be double|float, got $dtype")
  require(
    Seq("infer", "none", "gzip").contains(compression),
    s"compression must be infer|none|gzip, got $compression"
  )
  require(planningParallelism >= 1, s"planningParallelism must be >= 1, got $planningParallelism")
  require(streamShardDepth >= 1, s"streamShardDepth must be >= 1, got $streamShardDepth")
  require(streamRevalidateTriggers >= 0,
    s"streamRevalidateTriggers must be >= 0 (0 disables), got $streamRevalidateTriggers")
  require(manifestReconcileFiles >= 0,
    s"manifestReconcileFiles must be >= 0 (0 disables), got $manifestReconcileFiles")
  require(manifestReconcilePageBudget >= 1,
    s"manifestReconcilePageBudget must be >= 1, got $manifestReconcilePageBudget")
  require(!manifestListing || headerManifest.nonEmpty,
    "manifestListing requires a headerManifest (the manifest IS the listing)")
  require(!manifestListing || mtimeFloorSeconds < 0,
    "manifestListing is incompatible with mtimeFloor: the manifest carries no mtimes " +
      "(walk the store for mtime-pruned plans)")
  // manifestListing + streamShard (r15): allowed, with DIFFERENT shard
  // semantics than walk mode — the walk shards by top-level-subtree hash
  // (the only unit a walk can skip), the manifest listing shards by ENTRY
  // path hash against per-shard manifest files (`manifest --shards n` /
  // [[WhisperManifest.shardPath]]), which is what makes a FLAT prefix
  // splittable at all (it has no subtrees). Each sharded stream loads,
  // parses, and memoizes only its 1/n manifest file; a missing shard file
  // fails the plan loudly (regenerate with --shards n).

  /** Parsed `streamShard`: Some((i, n)) with 0 <= i < n, or None. */
  val shard: Option[(Int, Int)] = streamShard.trim match {
    case "" => None
    case s =>
      val parts = s.split('/')
      require(parts.length == 2 && parts.forall(_.forall(_.isDigit)),
        s"streamShard must be 'i/n' (e.g. 0/4), got '$s'")
      val (i, n) = (parts(0).toInt, parts(1).toInt)
      require(n >= 1 && i >= 0 && i < n, s"streamShard needs 0 <= i < n, got '$s'")
      if (n == 1) None else Some((i, n))
  }

  /** The manifest file THIS plan loads: under `manifestListing` with a
   * shard, the per-shard manifest (the listing must tile across the n
   * sharded streams, so each serves only its own shard file); otherwise
   * the base manifest — walk-mode sharding restricts CANDIDATES, and a
   * path lookup into the full manifest is correct for any subset. */
  def effectiveManifest: String = (manifestListing, shard) match {
    case (true, Some((i, n))) => WhisperManifest.shardPath(headerManifest, i, n)
    case _                    => headerManifest
  }

  def timestampType: DataType = if (toDatetime) TimestampType else IntegerType
  def valueType: DataType = if (dtype == "float") FloatType else DoubleType

  /** Full points schema; `position` materializes the pandas row index
   * (notebook cell 33 `reset_index()`, `whisper_pandas.ipynb:1199`). */
  def schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("archive", IntegerType, nullable = false),
    StructField("position", LongType, nullable = false),
    StructField("timestamp", timestampType, nullable = false),
    StructField("value", valueType, nullable = false)
  ))

  def gzipFor(path: String): Boolean = compression match {
    case "gzip" => true
    case "none" => false
    case _      => path.endsWith(".gz")
  }
}

object WhisperOptions {
  def apply(map: CaseInsensitiveStringMap): WhisperOptions = WhisperOptions(
    dropTimeZero = map.getBoolean("dropTimeZero", true),
    toDatetime = map.getBoolean("toDatetime", true),
    timeSort = map.getBoolean("timeSort", true),
    dtype = map.getOrDefault("dtype", "double").toLowerCase,
    compression = map.getOrDefault("compression", "infer").toLowerCase,
    maxPointsPerSplit = map.getLong("maxPointsPerSplit", 8L * 1000 * 1000),
    // streaming only: deliver points with timestamp > this at the first batch
    streamStartTimestamp = map.getLong("streamStartTimestamp", 0L),
    // streaming only: frozen "now" for deterministic tests (-1 = wall clock)
    streamNowOverride = map.getLong("streamNowOverride", -1L),
    // above this many scan units (file x archive x split), small units are
    // bin-packed into shared partitions (a graphite tree is millions of
    // small files; one task each would be pure scheduler overhead)
    binThreshold = map.getInt("binThreshold", 128),
    // rotation-probed ordered chunking of oversized timeSort archives; false =
    // one partition per archive (escape hatch for rings that violate the
    // dense-rotation invariant under the sort-elision fast path)
    orderedSplit = map.getBoolean("orderedSplit", true),
    // concurrent header/list operations during planning (latency hiding on
    // remote stores; local FS indifferent)
    planningParallelism = map.getInt("planningParallelism", 64),
    // header manifest path (graft.Main manifest) — skips per-file header
    // reads at plan time; length-keyed staleness
    headerManifest = map.getOrDefault("headerManifest", ""),
    // per-plan content spot check of manifest-served headers (0 = off)
    manifestSpotCheck = map.getInt("manifestSpotCheck", 8),
    // streaming: re-verify cached headers every N triggers (0 = off)
    streamRevalidateTriggers = map.getInt("streamRevalidateTriggers", 64),
    // serve the plan-time file list FROM the manifest (flat-prefix scale
    // path; requires headerManifest)
    manifestListing = map.getBoolean("manifestListing", false),
    // bounded store reconcile under manifestListing (first N direct
    // entries per directory pattern; 0 = trust the manifest outright)
    manifestReconcileFiles = map.getInt("manifestReconcileFiles", 1000),
    // LIST pages/trigger for the SHARDED roaming reconcile cursor
    manifestReconcilePageBudget = map.getInt("manifestReconcilePageBudget", 1),
    // batch plan-time idle-file floor (epoch seconds); OPT-IN, -1 = off
    mtimeFloorSeconds = map.getLong("mtimeFloor", -1L),
    // "i/n" subtree sharding for parallel tailing of one huge tree
    streamShard = map.getOrDefault("streamShard", ""),
    // shard-ownership depth below each root (1 = top-level subtrees);
    // raise to split a skewed tree whose files concentrate in one subtree
    streamShardDepth = map.getInt("streamShardDepth", 1),
    // streaming only: plan-time idle-file pruning slop (seconds); OPT-IN —
    // -1 (default) scans everything, see the case-class field note
    streamMtimeSlopSeconds = map.getLong("streamMtimeSlop", -1L)
  )
}
