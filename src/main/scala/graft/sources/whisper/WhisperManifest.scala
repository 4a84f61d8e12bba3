package graft.sources.whisper

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}

import graft.format.WhisperCodec
import graft.format.WhisperCodec.{ArchiveMeta, FileMeta}
import graft.operators.OpCache

/**
 * Header manifest: one JSONL(.gz) file mapping whisper path -> (file length,
 * parsed header), written once and consumed at plan time in place of one
 * ranged header read PER FILE.
 *
 * Why it exists: whisper headers are CREATE-TIME CONSTANTS of the fixed-size
 * preallocated format (point writes mutate slots in place and never touch the
 * header), so re-reading them is pure waste — and on an object store each
 * header read is a ~10-50 ms GET, which makes repeated planning over a
 * million-file tree a multi-minute request sweep even fully parallel
 * (measured: tools `LatencyProbe`, BENCH_NOTES r12). The streaming tail
 * already caches headers per stream ([[WhisperMicroBatchStream]]); the
 * manifest is the same idea made durable and shareable across batch queries,
 * sessions, and jobs.
 *
 * Staleness: every entry carries the file's length at manifest time. Length
 * is create-time-constant too (point writes mutate slots in place), so the
 * consumer compares the entry's length against the directory walk's (free)
 * and falls back to a fresh header read on mismatch or absence.
 *
 * THE LENGTH KEY IS NOT COMPLETE (ADVICE r12): header size is 16 + 12*N and
 * data size 12 * total_points, so a re-layout that keeps the archive count
 * AND every archive's point count while changing only secondsPerPoint (or
 * xFilesFactor / aggregation method) leaves the length identical while the
 * header content — which feeds time-window archive pruning — changes.
 * Length-keyed staleness alone would then serve wrong retention metadata
 * silently. Defense in depth, since no walk-visible attribute distinguishes
 * such a rewrite (mtime changes on EVERY point write, so it keys nothing):
 *
 *  - [[spotCheck]]: at plan time the consumer re-reads a small fixed sample
 *    (default 8, `manifestSpotCheck`) of the manifest-served headers and
 *    compares content; ANY mismatch discards the manifest for that plan
 *    (all headers read fresh — correct, just slower) and logs a
 *    regenerate-the-manifest warning. A SYSTEMATIC re-layout (a migration
 *    that touched the tree — the realistic shape; resizes are batch
 *    operations) is caught with probability ~1-(1-m/n)^k; an isolated
 *    single-file same-length resize can evade the sample, which is the
 *    honest residual hole — regenerate or [[update]] the manifest after
 *    any resize, and note [[update]] re-reads by the same length diff, so
 *    after a same-length resize run a full [[write]], not `--update`.
 *  - blast-radius note: a same-length re-layout keeps archive offsets and
 *    point counts (offsets derive from N and per-archive points, both
 *    unchanged by construction), so decode still reads the right byte
 *    ranges and every EMITTED row is genuine (points carry their own
 *    stored timestamps); the corruption surface is plan-time archive
 *    PRUNING on stale spp/retention — over-prune loses rows, under-prune
 *    only costs reads (row predicates re-filter at decode).
 *
 * Format: one JSON object per line —
 * `{"path":...,"len":N,"agg":N,"maxRet":N,"xff":F,"archives":[[off,spp,pts],...]}`
 * — gzip-compressed when the output path ends in `.gz`. JSONL keeps the
 * loader a plain driver-side stream (no Spark job inside scan planning) and
 * appends/merges trivially; ~120 B/file means a million-file manifest is
 * ~15 MB gzipped and loads in seconds.
 */
object WhisperManifest {

  final case class Entry(len: Long, meta: FileMeta)

  /** Entry-to-shard assignment for SHARDED manifests (r15, VERDICT r14
   * missing #2): a stable hash of the file's QUALIFIED path — the same
   * string the manifest records and the store's listings return, so the
   * writer and every consumer (listing serve, reconcile adds) agree without
   * coordination. Every path lands in exactly one of n shards by
   * construction (floorMod of one hash), which is the tiling guarantee the
   * sharded streams rely on. */
  def shardOf(path: String, n: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(path), n)

  /** Path of shard `i` of `n` derived from the base manifest path: the
   * shard tag is inserted BEFORE a trailing `.gz` so compression inference
   * (suffix-based, both for the manifest loader and the CLI) still works —
   * `m.jsonl.gz` -> `m.jsonl.3of8.gz`. */
  def shardPath(base: String, i: Int, n: Int): String =
    if (base.endsWith(".gz")) s"${base.dropRight(3)}.${i}of$n.gz"
    else s"$base.${i}of$n"

  /** Walk `patterns`, read every header concurrently, write the manifest.
   * With `shards` = n > 1, ALSO write n shard files ([[shardPath]]),
   * partitioned by [[shardOf]] — each sharded stream (`streamShard` i/n +
   * `manifestListing`) then loads, parses, and memoizes ONLY its 1/n of the
   * tree: the warm-plan floor at a 1M-entry flat prefix is bin-packing +
   * partition construction over the entry list (BENCH_NOTES r14 addendum
   * 2), and both it and the parse split n-ways with the file. The BASE
   * file is written in every mode (one extra serialization, dwarfed by the
   * header sweep): unsharded consumers pointed at `out` stay fresh when
   * the nightly job switches to `--shards=n` (a shards-only write would
   * leave the base file silently STALE for them), and a later plain
   * `--update` keeps working for EVERY consumer: existing shard files of
   * any layout are detected by name ([[existingShardLayouts]]) and
   * refreshed from the same entry list (ADVICE r15 — a plain `--update`
   * over a previously sharded manifest used to refresh only the base file,
   * silently serving sharded streams a stale listing with no error).
   * Changing n still requires one write at the new n; superseded layouts
   * then keep refreshing until their files are deleted (cheap driver-side
   * serialization; deleting them is the operator's cleanup). Returns the
   * number of files recorded. */
  def write(patterns: Seq[String], out: String, parallelism: Int = 64, shards: Int = 1): Long = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val entries = WhisperIO.expandStatuses(patterns, parallelism = parallelism)
    val metas = WhisperIO.parMap(entries, parallelism) { e =>
      val gz = e.path.endsWith(".gz")
      (e, WhisperIO.readMetaHeaderOnly(e.path, gz, e.len))
    }
    writeAll(metas, out, shards)
    metas.length.toLong
  }

  /** Serialize the base file, the requested shard layout, AND any shard
   * layout already present on disk (ADVICE r15: a write/update at a
   * different shard count — including plain `--update`, shards=1 — must
   * not leave existing shard files stale for the streams consuming them).
   * All via the temp+rename publish of [[writeEntries]]. Every shard file
   * is written even when empty: a consumer stream's load must distinguish
   * "no entries in my shard" from "no manifest". */
  private def writeAll(
      metas: Seq[(WhisperIO.FileEntry, FileMeta)], out: String, shards: Int): Unit = {
    writeEntries(metas, out)
    val stale = existingShardLayouts(out) - shards
    if (stale.nonEmpty)
      System.err.println(
        s"INFO WhisperManifest: refreshing existing shard layout(s) ${stale.toSeq.sorted.mkString(", ")} " +
          s"alongside this write (shards=$shards) so their consumers stay fresh; delete the " +
          s"superseded files if those layouts are retired")
    for (n <- stale + shards if n > 1) {
      val byShard = metas.groupBy { case (e, _) => shardOf(e.path, n) }
      for (i <- 0 until n)
        writeEntries(byShard.getOrElse(i, Seq.empty), shardPath(out, i, n))
    }
  }

  /** Shard counts for which a COMPLETE shard-file set of this manifest
   * exists on disk (one directory listing; a partial set — some i missing —
   * is not refreshed: it was never a servable layout). A MISSING parent
   * yields the empty set (a fresh manifest's directory may not exist yet);
   * any other listing failure PROPAGATES (ADVICE r16: a transient store
   * error swallowed here would silently skip refreshing existing shard
   * layouts — reintroducing the stale-shard-manifest bug this method
   * exists to prevent — so the writeAll must fail loudly instead). */
  private[whisper] def existingShardLayouts(out: String): Set[Int] = {
    val p = new HPath(out)
    val fs = p.getFileSystem(WhisperIO.hadoopConf())
    val name = p.getName
    val (stem, gz) =
      if (name.endsWith(".gz")) (name.dropRight(3), true) else (name, false)
    val re = (java.util.regex.Pattern.quote(stem) + "\\.(\\d+)of(\\d+)" +
      (if (gz) "\\.gz" else "") + "$").r
    val found = scala.collection.mutable.Map.empty[Int, Set[Int]]
    try {
      val it = fs.listStatusIterator(p.getParent)
      while (it.hasNext) {
        it.next().getPath.getName match {
          case re(i, n) if n.toInt > 1 && i.toInt < n.toInt =>
            found(n.toInt) = found.getOrElse(n.toInt, Set.empty) + i.toInt
          case _ =>
        }
      }
    } catch { case _: java.io.FileNotFoundException => return Set.empty }
    found.collect { case (n, is) if is.size == n => n }.toSet
  }

  /** Incremental refresh (VERDICT r12 #2): walk the tree, KEEP entries whose
   * length is unchanged, re-read headers only for new or changed-length
   * files, drop entries whose files are gone. O(changed) header I/O instead
   * of O(tree) — the daily-refresh path for a million-file tree where a few
   * thousand metrics churned. Same-length re-layouts evade the length diff
   * by construction (see the staleness scaladoc): after one of those, run a
   * full [[write]]. Returns (total entries written, headers re-read). */
  def update(patterns: Seq[String], out: String, parallelism: Int = 64, shards: Int = 1): (Long, Long) = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    // old state comes from the BASE file — [[write]] maintains it in every
    // mode, so an update works across shard-layout transitions (unsharded
    // -> --shards=n, n -> m, back) instead of crashing on a missing shard
    // file; a truly absent manifest gets a clear error, not a raw FNFE.
    val basePath = new HPath(out)
    val baseFs = basePath.getFileSystem(WhisperIO.hadoopConf())
    require(baseFs.exists(basePath),
      s"update: no manifest at $out — run a full `manifest` write first " +
        s"(sharded manifests keep the base file alongside their shard files)")
    val old = loadRaw(out)
    val entries = WhisperIO.expandStatuses(patterns, parallelism = parallelism)
    // hits carry no I/O, so the pool only ever stalls on genuine re-reads
    val metas = WhisperIO.parMap(entries, parallelism) { e =>
      old.get(e.path) match {
        case Some(en) if en.len == e.len => (e, en.meta, false)
        case _ => (e, WhisperIO.readMetaHeaderOnly(e.path, e.path.endsWith(".gz"), e.len), true)
      }
    }
    writeAll(metas.map(t => (t._1, t._2)), out, shards)
    (metas.length.toLong, metas.count(_._3).toLong)
  }

  /** Serialize entries, publish via temp + rename: update-in-place rewrites a
   * LIVE manifest, and a crash mid-write must leave the previous version
   * intact, not a truncated file every reader then chokes on. */
  private def writeEntries(
      metas: Seq[(WhisperIO.FileEntry, FileMeta)], out: String): Unit = {
    val p = new HPath(out)
    val fs = p.getFileSystem(WhisperIO.hadoopConf())
    val tmp = new HPath(p.getParent, s".${p.getName}.tmp")
    val raw = fs.create(tmp, true)
    val w = new OutputStreamWriter(
      if (out.endsWith(".gz")) new GZIPOutputStream(raw, 1 << 16) else raw,
      StandardCharsets.UTF_8)
    val om = new ObjectMapper()
    try {
      metas.foreach { case (e, m) =>
        val sb = new StringBuilder(160)
        sb.append("{\"path\":").append(om.writeValueAsString(e.path))
          .append(",\"len\":").append(e.len)
          .append(",\"agg\":").append(m.aggregationType)
          .append(",\"maxRet\":").append(m.maxRetention)
          .append(",\"xff\":").append(m.xFilesFactor)
          .append(",\"archives\":[")
        var i = 0
        while (i < m.archives.length) {
          val a = m.archives(i)
          if (i > 0) sb.append(',')
          sb.append('[').append(a.offset).append(',')
            .append(a.secondsPerPoint).append(',').append(a.points).append(']')
          i += 1
        }
        sb.append("]}\n")
        w.write(sb.toString)
      }
    } finally w.close()
    if (!fs.rename(tmp, p)) { // local rename(2) replaces; HDFS refuses -> delete first
      fs.delete(p, false)
      if (!fs.rename(tmp, p)) sys.error(s"failed to publish manifest $tmp -> $p")
    }
  }

  /** Header equality on the fields planning consumes (everything except
   * `fileSizeActual`, which the header-only gzip path reports as -1). */
  private[whisper] def sameHeader(a: FileMeta, b: FileMeta): Boolean =
    a.aggregationType == b.aggregationType && a.maxRetention == b.maxRetention &&
      a.xFilesFactor == b.xFilesFactor && a.archives.length == b.archives.length &&
      a.archives.zip(b.archives).forall { case (x, y) =>
        x.offset == y.offset && x.secondsPerPoint == y.secondsPerPoint && x.points == y.points
      }

  /** Re-read each sampled header and compare it with `expected` on the
   * fields planning consumes ([[sameHeader]]); the one header check of the
   * manifest spot check and the streaming tail's cache revalidation, each of
   * which supplies its own sample, seed and `warning`. Up to `sample.size`
   * header GETs, latency-hidden by the planning pool. A sampled file DELETED
   * from the store counts as agreement: it is not a re-layout — under
   * manifestListing it is the expected between-refreshes state (plan and
   * decode tolerate it as empty), under walk mode a benign walk/check race —
   * and discarding the manifest or cache over it would force a full fresh
   * sweep for nothing. Prints `warning` on any divergence. */
  private[whisper] def headersAgree(
      sample: Seq[WhisperIO.FileEntry],
      expected: WhisperIO.FileEntry => FileMeta,
      parallelism: Int,
      gzipFor: String => Boolean)(warning: => String): Boolean = {
    val ok = WhisperIO.parMap(sample, parallelism) { e =>
      try sameHeader(WhisperIO.readMetaHeaderOnly(e.path, gzipFor(e.path), e.len), expected(e))
      catch { case _: java.io.FileNotFoundException => true }
    }.forall(identity)
    if (!ok) System.err.println(warning)
    ok
  }

  /** [[OpCache]] slots of the three per-version manifest memos. */
  private[whisper] val ParseSlot = "whisper.manifest"
  private[whisper] val VerdictSlot = "whisper.verdict"
  private[whisper] val ListingSlot = "whisper.listing"

  /** The manifest's version, (length, modification time), from one stat;
   * null when the stat fails. */
  private[whisper] def version(manifestPath: String): (Long, Long) =
    try {
      val p = new HPath(manifestPath)
      val st = p.getFileSystem(WhisperIO.hadoopConf()).getFileStatus(p)
      (st.getLen, st.getModificationTime)
    } catch { case scala.util.control.NonFatal(_) => null }

  /** `build` memoized as an [[OpCache]] process entry per (slot, key),
   * stamped by a manifest `version`: a refreshed manifest REPLACES the
   * entry, so no superseded version — a million-entry parse is hundreds of
   * MB — stays reachable on a long-lived driver. An unversionable manifest
   * (null: its stat failed) builds uncached. */
  private[whisper] def perVersion[V <: AnyRef](slot: String, key: String, version: (Long, Long))(build: => V): V =
    if (version == null) build else OpCache.perProcess(slot, key, version)(build)

  /** Content spot check against the same-length re-layout hole (ADVICE r12,
   * see the staleness scaladoc): re-read `k` manifest-served headers and
   * compare content. Returns false — DISCARD THE MANIFEST FOR THIS PLAN —
   * on any mismatch. The sample is deterministic PER MANIFEST VERSION
   * (murmur-stride seeded by the manifest's (len, mtime), or by its path
   * when unversionable): plans over one manifest are reproducible, while
   * every refresh — the daily `--update` — rotates which k paths get
   * checked, so repeated refresh cycles sweep coverage across the tree
   * instead of re-checking the same handful forever. The sample size is
   * GUARANTEED min(k, served) — see [[sampleForCheck]].
   *
   * The verdict is memoized PER MANIFEST VERSION (ADVICE r13) under
   * [[VerdictSlot]]: re-running the deterministic check on every plan —
   * and, worse, on every streaming TRIGGER, which constructs its header
   * source per planInputPartitions call — paid up to k header GETs each
   * time while buying nothing the version's first run hadn't established.
   * A refreshed manifest re-verifies with a rotated sample; a DISTRUSTED
   * verdict memoizes too — the manifest stays discarded until regenerated,
   * exactly what the warning tells the operator to do. A store-side
   * re-layout that lands AFTER a version's first check is invisible to
   * batch plans until the manifest refreshes (daily --update = daily
   * re-verify). Long-lived STREAMS close that window themselves: the
   * periodic header-cache revalidation ([[WhisperMicroBatchStream]],
   * `streamRevalidateTriggers`) releases the verdict on any divergence so
   * the next plan re-checks against the store. */
  private[whisper] def spotCheck(
      manifestPath: String,
      manifest: Map[String, Entry],
      candidates: Seq[WhisperIO.FileEntry],
      k: Int,
      parallelism: Int,
      gzipFor: String => Boolean,
      version: (Long, Long)): Boolean =
    k <= 0 || perVersion(VerdictSlot, manifestPath, version) {
      val served = candidates.filter(e => manifest.get(e.path).exists(_.len == e.len))
      // a failed manifest stat must not void the per-version rotation into
      // a fixed seed-0 sample forever (ADVICE r13): fall back to a
      // path-derived seed — stable, but at least not globally shared
      val seed =
        if (version == null) scala.util.hashing.MurmurHash3.stringHash(manifestPath)
        else (version._1 ^ version._2).toInt
      java.lang.Boolean.valueOf(headersAgree(
        sampleForCheck(served, k, seed), e => manifest(e.path).meta, parallelism, gzipFor)(
        s"WARN WhisperManifest: header content diverged from manifest $manifestPath under an " +
          s"UNCHANGED file length (same-length re-layout); ignoring the manifest for this plan " +
          s"— regenerate it with `graft.Main manifest` (a length-diff --update cannot see this)"))
    }.booleanValue

  /** Deterministic verification sample: GUARANTEED min(k, n) entries
   * (ADVICE r13 — the plain murmur-stride filter could select ZERO files
   * when the hash distribution missed the stride, silently verifying
   * nothing while the plan trusted the manifest). The stride pass keeps the
   * O(n) seed-rotated sweep; a short stride yield is topped up with the
   * seed-rotated smallest hashes so the shortfall path stays deterministic
   * per (entries, seed) and still rotates coverage across versions. */
  private[whisper] def sampleForCheck(
      served: Seq[WhisperIO.FileEntry], k: Int, seed: Int): Vector[WhisperIO.FileEntry] = {
    val want = math.min(k, served.size)
    if (want <= 0) return Vector.empty
    val step = math.max(1, served.length / k)
    val strided = served.iterator.filter(e =>
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(e.path, seed), step) == 0)
      .take(k).toVector
    if (strided.length >= want) strided
    else {
      val have = strided.map(_.path).toSet
      strided ++ served.iterator.filterNot(e => have(e.path))
        .map(e => (scala.util.hashing.MurmurHash3.stringHash(e.path, seed), e))
        .toVector.sortBy { case (h, e) => (h, e.path) }
        .take(want - strided.length).map(_._2)
    }
  }

  /** Parse one manifest into path -> Entry. */
  def loadRaw(path: String): Map[String, Entry] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(WhisperIO.hadoopConf())
    val raw = fs.open(p)
    val r = new BufferedReader(new InputStreamReader(
      if (path.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw,
      StandardCharsets.UTF_8))
    // The line stream drains single-threaded: gzip is a SERIAL stream
    // (each block depends on the previous dictionary), so decompress+split
    // cannot parallelize — but the JSON parse + Entry build (which
    // dominated the r14 1M-entry cold-plan floor, 6.6 s single-threaded,
    // BENCH_NOTES r14) is per-line independent and runs on workers,
    // PIPELINED with the read. Raw-line residency is bounded (ADVICE r14:
    // the r14 flat buffer held every raw line alongside the parsed map,
    // ~2x driver heap at 1M entries): at most (inflight + 1) chunks of
    // 16384 raw lines exist at once, and a manifest that never fills one
    // chunk parses inline with no worker handoff at all — the small-
    // manifest path stays effectively the old streaming loop. Jackson's
    // ObjectMapper is thread-safe for readTree.
    val om = new ObjectMapper()
    def parse(line: String): (String, Entry) = {
      val n = om.readTree(line)
      val fp = n.get("path").asText()
      val len = n.get("len").asLong()
      val archives = {
        val arr = n.get("archives")
        (0 until arr.size()).map { i =>
          val a = arr.get(i)
          ArchiveMeta(i, a.get(0).asLong(), a.get(1).asLong(), a.get(2).asLong())
        }
      }
      fp -> Entry(len, FileMeta(
        fp, n.get("agg").asInt(), n.get("maxRet").asLong(),
        n.get("xff").floatValue(), archives,
        // gzip files record the on-disk size here; the header-only
        // planning path never consults fileSizeActual either way
        len))
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val chunkSize = 16384
    val maxInflight = math.max(2, Runtime.getRuntime.availableProcessors)
    // DEDICATED bounded pool, not ExecutionContext.Implicits.global
    // (ADVICE r15): the global pool is shared with everything else on the
    // driver — other libraries saturating or starving it would stall scan
    // PLANNING indefinitely, and blocking Await.result calls from inside
    // it can deadlock under nesting. Daemon threads (a leaked pool must
    // not pin JVM exit); shut down in the finally below. The await is a
    // generous FINITE bound per chunk — a wedged pool fails the plan
    // loudly instead of hanging the driver forever.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      maxInflight,
      (task: Runnable) => {
        val t = new Thread(task, "whisper-manifest-parse")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val awaitBound = 10.minutes
    def drain(f: Future[Array[(String, Entry)]]): Array[(String, Entry)] =
      try Await.result(f, awaitBound)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          sys.error(s"manifest parse chunk did not complete within $awaitBound ($path)")
      }
    val out = Map.newBuilder[String, Entry]
    val pending = scala.collection.mutable.Queue.empty[Future[Array[(String, Entry)]]]
    def submit(c: java.util.ArrayList[String]): Unit = {
      // bounded inflight: drain the oldest before submitting — backpressure
      // on the reader keeps raw-line residency at (inflight + 1) chunks
      if (pending.size >= maxInflight) out ++= drain(pending.dequeue())
      pending += Future {
        val a = new Array[(String, Entry)](c.size)
        var i = 0
        while (i < c.size) { a(i) = parse(c.get(i)); i += 1 }
        a
      }
    }
    try {
      var chunk = new java.util.ArrayList[String](chunkSize)
      try {
        var line = r.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            chunk.add(line)
            if (chunk.size == chunkSize) { submit(chunk); chunk = new java.util.ArrayList[String](chunkSize) }
          }
          line = r.readLine()
        }
      } finally r.close()
      // tail (or sole) chunk parses inline — the small-manifest serial path,
      // and useful reader-thread work while the last workers drain — but its
      // entries merge LAST: chunks drain FIFO and the map builder is
      // last-put-wins, so file order (hence duplicate-path precedence — a
      // concatenated base+delta manifest relies on later-line-wins) is
      // preserved exactly as the serial loop preserved it.
      val tail = new Array[(String, Entry)](chunk.size)
      var i = 0
      while (i < chunk.size) { tail(i) = parse(chunk.get(i)); i += 1 }
      while (pending.nonEmpty) out ++= drain(pending.dequeue())
      out ++= tail
      out.result()
    } finally pool.shutdown()
  }

  /** [[loadRaw]] memoized PER PATH under [[ParseSlot]], stamped by the
   * manifest's version: planning may run many times per session over the
   * same manifest, and a million-entry parse should be paid once, not per
   * query. Concurrent cold plans of one manifest share ONE parse (the
   * registry builds each key once, outside its map's bin lock). */
  def load(path: String): Map[String, Entry] = load(path, version(path))

  /** [[load]] at a `version` the caller stat'ed once for all its lookups. */
  private[whisper] def load(path: String, version: (Long, Long)): Map[String, Entry] =
    perVersion(ParseSlot, path, version)(loadRaw(path))
}
