package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * The one store of memoized operator state: every derived relation, index
 * or fixture an operator keeps between calls lives in ONE map, keyed by
 * (scope, slot, dir). The scope is a `SparkSession`, compared by reference
 * (two sessions never share an entry, whatever their identity hashes), or
 * the process, for values that hold no session (the IVF index, the ANN
 * regime, the stored multimodal fixtures).
 *
 * BUILD RULE. A miss installs a cheap holder through `computeIfAbsent`; the
 * build runs afterwards, under the holder's own monitor, never under the
 * map's bin lock. So each key is built exactly once, concurrent callers of
 * the same key wait for that one build, callers of other keys never block,
 * and a build may look up other keys. Builds depend on keys in one acyclic
 * order — regime → IVF index → tables, and rank tables / cluster labels /
 * stored fixtures → tables — so holder monitors cannot deadlock. A build
 * that throws is not cached: its callers see the exception and the next
 * call builds afresh.
 *
 * KINDS OF ENTRY, chosen by the entry point:
 *  - [[pinned]]: a persisted frame memoized per (session, slot, dir). At
 *    most one per (session, slot); a hit needs the same session and dir and
 *    live storage, otherwise the frame is rebuilt (never re-pinned: its
 *    lineage may hold a localCheckpoint an external sweep truncated).
 *    [[persistBounded]]'s un-memoized pins share the map and the
 *    one-per-(session, slot) bound.
 *  - [[perProcess]]: a value shared by every session.
 *  - [[perSession]]: an unpinned session value — the `Tables` relations.
 *
 * STALENESS. A dir-keyed [[pinned]] or [[perProcess]] entry records the
 * dir's top-level listing (child name, length, modification time) at build
 * time and re-checks it on every hit; any difference rebuilds the entry and
 * forgets the dir's [[perSession]] relations, whose file index is as stale.
 * A rewrite that keeps every top-level child's length and time (a part
 * file replaced in place inside a directory child) is not seen. The dir is
 * listed through the session's Hadoop file system: one list request per
 * build and one per hit (on an object store, one LIST each). `perSession`
 * relations are not checked: Spark's own file index fails loudly on a
 * rewritten relation, and a per-lookup listing would tax every query.
 *
 * LIFECYCLE. A session whose context has stopped loses its entries on the
 * next insert (its executor-side blocks died with the context, so dropping
 * the reference is the release). Pinned entries are bounded FIFO at
 * `maxPinned` — a JVM cycling `newSession()` on one live context never
 * stops anything — and an evicted frame is unpersisted. [[releaseAll]] is
 * the explicit end of life: it releases every pinned entry and keeps
 * session relations and process values. A dropped value that is
 * `AutoCloseable` is closed. A build in flight is never dropped: its entry
 * is registered when the build ends, so a later release covers it.
 */
class OpCache private[graft] (
    maxPinned: Int = 64,
    // injectable for the lifecycle spec (one JVM = one shared test context,
    // so a suite can never stop a session without killing every other suite)
    stopped: SparkSession => Boolean = _.sparkContext.isStopped) {
  import OpCache._

  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** The persisted frame for (spark, slot, dir), built and persisted on a
   * miss (a build may persist its frame itself, to materialize it before
   * releasing its own intermediates). */
  private[graft] def pinned(spark: SparkSession, slot: String, dir: String)(build: => DataFrame): DataFrame =
    lookup(new Key(spark, slot, dir), pinned = true, stampOf(spark, dir)) {
      val df = build
      require(df.sparkSession eq spark, s"$slot: build returned a frame of another session")
      if (df.storageLevel == StorageLevel.NONE) persist(df) else df
    }.asInstanceOf[DataFrame]

  /** A value shared by every session, rebuilt when `dir` changes; `spark`
   * runs the build and supplies the Hadoop configuration for the listing. */
  private[graft] def perProcess[V <: AnyRef](spark: SparkSession, slot: String, dir: String)(build: => V): V =
    lookup(new Key(Process, slot, dir), pinned = false, stampOf(spark, dir))(build).asInstanceOf[V]

  /** A value of one session, not checked against `dir` (see STALENESS). */
  private[graft] def perSession[V <: AnyRef](spark: SparkSession, slot: String, dir: String)(build: => V): V =
    lookup(new Key(spark, slot, dir), pinned = false, Unstamped)(build).asInstanceOf[V]

  @annotation.tailrec
  private def lookup(key: Key, pinned: Boolean, stampNow: () => AnyRef)(build: => AnyRef): AnyRef = {
    var created: Entry = null
    val e = entries.computeIfAbsent(key, k => { created = new Entry(k, pinned, stampNow, () => build); created })
    val v = try e.value catch { case t: Throwable => entries.remove(key, e); throw t }
    if (e eq created) { admit(e); v }
    else {
      val unchanged = e.unchanged(stampNow)
      if (unchanged && !(pinned && v.asInstanceOf[DataFrame].storageLevel == StorageLevel.NONE)) v
      else {
        drop(e)
        if (!unchanged) entries.values.forEach(o => if (o.key.dir == key.dir && o.unstamped) drop(o))
        lookup(key, pinned, stampNow)(build)
      }
    }
  }

  /** After a build: sweep stopped sessions, keep one pinned frame per
   * (session, slot), and hold the bound on built pinned frames. */
  private def admit(e: Entry): Unit = {
    sweep()
    if (e.pinned) {
      entries.values.forEach(o =>
        if (o.pinned && (o.key.scope eq e.key.scope) && o.key.slot == e.key.slot && o.key.dir != e.key.dir) drop(o))
      val pins = entries.values.asScala.filter(o => o.pinned && o.built != null).toSeq.sortBy(_.seq)
      pins.take(pins.size - maxPinned).foreach(drop)
    }
  }

  private def sweep(): Unit = entries.values.forEach(o => o.key.scope match {
    case s: SparkSession if stopped(s) => entries.remove(o.key, o)
    case _ =>
  })

  /** Remove one built entry: a pinned frame is unpersisted, a closeable
   * value closed. A build in flight is left registered (see LIFECYCLE). */
  private def drop(e: Entry): Unit = {
    val v = e.built
    if (v != null && entries.remove(e.key, e)) v match {
      case c: AutoCloseable => c.close()
      case df: DataFrame if e.pinned => unpersistIfLive(df)
      case _ =>
    }
  }

  private[operators] def persistBounded(slot: String, df: DataFrame): DataFrame = {
    val cached = persist(df)
    val e = new Entry(new Key(df.sparkSession, slot, ""), pinned = true, Unstamped, () => cached)
    e.value
    // Same-plan predecessor (repeated call on the same dir) SHARES the cache
    // entry — unpersisting it would evict the relation just persisted
    // (CacheManager keys by logical plan, not by Dataset identity).
    Option(entries.put(e.key, e)).flatMap(p => Option(p.built))
      .map(_.asInstanceOf[DataFrame])
      .filterNot(_.queryExecution.analyzed.sameResult(cached.queryExecution.analyzed))
      .foreach(unpersistIfLive)
    admit(e)
    cached
  }

  /** Pinned frames held for live sessions (test/diagnostic). */
  def pinnedCount: Int = { sweep(); entries.values.asScala.count(_.pinned) }

  /** Release every entry of `slot` (of `dir` only, when given), in every
   * scope; pinned frames are unpersisted. Same contract as [[releaseAll]]. */
  def release(slot: String, dir: String = null): Unit =
    entries.values.forEach(e => if (e.key.slot == slot && (dir == null || e.key.dir == dir)) drop(e))

  /**
   * End of life: unpersist and forget every pinned entry (memoized rank and
   * label tables, persistBounded pins), across all sessions and slots.
   * Keeps the `Tables` relations and the process values (IVF index, ANN
   * regime, stored fixtures). Idempotent; call it when no query is using
   * the pinned frames — an in-flight query would recompute (or, through a
   * released localCheckpoint, fail) instead of reading them.
   */
  def releaseAll(): Unit = entries.values.forEach(e => if (e.pinned) drop(e))
}

/**
 * The process's registry, plus the storage helpers the operators share.
 *
 * Bounded persist lifecycle for operators whose plan re-reads one derived
 * relation several times ([[persistBounded]], shared by the TextOps
 * one-corpus-pass family and DedupOps.ngramJaccard): the persisted relation
 * must outlive the call's consuming action (unpersisting before it would
 * defeat the persist), so each (session, slot) releases its PREVIOUS
 * relation on the next call — a long-lived library session accumulates at
 * most one cached relation per operator slot instead of one per invocation.
 * Callers composing many operators own the end-of-query lifecycle: call
 * [[releaseAll]] (or `spark.catalog.clearCache()` — the bench's dropState
 * does both) when a query session ends; otherwise the FINAL relation per
 * (session, operator) slot stays pinned for the life of the session.
 */
object OpCache extends OpCache(64, _.sparkContext.isStopped) {
  /** Scope of the values every session shares. */
  private object Process

  /** Identity key: equal iff the SAME scope object, slot and dir. The
   * cached identity hash keeps hashing O(1); equals compares the scope by
   * reference, so a hash collision degrades to a bucket scan, never a
   * wrong hit. */
  private final class Key(val scope: AnyRef, val slot: String, val dir: String) {
    override val hashCode: Int = (System.identityHashCode(scope) * 31 + slot.hashCode) * 31 + dir.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: Key => (k.scope eq scope) && k.slot == slot && k.dir == dir
      case _      => false
    }
  }

  private val inserts = new AtomicLong()

  /** The holder: builds at most once, under its own monitor. A failed build
   * is rethrown to the callers already waiting on it, never retried here —
   * its first caller drops the holder, so the next call builds afresh. */
  private final class Entry(val key: Key, val pinned: Boolean, stampNow: () => AnyRef, build: () => AnyRef) {
    val seq: Long = inserts.incrementAndGet()
    @volatile private var v: AnyRef = _
    private var failure: Throwable = _
    private var stamp: AnyRef = _

    def value: AnyRef = {
      if (v == null) synchronized {
        if (failure != null) throw failure
        if (v == null)
          try { stamp = stampNow(); v = build() }
          catch { case t: Throwable => failure = t; throw t }
      }
      v
    }

    /** The built value, or null while the build runs. */
    def built: AnyRef = v
    def unstamped: Boolean = stampNow eq Unstamped
    /** The dir still lists as it did at build time (call after [[value]]). */
    def unchanged(now: () => AnyRef): Boolean = unstamped || stamp == now()
  }

  private val Unstamped: () => AnyRef = () => null

  private def stampOf(spark: SparkSession, dir: String): () => AnyRef = () => listing(spark, dir)

  /** (name, length, modification time) of each child of `dir`, sorted, from
   * one list request; empty when the dir cannot be listed. */
  private def listing(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      path.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(path)
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSeq.sorted
    } catch { case _: java.io.IOException => Nil }

  private def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /**
   * Partition-identity pin for the two-job prefix-offset pattern
   * (sequencePack / pretrainExport / decileHistogram): the offsets job and
   * the main job must see the SAME partition ids, and repartitionByRange's
   * SAMPLED boundaries need not be identical across recomputations, so the
   * frame must be checkpointed (a persist can silently recompute on
   * eviction/executor loss and mis-assign every downstream id).
   *
   * Default = `localCheckpoint()`: blocks live on executors, zero external
   * storage, but DIE WITH THEIR EXECUTOR — on a preemptible-worker cluster
   * that turns one lost executor into a full-job retry (never a wrong
   * answer; the lineage is truncated so recompute fails loudly). Set
   * `spark.graft.reliableCheckpoint=true` (plus
   * `sparkContext.setCheckpointDir` to a DFS path) to pin through a
   * reliable `checkpoint()` instead: survives executor loss at the cost of
   * one write+read of the narrow projection through the checkpoint dir
   * (measured trade in BENCH_NOTES r13 — single-digit-% of query wall at
   * sf0.1 on local disk; on object storage budget the round trip).
   *
   * STORAGE LIFECYCLE of the reliable form (ADVICE r13): Spark's
   * ContextCleaner does NOT delete reliable checkpoint data by default
   * (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults to false),
   * and neither [[releaseAll]] nor `spark.catalog.clearCache()` touches the
   * DFS files — a long-lived session or bench loop cycling q55/q98/q113
   * accumulates one checkpoint directory per call, unbounded. Sessions that
   * enable `spark.graft.reliableCheckpoint` MUST ALSO set
   * `spark.cleaner.referenceTracking.cleanCheckpoints=true` at session
   * build (it is a static SparkConf key — a runtime conf.set after the
   * context starts has no effect) so GC'd pins reclaim their directories;
   * `tools/prof_s13_ckpt.scala` loops these queries 12 times and is exactly
   * the shape that leaks without it.
   */
  private[operators] def pinPartitions(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.reliableCheckpoint").contains("true"))
      df.checkpoint()
    else df.localCheckpoint()

  /** Unpersist that tolerates the pin's session being ALREADY GONE: a pin
   * whose SparkContext has stopped has no cache left to release (executor
   * blocks died with the context), so dropping the map reference is the
   * correct release — calling unpersist there NPEs inside BlockManagerMaster
   * (driverEndpoint is null on a stopped context). The isStopped check
   * races benignly with a concurrent stop; the catch covers that window. */
  private[operators] def unpersistIfLive(df: DataFrame): Unit =
    try { if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false) }
    catch { case scala.util.control.NonFatal(_) => }
}
