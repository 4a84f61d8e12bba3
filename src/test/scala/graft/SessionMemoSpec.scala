package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MultimodalOps, OpCache}

/**
 * Lifecycle spec for the memo registry ([[graft.operators.OpCache]]): the
 * memoized shared relations (BM25/quality rank tables, cluster labels) must
 * never serve a frame across sessions or dirs, must release entries for
 * stopped sessions, and must stay bounded when a live JVM cycles
 * `newSession()` (where GC-based eviction can never fire — the entry
 * strongly references its session). Every key is built exactly once, and a
 * dir-keyed entry follows a rewrite of its dir.
 *
 * One JVM holds ONE shared test SparkContext, so mid-suite tests exercise
 * the stop sweep through the registry's injectable stopped-predicate; the
 * suite's FINAL test then stops the real context and asserts the
 * production predicate (`_.sparkContext.isStopped`) sweeps — subsequent
 * suites getOrCreate a fresh context, the established per-suite lifecycle.
 */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("session-memo-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  // distinct plan per frame: the shared CacheManager keys by logical plan,
  // so identical plans would alias ONE cache entry across frames
  private def frame(s: SparkSession, n: Int): DataFrame = s.range(n).toDF("id")

  private def unbuilt: DataFrame = fail("a hit ran its build")

  test("no cross-session hit: each session gets its own entry, eq-keyed") {
    val reg = new OpCache()
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    val f2 = reg.pinned(s2, "slot", dir)(frame(s2, 2))
    val f3 = reg.pinned(s3, "slot", dir)(frame(s3, 3))
    assert(!(f3 eq f2), "a frame served across sessions")
    assert(f2.sparkSession eq s2)
    assert(f3.sparkSession eq s3)
    assert(reg.pinnedCount == 2)
    assert(reg.pinned(s2, "slot", dir)(unbuilt) eq f2)
    assert(reg.pinned(s3, "slot", dir)(unbuilt) eq f3)
    // another dir is a miss, and replaces the session's frame for the slot
    val other = reg.pinned(s2, "slot", "other-dir")(frame(s2, 4))
    assert(!(other eq f2), "a frame served across dirs")
    assert(f2.storageLevel == StorageLevel.NONE, "the replaced frame stayed pinned")
    assert(reg.pinnedCount == 2)
    assert(reg.pinned(s3, "slot", dir)(unbuilt) eq f3)
    reg.releaseAll()
    assert(reg.pinnedCount == 0)
    assert(f3.storageLevel == StorageLevel.NONE && other.storageLevel == StorageLevel.NONE)
  }

  test("a hit bound to another session is refused even under key confusion") {
    // a build handing back a frame of the WRONG session is refused outright:
    // nothing is cached, so no later call can be served it
    val reg = new OpCache()
    val s2 = spark.newSession()
    intercept[IllegalArgumentException](reg.pinned(s2, "slot", dir)(frame(spark, 5)))
    assert(reg.pinnedCount == 0, "a wrong-session frame was kept")
    val f = reg.pinned(s2, "slot", dir)(frame(s2, 5))
    assert(f.sparkSession eq s2)
    reg.releaseAll()
  }

  test("stopping a session releases its entries on the next access") {
    val dead = new java.util.IdentityHashMap[SparkSession, java.lang.Boolean]()
    val reg = new OpCache(stopped = s => dead.containsKey(s))
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    val f2 = reg.pinned(s2, "slot", dir)(frame(s2, 6))
    val f3 = reg.pinned(s3, "slot", dir)(frame(s3, 7))
    assert(reg.pinnedCount == 2)
    dead.put(s2, java.lang.Boolean.TRUE) // "stop" s2
    assert(reg.pinnedCount == 1, "stopped session's entry not released")
    assert(reg.pinned(s3, "slot", dir)(unbuilt) eq f3)
    // the sweep drops a dead session's reference without unpersisting (its
    // blocks died with the context); this one's context is live, so free it
    f2.unpersist()
    reg.releaseAll()
  }

  test("newSession-cycling stays bounded; evicted frames are unpersisted") {
    val reg = new OpCache(maxPinned = 4)
    val frames = (0 until 10).map { i =>
      val s = spark.newSession()
      reg.pinned(s, "slot", dir) {
        val f = frame(s, i + 1).persist(StorageLevel.MEMORY_AND_DISK)
        f.count()
        f
      }
    }
    assert(reg.pinnedCount == 4, s"registry grew past its bound: ${reg.pinnedCount}")
    // FIFO: the first six frames were evicted and unpersisted
    frames.take(6).foreach(f =>
      assert(f.storageLevel == StorageLevel.NONE, "evicted frame left pinned"))
    frames.takeRight(4).foreach(f =>
      assert(f.storageLevel != StorageLevel.NONE, "live frame was unpersisted"))
    reg.releaseAll()
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE))
  }

  test("integration: bm25RankTable memoizes per session, frames bound to their session") {
    operators.TextOps.invalidateBm25RankCache()
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    graft.functions.VectorFunctions.register(s2)
    graft.functions.VectorFunctions.register(s3)
    val f2 = operators.TextOps.bm25RankTable(s2, dir)
    assert(f2.sparkSession eq s2)
    assert(operators.TextOps.bm25RankTable(s2, dir) eq f2, "same-session hit missed")
    val f3 = operators.TextOps.bm25RankTable(s3, dir)
    assert(!(f3 eq f2), "rank table served across sessions")
    assert(f3.sparkSession eq s3)
    operators.TextOps.invalidateBm25RankCache()
    assert(f2.storageLevel == StorageLevel.NONE && f3.storageLevel == StorageLevel.NONE,
      "invalidation left a rank table pinned")
    assert(!(operators.TextOps.bm25RankTable(s2, dir) eq f2), "released rank table served again")
    operators.TextOps.invalidateBm25RankCache()
    spark.catalog.clearCache()
  }

  test("exactly once: concurrent callers of one key share one build; a failed build is retried") {
    val reg = new OpCache()
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val calls = (1 to 8).map { _ =>
        Future {
          go.await()
          reg.perProcess(spark, "slot", dir) {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            new Object
          }
        }
      }
      go.countDown()
      val got = Await.result(Future.sequence(calls), 1.minute)
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
    intercept[IllegalStateException] {
      reg.perProcess[String](spark, "flaky", dir) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(reg.perProcess(spark, "flaky", dir) { builds.incrementAndGet(); "ok" } == "ok",
      "a failed build was cached")
    assert(builds.get == 3)
    assert(reg.perProcess(spark, "flaky", dir)(fail("a hit ran its build"): String) == "ok")
  }

  test("a stored fixture follows a rewrite of its corpus dir") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("stale-fixture").toString
    def write(ids: Seq[Long]): Unit =
      ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def stored: Set[Long] =
      MultimodalOps.imagePatternAssetsStored(spark, tmp).map(_.id).collect().toSet
    write(1L to 4L)
    assert(stored == (1L to 4L).toSet)
    assert(stored == (1L to 4L).toSet) // a hit on the unchanged dir
    write(11L to 13L)
    assert(stored == (11L to 13L).toSet, "the fixture served the rows of the dir before its rewrite")
  }

  test("a release during a build leaves the built frame registered for the next release") {
    val reg = new OpCache()
    val building = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    val call = Future {
      reg.pinned(spark, "slot", dir) { building.countDown(); go.await(); frame(spark, 12) }
    }(ExecutionContext.global)
    building.await()
    reg.releaseAll() // the contract says not to; an unregistered frame would outlive every release
    go.countDown()
    val f = Await.result(call, 1.minute)
    assert(reg.pinnedCount == 1, "the frame built across a release is not tracked")
    assert(f.storageLevel != StorageLevel.NONE)
    reg.releaseAll()
    assert(reg.pinnedCount == 0)
    assert(f.storageLevel == StorageLevel.NONE, "the frame built across a release stayed pinned")
  }

  test("a dropped closeable value is closed: on a rewrite of its dir and on release") {
    val reg = new OpCache()
    val tmp = java.nio.file.Files.createTempDirectory("closeable-entry")
    final class Held extends AutoCloseable { @volatile var closed = false; def close(): Unit = closed = true }
    val first = reg.perProcess(spark, "held", tmp.toString)(new Held)
    assert(reg.perProcess(spark, "held", tmp.toString)(fail("a hit ran its build"): Held) eq first)
    java.nio.file.Files.write(tmp.resolve("part"), Array[Byte](1))
    val second = reg.perProcess(spark, "held", tmp.toString)(new Held)
    assert(!(second eq first) && first.closed && !second.closed, "the stale value was kept or left open")
    reg.release("held")
    assert(second.closed, "a released value was left open")
  }

  test("REAL stop releases entries under the default predicate (runs last: stops the context)") {
    // the injectable-predicate test above exercises the sweep logic; this
    // one exercises the PRODUCTION predicate against a genuinely stopped
    // SparkContext. It must run at the END of this suite (a stopped
    // context kills every later test here; subsequent SUITES getOrCreate a
    // fresh context, which is the established per-suite lifecycle — every
    // suite's afterAll stops its context already).
    val reg = new OpCache()
    val s2 = spark.newSession()
    reg.pinned(spark, "slot", dir)(frame(spark, 8))
    reg.pinned(s2, "slot", dir)(frame(s2, 9))
    assert(reg.pinnedCount == 2)
    spark.stop() // stops the SHARED context — both sessions are now dead
    assert(reg.pinnedCount == 0, "stopped context's entries survived the default sweep")
  }
}
