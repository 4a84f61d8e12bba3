package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * Library sessions are shared: a notebook or service fires queries from
 * multiple threads at ONE SparkSession. The shared mutable surfaces this
 * exercises under real concurrency: every kind of [[graft.operators.OpCache]]
 * entry — the session's `Tables` relations, the pinned cluster-label table
 * (q60), the process-wide ANN index (q75/q88) and stored image fixture
 * (q125), each built exactly once per key — plus `VectorFunctions.register`'s
 * temp-function registry writes (several operators re-register on every
 * call), the per-call `ivf_argmin_N` registrations (unique-name counter),
 * and the scoped events-nanosAsLong conf flip. Equality against the serial
 * run is the assertion — a lost registration, a half-built relation, or a
 * leaked conf flip all surface as a wrong row set or an exception.
 */
class ConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("concurrency-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  // diverse shared-state footprint: parquet relations incl. events (conf
  // flip), registered kernels (minhash/char_ngrams/gram_hash20), the ANN
  // index + per-call argmin registration, window functions, persist(), the
  // pinned label table, the stored image fixture
  val names = Seq(
    "q01_tpch1_agg", "q20_text_tokens", "q25_dedup_minhash_lsh",
    "q26_dedup_ngram_jaccard", "q31_asof_join", "q50_sessionize",
    "q60_dedup_clusters", "q75_ann_ivf_topk", "q88_semantic_dedup",
    "q89_bigram_surprisal", "q93_substring_dup", "q125_image_phash_dedup")

  override def afterAll(): Unit = {
    try spark.stop()
    finally super.afterAll()
  }

  private def fingerprint(name: String): (Long, Seq[String]) = {
    val rows = SparkEntry.queries(name)(spark, dir).collect()
    (rows.length.toLong, rows.map(_.toString).sorted.take(5).toSeq)
  }

  test("12 queries produce identical results run concurrently vs serially") {
    val serial = names.map(n => n -> fingerprint(n)).toMap
    spark.catalog.clearCache()

    val pool = Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // two concurrent wavefronts: the first races cold caches/registries,
      // the second races against the first's warm state
      (1 to 2).foreach { wave =>
        val futures = names.map(n => Future(n -> fingerprint(n)))
        val results = Await.result(Future.sequence(futures), 10.minutes).toMap
        names.foreach { n =>
          assert(results(n) == serial(n), s"wave $wave: $n diverged under concurrency")
        }
      }
    } finally pool.shutdown()
  }
}
