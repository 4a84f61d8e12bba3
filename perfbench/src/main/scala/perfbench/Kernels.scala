package perfbench

import java.nio.ByteBuffer

import scala.util.Random

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.format.WhisperCodec
import graft.functions.{MinHash8, PqKernelUtil, RollingFingerprint}

/** The kernels and the codec, each timed on its own over in-memory inputs
 * drawn from the seed: per-unit cost, the median of several repetitions. */
object Kernels {
  private val Reps = 7

  /** Median nanoseconds of `body` over the repetitions, after one warm-up. */
  private def medianNs(body: => Unit): Double = {
    body
    Stats.median((0 until Reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t).toDouble
    })
  }

  private def words(rng: Random, n: Int): Array[String] = {
    val vocab = Array("spark", "window", "merge", "table", "column", "vector", "stream", "value",
      "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order")
    Array.fill(n)(vocab(rng.nextInt(vocab.length)))
  }

  def measure(seed: Long): Map[String, Double] = {
    val rng = new Random(seed)
    var sink = 0L

    val docs = Array.fill(500) {
      val w = words(rng, 10 + rng.nextInt(91))
      new GenericArrayData(w.sliding(3).map(g => UTF8String.fromString(g.mkString(" "))).toArray[Any])
    }
    val minhash = medianNs(docs.foreach(d => sink += MinHash8.compute(d).numElements())) / docs.length

    val text = words(rng, 20000).mkString(" ").getBytes("UTF-8")
    val winnow = medianNs(sink += RollingFingerprint.winnow(text).length) / (text.length / 1024.0)

    val dims = 64
    val subspaces = 8
    val codebooks = Array.fill(subspaces, 16, dims / subspaces)(rng.nextInt(2000000) - 1000000L)
    val vecs = Array.fill(2000)(new GenericArrayData(Array.fill[Any](dims)(rng.nextGaussian().toFloat)))
    val pq = medianNs(vecs.foreach { v =>
      val e6 = PqKernelUtil.toE6(v, isFloat = true)
      var s = 0
      while (s < subspaces) { sink += PqKernelUtil.encodeSub(e6, s, codebooks(s)); s += 1 }
    }) / vecs.length

    val points = 1 << 20
    val buf = ByteBuffer.allocate(points * WhisperCodec.PointSize)
    (0 until points).foreach { i => buf.putInt(1700000000 + i); buf.putDouble(Fixtures.value(i.toLong)) }
    val decode = medianNs(WhisperCodec.foreachPoint(buf.array(), 0, points, 0L) { (p, t, v) =>
      sink += p + t + java.lang.Double.doubleToRawLongBits(v)
    }) / points

    val head = ByteBuffer.allocate(WhisperCodec.FileMetaSize + 3 * WhisperCodec.ArchiveMetaSize)
    head.putInt(1).putInt(31536000).putFloat(0.5f).putInt(3)
    Seq((10, 8640), (60, 43200), (3600, 8760)).foldLeft(52) { case (off, (spp, n)) =>
      head.putInt(off).putInt(spp).putInt(n); off + n * WhisperCodec.PointSize
    }
    val metas = 10000
    val parse = medianNs((0 until metas).foreach { _ =>
      sink += WhisperCodec.parseMeta(head.array(), "bench.wsp", 0L).archives.size
    }) / metas / 1000.0

    require(sink != 42L) // keeps the results observable
    Map("kernel.minhash_ns_per_doc" -> minhash, "kernel.winnow_ns_per_kb" -> winnow,
      "kernel.pq_encode_ns_per_vec" -> pq, "codec.decode_ns_per_point" -> decode,
      "codec.parse_meta_us" -> parse)
  }
}
