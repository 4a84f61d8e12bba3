package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ByteHistogram

/**
 * Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
 * columns with typed metadata, plus decode / feature-extract stages.
 *
 * The image decode is REAL: [[ImageDecoder.decode]] runs `javax.imageio`
 * (public JDK API, in-JVM, headless-safe) over actual PNG payload bytes
 * inside the batched `mapPartitions` stage. PNG fixtures are synthesized
 * deterministically ([[pngAssets]]) with closed-form geometry/content, so a
 * SQL oracle can verify the decoder's output without itself decoding
 * anything (q84). Audio/video codecs are not bundled; those modalities ride
 * the same Asset schema and batch shape, with the codec call swapped in at
 * the one `decode` site.
 */
object MultimodalOps {
  import Tables.t

  // ImageIO spools every encode/decode through a temp-FILE cache stream by
  // default — per-image DISK I/O that dominates a hot byte-array codec loop.
  // Disabled at the OBJECT level (r17): it used to live only in
  // [[ImageDecoder]]'s initializer, so a JVM that touched the perceptual-
  // hash paths first (the q125/q127/q129 kernels call ImageIO directly)
  // paid ~3x wall until something initialized ImageDecoder — caught when
  // scale_check17's fresh shell ran 3.5x slower than the bench JVM.
  javax.imageio.ImageIO.setUseCache(false)

  /** Asset row: payload + typed metadata, the schema contract for all
   * multimodal stages. At 100 TB payloads stay in their own column so column
   * pruning lets metadata-only queries skip them entirely. */
  final case class Asset(id: Long, modality: String, bytes: Array[Byte], source: String)

  final case class Decoded(
      id: Long,
      modality: String,
      width: Int,
      height: Int,
      n_frames: Int,
      byte_len: Long,
      px00: Int // red channel of pixel (0,0): proof the decode read pixel data
  )

  /** Real in-JVM image codec (`javax.imageio`): encode side for fixture
   * synthesis, decode side for the pipeline stage. */
  object ImageDecoder {
    // ImageIO spools every encode/decode through a temp-FILE cache stream by
    // default — per-image disk I/O that dominates a hot byte-array codec
    // loop. In-memory streams only.
    javax.imageio.ImageIO.setUseCache(false)

    /** A `width` x `height` PNG filled with gray level `gray` — every byte
     * deterministic in the arguments, so fixtures are reproducible and the
     * decoded (width, height, px00) triple is closed-form for the oracle. */
    def pngBytes(width: Int, height: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      val row = Array.fill(width * height)(rgb)
      img.setRGB(0, 0, width, height, row, 0, width) // bulk, not per-pixel
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Decode real payload bytes. A payload that is not a decodable image is
     * a data error and fails loudly (ImageIO returns null) rather than
     * producing fabricated dimensions. */
    def decode(a: Asset): Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a.bytes))
      require(img != null, s"asset ${a.id}: payload is not a decodable image")
      Decoded(a.id, a.modality, img.getWidth, img.getHeight, 1,
        a.bytes.length.toLong, (img.getRGB(0, 0) >> 16) & 0xff)
    }
  }

  /** Synthesize an asset table from documents (text bytes stand in for media
   * payloads; byte-level stages do not care what the bytes mean). */
  def assets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(
        col("doc_id").as("id"),
        lit("synthetic/text").as("modality"),
        encode(col("text"), "UTF-8").as("bytes"),
        col("source")
      )
      .as[Asset]
  }

  /** One deterministic PNG per document: geometry and gray level are
   * closed-form in doc_id (`w = 16 + id%48`, `h = 16 + (id*7)%32`,
   * `gray = id%256`), so q84's oracle recomputes the expected decode output
   * in SQL while Spark decodes the actual bytes. Encoding happens in
   * `mapPartitions` — the same batch shape the decode stage uses. */
  def pngAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        Asset(id, "image/png",
          ImageDecoder.pngBytes(16 + (id % 48).toInt, 16 + ((id * 7) % 32).toInt, (id % 256).toInt),
          source)
      })
  }

  /** Batched decode stage: mapPartitions so the decoder amortizes per-batch
   * setup (codec contexts, GPU handles) across a partition — the Scala
   * analogue of pandas-UDF batch shape. */
  def decodeAll(assets: Dataset[Asset]): Dataset[Decoded] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(ImageDecoder.decode))
  }

  /** q84: synthesize-then-decode round trip over real PNG bytes. The decoded
   * (width, height, px00) must reproduce the closed-form synthesis formulas
   * — hash-checked against a DuckDB oracle that computes them from doc_id. */
  def pngDecode(spark: SparkSession, dir: String): DataFrame =
    decodeAll(pngAssets(spark, dir))
      .select(col("id"), col("width"), col("height"), col("px00"))
      .orderBy("id")

  final case class DecodedAudio(
      id: Long,
      sample_rate: Int,
      channels: Int,
      n_frames: Long,
      pcm_sum: Long // sum of all PCM16 samples: proof the decode read payload
  )

  /** Real in-JVM audio codec (`javax.sound.sampled` — public JDK, no audio
   * device needed for parsing): encode side synthesizes RIFF/WAVE PCM16
   * containers byte-by-byte, decode side runs `AudioSystem`'s WAV parser
   * and reads back the sample stream. */
  object AudioDecoder {
    /** Mono PCM16 RIFF/WAVE container around arbitrary samples — the
     * encode-side primitive shared by the q85 fixture and the q126
     * fingerprint fixtures. */
    def pcm16WavBytes(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits per sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** Mono PCM16 WAV, `n` samples at `sampleRate` Hz; sample i is the
     * closed-form `(id*131 + i*17) % 4096 - 2048`, so q85's oracle can
     * recompute the decoded sample SUM in SQL without parsing audio. */
    def wavBytes(id: Long, n: Int, sampleRate: Int): Array[Byte] =
      pcm16WavBytes(
        Array.tabulate(n)(i => ((id * 131 + i * 17) % 4096 - 2048).toShort), sampleRate)

    // The platform's audio codecs via the PUBLIC SPI, loaded ONCE:
    // `AudioSystem.getAudioInputStream` consults the JDK's service registry
    // through a synchronized static per CALL — a process-global lock that
    // serialized all 32 decode threads (scale check 3 caught q85 at 14x
    // wall-clock for 10x rows while the PNG path stayed flat). Resolving the
    // `AudioFileReader` providers through ServiceLoader at init keeps the
    // identical real codec and removes the per-call lock.
    private val wavReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }

    // Memoize the provider that recognizes our payloads: probing providers
    // in registry order makes every NON-matching one throw
    // UnsupportedAudioFileException per call, and constructing those
    // exceptions (stack-fill) dominated the decode at 105us/op with
    // NEGATIVE thread scaling. With the matching reader tried first, the
    // happy path throws nothing.
    @volatile private var preferredReader: javax.sound.sampled.spi.AudioFileReader = null

    private def audioStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      val pref = preferredReader
      if (pref != null) {
        try return pref.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      }
      val readers = wavReaders.iterator
      while (readers.hasNext) {
        val r = readers.next()
        try {
          val in = r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          preferredReader = r
          return in
        } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "payload not recognized by any installed AudioFileReader")
    }

    /** Decode real WAV bytes: the platform `AudioFileReader` parses the RIFF
     * header into an `AudioFormat` (rate/channels/endianness) and streams
     * the PCM frames, which are summed as 16-bit samples. Malformed payloads
     * fail loudly (`UnsupportedAudioFileException`). */
    def decode(a: Asset): DecodedAudio = {
      val in = audioStream(a.bytes)
      val fmt = in.getFormat
      val frames = in.getFrameLength
      val pcm = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(pcm).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      var sum = 0L
      while (bb.remaining() >= 2) sum += bb.getShort()
      DecodedAudio(a.id, fmt.getSampleRate.toInt, fmt.getChannels, frames, sum)
    }

    /** Decode to the raw 16-bit sample array (endianness from the parsed
     * format) — the fingerprint stage consumes samples, not just the sum. */
    def decodeSamples(bytes: Array[Byte]): Array[Short] = {
      val in = audioStream(bytes)
      val fmt = in.getFormat
      val pcm = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(pcm).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Short](pcm.length / 2)
      var i = 0
      while (bb.remaining() >= 2) { out(i) = bb.getShort(); i += 1 }
      out
    }
  }

  /** One deterministic WAV per document (`n = 64 + id%192` samples at
   * 8 kHz), same closed-form contract as [[pngAssets]]. */
  def wavAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        Asset(id, "audio/wav",
          AudioDecoder.wavBytes(id, 64 + (id % 192).toInt, 8000), source)
      })
  }

  /** q85: synthesize-then-decode round trip over real WAV bytes — the
   * decoded format fields and the PCM sample sum must reproduce the
   * closed-form synthesis, hash-checked against a DuckDB oracle that
   * recomputes them from doc_id with generate_series. */
  def wavDecode(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    wavAssets(spark, dir)
      .mapPartitions(_.map(AudioDecoder.decode))
      .select(col("id"), col("sample_rate"), col("channels"), col("n_frames"), col("pcm_sum"))
      .orderBy("id")
  }

  final case class DecodedFrame(id: Long, frame_idx: Int, width: Int, height: Int, px00: Int)

  /** Minimal length-prefixed multi-frame container of independently encoded
   * PNG frames (the MJPEG layout, with PNG as the intra codec): u32-BE frame
   * count, then per frame a u32-BE byte length and the PNG payload. No JDK
   * video codec exists, but this makes the VIDEO pipeline stage — container
   * parse, frame-index arithmetic, per-frame image decode — fully real. */
  object VideoCodec {
    /** `nFrames` frames for doc `id`; frame f is a PNG whose geometry and
     * gray level are closed-form: `w = 8 + id%16`, `h = 8 + f%8`,
     * `gray = (id + f*13) % 256` — so a SQL oracle can verify decoded
     * sampled frames without touching a codec. */
    def videoBytes(id: Long, nFrames: Int): Array[Byte] = {
      val frames = (0 until nFrames).map { f =>
        ImageDecoder.pngBytes(8 + (id % 16).toInt, 8 + f % 8, ((id + f * 13) % 256).toInt)
      }
      val bb = java.nio.ByteBuffer.allocate(4 + frames.map(_.length + 4).sum)
      bb.putInt(nFrames)
      frames.foreach { p => bb.putInt(p.length); bb.put(p) }
      bb.array()
    }

    /** Parse the container and REALLY decode every `step`-th frame via
     * ImageIO — the sampled-frame read pattern of a video ingest stage
     * (seek by length prefix, decode only sampled frames). */
    def sampleFrames(a: Asset, step: Int): Iterator[DecodedFrame] = {
      val bb = java.nio.ByteBuffer.wrap(a.bytes)
      val n = bb.getInt()
      (0 until n).iterator.flatMap { f =>
        val len = bb.getInt()
        if (f % step == 0) {
          val payload = new Array[Byte](len)
          bb.get(payload)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          require(img != null, s"asset ${a.id} frame $f: not a decodable image")
          Iterator.single(DecodedFrame(a.id, f, img.getWidth, img.getHeight, (img.getRGB(0, 0) >> 16) & 0xff))
        } else { // skip without decoding — the point of length-prefixed seek
          bb.position(bb.position() + len)
          Iterator.empty
        }
      }
    }
  }

  /** One deterministic multi-frame video per document
   * (`nFrames = 1 + id%24`), same closed-form contract as [[pngAssets]]. */
  def videoAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        Asset(id, "video/x-graft-frames", VideoCodec.videoBytes(id, 1 + (id % 24).toInt), source)
      })
  }

  /** Fixture assets materialized to parquet ONCE per (process, dir) — in
   * production the payloads live in storage and the decode stage reads
   * them; synthesizing 60k+ PNG/WAV payloads is fixture setup, not the
   * pipeline stage under test, so it must not ride inside the timed query
   * (same memoization rationale as [[VectorOps]]'s IVF index). The path is
   * an [[OpCache.perProcess]] entry under `tag`: built exactly once, and
   * rebuilt into a fresh temp dir when the corpus dir's listing changes.
   * The temp dir is deleted when the registry drops the entry, or at exit. */
  private def storedFixture(spark: SparkSession, tag: String, dir: String)(build: => Dataset[Asset]): String =
    OpCache.perProcess(spark, tag, dir) {
      val fixture = StoredFixture(java.nio.file.Files.createTempDirectory(tag))
      sys.addShutdownHook(fixture.close())
      build.write.mode("overwrite").parquet(fixture.path.toString)
      fixture
    }.path.toString

  private final case class StoredFixture(path: java.nio.file.Path) extends AutoCloseable {
    /** Best-effort recursive delete; a failure only costs disk. */
    def close(): Unit =
      try {
        val walk = java.nio.file.Files.walk(path)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => }
  }

  /** Read a stored fixture back SPREAD across the session's cores: the
   * fixture parquet is a couple of small files, so a plain read yields 1-2
   * scan partitions and the CPU-bound decode stage would run on 1-2 of 32
   * cores (r17: this serialization, not the decode itself, dominated the
   * multimodal walls). One tiny blob shuffle (~MBs) buys full decode
   * parallelism; real 100 TB asset tables arrive in thousands of files and
   * never need this. */
  private def readStored(spark: SparkSession, path: String): Dataset[Asset] = {
    import spark.implicits._
    spark.read.parquet(path)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Asset]
  }

  def videoAssetsStored(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    readStored(spark,
      storedFixture(spark, "graft_video_assets", dir)(videoAssets(spark, dir)))
  }

  /** q86: REAL video frame sampling — read stored containers, seek past
   * unsampled frames, decode every 5th frame with the real image codec.
   * Decoded geometry/content reproduce the closed-form synthesis,
   * hash-checked against a DuckDB oracle that recomputes them from
   * (doc_id, frame_idx). Row-count amplification (~nFrames/5 per asset) is
   * the scale hazard; at 100 TB follow with a repartition sized to the
   * amplified count, as [[frameSample]]'s scaladoc records. */
  def videoFrameDecode(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    videoAssetsStored(spark, dir)
      .mapPartitions(_.flatMap(VideoCodec.sampleFrames(_, step = 5)))
      .select(col("id"), col("frame_idx"), col("width"), col("height"), col("px00"))
      .orderBy("id", "frame_idx")
  }

  /**
   * Image perceptual-hash near-dup (q125) — the multimodal dedup step a
   * training pipeline runs FIRST (VERDICT r15 missing #2): average-hash
   * (aHash) over the decoded pixel matrix, then the chunked Hamming-LSH +
   * exact-verify composition q29/q96 established for text fingerprints.
   *
   * Fixture discipline (the q96 oracle-portable-twin idea applied to
   * pixels): each document gets a 32x32 PNG painted as an 8x8 grid of 4x4
   * blocks at gray 64 ("low") or 192 ("high"), the block pattern a
   * closed-form integer formula in a seed ([[PerceptualHash.patternBit]]).
   * Documents with `doc_id % 50 == 1` are NEAR-DUP TWINS: they paint the
   * PREVIOUS document's pattern with exactly three blocks flipped
   * ([[PerceptualHash.flipPositions]] — three disjoint position ranges, so
   * always 3 distinct flips). The aHash of such an image IS the block
   * pattern: with at least one low and one high block the 64-value mean
   * lies strictly between 64 and 192 (integer-exact: mean = 64 + 2k for k
   * high blocks, k in [1, 63] — bits 0/1 are pinned low/high so k never
   * hits the degenerate bounds even after flips, which only touch
   * positions >= 2), so "block mean > image mean" recovers each bit
   * exactly and a twin lands at Hamming distance exactly 3 — within the
   * <= 6 verify threshold, and guaranteed a clean 16-bit chunk by
   * pigeonhole (3 flips over 4 chunks). The DuckDB oracle recomputes the
   * hash from the pattern formula; Spark's hash comes from REAL
   * `javax.imageio` decode + generic block-mean arithmetic over the
   * pixels, so the compare proves the whole decode-and-hash pipeline.
   *
   * Scale shape: one map-side pass per image (decode + 64 integer block
   * means), then the standard banded LSH — 4 chunk buckets per image, a
   * windowed hot-bucket cap (<= 50) bounding pair fan-out, exact Hamming
   * verify only inside buckets. Never all-pairs; at 100 TB the pair stage
   * is corpus x 4 bucket rows, the same envelope as q29/q96.
   */
  object PerceptualHash {
    /** Block-pattern bits (64) for `seed`: bits 0/1 pinned to 0/1 (the
     * degenerate all-same-pattern guard), the rest the first 62 bits of
     * md5(seed as decimal string) — the repo's standard engine-portable
     * hash (q96's substrate), which the DuckDB oracle replays from the hex
     * digits. Arithmetic formulas were tried first and REJECTED: the parity
     * of any small-modulus linear form is periodic in the seed (mod 257:
     * seeds 257 apart painted identical images), and even with a large
     * prime modulus two seeds at a small even offset differ only where the
     * value wraps — twin images of DIFFERENT documents landed within
     * Hamming 2-4 of each other while genuine pairs drowned. Digest bits
     * have no such cross-seed structure: non-planted pairs sit near
     * Hamming 31, planted twins at exactly 3. */
    def patternBits(seed: Long): Array[Int] = digestBits(seed.toString)

    /** 64 bits from md5 of `key` with bits 0/1 pinned low/high — shared by
     * the image pattern (key = seed) and the audio fingerprint fixture
     * (key = "a" + seed, a distinct bit universe per modality). */
    private[operators] def digestBits(key: String): Array[Int] = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = new Array[Int](64)
      var b = 0
      while (b < 64) {
        out(b) =
          if (b == 0) 0
          else if (b == 1) 1
          else (d(b >> 3) >> (7 - (b & 7))) & 1
        b += 1
      }
      out
    }

    /** The twin's three flipped block positions: disjoint ranges
     * [2,9], [10,16], [17,21] — always 3 distinct bits, never 0/1. */
    def flipPositions(seed: Long): Set[Int] =
      Set(2 + (seed % 8).toInt, 10 + (seed % 7).toInt, 17 + (seed % 5).toInt)

    /** Paint the 32x32 block-pattern PNG (gray 64/192 per 4x4 block). */
    def patternPngBytes(seed: Long, twin: Boolean): Array[Byte] = {
      val flips = if (twin) flipPositions(seed) else Set.empty[Int]
      val bits = patternBits(seed)
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](32 * 32)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) {
          val b = (y / 4) * 8 + (x / 4)
          val bit = bits(b) ^ (if (flips(b)) 1 else 0)
          val g = if (bit == 1) 192 else 64
          px(y * 32 + x) = (g << 16) | (g << 8) | g
          x += 1
        }
        y += 1
      }
      img.setRGB(0, 0, 32, 32, px, 0, 32)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** aHash from REAL decoded pixels, returned as 4 x 16-bit chunks (the
     * engine-portable fingerprint shape, q96): downscale to 8x8 by integer
     * block means of the red channel, threshold each block against the
     * integer mean of the 64 block values, bit b of chunk j = position
     * (15 - (b mod 16)) — all exact integer arithmetic, no float resize. */
    def phashChunks(bytes: Array[Byte]): (Int, Int, Int, Int) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "payload is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      require(w % 8 == 0 && h % 8 == 0, s"phash expects 8-divisible geometry, got ${w}x$h")
      val bw = w / 8
      val bh = h / 8
      val vals = new Array[Long](64)
      var by = 0
      while (by < 8) {
        var bx = 0
        while (bx < 8) {
          var sum = 0L
          var y = by * bh
          while (y < (by + 1) * bh) {
            var x = bx * bw
            while (x < (bx + 1) * bw) {
              sum += (img.getRGB(x, y) >> 16) & 0xff
              x += 1
            }
            y += 1
          }
          vals(by * 8 + bx) = sum / (bw * bh)
          bx += 1
        }
        by += 1
      }
      val mean = vals.sum / 64
      var c0 = 0; var c1 = 0; var c2 = 0; var c3 = 0
      var b = 0
      while (b < 64) {
        if (vals(b) > mean) {
          val w16 = 1 << (15 - (b & 15))
          (b >> 4) match {
            case 0 => c0 |= w16
            case 1 => c1 |= w16
            case 2 => c2 |= w16
            case _ => c3 |= w16
          }
        }
        b += 1
      }
      (c0, c1, c2, c3)
    }

    /** aHash over a 32x32 integer luminance grid (4x4 block means vs their
     * mean, same bit layout) — bit-identical to [[phashChunks]] on native
     * 32x32 images; the grid-facing twin shared by
     * [[DctHash.dualHashChunks]] and the robustness spec. */
    def aHashFromGrid(px: Array[Long]): (Int, Int, Int, Int) = {
      val vals = new Array[Long](64)
      var b = 0
      while (b < 64) {
        val by = b >> 3; val bx = b & 7
        var sum = 0L
        var y = by * 4
        while (y < by * 4 + 4) {
          var x = bx * 4
          while (x < bx * 4 + 4) { sum += px(y * 32 + x); x += 1 }
          y += 1
        }
        vals(b) = sum / 16
        b += 1
      }
      val mean = vals.sum / 64
      var c0 = 0; var c1 = 0; var c2 = 0; var c3 = 0
      b = 0
      while (b < 64) {
        if (vals(b) > mean) {
          val w16 = 1 << (15 - (b & 15))
          (b >> 4) match {
            case 0 => c0 |= w16
            case 1 => c1 |= w16
            case 2 => c2 |= w16
            case _ => c3 |= w16
          }
        }
        b += 1
      }
      (c0, c1, c2, c3)
    }
  }

  /**
   * DCT perceptual hash (q129, VERDICT r16 next #3) — the classic pHash
   * construction (Zauner, "Implementation and Benchmarking of Perceptual
   * Image Hash Functions", 2010) in EXACT INTEGER arithmetic so the hash
   * is engine-portable (the q96 twin discipline): 32x32 luminance grid,
   * 2-D DCT via a scaled integer cosine table, keep the top-left 8x8
   * coefficient block, threshold each non-DC coefficient against the
   * LOWER MEDIAN (32nd smallest of the 63 values — a positional pick both
   * engines reproduce; an averaged median could be fractional), DC bit
   * pinned 0.
   *
   * Why it complements aHash (q125): aHash thresholds block means against
   * the global mean, so any low-frequency gradient or local lighting
   * change flips bits wholesale; the DCT hash captures the image's
   * low-frequency STRUCTURE, and a uniform brightness shift lands almost
   * entirely in the discarded DC coefficient ([[DctHashRobustnessSpec]]
   * proves the shift-invariance property on real re-encoded PNGs).
   *
   * Exactness contract: all arithmetic is Long over integer pixel values
   * and the integer table [[Cos]]; `round(|cos|*16384)*sign` keeps the
   * table exactly antisymmetric (Math.round is not odd-symmetric at .5
   * ties). Max |F| <= 32*32*255*16384^2 < 2^63: no overflow. The oracle
   * recomputes F over a block-constant pattern image via the block-summed
   * table [[CosBlock]] — an exact regrouping of the same integer sums, so
   * Spark's decode-the-pixels hash and the oracle's formula hash agree
   * bit-for-bit.
   */
  object DctHash {
    val Scale = 16384L

    /** C(u)(x) = round(cos((2x+1)·u·pi/64) * Scale), u in 0..7, x in 0..31,
     * rounded away from zero on magnitude so antisymmetry survives. */
    val Cos: Array[Array[Long]] = Array.tabulate(8, 32) { (u, x) =>
      val c = math.cos((2 * x + 1) * u * math.Pi / 64)
      (math.signum(c) * math.round(math.abs(c) * Scale)).toLong
    }

    /** Block-summed table for the oracle: CB(u)(bx) = sum of C(u)(x) over
     * the 4 columns of block bx — 64 Longs, embedded in the oracle SQL as
     * a VALUES list generated from THIS table (the whisperTailOracleSql
     * constants-sharing discipline, so the two sides cannot drift). */
    val CosBlock: Array[Array[Long]] = Array.tabulate(8, 8)((u, bx) =>
      (0 until 4).map(i => Cos(u)(4 * bx + i)).sum)

    /** DCT hash from REAL decoded pixels, as 4 x 16-bit chunks (bit b =
     * coefficient u*8+v at chunk b>>4, position 15-(b&15) — the q125
     * layout). Images larger than 32x32 (in exact multiples) are first
     * reduced by integer block means (floor), the library's resize-free
     * downscale; the fixture is natively 32x32. */
    def dctHashChunks(bytes: Array[Byte]): (Int, Int, Int, Int) =
      hashFromGrid(decodeToGrid(bytes))

    /** BOTH perceptual hashes from ONE decode: the aHash (the cheap
     * blocking fingerprint, [[PerceptualHash.aHashFromGrid]]) and the DCT
     * hash (the robust verify fingerprint) over the same 32x32 grid —
     * q129's map-side pass. */
    def dualHashChunks(bytes: Array[Byte]): ((Int, Int, Int, Int), (Int, Int, Int, Int)) = {
      val px = decodeToGrid(bytes)
      (PerceptualHash.aHashFromGrid(px), hashFromGrid(px))
    }

    /** Decode real image bytes to the 32x32 integer luminance grid (red
     * channel; floor block means for exact-multiple larger geometries —
     * the library's resize-free downscale). */
    def decodeToGrid(bytes: Array[Byte]): Array[Long] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "payload is not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      require(w % 32 == 0 && h % 32 == 0, s"dct hash expects 32-divisible geometry, got ${w}x$h")
      val sw = w / 32
      val sh = h / 32
      val px = new Array[Long](32 * 32)
      var gy = 0
      while (gy < 32) {
        var gx = 0
        while (gx < 32) {
          var sum = 0L
          var y = gy * sh
          while (y < (gy + 1) * sh) {
            var x = gx * sw
            while (x < (gx + 1) * sw) { sum += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
            y += 1
          }
          px(gy * 32 + gx) = sum / (sw * sh)
          gx += 1
        }
        gy += 1
      }
      px
    }

    /** The hash over a 32x32 integer luminance grid — split out so the
     * robustness spec (and any pre-decoded pipeline) can drive it on
     * integer grids directly. */
    def hashFromGrid(px: Array[Long]): (Int, Int, Int, Int) = {
      // separable DCT: G(u)(y) = sum_x px(y,x)*C(u)(x); F(u)(v) = sum_y G(u)(y)*C(v)(y)
      val g = Array.ofDim[Long](8, 32)
      var u = 0
      while (u < 8) {
        var y = 0
        while (y < 32) {
          var s = 0L
          var x = 0
          while (x < 32) { s += px(y * 32 + x) * Cos(u)(x); x += 1 }
          g(u)(y) = s
          y += 1
        }
        u += 1
      }
      val f = new Array[Long](64)
      u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var s = 0L
          var y = 0
          while (y < 32) { s += g(u)(y) * Cos(v)(y); y += 1 }
          f(u * 8 + v) = s
          v += 1
        }
        u += 1
      }
      val nonDc = new Array[Long](63)
      System.arraycopy(f, 1, nonDc, 0, 63)
      java.util.Arrays.sort(nonDc)
      val m = nonDc(31) // lower median of the 63 non-DC coefficients
      var c0 = 0; var c1 = 0; var c2 = 0; var c3 = 0
      var b = 1 // DC bit pinned 0
      while (b < 64) {
        if (f(b) > m) {
          val w16 = 1 << (15 - (b & 15))
          (b >> 4) match {
            case 0 => c0 |= w16
            case 1 => c1 |= w16
            case 2 => c2 |= w16
            case _ => c3 |= w16
          }
        }
        b += 1
      }
      (c0, c1, c2, c3)
    }
  }

  /**
   * Payload-facing image near-dup API (r17, VERDICT r16 #1): decode each
   * asset's real image bytes, aHash the pixels
   * ([[PerceptualHash.phashChunks]]), and pair assets within `maxHamming`
   * bits via the shared chunked Hamming-LSH — callable on ANY
   * `Dataset[Asset]` of decodable 8-divisible images, not just the
   * fixture. One map-side pass per image, then the banded LSH; never
   * all-pairs.
   */
  def imageNearDupPairs(assets: Dataset[Asset], maxHamming: Int = 6): DataFrame =
    hammingLshPairs(imageHashedChunks(assets), maxHamming)

  /** The decode + aHash stage of [[imageNearDupPairs]] as a chunk table. */
  private def imageHashedChunks(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets
      .mapPartitions(_.map { a =>
        val (c0, c1, c2, c3) = PerceptualHash.phashChunks(a.bytes)
        (a.id, c0, c1, c2, c3)
      })
      .toDF("doc_id", "c0", "c1", "c2", "c3")
  }

  /** Payload-facing audio near-dup API: decode each asset's real WAV
   * bytes, fingerprint the frame energies
   * ([[AudioFingerprint.fingerprintChunks]]), LSH-pair within
   * `maxHamming` bits. */
  def audioNearDupPairs(assets: Dataset[Asset], maxHamming: Int = 6): DataFrame =
    hammingLshPairs(audioHashedChunks(assets), maxHamming)

  /** The decode + fingerprint stage of [[audioNearDupPairs]]. */
  private def audioHashedChunks(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets
      .mapPartitions(_.map { a =>
        val (c0, c1, c2, c3) = AudioFingerprint.fingerprintChunks(a.bytes)
        (a.id, c0, c1, c2, c3)
      })
      .toDF("doc_id", "c0", "c1", "c2", "c3")
  }

  /** Image + audio + video pair edges for the q128 union — image and audio
   * FUSED through one LSH tail (r17: identical chunked Hamming-LSH shapes,
   * so their band-row tables union with a modality tag riding the window
   * partition key AND the join condition via [[bandRowVerifyPairs]]
   * `groupCols` — one bucket-cap window + one self-join instead of two of
   * each), video as its OWN independent branch of the output union.
   *
   * r18 measured and REJECTED folding the video leg in too (VERDICT r17
   * next #1): banding video on the packed 64-bit frame hash reproduces the
   * q127 edge set exactly inside the shared tail (one fewer window +
   * self-join pair, plan-verified), but the single fused exchange is a
   * STAGE BARRIER across all three decode legs — image/audio LSH work then
   * waits for the slowest decode (video's ~12.5k frame decodes) where the
   * union-of-independent-branches shape lets the scheduler overlap each
   * leg's window/join stages with the other legs' decodes. Measured
   * min-of-3 edge-build noop at sf0.1: separate-video 2.16 s vs 3-way
   * fused 2.57 s; full q128 bench 4.46 -> 4.84 s. Same bytes shuffled
   * either way, so the barrier is pure loss at both ends of the scale.
   * Cap and Hamming constants come from the one shared tail's defaults —
   * no re-inlined fork to drift from q125/q126/q127 (ADVICE r17). */
  private[operators] def crossModalPairEdges(spark: SparkSession, dir: String): DataFrame = {
    val chunkBands = Seq("c0", "c1", "c2", "c3")
    val img = bandRows(imageHashedChunks(imagePatternAssetsStored(spark, dir)),
      chunkBands, chunkBands).withColumn("mod", lit(0))
    val aud = bandRows(audioHashedChunks(audioPatternAssetsStored(spark, dir)),
      chunkBands, chunkBands).withColumn("mod", lit(1))
    val imageAudio = bandRowVerifyPairs(img.unionByName(aud),
      chunkBands, groupCols = Seq("mod"))
      .select("a", "b")
    val video = videoNearDupPairsUnsorted(videoPatternAssetsStored(spark, dir))
      .select("a", "b")
    imageAudio.unionByName(video)
  }

  /** q125: read the stored patterned PNGs, REALLY decode them, aHash the
   * pixels, and find near-dup pairs via chunked Hamming-LSH (<= 6 bits).
   * The timed stage is the payload API over stored assets; synthesis is
   * fixture setup ([[imagePatternAssetsStored]]). */
  def imagePhashDedup(spark: SparkSession, dir: String): DataFrame =
    imageNearDupPairs(imagePatternAssetsStored(spark, dir))

  /** The q96 LSH tail shared by the image (q125/q129) and audio (q126)
   * near-dup ops: band on the 4 fingerprint chunks, cap hot buckets
   * (<= `bucketCap` via a windowed count — one shuffle, no broadcast),
   * verify exact Hamming only inside buckets, keep pairs within
   * `maxHamming` bits. Public (r17): the shared tail of every
   * payload-facing near-dup API; input contract is one row per asset with
   * `(doc_id, c0, c1, c2, c3)` int chunks. */
  def hammingLshPairs(
      hashed: DataFrame, maxHamming: Int = DefaultMaxHamming,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    bandedVerifyPairs(hashed, Seq("c0", "c1", "c2", "c3"), Seq("c0", "c1", "c2", "c3"),
      maxHamming, bucketCap)

  /** THE LSH-tail constants (r18, ADVICE r17): every banded near-dup path —
   * q125/q126/q129's chunk bands, q127's hot-hash cap, q128's fused
   * cross-modal tail — takes its cap and Hamming threshold from these two
   * defaults, so a tuning change can never de-synchronize the per-modality
   * queries from the fused edge set. */
  val DefaultMaxHamming = 6
  val DefaultBucketCap = 50

  /** The generalized band-then-verify core (r17): bucket assets on exact
   * matches of `bandCols` (one banding row per column — q96's chunked LSH
   * when band == verify), cap hot buckets at `bucketCap`, then verify
   * candidate pairs by the Hamming distance over `verifyCols`. Splitting
   * the two roles is what q129 buys: a CHEAP fingerprint with a recall
   * guarantee does the blocking while a ROBUST fingerprint does the
   * distance — never all-pairs either way. */
  def bandedVerifyPairs(
      hashed: DataFrame, bandCols: Seq[String], verifyCols: Seq[String],
      maxHamming: Int = DefaultMaxHamming, bucketCap: Int = DefaultBucketCap): DataFrame =
    bandedVerifyPairsUnsorted(hashed, bandCols, verifyCols, maxHamming, bucketCap)
      .orderBy("a", "b")

  /** [[bandedVerifyPairs]] without the presentation sort (r17) — the
   * minhashLsh/minhashPairs split applied here: consumers that immediately
   * re-aggregate the pair list (the q128 cross-modal edge union) would pay
   * the global range exchange for nothing, and the persist boundary they
   * materialize the union under blocks Catalyst's sort elimination. */
  private[operators] def bandedVerifyPairsUnsorted(
      hashed: DataFrame, bandCols: Seq[String], verifyCols: Seq[String],
      maxHamming: Int = DefaultMaxHamming, bucketCap: Int = DefaultBucketCap): DataFrame =
    bandRowVerifyPairs(bandRows(hashed, bandCols, verifyCols), verifyCols,
      maxHamming, bucketCap)

  /** Explode a one-row-per-asset hash table into band rows
   * `(doc_id, verifyCols..., c, v)` — one row per band column, `v` widened
   * to bigint so heterogeneous band definitions (16-bit chunks, packed
   * 64-bit full hashes) can union into one [[bandRowVerifyPairs]] tail. */
  private def bandRows(
      hashed: DataFrame, bandCols: Seq[String], verifyCols: Seq[String]): DataFrame = {
    val bandArr = bandCols.zipWithIndex
      .map { case (c, i) => s"struct($i as c, cast($c as bigint) as v)" }
      .mkString("array(", ", ", ")")
    val carry = col("doc_id") +: verifyCols.map(col)
    hashed
      .select(carry :+ explode(expr(bandArr)).as("ck"): _*)
      .select(carry :+ col("ck.c").as("c") :+ col("ck.v").as("v"): _*)
  }

  /** The band-then-verify core over a PRE-EXPLODED band-row table (r18):
   * cap hot buckets at `bucketCap` via one windowed count, self-join
   * within buckets, verify candidate pairs by Hamming distance over
   * `verifyCols`. `groupCols` ride BOTH the window partition key and the
   * join condition, so caps and pairing stay within-group — the hook the
   * fused cross-modal tail uses to keep three modalities' buckets
   * disjoint while sharing one exchange + one join. This is the single
   * home of the cap/Hamming defaults (ADVICE r17). */
  private[operators] def bandRowVerifyPairs(
      bandRowTable: DataFrame, verifyCols: Seq[String],
      maxHamming: Int = DefaultMaxHamming, bucketCap: Int = DefaultBucketCap,
      groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = groupCols ++ Seq("c", "v")
    val pruned = bandRowTable
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("bsz") <= bucketCap)
      .drop("bsz")
    val hamming = verifyCols
      .map(c => bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c"))))
      .reduce(_ + _)
      .cast("bigint")
    val joinCond = (keyCols.map(c => col(s"x.$c") === col(s"y.$c")) :+
      (col("x.doc_id") < col("y.doc_id"))).reduce(_ && _)
    pruned.as("x").join(pruned.as("y"), joinCond)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Payload-facing DCT near-dup API (q129): one decode pass computes BOTH
   * perceptual hashes ([[DctHash.dualHashChunks]]); assets are BLOCKED on
   * exact 16-bit aHash chunks (pigeonhole: any <= 3-bit pixel-level edit
   * leaves at least one of 4 chunks intact, so small-edit recall is
   * structural, not probabilistic) and VERIFIED by DCT-hash Hamming
   * distance, the structure-robust metric (a 3-block flip lands at DCT
   * distance <= 20 across the full fixture seed range; unrelated patterns
   * sit near 31). Default `maxHamming` = 20 is tuned to that perturbation
   * scale.
   */
  def imageDctNearDupPairs(assets: Dataset[Asset], maxHamming: Int = 20): DataFrame = {
    import assets.sparkSession.implicits._
    val hashed = assets
      .mapPartitions(_.map { a =>
        val ((c0, c1, c2, c3), (d0, d1, d2, d3)) = DctHash.dualHashChunks(a.bytes)
        (a.id, c0, c1, c2, c3, d0, d1, d2, d3)
      })
      .toDF("doc_id", "c0", "c1", "c2", "c3", "d0", "d1", "d2", "d3")
    bandedVerifyPairs(hashed, Seq("c0", "c1", "c2", "c3"), Seq("d0", "d1", "d2", "d3"), maxHamming)
  }

  /** q129: read the stored patterned PNGs (q125's fixture — one stored
   * asset table serves both hash families), decode once, block on aHash
   * chunks, verify by DCT Hamming. */
  def dctPhashDedup(spark: SparkSession, dir: String): DataFrame =
    imageDctNearDupPairs(imagePatternAssetsStored(spark, dir))

  /**
   * Audio energy-band fingerprint near-dup (q126) — q125's discipline for
   * the third decoded modality (VERDICT r15 next #6): decode real WAV
   * payloads, frame the PCM, integer frame energies, threshold against the
   * track mean → 64-bit fingerprint → the shared chunked Hamming-LSH.
   *
   * Fixture: 64 frames x 16 samples at 8 kHz; frame f plays a fixed integer
   * triangle wave at amplitude 1600 ("loud") or 400 ("quiet") per bit f of
   * `md5("a" + seed)` ([[PerceptualHash.digestBits]] — the "a" salt keeps
   * the audio bit universe distinct from the image pattern's). Frame energy
   * is EXACTLY amplitude x 32 (the triangle's |sum| is 32), the 64-frame
   * integer mean lies strictly between the two levels (bits 0/1 pinned),
   * so thresholding recovers each bit exactly — same proof shape as the
   * image hash. Documents with `doc_id % 50 == 2` are twins of their
   * predecessor with 3 frames' amplitudes flipped → Hamming exactly 3.
   * The oracle recomputes the fingerprint from the md5 hex digits while
   * Spark derives it from genuinely decoded samples.
   */
  object AudioFingerprint {
    val Frames = 64
    val FrameLen = 16
    /** Integer triangle period; sum of |w| = 32, so energy = 32 * amplitude
     * exactly (amplitudes stay far inside PCM16 at 1600 * 4 = 6400). */
    private val Wave = Array(0, 1, 2, 3, 4, 3, 2, 1, 0, -1, -2, -3, -4, -3, -2, -1)

    def fingerprintBits(seed: Long): Array[Int] = PerceptualHash.digestBits("a" + seed)

    def patternWavBytes(seed: Long, twin: Boolean): Array[Byte] = {
      val flips = if (twin) PerceptualHash.flipPositions(seed) else Set.empty[Int]
      val bits = fingerprintBits(seed)
      val samples = new Array[Short](Frames * FrameLen)
      var f = 0
      while (f < Frames) {
        val amp = if ((bits(f) ^ (if (flips(f)) 1 else 0)) == 1) 1600 else 400
        var i = 0
        while (i < FrameLen) {
          samples(f * FrameLen + i) = (amp * Wave(i)).toShort
          i += 1
        }
        f += 1
      }
      AudioDecoder.pcm16WavBytes(samples, 8000)
    }

    /** Fingerprint from REAL decoded samples, as 4 x 16-bit chunks: frame
     * energies (sum of |sample|, exact integers), threshold against the
     * integer mean over the 64 frames — bit f at chunk position
     * (15 - (f mod 16)), the q125 layout. */
    def fingerprintChunks(bytes: Array[Byte]): (Int, Int, Int, Int) = {
      val s = AudioDecoder.decodeSamples(bytes)
      require(s.length == Frames * FrameLen,
        s"fingerprint expects ${Frames * FrameLen} samples, got ${s.length}")
      val e = new Array[Long](Frames)
      var f = 0
      while (f < Frames) {
        var sum = 0L
        var i = f * FrameLen
        while (i < (f + 1) * FrameLen) { sum += math.abs(s(i).toLong); i += 1 }
        e(f) = sum
        f += 1
      }
      val mean = e.sum / Frames
      var c0 = 0; var c1 = 0; var c2 = 0; var c3 = 0
      f = 0
      while (f < Frames) {
        if (e(f) > mean) {
          val w16 = 1 << (15 - (f & 15))
          (f >> 4) match {
            case 0 => c0 |= w16
            case 1 => c1 |= w16
            case 2 => c2 |= w16
            case _ => c3 |= w16
          }
        }
        f += 1
      }
      (c0, c1, c2, c3)
    }
  }

  /**
   * Video perceptual near-dup (q127) — the third modality's dedup
   * composition, completing the set with q125 (image) and q126 (audio):
   * parse the length-prefixed container, seek past unsampled frames, REALLY
   * decode every `step`-th frame (`javax.imageio`), aHash each decoded
   * frame with the q125 kernel, and pair videos on EXACT shared frame
   * hashes — the standard frame-signature video dedup (a shared sampled
   * frame is evidence of shared footage; temporal offset does not matter,
   * so the join is on the hash alone, not (frame, hash)).
   *
   * Fixture: each document's video is `4 + seed%3` patterned frames, frame
   * f painted as the q125 block pattern of per-frame seed `vseed*8 + f`
   * (distinct bit universes per frame). Documents with `doc_id % 50 == 3`
   * are twins of their predecessor's video with frame 0 PERTURBED (the 3
   * block flips — a re-encode artifact on one frame): the twin shares
   * every OTHER sampled frame's hash exactly, so the pair surfaces with
   * `n_shared_frames` = sampled − 1 while the perturbed frame correctly
   * drops out of the exact-match join. Unrelated videos share nothing
   * (digest bits). The oracle recomputes every sampled frame's hash from
   * the per-frame pattern formula; Spark's hashes come from the real
   * container seek + decode, so the compare proves the whole
   * parse-sample-decode-hash pipeline.
   *
   * Scale shape: one map-side pass per video (container parse + ≤3 frame
   * decodes + integer hashing), then a self-join on the 64-bit hash with
   * the standard hot-bucket cap — identical envelope to q125's LSH stage
   * with the hash itself as the (single) band.
   */
  object VideoPhash {
    /** Length-prefixed container of patterned PNG frames (the
     * [[VideoCodec]] layout with [[PerceptualHash]] patterns as content);
     * `twin` perturbs frame 0's pattern by its 3 flip positions. */
    def videoPatternBytes(vseed: Long, nFrames: Int, twin: Boolean): Array[Byte] = {
      val frames = (0 until nFrames).map { f =>
        PerceptualHash.patternPngBytes(vseed * 8 + f, twin = twin && f == 0)
      }
      val bb = java.nio.ByteBuffer.allocate(4 + frames.map(_.length + 4).sum)
      bb.putInt(nFrames)
      frames.foreach { p => bb.putInt(p.length); bb.put(p) }
      bb.array()
    }

    /** Parse the container, seek past unsampled frames (length-prefix
     * skip, the q86 read pattern), decode and aHash every `step`-th. */
    def sampleFrameHashes(bytes: Array[Byte], step: Int): Iterator[(Int, (Int, Int, Int, Int))] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt()
      (0 until n).iterator.flatMap { f =>
        val len = bb.getInt()
        if (f % step == 0) {
          val payload = new Array[Byte](len)
          bb.get(payload)
          Iterator.single(f -> PerceptualHash.phashChunks(payload))
        } else {
          bb.position(bb.position() + len)
          Iterator.empty
        }
      }
    }
  }

  /** Pattern containers materialized to parquet ONCE per (process, dir) —
   * [[storedFixture]]'s rationale: the dedup stage under test READS stored
   * payloads; synthesizing ~25k PNG frames stays out of the timed query. */
  def videoPatternAssetsStored(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    readStored(spark, storedFixture(spark, "graft_video_pattern_assets", dir) {
      t(spark, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val twin = id % 50 == 3
          val vseed = if (twin) id - 1 else id
          val nf = 4 + (vseed % 3).toInt // the twin copies the BASE's frame count
          Asset(id, "video/x-graft-frames",
            VideoPhash.videoPatternBytes(vseed, nf, twin), "pattern-fixture")
        })
    })
  }

  /** Patterned PNG fixtures for q125/q129, stored (r17, VERDICT r16 #1):
   * one 32x32 block-pattern image per document, twins at doc_id % 50 == 1
   * painting the PREVIOUS document's pattern with 3 blocks flipped. The
   * timed stage is read + decode + hash + join, not PNG synthesis. */
  def imagePatternAssetsStored(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    readStored(spark, storedFixture(spark, "graft_image_pattern_assets", dir) {
      t(spark, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val twin = id % 50 == 1
          val seed = if (twin) id - 1 else id
          Asset(id, "image/png", PerceptualHash.patternPngBytes(seed, twin), "pattern-fixture")
        })
    })
  }

  /** Amplitude-pattern WAV fixtures for q126, stored — same discipline;
   * twins at doc_id % 50 == 2 with 3 frame amplitudes flipped. */
  def audioPatternAssetsStored(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    readStored(spark, storedFixture(spark, "graft_audio_pattern_assets", dir) {
      t(spark, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val twin = id % 50 == 2
          val seed = if (twin) id - 1 else id
          Asset(id, "audio/wav", AudioFingerprint.patternWavBytes(seed, twin), "pattern-fixture")
        })
    })
  }

  /** Payload-facing video near-dup API (r17): parse each asset's container,
   * seek past unsampled frames, decode + aHash every `step`-th frame, and
   * pair videos on EXACT shared frame hashes — callable on ANY
   * `Dataset[Asset]` of length-prefixed frame containers. The hot-hash
   * guard shares the LSH bucket-cap stance: a frame hash shared by k
   * videos yields k^2/2 pairs; cap the group at `hotHashCap`. */
  def videoNearDupPairs(
      assets: Dataset[Asset], step: Int = 2,
      hotHashCap: Int = DefaultBucketCap): DataFrame =
    videoNearDupPairsUnsorted(assets, step, hotHashCap).orderBy("a", "b")

  /** The parse + seek + decode + hash stage of [[videoNearDupPairs]] as a
   * per-sampled-frame table — shared with the fused cross-modal tail
   * ([[crossModalPairEdges]]) so q127 and q128's video legs cannot drift. */
  private def videoFrameHashes(assets: Dataset[Asset], step: Int = 2): DataFrame = {
    import assets.sparkSession.implicits._
    assets
      .mapPartitions(_.flatMap { a =>
        VideoPhash.sampleFrameHashes(a.bytes, step).map {
          case (f, (c0, c1, c2, c3)) => (a.id, f, c0, c1, c2, c3)
        }
      })
      .toDF("doc_id", "frame_idx", "c0", "c1", "c2", "c3")
  }

  /** [[videoNearDupPairs]] without the presentation sort (r17) — see
   * [[bandedVerifyPairsUnsorted]]. */
  private[operators] def videoNearDupPairsUnsorted(
      assets: Dataset[Asset], step: Int = 2,
      hotHashCap: Int = DefaultBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pruned = videoFrameHashes(assets, step)
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("c0", "c1", "c2", "c3")))
      .filter(col("bsz") <= hotHashCap)
      .drop("bsz")
    pruned.as("x").join(
      pruned.as("y"),
      col("x.c0") === col("y.c0") && col("x.c1") === col("y.c1") &&
        col("x.c2") === col("y.c2") && col("x.c3") === col("y.c3") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared_frames"))
  }

  /** q127: read the stored containers, REALLY parse + seek + decode + hash
   * the sampled frames, and pair videos on exact shared frame hashes. */
  def videoPhashDedup(spark: SparkSession, dir: String): DataFrame =
    videoNearDupPairs(videoPatternAssetsStored(spark, dir))

  /** q126: read the stored amplitude-pattern WAVs, REALLY decode them,
   * fingerprint the frame energies, and find near-dup pairs via the shared
   * chunked Hamming-LSH (<= 6 bits). Timed stage = payload API over stored
   * assets ([[audioPatternAssetsStored]]). */
  def audioFingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    audioNearDupPairs(audioPatternAssetsStored(spark, dir))

  /**
   * SHIFT-ROBUST audio fingerprint (q130, VERDICT r16 next #6): q126's
   * energy-band fingerprint positions frames ABSOLUTELY, so any temporal
   * offset breaks it. The classic fix is landmark PAIRS (Wang, "An
   * Industrial-Strength Audio Search Algorithm", ISMIR 2003): anchor on
   * energy PEAKS (local maxima of the frame-energy sequence) and hash the
   * RELATIVE structure — (quantized anchor energy, quantized peer energy,
   * frame delta) for peer peaks within [[LandmarkMaxDt]] frames. A uniform
   * time shift moves every peak by the same offset; deltas and energies
   * are untouched, so shifted copies share their full landmark set.
   *
   * Exactness: energies are integer |sample| sums; peaks are strict-left /
   * non-strict-right integer comparisons; quantization is `energy >> 6`.
   * The q130 fixture plays a 32-level amplitude staircase (levels from md5
   * hex digits, frame energy EXACTLY 6400*(1+level), so the quantized
   * value is 100*(1+level) — closed form for the DuckDB oracle); twins at
   * `doc_id % 50 == 4` replay the PREVIOUS doc's signal shifted by 2
   * SILENT frames, which preserves every interior landmark.
   *
   * Scale shape: one map-side decode + landmark extraction per asset
   * (bounded: <= LandmarkMaxDt keys per peak), hot landmark keys capped
   * (<= `hotKeyCap` via a windowed count), equi-join on the key, pairs
   * kept at >= `minShared` shared landmarks — never all-pairs, the q127
   * envelope with landmark keys instead of frame hashes.
   */
  object AudioLandmarks {
    val FrameLen = 16
    val LandmarkMaxDt = 8
    private val Wave = Array(0, 1, 2, 3, 4, 3, 2, 1, 0, -1, -2, -3, -4, -3, -2, -1)

    /** 64 amplitude levels in [0, 32) from md5 hex digits (2 per frame,
     * 4 digests — the oracle replays the same concatenation). */
    def levels(seed: Long): Array[Int] = {
      val hex = (0 until 4).map { i =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"L$i$seed".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.mkString
      Array.tabulate(64) { f =>
        val hi = Character.digit(hex.charAt(2 * f), 16)
        val lo = Character.digit(hex.charAt(2 * f + 1), 16)
        (hi * 16 + lo) % 32
      }
    }

    /** The staircase WAV: frame f plays the integer triangle at amplitude
     * `200 * (1 + level(f))` (energy exactly 6400 * (1 + level)); a twin
     * prepends 2 silent frames — a pure time shift. */
    def staircaseWavBytes(seed: Long, twin: Boolean): Array[Byte] = {
      val lv = levels(seed)
      val pad = if (twin) 2 else 0
      val samples = new Array[Short]((64 + pad) * FrameLen)
      var f = 0
      while (f < 64) {
        val amp = 200 * (1 + lv(f))
        var i = 0
        while (i < FrameLen) {
          samples((f + pad) * FrameLen + i) = (amp * Wave(i)).toShort
          i += 1
        }
        f += 1
      }
      AudioDecoder.pcm16WavBytes(samples, 8000)
    }

    /** Distinct landmark keys (qa, qb, dt) from REAL decoded samples:
     * integer frame energies, interior peaks, peer peaks within
     * [[LandmarkMaxDt]], energies quantized by `>> 6`. Length-agnostic —
     * frames = samples / FrameLen — which is what makes the extraction
     * shift-invariant. */
    def landmarkKeys(bytes: Array[Byte]): Array[(Int, Int, Int)] = {
      val s = AudioDecoder.decodeSamples(bytes)
      val nF = s.length / FrameLen
      val e = new Array[Long](nF)
      var f = 0
      while (f < nF) {
        var sum = 0L
        var i = f * FrameLen
        while (i < (f + 1) * FrameLen) { sum += math.abs(s(i).toLong); i += 1 }
        e(f) = sum
        f += 1
      }
      val peaks = (1 until nF - 1).filter(f => e(f) > e(f - 1) && e(f) >= e(f + 1))
      val keys = scala.collection.mutable.LinkedHashSet.empty[(Int, Int, Int)]
      var a = 0
      while (a < peaks.length) {
        var b = a + 1
        while (b < peaks.length && peaks(b) - peaks(a) <= LandmarkMaxDt) {
          keys += (((e(peaks(a)) >> 6).toInt, (e(peaks(b)) >> 6).toInt, peaks(b) - peaks(a)))
          b += 1
        }
        a += 1
      }
      keys.toArray
    }
  }

  /** Payload-facing shift-robust audio pairing: assets pair when they
   * share at least `minShared` landmark keys AND at least HALF of the
   * smaller asset's key set — the score normalization real audio-matching
   * systems apply. Peaks skew toward high energy levels, so landmark keys
   * concentrate and an absolute count alone admits chance pairs by the
   * thousands (measured: 2578 of C(500,2) at sf0.01 before the ratio
   * gate); a true shifted copy shares ~100% of the original's keys while
   * chance overlap sits near 5%. */
  def audioShiftRobustPairs(
      assets: Dataset[Asset], minShared: Int = 4, hotKeyCap: Int = 50): DataFrame = {
    import assets.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val keys = assets
      .mapPartitions(_.flatMap { a =>
        AudioLandmarks.landmarkKeys(a.bytes).iterator.map {
          case (qa, qb, dt) => (a.id, qa, qb, dt)
        }
      })
      .toDF("doc_id", "qa", "qb", "dt")
    // per-asset key counts (pre-cap: the normalization denominator must not
    // depend on which buckets the cap drops) carried IN-LINEAGE as a second
    // window (r17): the former separate groupBy(doc_id) branch re-ran the
    // landmark decode for every asset a second time (branches do not share
    // scans) and paid two count joins; a doc_id window over the same key
    // rows is one exchange, decode runs once, values identical.
    val withC = keys
      .withColumn("c", count(lit(1)).over(Window.partitionBy("doc_id")))
    val pruned = withC
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("qa", "qb", "dt")))
      .filter(col("bsz") <= hotKeyCap)
      .drop("bsz")
    pruned.as("x").join(
      pruned.as("y"),
      col("x.qa") === col("y.qa") && col("x.qb") === col("y.qb") &&
        col("x.dt") === col("y.dt") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"),
        max(col("x.c")).as("ca"), max(col("y.c")).as("cb"))
      .filter(col("n_shared") >= minShared &&
        col("n_shared") * 2 >= least(col("ca"), col("cb")))
      .select(col("a"), col("b"), col("n_shared"))
      .orderBy("a", "b")
  }

  /** Staircase WAV fixtures for q130, stored — twins at doc_id % 50 == 4
   * replay the previous doc's signal time-shifted by 2 silent frames. */
  def audioLandmarkAssetsStored(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    readStored(spark, storedFixture(spark, "graft_audio_landmark_assets", dir) {
      t(spark, dir, "documents")
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val twin = id % 50 == 4
          val seed = if (twin) id - 1 else id
          Asset(id, "audio/wav", AudioLandmarks.staircaseWavBytes(seed, twin), "pattern-fixture")
        })
    })
  }

  /** q130: read the stored staircase WAVs, REALLY decode them, extract
   * landmark pairs, and pair docs on shared relative structure — the
   * time-shifted twins surface, which q126's absolute framing cannot do. */
  def audioLandmarkDedup(spark: SparkSession, dir: String): DataFrame =
    audioShiftRobustPairs(audioLandmarkAssetsStored(spark, dir))

  /** Metadata/feature query (oracle-checked subset: everything here is also
   * computable by DuckDB over the raw text bytes). */
  def features(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("bigint").as("byte_len"),
        md5(col("text")).as("payload_md5"),
        (lit(16) + ascii(substring(col("text"), 1, 1))).cast("int").as("fake_width"),
        (lit(16) + ascii(substring(col("text"), 2, 1))).cast("int").as("fake_height")
      )
      .orderBy("doc_id")

  /** One sampled video frame: the schema contract of the frame-sampling
   * stage (payload omitted here; a real decoder would carry
   * `frame_bytes: Array[Byte]`). */
  final case class Frame(id: Long, frame_idx: Int, ts_ms: Long, out_w: Int, out_h: Int)

  /**
   * Frame sampling + resize: treat each asset as a video with
   * `n_frames` (stub-derived), emit every 5th frame with a 2x downscaled
   * output geometry. The frame-index generation is DECLARATIVE —
   * `explode(sequence(0, n_frames-1, 5))` stays inside whole-stage codegen
   * and Catalyst knows the output estimate — rather than a per-row loop in
   * `mapPartitions`. Row-count amplification (~n_frames/5 per asset) is the
   * scale hazard of this stage: at 100 TB follow the explode with
   * `repartition()` sized to the amplified row count before any wide
   * downstream op, so post-explode partitions stay executor-memory-sized.
   * The per-frame decode itself would ride in [[decodeAll]]'s batched
   * `mapPartitions` shape; here the geometry math stands in for it.
   */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id").as("id"),
        (octet_length(col("text")) % 31 + 1).as("n_frames"),
        (lit(16) + ascii(substring(col("text"), 1, 1))).as("w"),
        (lit(16) + ascii(substring(col("text"), 2, 1))).as("h")
      )
      .select(
        col("id"),
        explode(expr("sequence(0, n_frames - 1, 5)")).as("frame_idx"),
        col("w"), col("h")
      )
      .select(
        col("id"),
        col("frame_idx").cast("int").as("frame_idx"),
        (col("frame_idx") * 40L).cast("bigint").as("ts_ms"),
        (col("w") / 2).cast("int").as("out_w"),
        (col("h") / 2).cast("int").as("out_h")
      )
      .orderBy("id", "frame_idx")

  /** Byte-histogram features through the custom Catalyst expression
   * (rows-only check: no DuckDB analogue iterates blob bytes). */
  def byteHistograms(spark: SparkSession, dir: String): DataFrame = {
    ByteHistogram.register(spark)
    val a = assets(spark, dir).toDF()
    a.select(
      col("id"),
      expr("byte_histogram(bytes, 16)").as("hist")
    ).select(
      col("id"),
      expr("aggregate(hist, 0L, (acc, x) -> acc + x)").as("total_bytes"),
      expr("array_position(hist, array_max(hist))").cast("bigint").as("modal_bin"),
      concat_ws(",", col("hist")).as("hist_csv")
    ).orderBy("id")
  }
}
