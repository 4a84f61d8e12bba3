package graft.sources.whisper

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.format.{WhisperCodec, WhisperWriter}
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}

/** The plan-time ring probe on rings laid out like whisper writes them: one
 * filled run of `filled` slots starting at `rotation`, oldest first, and a
 * never-written gap of zeros elsewhere. Most cases run the probe over the
 * layout's closed form (no file), so full-size archives cost nothing to
 * build; every returned cut is checked by planning the ordered chunks and
 * testing every written, readable slot against its chunk's window — the
 * invariant the sort elision relies on. */
class RingProbeSpec extends AnyFunSuite {
  import RingProbeSpec.Ring

  /** The probe over `ring`, and how many reads it made. */
  private def probe(ring: Ring): (Option[RingProbe.Probe], Int) = {
    var reads = 0
    val got = RingProbe.locate(ring.readable, ring.spp, ring.points) { (start, cnt) =>
      reads += 1
      Array.tabulate(cnt)(i => ring.ts(start + i))
    }
    (got, reads)
  }

  /** Every written slot lies in its ordered chunk's window. */
  private def assertWindows(ring: Ring, rp: RingProbe.Probe, ctx: String): Unit = {
    val step = math.max(1L, ring.points / 7)
    val chunks = RingProbe.orderedChunks("mem", 0, 0L, ring.spp, ring.points, rp, step)
    assert(chunks.map(_.posCount).sum == ring.points, s"$ctx chunks do not tile the archive")
    chunks.foreach { c =>
      var p = c.posStart
      while (p < c.posStart + c.posCount) {
        val t = ring.ts(p)
        if (t != 0L && (t < c.winLo || t >= c.winHi))
          fail(s"$ctx slot $p ts $t outside its chunk window [${c.winLo}, ${c.winHi}) (cut ${rp.w})")
        p += 1
      }
    }
  }

  test("reference shape: archive 1 (5,256,000 slots, 2,331,015 filled) gets a cut at 20 seeded rotations") {
    // the rotations perfbench's Fixtures.referenceShape draws for seeds
    // 901-920; its 2,925,000-slot gap made the block-scanning probe give up
    val rings = (901 to 920).map { seed =>
      val rng = new Random(seed.toLong)
      val t0 = 1700000000L - rng.nextInt(10000000)
      rng.nextDouble() // archive 0's rotation
      val rotation = (rng.nextDouble() * 5256000L).toLong
      Ring(5256000L, 2331015L, rotation, 60L, t0 - t0 % 60, readable = 5256000L)
    }
    assert(rings.exists(_.wraps) && rings.exists(!_.wraps), "rotations cover both layouts")
    rings.foreach { ring =>
      val ctx = s"rotation ${ring.rotation}"
      val (got, reads) = probe(ring)
      assert(got.isDefined, s"$ctx declined after $reads reads")
      assert(reads <= RingProbe.MaxReads, s"$ctx spent $reads reads")
      assertWindows(ring, got.get, ctx)
    }
  }

  test("rings with long never-written gaps: wrapped, unwrapped and truncated in the gap, each cut within 64 reads") {
    val rnd = new Random(4242L)
    var kinds = Map.empty[String, Int]
    (1 to 90).foreach { i =>
      val points = 300000L + rnd.nextInt(700000)
      val filled = (points * (0.05 + 0.70 * rnd.nextDouble())).toLong
      val spp = 1L + rnd.nextInt(60)
      val lastRaw = 1500000000L + rnd.nextInt(400000000)
      // 0: wrapped, 1: unwrapped with a gap on both sides, 2: either,
      // truncated inside the gap
      val kind = i % 3
      val wrapped = kind == 0 || (kind == 2 && rnd.nextBoolean())
      val rotation =
        if (wrapped) points - filled + 1 + rnd.nextLong(filled - 1)
        else 1 + rnd.nextLong(points - filled - 2)
      val full = Ring(points, filled, rotation, spp, lastRaw - lastRaw % spp, points)
      val ring =
        if (kind != 2) full
        else {
          // EOF inside the gap that follows the newer (or only) run
          val gapStart = (rotation + filled) % points
          val gapEnd = if (full.wraps) rotation else points
          full.copy(readable = gapStart + 1 + rnd.nextLong(gapEnd - gapStart - 1))
        }
      val name = Seq("wrapped", "unwrapped", "truncated")(kind)
      kinds += name -> (kinds.getOrElse(name, 0) + 1)
      val ctx = s"ring #$i ($name points=$points filled=$filled rot=$rotation readable=${ring.readable})"
      val (got, reads) = probe(ring)
      assert(got.isDefined, s"$ctx declined after $reads reads")
      assert(reads <= RingProbe.MaxReads, s"$ctx spent $reads reads")
      assertWindows(ring, got.get, ctx)
    }
    assert(kinds.values.forall(_ == 30))
  }

  test("truncation inside the older run reads as EOF, not as a wrap, through a real file") {
    // wrapped ring, EOF after part of the older run [rotation, points): the
    // end slot of the READABLE extent is older than the first slot
    val dir = Files.createTempDirectory("ring-probe")
    val (points, filled, rotation, spp, last) = (400000L, 250000L, 300000L, 10L, 1600000000L)
    val full = dir.resolve("full.wsp")
    val cut = dir.resolve("cut.wsp")
    WhisperWriter.writeFile(full, FileSpec(archives = Seq(ArchiveSpec(spp, points, filled, last, rotation))))
    val header = WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize
    val readable = 350000L
    WhisperWriter.truncateCopy(full, cut, (header + readable * WhisperCodec.PointSize).toInt)
    val ring = Ring(points, filled, rotation, spp, last, readable)
    val got = RingProbe.probe(cut.toString, Files.size(cut), header.toLong, spp, points)
    assert(got.isDefined, "truncated wrapped ring declined")
    assertWindows(ring, got.get, "truncated file")
    // an all-zero archive and one wholly past EOF decline
    assert(RingProbe.probe(cut.toString, header.toLong, header.toLong, spp, points).isEmpty)
    val (none, _) = probe(Ring(points, 0L, 0L, spp, last, points))
    assert(none.isEmpty)
  }

  test("wrapped rings with unwritten end slots or a hole inside either run get a correct cut") {
    // layouts: (points, filled, rotation) — two full rings and two with a
    // long never-written gap, the last archive 1's shape; the older run is
    // [rotation, points), the newer [0, rotation + filled - points)
    val layouts = Seq(
      (400000L, 400000L, 300000L),
      (400000L, 400000L, 100000L),
      (1000000L, 400000L, 800000L),
      (5256000L, 2331015L, 4000000L))
    for {
      (points, filled, rotation) <- layouts
      len <- Seq(1L, 100L, 4095L, 4096L, 10000L, 50000L)
      (kind, holes) <- {
        val newerEnd = rotation + filled - points
        val olderMid = rotation + (points - rotation) / 2
        Seq(
          "last slots" -> Seq((points - len, points)),
          "both ends" -> Seq((0L, len), (points - len, points)),
          "older run" -> Seq((olderMid - len / 2, olderMid - len / 2 + len)),
          "newer run" -> Seq((newerEnd / 2 - len / 2, newerEnd / 2 - len / 2 + len)))
      }
    } {
      val ring = Ring(points, filled, rotation, 60L, 1600000020L, points, holes)
      val ctx = s"$kind hole of $len slots, ring ($points, $filled, $rotation)"
      val (got, reads) = probe(ring)
      assert(got.isDefined, s"$ctx declined after $reads reads")
      assert(reads <= RingProbe.MaxReads, s"$ctx spent $reads reads")
      assertWindows(ring, got.get, ctx)
    }
  }

  test("a probed point off the ring's interval grid declines") {
    val base = Ring(500000L, 200000L, 450000L, 10L, 1600000000L, 500000L)
    var reads = 0
    val got = RingProbe.locate(base.readable, base.spp, base.points) { (start, cnt) =>
      reads += 1
      // the second half's written slots one second off the grid
      Array.tabulate(cnt) { i =>
        val t = base.ts(start + i)
        if (t == 0L || start + i < base.points / 2) t else t + 1
      }
    }
    assert(got.isEmpty, s"off-grid ring got a cut after $reads reads")
  }
}

object RingProbeSpec {
  /** One archive's ring: `filled` slots from `rotation` on, oldest first,
   * `spp` seconds apart and ending at `last`; slots from `readable` on lie
   * past EOF. A hole is a stretch the writer missed (an outage). */
  final case class Ring(
      points: Long,
      filled: Long,
      rotation: Long,
      spp: Long,
      last: Long,
      readable: Long,
      holes: Seq[(Long, Long)] = Nil) {
    /** Timestamp of physical slot `p` (0 = never written, in one of the
     * `[from, until)` holes, or past EOF). */
    def ts(p: Long): Long = {
      if (p >= readable || holes.exists { case (f, u) => p >= f && p < u }) 0L
      else {
        val k = Math.floorMod(p - rotation, points)
        if (k < filled) last - (filled - 1 - k) * spp else 0L
      }
    }
    def wraps: Boolean = rotation + filled > points
  }
}
