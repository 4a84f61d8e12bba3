package graft
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main. Protocol (BENCH_NOTES.md "stability runs", adopted as the
 * official record in round 4):
 *
 *  - Pass 0 runs every query once, untimed: it pays the one-off
 *    whole-stage-codegen compilation (~1s/query, invariant in data size) and
 *    warms parquet footer caches, so the timed passes measure the queries.
 *  - Then `SPARK_GRAFT_PASSES` (default 3) FULL-SUITE passes, each timing
 *    every query once. The official per-query number is the MIN across
 *    passes. Samples of one query are therefore spaced ~a full suite apart
 *    (tens of seconds): a multi-second box-contention window (GC pause,
 *    concurrent tenant) can inflate one pass's alphabetically-contiguous
 *    band, but not the same query in all passes — the failure mode that put
 *    phantom 3x regressions in the round-2 AND round-3 official records
 *    (back-to-back min-of-3 samples all landed inside one contention window).
 *  - The reference-scale whisper scan is timed once per pass, same min rule
 *    (it was the one single-sample metric in r3 and duly came out 1.8x noisy).
 *
 * Output: the FULL per-query record is written to BENCH_LOCAL.json in the
 * repo (the driver's stdout window is ~4 KB and 83+ queries overflow it —
 * the truncation that clipped the r2 and r3 official records), and stdout
 * gets ONE compact digest line, printed last: total, per-pass totals, the
 * worst-5 queries, the ref-scan metric, and the path to the full record.
 */
object Bench {
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Box-health verdict, pure so it is unit-testable (BenchVerdictSpec
   * forces each contamination mode through it):
   *
   *  - canary: the ref-scale whisper scan is data-invariant (same 82 MB
   *    fixture at every sf), timed once per pass; its min-of-passes on a
   *    quiet box has sat in 0.26-0.55 s across r4-r9 (BENCH_NOTES). Band
   *    pinned at 0.55 s; min > 1.5x band = some contention window covered
   *    EVERY pass (r10's contaminated record: 0.856; r6's: 3.009).
   *  - pass spread: max/min of the full-suite pass totals. The min-of-
   *    passes protocol absorbs ONE slow pass, but a spread > 2x means at
   *    least one pass was majority-contaminated and the mins themselves
   *    are suspect (r10: 105/60/215 s around a 38.65 s "total").
   *  - a MISSING canary sample (subset run excluding the whisper scan, or
   *    the fixture failed validation) is verdict "unknown", NOT
   *    "contaminated": there is no evidence either way, and gating retry
   *    loops must not burn their tries on a perfectly clean subset run
   *    (ADVICE r11) — UNLESS the pass spread itself breaches (> 2x), which
   *    is positive contamination evidence on its own; a failed canary
   *    fixture must not launder a 10x spread into "unknown" (ADVICE r12).
   *    Consumers gate on the explicit "contaminated" only.
   */
  final case class BoxHealth(
      canaryMin: Double, canaryBand: Double, canaryOk: Boolean,
      passSpread: Double, spreadOk: Boolean, verdict: String)

  private[graft] def boxVerdict(
      canaryMin: Double, canaryBand: Double, passTotals: Seq[Double]): BoxHealth = {
    val canaryPresent = canaryMin >= 0
    val canaryOk = canaryPresent && canaryMin <= 1.5 * canaryBand
    val passSpread =
      if (passTotals.isEmpty || passTotals.exists(_ <= 0)) -1.0
      else passTotals.max / passTotals.min
    val spreadOk = passSpread > 0 && passSpread <= 2.0
    val verdict =
      if (passSpread > 2.0) "contaminated" // spread evidence stands alone
      else if (!canaryPresent) "unknown"
      else if (canaryOk && spreadOk) "clean"
      else "contaminated"
    BoxHealth(canaryMin, canaryBand, canaryOk, passSpread, spreadOk, verdict)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions) // native functions + whisper plan rules
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r17: the app-status and SQL stores retain per-job/stage/task metrics
      // for the WHOLE 122-query x 4-pass run at their defaults (1000 jobs /
      // 1000 stages / 100k tasks / 1000 SQL executions) — bookkeeping for a
      // UI this process disables, accruing driver heap + GC tax that lands
      // on the LATER passes (rising pass totals). A small window keeps the
      // same diagnostics for the current queries without the accrual.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // reliable checkpoint() data (the opt-in partition-identity pin,
      // OpCache.pinPartitions) is NOT cleaned by default and releaseAll/
      // clearCache never touch it — a bench loop cycling q55/q98/q113 would
      // accumulate checkpoint dirs unbounded (ADVICE r13); static conf, so
      // it must be set here, not at runtime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY=q93_substring_dup,q26_... : time a subset with the
    // same warm + spaced-pass protocol (local iteration; driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // Streaming replays (q101+) run real micro-batch executions whose wall
    // is trigger/state-store overhead, not batch query cost; timing them
    // inside the batch passes both muddies the cross-round batch total
    // (r1-r7 records predate them) and leaks stream-side session state into
    // the neighboring samples. They are timed in their own section below
    // and reported under "streaming_queries"; the batch "total" stays
    // apples-to-apples across rounds.
    val allNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val (streamNames, names) = allNames.partition(_.contains("_stream_"))
    def dropState(): Unit = {
      // every pinned operator frame, the q60 cluster-label and q115-q118
      // rank memos included: every timed run prices the full lineage
      graft.operators.OpCache.releaseAll()
      spark.catalog.clearCache() // intra-query caches must not tax the next run
      // localCheckpoint blocks (sequencePack's partition-identity pin) are
      // RDD-level storage that clearCache() does NOT release and that
      // otherwise lingers until driver GC — drop them so each run starts
      // with empty executor storage
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // a crashing query must surface as a failure, not as its (fast)
    // time-to-exception: record -1 for the pass and list it under "errors"
    def timeOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      dropState()
      if (ok) dt else -1.0
    }

    // Reference-scale whisper fixture: BASELINE.md's only concrete scale facts
    // are the 82,785,664-byte 3-archive example file (6,898,801 points;
    // 1,555,200/2,331,015/38,855 filled). Synthesized once, content-validated
    // by golden filled-row count (the decoder tolerates truncation silently,
    // so a partial file would otherwise skew the timing without erroring).
    import graft.operators.WhisperWorkload
    val whisperPath =
      try {
        val p = WhisperWorkload.refScaleFixture() // size-checked; rewrites if missing
        def scanRows() = spark.read.format("whisper").load(p.toString)
          .groupBy("archive").count().collect().map(_.getLong(1)).sum
        var rows = scanRows() // warm + validate
        if (rows != WhisperWorkload.RefScaleRows) { WhisperWorkload.writeRefScale(p); rows = scanRows() }
        if (rows == WhisperWorkload.RefScaleRows) Some(p.toString) else None
      } catch { case _: Throwable => None }
    def timeWhisper(): Double = whisperPath match {
      case None => -1.0
      case Some(p) =>
        val t0 = System.nanoTime()
        spark.read.format("whisper").load(p)
          .groupBy("archive").count().collect().map(_.getLong(1)).sum
        (System.nanoTime() - t0) / 1e9
    }
    // gz twin (VERDICT r7 #4): same decode through the gzip path — one
    // stream, so one task; completes the baseline envelope next to the
    // reference's published 21.7 MB example.wsp.gz fact
    val whisperGzPath =
      try {
        val p = graft.operators.WhisperWorkload.refScaleGzFixture()
        def scanRows() = spark.read.format("whisper").load(p.toString)
          .groupBy("archive").count().collect().map(_.getLong(1)).sum
        if (scanRows() == WhisperWorkload.RefScaleRows) Some(p) else None
      } catch { case _: Throwable => None }
    def timeWhisperGz(): Double = whisperGzPath match {
      case None => -1.0
      case Some(p) =>
        val t0 = System.nanoTime()
        spark.read.format("whisper").load(p.toString)
          .groupBy("archive").count().collect().map(_.getLong(1)).sum
        (System.nanoTime() - t0) / 1e9
    }

    // Pass 0: warm (codegen compile + footer caches), untimed.
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count() catch { case _: Throwable => }
      dropState()
    }

    // Timed passes: full suite per pass, ref-scan appended to each pass.
    // If the attempt's own box-health verdict comes back "contaminated",
    // the MEASUREMENT retries in-process after a quiet wait (up to
    // SPARK_GRAFT_BENCH_RETRIES extra attempts, default 2) — r11's official
    // capture shipped self-labeled contaminated because the retry loop
    // lived one layer up in roundclose.sh and the driver invokes Bench
    // directly (VERDICT r11 #5). "unknown" (no canary sample) never
    // retries: there is no evidence of contamination to wait out. The
    // attempt count rides in the record; a still-contaminated final
    // attempt ships with its honest verdict exactly as before.
    type PassSamples = Array[collection.mutable.LinkedHashMap[String, Double]]
    def timedPasses(): (PassSamples, Seq[Double], Seq[Double]) = {
      val samples = Array.fill(passes)(collection.mutable.LinkedHashMap.empty[String, Double])
      val w = collection.mutable.ArrayBuffer.empty[Double]
      val wGz = collection.mutable.ArrayBuffer.empty[Double]
      for (p <- 0 until passes) {
        names.foreach(n => samples(p)(n) = timeOne(n))
        w += timeWhisper()
        wGz += timeWhisperGz()
      }
      (samples, w.toSeq, wGz.toSeq)
    }
    val canaryBand = sys.env.getOrElse("SPARK_GRAFT_CANARY_BAND", "0.55").toDouble
    def verdictOf(s: PassSamples, w: Seq[Double]): BoxHealth = {
      val ok = w.filter(_ >= 0)
      boxVerdict(
        if (ok.nonEmpty) ok.min else -1.0,
        canaryBand,
        s.toSeq.map(_.values.filter(_ >= 0).sum))
    }
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt
    val quietWaitMs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_WAIT_MS", "120000").toLong
    var attempts = 1
    var (samples, whisperSamples, whisperGzSamples) = timedPasses()
    while (verdictOf(samples, whisperSamples).verdict == "contaminated" && attempts <= maxRetries) {
      System.err.println(
        s"[bench] attempt $attempts self-reports contamination " +
        s"(${verdictOf(samples, whisperSamples)}); waiting ${quietWaitMs / 1000}s for a quieter window")
      Thread.sleep(quietWaitMs)
      attempts += 1
      val next = timedPasses()
      samples = next._1; whisperSamples = next._2; whisperGzSamples = next._3
    }

    // Streaming replays, timed AFTER the batch passes (see the partition
    // note at `names`): warm run, then min-of-2 with state dropped between
    // runs. Their wall is micro-batch trigger + state-store cost by design.
    val streamOfficial: Seq[(String, Double)] = streamNames.map { n =>
      try SparkEntry.queries(n)(spark, sfDir).count() catch { case _: Throwable => }
      dropState()
      val xs = (1 to 2).map { _ => val v = timeOne(n); dropState(); v }
      (n, if (xs.exists(_ < 0)) -1.0 else xs.min)
    }

    // IVF recall/latency tuning curve (VERDICT r10 #6): q105 pins only the
    // (k=10, nprobe=4, panel=8) point; the reason the operator exists is the
    // recall-vs-nprobe trade-off, so the record carries the whole dial —
    // mean recall@10 over the panel plus wall per setting, min-of-2 per
    // point (r11's one-run walls put box noise in the official record and
    // flagged an anomaly the r12 adjudication traced to spread). Skipped
    // when the embeddings table is absent or the subset excludes q105.
    //
    // The r11 anomaly ("nprobe=16 beats 4 on recall AND wall"), adjudicated
    // r12 (tools/prof_s12_ann.scala, BENCH_NOTES r12): every nprobe runs
    // the IDENTICAL 10-job plan — the wall at bench scale is scheduling
    // floor, and nprobe=16 is exhaustive search (all 16 lists = the whole
    // corpus), so its recall=1.0 is the displacement tautology, not a
    // knee. The bench panel is the WEAK-similarity regime (synthetic 2k
    // corpus, queries without true near-dups); at deployment density
    // (replicated corpora, the r4 law re-measured under the q105 panel
    // discipline) nprobe=4 reaches recall 0.900 at 3x and 1.000 at 10x
    // while touching 25% of the inverted lists — the pruning the operator
    // exists for. Default stays 4; the reason ships machine-readable.
    val annReason = "default nprobe=4 kept: identical 10-job plans at every nprobe make " +
      "bench-scale wall pure scheduling floor (nprobe=16 is exhaustive scan, its recall=1.0 " +
      "tautological); at deployment near-dup density the panel measures recall@10 0.900 (3x) " +
      "and 1.000 (10x) at nprobe=4 while probing 4/16 lists (prof_s12_ann, BENCH_NOTES r12)"
    val annTuningJson =
      if (!allNames.contains("q105_ann_recall")) ""
      else try {
        import org.apache.spark.sql.functions.{sum => fsum}
        val pts = Seq(1, 2, 4, 8, 16).map { np =>
          var recall = -1.0
          val walls = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            val hits = graft.operators.VectorOps.annRecall(spark, sfDir, k = 10, nprobe = np, panel = 8)
              .agg(fsum("hits")).head().getLong(0)
            recall = hits / 80.0
            val dt = (System.nanoTime() - t0) / 1e9
            dropState()
            dt
          }
          s"""{"nprobe":$np,"recall_at_10":${f3(recall)},"wall_s":${f3(walls.min)}}"""
        }
        s""","ann_tuning":[${pts.mkString(",")}]""" +
          s""","ann_default":{"nprobe":4,"reason":"$annReason"}"""
      } catch { case _: Throwable => dropState(); "" }

    val official: Seq[(String, Double)] = names.map { n =>
      val xs = samples.map(_(n))
      (n, if (xs.exists(_ < 0)) -1.0 else xs.min)
    }
    // streaming failures surface here too: a crashing q101-q104 records -1
    // under streaming_queries AND appears in "errors" — the batch-only errs
    // let a broken replay pass a zero-errors check silently (ADVICE r8)
    val errs = (official ++ streamOfficial)
      .collect { case (k, v) if v < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = official.map(_._2).filter(_ >= 0).sum
    val passTotals = samples.map(_.values.filter(_ >= 0).sum)
    val whisperOk = whisperSamples.filter(_ >= 0)
    val whisperGzOk = whisperGzSamples.filter(_ >= 0)

    // Box-health verdict (VERDICT r10 #1): three rounds of official captures
    // (r2's contention band, r6, r10's 38.65 s record with a 215 s pass)
    // shipped environment noise as measurement and were adjudicated by hand
    // after the fact. The record carries a machine-readable verdict the
    // close protocol gates on — computed by the pure [[boxVerdict]]
    // (scaladoc there), with the in-process retry above already spent.
    val bh = verdictOf(samples, whisperSamples)
    val boxHealthJson =
      s""","box_health":{"canary_band_s":$canaryBand,"canary_min_s":${f3(bh.canaryMin)},""" +
      s""""canary_band_ok":${bh.canaryOk},"pass_spread":${f3(bh.passSpread)},""" +
      s""""pass_spread_ok":${bh.spreadOk},"attempts":$attempts,"verdict":"${bh.verdict}"}"""
    val whisperJson =
      (if (whisperOk.nonEmpty)
        s""","whisper_ref_scan_sec":${f3(whisperOk.min)},"whisper_ref_rows":${WhisperWorkload.RefScaleRows}"""
      else "") +
      (whisperGzPath match {
        case Some(p) if whisperGzOk.nonEmpty =>
          s""","whisper_ref_gz_sec":${f3(whisperGzOk.min)},"whisper_ref_gz_bytes":${java.nio.file.Files.size(p)}"""
        case _ => ""
      })

    // Per-query Spark-vs-DuckDB time ratios (VERDICT r5 item 1: make the
    // 2x-of-baseline bar auditable per query). ORACLE_BENCH.json is written
    // by tools/oracle_bench.py — driver-side DuckDB timing of every oracle
    // SQL — and committed; ratios are emitted only when that record's sf
    // matches this run's sfDir, so the comparison is like-for-like.
    //
    // Record parser: extracts the record's "sf" tag and ONLY the numbers
    // inside its "queries":{...} object (brace-matched). Bench records
    // repeat every query key in duckdb_s / spark_over_duckdb / pass1..passN;
    // an unscoped regex + toMap keeps the LAST occurrence, silently
    // substituting pass-3 walls (or ratio values) for the official
    // min-of-passes (ADVICE r7). Still a regex over repo-generated files for
    // the values themselves, but scoped to the one object that holds them.
    def loadQ(path: String): (String, Map[String, Double]) = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val sf = """"sf":\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val i = txt.indexOf("\"queries\"")
      val qTxt = if (i < 0) "" else {
        val start = txt.indexOf('{', i)
        var depth = 0; var j = start; var end = -1
        while (start >= 0 && j < txt.length && end < 0) {
          txt.charAt(j) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = j
            case _ =>
          }
          j += 1
        }
        if (end < 0) "" else txt.substring(start, end + 1)
      }
      (sf, """"(q[0-9]+[a-z0-9_]*)":\s*(-?[0-9.]+)""".r.findAllMatchIn(qTxt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    } catch { case _: Throwable => ("", Map.empty) }
    val oracleBench: Map[String, Double] = {
      val (obSf, obQ) = loadQ(
        sys.env.getOrElse("SPARK_GRAFT_ORACLE_BENCH", "/root/repo/ORACLE_BENCH.json"))
      if (obSf == sfDir) obQ else Map.empty
    }
    val ratioPairs = official.collect {
      case (k, v) if v >= 0 && oracleBench.getOrElse(k, -1.0) > 0 => (k, v, oracleBench(k))
    }
    val ratioJson = if (ratioPairs.isEmpty) "" else {
      val ds = ratioPairs.map { case (k, _, d) => "\"" + k + "\":" + f3(d) }.mkString("{", ",", "}")
      val rs = ratioPairs.map { case (k, s, d) => "\"" + k + "\":" + f3(s / d) }.mkString("{", ",", "}")
      s""","duckdb_s":$ds,"spark_over_duckdb":$rs"""
    }
    // Scale-slope classification (BENCH_NOTES round 7): a naive small-sf
    // wall ratio charges Spark's fixed per-job floor against DuckDB's ms
    // floor — the quantity that extrapolates to cluster scale is the
    // MARGINAL cost, each engine's wall growth from sf0.01 to sf0.1. The
    // lo-sf records (BENCH_SF001/ORACLE_SF001.json, refreshed per round by
    // the same tools) make the digest carry that classification:
    //   overhead     naive>=2 but both deltas under 50 ms or slope<2
    //   duckdb_floor naive>=2 and Spark's delta material, but DuckDB's delta
    //                below the 50 ms materiality floor — the slope DENOMINATOR
    //                is timing noise, so no slope is claimable either way; the
    //                Spark growth stays VISIBLE (not filed under amortizable
    //                fixed cost) and the class demands a ratio_reason entry
    //                (ADVICE r7 + VERDICT r7 adjudication of q40/q49/q64:
    //                their DuckDB deltas are 12-31 ms over 10x data — the
    //                "algorithmic" slopes 6.2/4.1/2.7 divided by that noise)
    //   algorithmic  slope>=2 with material deltas on BOTH engines — a real
    //                per-row gap scale will not amortize
    //   spark_wins   naive<1
    val (sparkLoSf, sparkLo) =
      loadQ(sys.env.getOrElse("SPARK_GRAFT_BENCH_LO", "/root/repo/BENCH_SF001.json"))
    val (duckLoSf, duckLo) =
      loadQ(sys.env.getOrElse("SPARK_GRAFT_ORACLE_LO", "/root/repo/ORACLE_SF001.json"))
    // sf guard (ADVICE r7): regenerating the lo records (Bench run AT sf0.01)
    // would otherwise compare lo against lo — every delta ~0, every naive>=2
    // query classed "overhead" — and commit those meaningless classes.
    val loUsable = sparkLo.nonEmpty && duckLo.nonEmpty &&
      sparkLoSf != sfDir && duckLoSf != sfDir
    val slopeRows: Seq[(String, String, Boolean)] =
      if (!loUsable) Seq.empty
      else {
        val material = 0.05 // below this delta an engine never left its fixed-cost floor
        ratioPairs.flatMap { case (k, s, d) =>
          for (sLo <- sparkLo.get(k).filter(_ >= 0); dLo <- duckLo.get(k).filter(_ >= 0)) yield {
            val naive = s / d; val ds = s - sLo; val dd = d - dLo
            // Spark-side materiality is RELATIVE as well as absolute: a
            // sub-second query's wall varies 20-60% run-to-run on the same
            // code and box (r8 measured q12 at 0.48/0.57/0.61 s same day;
            // the r7 record has 0.365 s), so a 10x-data growth claim needs
            // the hi wall to clear the lo wall by at least half the lo wall
            // before it is evidence of per-row cost rather than of which
            // minute the suite ran. DuckDB's side keeps the absolute floor
            // only: it is the slope DENOMINATOR, where the failure mode is
            // claiming a slope over a noise-sized base, not box variance.
            // ...and the hi wall itself must clear 0.5 s: below that the
            // per-job fixed cost (0.1-0.3 s on this box) dominates both
            // sides of the delta and a flag only reports which minute the
            // suite ran (r8: the flag flickered across q50/q55/q78 on
            // successive same-code runs, each ~0.2-0.4 s hi)
            val dsMaterial = s >= 0.5 && ds.max(0) >= math.max(material, 0.5 * sLo)
            // every slope class STRONGER than overhead requires a material
            // Spark delta: without dsMaterial the numerator is box noise
            // (sub-0.5 s hi walls spread 20-60% run-to-run) and ds/dd is a
            // noise ratio — r10 caught q13 (0.33 s hi) flagging
            // "algorithmic" through the old fall-through on a slow-window
            // run whose every sub-second wall was +30-80%
            val cls =
              if (naive < 1) "spark_wins"
              else if (naive < 2) "ok"
              else if (!dsMaterial) "overhead"
              else if (dd < material) "duckdb_floor" // ds material, denominator noise
              else if (ds / dd < 2) "overhead"
              else "algorithmic"
            // Secondary signal for sub-wall queries (ADVICE r10): routing
            // every immaterial-Spark-delta case to "overhead" makes a
            // genuinely super-linear query that is still sub-0.5 s at bench
            // scale invisible to the gate. When the NAIVE ratio itself at
            // least doubles between the scale points (and both lo walls are
            // real samples), the query goes on a watch list — not into a
            // gating class (one-run sub-second ratios are noisy; a
            // persistent cross-round watch entry is the adjudication
            // trigger, a one-off is box noise).
            val watch = cls == "overhead" && sLo > 0 && dLo > 0 &&
              naive >= 2 * (sLo / dLo)
            (k, cls, watch)
          }
        }
      }
    val slopeClasses: Seq[(String, String)] = slopeRows.map { case (k, c, _) => (k, c) }
    val growthWatchJson = {
      val w = slopeRows.collect { case (k, _, true) => "\"" + k + "\"" }
      if (w.isEmpty) "" else w.mkString(""","ratio_growth_watch":[""", ",", "]")
    }
    val slopeDigest = if (slopeClasses.isEmpty) "" else {
      val c = slopeClasses.groupBy(_._2).view.mapValues(_.size).toMap
      s""","slope_overhead_n":${c.getOrElse("overhead", 0)}""" +
        s""","slope_duckdb_floor_n":${c.getOrElse("duckdb_floor", 0)}""" +
        s""","slope_algorithmic_n":${c.getOrElse("algorithmic", 0)}""" +
        s""","spark_wins_n":${c.getOrElse("spark_wins", 0)}"""
    }
    // per-query class goes into the committed full record for auditability
    val slopeJson = if (slopeClasses.isEmpty) "" else
      slopeClasses.map { case (k, c) => "\"" + k + "\":\"" + c + "\"" }
        .mkString(""","slope_class":{""", ",", "}")
    // Adjudication record (VERDICT r7 #2/#5): every query whose class is
    // algorithmic or duckdb_floor carries a named structural reason IN the
    // committed record; any flag without one is self-reported under
    // "slope_unadjudicated" so it can never ship silently. Reasons are
    // structural facts about the plan/oracle, not measurements (the
    // measurements live in the slope_class inputs themselves).
    val ratioReasons: Map[String, String] = Map(
      "q40_json_extract" -> ("duckdb_floor: DuckDB delta under the 50ms materiality floor at these sfs; " +
        "Spark plan is one codegen pass (built-in get_json_object + partial agg), no per-row deficit to rewrite"),
      "q48_ntile_decile" -> ("deliberate: two-pass distributed ntile (per-partition counts + offset join) replacing " +
        "the single-partition global-sort scale-killer; the second pass costs one fixed extra job that 100TB amortizes"),
      "q49_lag_deltas" -> ("duckdb_floor: DuckDB delta under the 50ms floor; Spark plan is the minimal " +
        "single-shuffle window lag + partial agg"),
      "q64_unpivot" -> ("aggregate-first rewrite (r8): 16 aggregates in one partial-agg pass, stack runs on the " +
        "1-row result; no generator over input rows"),
      "q98_pretrain_export" -> ("constant-factor row cost at the materiality boundary: assembly composite " +
        "(quality gate -> exact dedup -> split -> pack) whose pack stage is the q55 two-pass cumsum; " +
        "fixed extra jobs that cluster scale amortizes"),
      "q55_sequence_pack" -> ("constant-factor row cost at the materiality boundary: two-pass cumsum with " +
        "O(partitions) driver state; retry-safe (RetrySpec); the second pass is a fixed extra job that " +
        "cluster scale amortizes, same structure as q48"),
      "q50_sessionize" -> ("constant-factor row cost at the materiality boundary: lag-window + cumsum partitioned " +
        "by user_id, whose cardinality grows WITH the data; scale_check8c measures the shape sublinear to 100x " +
        "(0.64 s at 100k events -> 4.50 s at 10M = 7x wall for 100x rows)"),
      "q81_salted_join" -> ("duckdb_floor: DuckDB delta ~19 ms over 10x data is inside its timing floor; Spark's " +
        "+0.10 s is the salt explode+extra exchange the operator deliberately pays to split a hot key -- the " +
        "insurance premium shape, priced against the skew it prevents (scale_check5 skew injection)"),
      "q09_join_shuffle" -> ("deliberate shuffle-join demonstration (q08 is the broadcast twin): both sides " +
        "exchange by design so the shuffle path stays exercised and pinned; constant-factor row cost, " +
        "same family as q12"),
      "q12_tpch3_topk" -> ("constant-factor row cost, not growth: 0.30 s over 540k extra lineitem rows = " +
        "0.55 us/row marginal (DuckDB 0.10 us/row vectorized C++); scale_check8 measures the same shape LINEAR " +
        "to 100x rows (60M in 32.6 s = 0.54 us/row) -- a per-row JVM-vs-C++ constant amortized by scale-out"),
      "q35_exists_lateship" -> ("constant-factor row cost: pre-agg + equi-join, scale_check8 linear to 100x " +
        "(60M rows in 21.3 s); marginal 0.56 us/row vs DuckDB 0.22 us/row -- constant factor, no growing term"),
      "q82_tpch5_sql" -> ("same family as q12: broadcast-plan TPC-H join pipeline, marginal 0.60 us/row vs " +
        "DuckDB 0.11 us/row; the slope is the single-node JVM-vs-C++ per-row constant, plan is 2-shuffle/5-bcast"),
      "q65_daily_active" -> ("constant-factor row cost: two partial-agg shuffles over events, marginal " +
        "0.83 us/row at 90k extra rows vs DuckDB 0.26 us/row; partial agg bounds shuffle rows by date cardinality"),
      "q75_ann_ivf_topk" -> ("index build dominates at small sf: two fixed driver actions (centroid count + " +
        "16-row codebook collect, r3 stability note) are scheduling-latency-bound; the search is 4-of-16 list " +
        "probing. At deployment the index builds once per corpus, searches amortize it"),
      "q105_ann_recall" -> ("q75's family: the memoized index build's fixed driver actions plus SIX small " +
        "broadcast-stage jobs (panel, centroids, probes, two top-10 legs, 80-row hit join) dominate at small " +
        "sf — scheduling latency, not per-row work; both corpus passes are map-side with partial top-k agg " +
        "(shuffle carries queries x tasks x 10 tuples) and the recall join touches 80-row relations"),
      "q53_tfidf_topterms" -> ("one-corpus-pass persist (r8): the per-doc term table is persisted so tf/df/join " +
        "derive from one tokenize pass instead of three concurrent scans; the cache build is a fixed small-sf cost " +
        "repaid per bench pass (clearCache policy), bought back 2 full-corpus scans at scale (BENCH_NOTES r8)"),
      "q83_unigram_surprisal" -> ("one-corpus-pass persist (r8): same structure as q53; scale sweep 1.5 s at 1x " +
        "-> 3.9 s at 100x data after the fix"),
      "q89_bigram_surprisal" -> ("one-corpus-pass persist (r8): same structure as q53; pre-fix three concurrent " +
        "corpus scans gave 25-141 s wall variance at 100x, post-fix 11-17 s stable (BENCH_NOTES r8)"),
      "q84_mm_png_decode" -> ("oracle asymmetry: Spark decodes 500 real PNGs (ImageIO, batched mapPartitions); " +
        "the DuckDB oracle replays closed-form synthesis constants and never touches a codec"),
      "q26_dedup_ngram_jaccard" -> ("constant-factor row cost, not growth: the r8 partial-agg df table + " +
        "equi-join plan (window-free) measured LINEAR to 100x corpus with shuffle bytes linear " +
        "(17.5 s at 100x, BENCH_NOTES r8; r11 plan audit: 'the right plan for pair-reporting exact " +
        "Jaccard'); the marginal ratio is the per-row JVM-vs-C++ constant, q12's family"),
      "q111_rrf_fusion" -> ("one-corpus-pass persist family: runs q110's BM25 (shared docTermTable " +
        "cache build, the dominant cost at bench sf) plus the q21 quality pass; the fusion itself " +
        "joins two <= 50-row ranking relations — fixed small-sf cache cost that cluster scale amortizes"),
      "q109_ngram_repetition" -> ("constant-factor row cost, not growth: ONE generator pass over all " +
        "2/3/4-grams (work linear in corpus grams; both engines' walls grow SUBLINEARLY on 10x data - " +
        "Spark 4.6x, DuckDB 6.3x), two doc-keyed partial-agg shuffles bounded by per-doc distinct grams; " +
        "the ~3x marginal ratio is the per-row JVM-vs-C++ constant, same family as q12/q35"),
      "q110_bm25_topk" -> ("one-corpus-pass persist family (q53/q83): the shared docTermTable cache build " +
        "is a fixed small-sf cost repaid per bench pass (clearCache policy); scoring itself touches only " +
        "query-term hits and the per-doc length table, broadcast df/totals, TakeOrderedAndProject top-k"),
      "q86_video_frame_decode" -> ("oracle asymmetry: Spark decodes real video frames; the DuckDB oracle replays " +
        "synthesis constants without decoding")
    )
    val flagged = slopeClasses.collect { case (k, c) if c == "algorithmic" || c == "duckdb_floor" => k }
    val reasonJson = {
      val withReason = flagged.filter(ratioReasons.contains)
      if (withReason.isEmpty) "" else
        withReason.map(k => "\"" + k + "\":\"" + ratioReasons(k) + "\"")
          .mkString(""","ratio_reason":{""", ",", "}")
    }
    val unadjJson = {
      val missing = flagged.filterNot(ratioReasons.contains)
      if (missing.isEmpty) "" else
        missing.map("\"" + _ + "\"").mkString(""","slope_unadjudicated":[""", ",", "]")
    }
    val ratioDigest =
      if (ratioPairs.isEmpty) ""
      else s""","ratio_n":${ratioPairs.size},"ratio_ge2_n":${ratioPairs.count(p => p._2 / p._3 >= 2.0)}$slopeDigest"""

    val qs = official.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // Streaming-tail adjudication (VERDICT r8 #5), the streaming analogue of
    // ratio_reason: structural facts from the engine's own per-batch
    // accounting (tools/prof_s9_q104.scala, StreamingQueryListener progress
    // — durationMs + stateOperators), explaining walls that are trigger/
    // state-store latency rather than data work. The batch duals hash-match
    // (CORRECTNESS q101-q104), so these entries adjudicate latency only.
    val streamingReasons: Map[String, String] = Map(
      "q104_stream_interval_join" -> ("state-store commit floor, not data work: the stream-stream interval " +
        "join reads BOTH legs from events (2x the peers' input rows) and maintains 4 state stores per shuffle " +
        "partition (keyToNumValues/keyWithIndexToValue x left/right) holding ~40k buffered rows inside the " +
        "1h interval + watermark; each trigger commits partitions x 4 stores. The floor scales with the " +
        "partition count, not data: right-sizing the replay to 4 state partitions (StreamReplay, VERDICT r10 " +
        "#2) cut the wall 8.0 -> 2.4 s at sf0.1 with identical hashes — the remaining wall is the " +
        "2x-input + 4-stores-per-partition trigger cost that amortizes over real per-trigger volume at " +
        "deployment, where the partition count is sized to volume exactly as the replay now does"),
      "q106_stream_left_outer" -> ("same state layout and commit floor as q104 (2x input legs, 4 state " +
        "stores per shuffle partition, identical interval + watermark bounds) plus the outer join's " +
        "null-emission work: unmatched left rows are scanned out of state and emitted in the " +
        "watermark-advance trigger (eviction is HOW absence is proven), so the bounded replay pays one " +
        "more stateful batch than the inner twin by construction; 4-partition right-sizing cut " +
        "8.7 -> 2.8 s at sf0.1, hashes identical"),
      "q107_stream_full_outer" -> ("q106's floor with BOTH sides' null-emission: unmatched purchases AND " +
        "unmatched errors are scanned out of state at their respective eviction boundaries (wm past p_ts; " +
        "wm past e_ts + 1h), roughly doubling the watermark-advance batch's emission volume over q106; " +
        "same 2-leg/4-store per-trigger commit floor; 4-partition right-sizing cut 8.2 -> 2.8 s at " +
        "sf0.1, hashes identical")
    )
    val streamJson =
      if (streamOfficial.isEmpty) ""
      else streamOfficial.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString(""","streaming_queries":{""", ",", "}") + {
        val rel = streamingReasons.filter { case (k, _) => streamOfficial.exists(_._1 == k) }
        if (rel.isEmpty) "" else rel.map { case (k, r) => "\"" + k + "\":\"" + r + "\"" }
          .mkString(""","streaming_reason":{""", ",", "}")
      }
    val perPass = samples.zipWithIndex.map { case (m, i) =>
      "\"pass" + (i + 1) + "\":" + m.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    }.mkString(",")
    val fullJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","passes":$passes,
         |"pass_totals":[${passTotals.map(f3).mkString(",")}],
         |"queries":$qs,
         |"errors":$errs$streamJson$whisperJson$ratioJson$slopeJson$reasonJson$unadjJson$growthWatchJson$boxHealthJson$annTuningJson,
         |"whisper_ref_samples":[${whisperSamples.map(f3).mkString(",")}],
         |"whisper_ref_gz_samples":[${whisperGzSamples.map(f3).mkString(",")}],
         |$perPass,
         |"sf":"$sfDir"}""".stripMargin
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LOCAL.json"))
    java.nio.file.Files.write(outFile, fullJson.getBytes("UTF-8"))

    // ONE compact digest, emitted last: the driver records only the output
    // TAIL (~4 KB) and 83+ queries overflow it (r2/r3 truncation) — the full
    // record lives at bench_file, committed in the repo.
    val worst5 = official.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // r18 (VERDICT r17 #2): per-query seconds IN the digest so the driver's
    // PERF can compute per-query regressions, geomean, and core-scaling
    // ratios. The stdout window the driver keeps is ~2000 bytes (every
    // BENCH_rXX.json tail is exactly tail[-2000:], and the r1-r3 records —
    // which printed the full map — are the ones with parsed=false), so the
    // full 133-entry map (~3.5 KB) cannot ride: entries are BUDGETED —
    // sorted by descending official seconds (batch + streaming), appended
    // until the digest line would exceed SPARK_GRAFT_DIGEST_BUDGET bytes
    // (default 1880, headroom under the 2000-byte tail for sbt's trailing
    // "[success]" line). The worst/most-regression-prone queries are thus
    // always visible; the complete map stays in bench_file as before.
    val digestBudget = sys.env.getOrElse("SPARK_GRAFT_DIGEST_BUDGET", "1880").toInt
    val fixedDigest =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries_n":${official.size},""" +
      s""""pass_totals":[${passTotals.map(f3).mkString(",")}],"worst5":$worst5,""" +
      s""""errors":$errs$whisperJson$ratioDigest$boxHealthJson,"bench_file":"${outFile}","sf":"$sfDir"}"""
    val perQueryEntries = {
      val pool = (official ++ streamOfficial).filter(_._2 >= 0).sortBy(-_._2)
        .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      val overheadLen = ""","per_query":{}""".length
      var room = digestBudget - fixedDigest.length - overheadLen
      pool.takeWhile { e =>
        val need = e.length + 1 // +1 for the comma
        if (need <= room) { room -= need; true } else false
      }
    }
    val perQueryJson =
      if (perQueryEntries.isEmpty) ""
      else perQueryEntries.mkString(""","per_query":{""", ",", "}")
    println(fixedDigest.dropRight(1) + perQueryJson + "}")
    spark.stop()
  }
}
