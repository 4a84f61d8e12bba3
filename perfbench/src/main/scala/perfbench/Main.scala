package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The benchmark program: one workload, one closed-loop client.
 *
 * {{{
 * perfbench.Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                    --work <dir> --corpus <dir> --oracle <dir> [--perturb 1]
 * perfbench.Main oracle-sql <out.json>
 * }}}
 *
 * `run` sets the workload up (session start, input synthesis repeated
 * [[SetupReps]] times, the workload's untimed warm-up passes), then runs the
 * number of whole passes over its operations that comes nearest to `seconds`,
 * and at least two. Before each operation it
 * drops the state earlier ones left (operator caches and memos, cached
 * tables, persisted RDDs, stream sinks) and collects garbage, so every
 * operation pays for its full lineage and for no one else's garbage. Each operation materializes every column of its result and
 * checks it. The last line printed is the result JSON; a wrong result makes
 * `correct` false and the exit code 1.
 *
 * With `--trace 1` each operation alternates between untraced and traced
 * runs over at least two passes; traced runs record spans, Spark's events
 * and file-system requests, and the difference between an operation's
 * traced and untraced walls is the tracing overhead. The metrics are then
 * the per-layer ones, per pass.
 */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-sql" :: out :: Nil =>
      val sql = CorpusOps.queries(0L).sorted.map(n => n -> graft.SparkEntry.oracleSql(n))
      Files.writeString(Paths.get(out), Json.obj(sql.map { case (k, v) => k -> Json.str(v) }))
    case "run" :: rest =>
      val opts = rest.grouped(2).collect { case List(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
      sys.exit(run(opts))
    case _ =>
      System.err.println("usage: perfbench.Main run --workload <name> --seed <n> --seconds <s> " +
        "--trace <0|1> --work <dir> --corpus <dir> --oracle <dir>\n" +
        "       perfbench.Main oracle-sql <out.json>")
      sys.exit(2)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cores: Int, work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The state-drop policy between timed operations, through public calls
   * only (the same calls `graft.Bench` makes). */
  def dropState(spark: SparkSession): Unit = {
    graft.operators.OpCache.releaseAll()
    graft.operators.DedupOps.invalidateClusterCache()
    graft.operators.TextOps.invalidateBm25RankCache()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_replay_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  final case class Sample(
      label: String, primary: Boolean, pass: Int, traced: Boolean, wallS: Double,
      ok: Boolean, work: Long, note: String)

  def run(o: Map[String, String]): Int = {
    val t0 = System.nanoTime()
    val workload = Workloads(o("workload"))
    val seed = o("seed").toLong
    val budget = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work)
    // Half the processors: the other half is left to the JIT, the collector
    // and the machine's other work, so a task slot rarely queues for a core
    // (which would time the scheduler, not the program).
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = session(cores, work, trace)
    val sessionS = seconds(t0)
    val tracer = new Tracer
    val collector = if (trace) Some(new EventCollector) else None
    collector.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.streams.addListener(c.streams)
      spark.listenerManager.register(c.executions)
    }
    val ctx = new Ctx(spark, tracer, seed,
      Paths.get(o("corpus")).toAbsolutePath, Paths.get(o("oracle")).toAbsolutePath,
      o.getOrElse("perturb", "0") == "1")
    val inputs = work.resolve("inputs")
    try {
      val synthS = (0 until SetupReps).map { _ =>
        deleteTree(inputs)
        Files.createDirectories(inputs)
        val t = System.nanoTime()
        workload.synthesize(ctx, inputs)
        seconds(t)
      }
      workload.expectations(ctx, inputs)

      val samples = mutable.ArrayBuffer[Sample]()
      val layers = mutable.ArrayBuffer[OpLayers]()
      var opId = 0
      def runPass(pass: Int, tracing: Boolean): Unit = workload.pass(ctx, inputs).zipWithIndex.foreach { case (op, i) =>
        val traced = tracing && (i + pass) % 2 == 1
        dropState(spark)
        System.gc() // no operation pays for garbage an earlier one left
        opId += 1
        tracer.op = opId
        tracer.on = traced
        ctx.lastFrame = None
        spark.sparkContext.setJobGroup(s"perfbench-$opId", s"${workload.name} ${op.label}", false)
        val fs0 = Layers.fsCounters()
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        val out =
          try tracer.span(s"op:${op.label}")(op.run())
          catch { case e: Throwable => Outcome(false, 0L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val wall = seconds(t)
        val endMs = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        tracer.on = false
        samples += Sample(op.label, op.primary, pass, traced, wall, out.ok, out.work, out.note)
        if (!out.ok) System.err.println(s"[perfbench] ${workload.name} ${op.label} FAILED: ${out.note}")
        collector.foreach { c =>
          val ev = c.drain() // untraced operations' events are dropped here
          if (traced) {
            attachEvents(tracer, ev)
            val fs1 = Layers.fsCounters()
            val exported = if (op.label == "export") Some(parquetFiles(inputs.resolve("export"))) else None
            layers += Layers.of(tracer.spansOf(opId), ev, ctx.lastFrame,
              fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }, wall, startMs, endMs,
              graft.operators.OpCache.pinnedCount,
              spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum, exported)
          }
        }
      }

      val warmT = System.nanoTime()
      (1 to workload.warmPasses).foreach(w => runPass(-w, tracing = false))
      val setupS = sessionS + Stats.median(synthS) + seconds(warmT)

      // Whole passes, as many as come nearest to the budget: another pass
      // starts while less than half a pass would overrun it. Two at least,
      // so that each operation's median is the faster of two walls and a
      // pass caught in a slow spell of the machine moves no metric.
      val loopT = System.nanoTime()
      var pass = 0
      def more = pass < 2 ||
        seconds(loopT) * (1.0 + 0.5 / pass) < budget
      while (more) {
        runPass(pass, tracing = trace)
        pass += 1
      }
      collector.foreach(_.drain())
      ctx.lastFrame = None
      dropState(spark)
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

      val timed = samples.filter(_.pass >= 0)
      val primary = timed.filter(_.primary).map(_.wallS).toSeq
      val passWalls = timed.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, ss) => (p, ss.map(_.wallS).sum) }
      val tail = Stats.tail(primary)
      val byOp = timed.filter(_.primary).groupBy(_.label).values.toSeq
      val opWall = byOp.map(ss => Stats.median(ss.map(_.wallS).toSeq))
      val opWork = byOp.map(ss => Stats.median(ss.map(_.work.toDouble).toSeq))
      val record = mutable.LinkedHashMap[String, String](
        "workload" -> Json.str(workload.name), "seed" -> seed.toString,
        "seconds" -> budget.toString, "trace" -> trace.toString, "cores" -> cores.toString,
        "session_s" -> Json.num(sessionS), "synthesis_s" -> Json.arr(synthS.map(Json.num)),
        "op_p50_s" -> Json.num(Stats.median(primary)), "op_tail_s" -> Json.num(tail.value),
        "tail_percentile" -> Json.num(tail.pct), "tail_samples" -> tail.samples.toString,
        "tail_beyond" -> tail.beyond.toString, "passes" -> passWalls.size.toString,
        "state_policy" -> Json.str("before every operation: OpCache.releaseAll, " +
          "DedupOps.invalidateClusterCache, TextOps.invalidateBm25RankCache, catalog.clearCache, " +
          "unpersist every persistent RDD, drop stream sink views, System.gc"),
        "samples" -> Json.arr(samples.toSeq.map(s => Json.obj(Seq(
          "label" -> Json.str(s.label), "pass" -> s.pass.toString, "traced" -> s.traced.toString,
          "wall_s" -> Json.num(s.wallS), "ok" -> s.ok.toString, "work" -> s.work.toString) ++
          (if (s.note.isEmpty) Nil else Seq("note" -> Json.str(s.note)))))))

      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("op_geomean_s", Stats.geomean(opWall), "s"),
          ("pass_s", Stats.median(passWalls.map(_._2)), "s"),
          ("work_per_s", opWork.sum / opWall.sum, "1/s"),
          ("heap_retained_mb", heapMb, "MB"))
        else {
          // each operation alternates between traced and untraced runs, so
          // the traced ones add up to whole passes and compare label by label
          val byLabel = timed.toSeq.groupBy(_.label).values.toSeq
          def meanWall(ss: Seq[Sample]) = ss.map(_.wallS).sum / ss.size
          val overhead = byLabel.filter(ss => ss.exists(_.traced) && ss.exists(!_.traced))
          val tracedPasses = timed.count(_.traced).toDouble / workload.pass(ctx, inputs).size
          val perPass = Layers.pass(layers.toSeq, cores, 1.0 / tracedPasses,
            timed.filter(s => s.traced && s.label == "export").map(_.work).sum)
          val extra = Kernels.measure(seed) ++ Map(
            "whisper.manifest_load_s" -> manifestLoadS(inputs),
            "trace.overhead_ratio" -> (overhead.map(ss => meanWall(ss.filter(_.traced))).sum /
              overhead.map(ss => meanWall(ss.filter(!_.traced))).sum - 1.0))
          writeSpans(work.resolve("trace").resolve(s"${workload.name}-seed$seed.spans.jsonl"), tracer.spans)
          Layers.Names.map(n => (n, extra.getOrElse(n, perPass.getOrElse(n, 0.0)), Layers.Units(n)))
        }
      val attempted = samples.size
      val failed = samples.count(!_.ok)
      record("metrics") = Json.obj(metrics.map { case (n, v, u) => n -> Json.num(v) })
      val recordPath = work.resolve("records").resolve(s"${workload.name}-seed$seed-trace${if (trace) 1 else 0}.json")
      Files.createDirectories(recordPath.getParent)
      Files.writeString(recordPath, Json.obj(record.toSeq))
      println(s"record: $recordPath")
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      if (failed == 0) 0 else 1
    } finally spark.stop()
  }

  /** Job, stage and task spans under the benchmark span each job started in. */
  private def attachEvents(tracer: Tracer, ev: OpEvents): Unit = {
    val own = tracer.spansOf(tracer.op)
    val root = own.find(_.parent == 0).map(_.id).getOrElse(0)
    val stagesByKey = ev.stages.groupBy(_.id)
    ev.jobs.foreach { j =>
      val start = j.startMs * 1000000L
      val parent = own.filter(s => s.startNs <= start && start <= s.endNs)
        .sortBy(s => s.durNs).headOption.map(_.id).getOrElse(root)
      val jobSpan = tracer.add("job", parent, start, j.endMs * 1000000L)
      j.stages.flatMap(stagesByKey.getOrElse(_, Nil)).foreach { st =>
        val stageSpan = tracer.add("stage", jobSpan, st.submitMs * 1000000L, st.endMs * 1000000L)
        ev.tasks.filter(t => t.stage == st.id && t.attempt == st.attempt).foreach { t =>
          tracer.add("task", stageSpan, t.launchMs * 1000000L, t.finishMs * 1000000L)
        }
      }
    }
  }

  private def manifestLoadS(inputs: Path): Double = {
    val m = inputs.resolve("tree.manifest.jsonl.gz")
    if (!Files.exists(m)) 0.0
    else Stats.median((0 until 5).map { _ =>
      val t = System.nanoTime()
      graft.sources.whisper.WhisperManifest.loadRaw(m.toString)
      seconds(t)
    })
  }

  private def parquetFiles(dir: Path): (Int, Long) = {
    val files = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size, files.map(Files.size).sum)
  }

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val self = Spans.selfNs(spans)
    Files.write(path, spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "self_ns" -> self(s.id).toString))).asJava)
    println(s"spans: $path")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }
}

/** Just enough JSON writing for the result line and the record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
