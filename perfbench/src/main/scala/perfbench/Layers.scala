package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.sources.whisper.WhisperScan

/** Per-layer figures of one traced operation, measured from outside the
 * program: the benchmark's spans, Spark's events, the final physical plan,
 * file-system request counts and the operator caches. `sums` add up over a
 * pass; `maxes` take the maximum; ratios are formed from summed numerators
 * and denominators. */
final case class OpLayers(sums: Map[String, Double], maxes: Map[String, Double])

object Layers {

  /** Every per-layer metric name, in the order the record lists them. */
  val Names: Seq[String] = Seq(
    "whisper.load_s", "whisper.files_listed", "whisper.scan_partitions",
    "whisper.points_per_partition", "whisper.manifest_write_s", "whisper.manifest_load_s",
    "fs.list_ops", "fs.read_ops", "fs.bytes_read", "whisper.scan_task_s",
    "codec.decode_ns_per_point", "codec.parse_meta_us",
    "plan.sort_nodes", "plan.exchange_nodes",
    "plan.analysis_s", "plan.optimization_s", "plan.physical_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.stage_skew", "exec.core_busy_ratio",
    "cache.pinned", "cache.storage_bytes",
    "kernel.minhash_ns_per_doc", "kernel.winnow_ns_per_kb", "kernel.pq_encode_ns_per_vec",
    "export.write_s", "export.readback_s", "export.files_written", "export.bytes_per_point",
    "stream.triggers", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.latest_offset_ms", "stream.wal_commit_ms", "stream.state_commit_ms",
    "stream.state_rows", "trace.overhead_ratio", "trace.unattributed_ratio")

  val Units: Map[String, String] = Names.map { n =>
    n -> (if (n.endsWith("_s")) "s" else if (n.endsWith("_ms")) "ms"
      else if (n.endsWith("_us")) "us" else if (n.contains("_ns_")) "ns"
      else if (n.endsWith("_bytes")) "bytes" else if (n.endsWith("_ratio") || n.endsWith("skew")) "ratio"
      else if (n == "export.bytes_per_point") "bytes" else if (n == "whisper.points_per_partition") "points"
      else "count")
  }.toMap

  /** Nodes of a physical plan, adaptive stages and subqueries included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** File-system request counts and Hadoop's byte count for `file:`. */
  def fsCounters(): Map[String, Long] = {
    val bytes = FileSystem.getGlobalStorageStatistics.get("file") match {
      case null => 0L
      case st => Option(st.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
    }
    Map("list_ops" -> CountingFs.lists.get, "read_ops" -> CountingFs.reads.get, "bytes_read" -> bytes)
  }

  private def sec(ms: Long): Double = ms / 1000.0

  /** Figures of one operation. */
  def of(
      spans: Seq[Span], events: OpEvents, frame: Option[DataFrame],
      fsDelta: Map[String, Long], wallS: Double, opStartMs: Long, opEndMs: Long,
      cachePinned: Int, storageBytes: Long, exportFiles: Option[(Int, Long)]): OpLayers = {
    val s = mutable.Map[String, Double]().withDefaultValue(0.0)
    val mx = mutable.Map[String, Double]()
    def spanS(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e9

    val plan = frame.map(f => nodes(f.queryExecution.executedPlan)).getOrElse(Nil)
    val whisperScans = plan.collect { case b: BatchScanExec if b.scan.isInstanceOf[WhisperScan] => b }
    if (whisperScans.nonEmpty) {
      s("whisper.load_s") += spanS("load") + spanS("plan")
      whisperScans.foreach { b =>
        val files = "files=(\\d+)".r.findFirstMatchIn(b.scan.description()).map(_.group(1).toDouble)
        s("whisper.files_listed") += files.getOrElse(0.0)
        s("whisper.scan_partitions") += b.inputPartitions.size
        s("whisper.points") += b.scan.asInstanceOf[SupportsReportStatistics]
          .estimateStatistics().numRows().orElse(0L).toDouble
      }
    }
    s("whisper.manifest_write_s") += spanS("manifest-write")
    s("fs.list_ops") += fsDelta.getOrElse("list_ops", 0L)
    s("fs.read_ops") += fsDelta.getOrElse("read_ops", 0L)
    s("fs.bytes_read") += fsDelta.getOrElse("bytes_read", 0L)
    val scanStages = events.stages.filter(_.v2Scan).map(st => (st.id, st.attempt)).toSet
    s("whisper.scan_task_s") += sec(events.tasks.filter(t => scanStages((t.stage, t.attempt))).map(_.runMs).sum)
    s("plan.sort_nodes") += plan.count(_.isInstanceOf[SortExec])
    s("plan.exchange_nodes") += plan.count(n =>
      n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike])
    val phases = frame.map(f => Phases.of(f.queryExecution)).toSeq ++ events.phases
    s("plan.analysis_s") += sec(phases.map(_.analysisMs).sum)
    s("plan.optimization_s") += sec(phases.map(_.optimizationMs).sum)
    s("plan.physical_s") += sec(phases.map(_.planningMs).sum)
    s("sched.jobs") += events.jobs.size
    s("sched.stages") += events.stages.size
    s("sched.tasks") += events.tasks.size
    val taskIntervals = events.tasks.map(t =>
      (math.max(t.launchMs, opStartMs) * 1000000L, math.min(t.finishMs, opEndMs) * 1000000L))
    s("sched.driver_gap_s") += math.max(0.0, wallS - Spans.unionNs(taskIntervals) / 1e9)
    s("exec.task_run_s") += sec(events.tasks.map(_.runMs).sum)
    s("exec.task_cpu_s") += events.tasks.map(_.cpuNs).sum / 1e9
    s("exec.gc_s") += sec(events.tasks.map(_.gcMs).sum)
    s("exec.shuffle_write_bytes") += events.tasks.map(_.shuffleWrite).sum
    s("exec.shuffle_read_bytes") += events.tasks.map(_.shuffleRead).sum
    s("exec.spill_bytes") += events.tasks.map(_.spill).sum
    s("exec.task_busy_s") += sec(events.tasks.map(t => t.finishMs - t.launchMs).sum)
    s("wall_s") += wallS
    val skews = events.tasks.groupBy(t => (t.stage, t.attempt)).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    mx("exec.stage_skew") = if (skews.isEmpty) 1.0 else skews.max
    mx("cache.pinned") = cachePinned
    mx("cache.storage_bytes") = storageBytes.toDouble
    s("export.write_s") += spanS("write")
    s("export.readback_s") += spanS("readback")
    exportFiles.foreach { case (n, bytes) =>
      s("export.files_written") += n
      s("export.bytes") += bytes
    }
    s("stream.triggers") += events.progress.size
    def dur(k: String) = events.progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    s("stream.add_batch_ms") += dur("addBatch")
    s("stream.query_planning_ms") += dur("queryPlanning")
    s("stream.latest_offset_ms") += dur("latestOffset")
    s("stream.wal_commit_ms") += dur("walCommit")
    s("stream.state_commit_ms") += events.progress.map(_.stateCommitMs).sum
    s("stream.state_rows") += events.progress.groupBy(_.query).values.map(_.last.stateRows).sum
    val root = spans.filter(_.parent == 0)
    val self = Spans.selfNs(spans)
    s("trace.root_self_s") += root.map(r => self(r.id)).sum / 1e9
    s("trace.root_s") += root.map(_.durNs).sum / 1e9
    OpLayers(s.toMap, mx.toMap)
  }

  /** Every operation-level metric per pass, from the traced operations,
   * which add up to `1 / perPass` passes. */
  def pass(ops: Seq[OpLayers], cores: Int, perPass: Double, exportPoints: Long): Map[String, Double] = {
    val sum = ops.flatMap(_.sums).groupMapReduce(_._1)(_._2 * perPass)(_ + _).withDefaultValue(0.0)
    val max = ops.flatMap(_.maxes).groupMapReduce(_._1)(_._2)(math.max).withDefaultValue(0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    sum ++ max ++ Map(
      "whisper.points_per_partition" -> ratio(sum("whisper.points"), sum("whisper.scan_partitions")),
      "exec.core_busy_ratio" -> ratio(sum("exec.task_busy_s"), cores * sum("wall_s")),
      "export.bytes_per_point" -> ratio(sum("export.bytes"), exportPoints * perPass),
      "trace.unattributed_ratio" -> ratio(sum("trace.root_self_s"), sum("trace.root_s")))
  }
}
