package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns op records into the benchmark's metrics. */
object Metrics {
  /** Nearest-rank percentile of `xs` (non-empty). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The median: the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 ops beyond it (p90 at 100
    * ops), never below the median; at the median, op_tail_s reports the
    * median itself. */
  def tailPercentile(n: Int): Int =
    math.max(50, math.floor(100.0 * (1.0 - 10.0 / n)).toInt)

  /** Ops whose latency the percentiles describe: the read-backs on
    * backup_spine, every op elsewhere. */
  def latencyOps(recs: Seq[OpRec]): Seq[OpRec] = {
    val rb = recs.filter(r => r.kind == "discover" || r.kind == "extract")
    if (rb.nonEmpty) rb else recs
  }

  /** End-to-end metrics of one timed pass, plus the figures printed
    * beside them. */
  def endToEnd(recs: Seq[OpRec]): (Map[String, Double], Map[String, Double]) = {
    val lat = latencyOps(recs).map(_.seconds)
    val pct = tailPercentile(lat.size)
    val wall = recs.map(_.seconds).sum
    val cpu = recs.map(_.cpuTicks).sum / Host.TicksPerSec
    val foreign = (recs.map(_.busyTicks).sum - recs.map(_.cpuTicks).sum) /
      Host.TicksPerSec / math.max(wall, 1e-9)
    val failed = recs.count(_.err.isDefined)
    def fact(kind: String, name: String) =
      recs.find(_.kind == kind).flatMap(_.facts.get(name))
    def perSec(kind: String) = recs.find(_.kind == kind)
      .flatMap(r => r.facts.get("rows").map(_ / r.seconds))
    val m = mutable.LinkedHashMap(
      "wall_s" -> wall,
      "op_p50_s" -> median(lat),
      "op_tail_s" -> (if (pct == 50) median(lat) else percentile(lat, pct)),
      "cpu_s" -> cpu)
    val side = mutable.LinkedHashMap(
      "op_tail_percentile" -> pct.toDouble,
      "latency_ops" -> lat.size.toDouble,
      "fail_ratio" -> failed.toDouble / math.max(1, recs.size),
      "foreign_cores" -> foreign)
    perSec("backup").foreach(side("backup_rows_per_s") = _)
    perSec("restore").foreach(side("restore_rows_per_s") = _)
    for (b <- fact("backup", "stored_bytes"); n <- fact("backup", "rows"))
      side("stored_bytes_per_row") = b / n
    (m.toMap, side.toMap)
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(x => !x._2.isNaN).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  private def jobIv(r: OpRec): Seq[(Double, Double)] =
    r.stats.jobs.toSeq.map { case (_, s, e) =>
      (math.max(s, r.startMs), math.min(if (e.isNaN) r.endMs else e, r.endMs))
    }

  private def firstJobMs(r: OpRec): Double =
    if (r.stats.jobs.isEmpty) r.endMs else r.stats.jobs.map(_._2).min

  private def triggerMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
                        k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)

  val perLayerNames: Seq[String] = Seq(
    "operators.backup_s", "operators.backup_jobs", "operators.fsck_s",
    "operators.restore_s",
    "sink.chunks", "sink.rows_per_chunk", "sink.bytes", "sink.task_run_s",
    "sink.task_skew", "sink.driver_tail_s",
    "source.plan_s", "source.read_s", "source.rows_read_per_row",
    "source.bytes_read_per_row",
    "stream.triggers", "stream.empty_trigger_ratio", "stream.latest_offset_s",
    "stream.planning_s", "stream.add_batch_s", "stream.wal_commit_s",
    "stream.job_overhead_s", "stream.state_commit_s",
    "stream.state_partitions", "stream.state_rows", "stream.state_mem_bytes",
    "kernel.stage_s", "kernel.stage_share") ++
    Modules.all.map(m => s"queries.${m}_s") ++ Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.task_gc_s", "spark.task_overhead_s",
    "spark.task_deserialize_s", "spark.scan_s", "spark.codegen_stage_s",
    "spark.exchange_bytes", "spark.exchange_write_s", "spark.exchange_wait_s",
    "spark.agg_s", "spark.join_build_s", "spark.sort_s", "spark.spill_bytes",
    "driver.plan_s", "driver.gap_s", "driver.compiles")

  /** Per-layer metrics of the traced pass: totals over its timed ops,
    * except ratios, shares, skews and per-row/per-chunk figures. A layer
    * the workload does not reach reports 0. */
  def perLayer(recs: Seq[OpRec]): Map[String, Double] = {
    val m = mutable.LinkedHashMap(perLayerNames.map(_ -> 0.0): _*)
    val stages = recs.flatMap(_.stats.stages.values).filter(_.tasks > 0)
    def plan(layer: String) = recs.map(_.stats.planSeconds(layer)).sum
    m("spark.jobs") = recs.map(_.stats.jobs.size).sum
    m("spark.stages") = stages.size
    m("spark.tasks") = stages.map(_.tasks).sum
    m("spark.task_run_s") = stages.map(_.runMs).sum / 1e3
    m("spark.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("spark.task_gc_s") = stages.map(_.gcMs).sum / 1e3
    m("spark.task_overhead_s") = stages.map(s => s.durationMs - s.runMs).sum / 1e3
    m("spark.task_deserialize_s") = stages.map(_.deserMs).sum / 1e3
    m("spark.scan_s") = plan("scan")
    m("spark.codegen_stage_s") = plan("codegen")
    m("spark.exchange_bytes") = stages.map(_.shuffleWriteBytes).sum
    m("spark.exchange_write_s") = stages.map(_.shuffleWriteNs).sum / 1e9
    m("spark.exchange_wait_s") = stages.map(_.fetchWaitMs).sum / 1e3
    m("spark.agg_s") = plan("agg")
    m("spark.join_build_s") = plan("join_build")
    m("spark.sort_s") = plan("sort")
    m("spark.spill_bytes") = stages.map(_.spillBytes).sum
    m("kernel.stage_s") = plan("kernel")
    // against codegen time, not task run time: pipelines side by side in
    // one task (the inputs of a non-codegen join) overlap in duration
    m("kernel.stage_share") =
      m("kernel.stage_s") / math.max(m("spark.codegen_stage_s"), 1e-9)
    m("driver.plan_s") = recs.map(r => firstJobMs(r) - r.startMs).sum / 1e3
    m("driver.gap_s") = recs.map(r => r.endMs - r.startMs - union(jobIv(r))).sum / 1e3
    m("driver.compiles") = recs.map(_.compiles).sum

    recs.filter(_.kind == "query").groupBy(_.module).foreach { case (mod, rs) =>
      m(s"queries.${mod}_s") = rs.map(_.seconds).sum
    }

    recs.find(_.kind == "backup").foreach { r =>
      m("operators.backup_s") = r.seconds
      m("operators.backup_jobs") = r.stats.jobs.size
      val chunks = r.facts.getOrElse("chunks", 0.0)
      m("sink.chunks") = chunks
      m("sink.rows_per_chunk") = r.facts.getOrElse("rows", 0.0) / math.max(chunks, 1)
      m("sink.bytes") = r.facts.getOrElse("chunk_bytes", 0.0)
      // the write stage: the last stage of the last job in the call
      val write = r.stats.stages.values.filter(_.tasks > 0).toSeq
        .sortBy(s => (s.submit, s.id)).lastOption
      write.foreach { s =>
        m("sink.task_run_s") = s.runMs / 1e3
        m("sink.task_skew") = s.maxRunMs / math.max(s.runMs / s.tasks, 1e-9)
      }
      val lastJobEnd = r.stats.jobs.map(_._3).filterNot(_.isNaN)
      if (lastJobEnd.nonEmpty) m("sink.driver_tail_s") = (r.endMs - lastJobEnd.max) / 1e3
    }
    recs.find(_.kind == "fsck").foreach(r => m("operators.fsck_s") = r.seconds)
    recs.find(_.kind == "restore").foreach(r => m("operators.restore_s") = r.seconds)

    val reads = recs.filter(r => r.kind == "discover" || r.kind == "extract")
    if (reads.nonEmpty) {
      val matching = math.max(reads.map(_.facts.getOrElse("matching", 0.0)).sum, 1.0)
      val readStages = reads.flatMap(_.stats.stages.values)
      m("source.plan_s") = reads.map(r => firstJobMs(r) - r.startMs).sum / 1e3
      m("source.read_s") = reads.map(r => union(jobIv(r))).sum / 1e3
      m("source.rows_read_per_row") = readStages.map(_.inputRecords).sum / matching
      m("source.bytes_read_per_row") =
        reads.map(_.facts.getOrElse("fs_bytes_read", 0.0)).sum / matching
    }

    val streams = recs.filter(_.stats.progress.nonEmpty)
    val progress = streams.flatMap(_.stats.progress)
    if (progress.nonEmpty) {
      m("stream.triggers") = progress.size
      m("stream.empty_trigger_ratio") =
        progress.count(_.numInputRows == 0).toDouble / progress.size
      m("stream.latest_offset_s") = progress.map(triggerMs(_, "latestOffset")).sum / 1e3
      m("stream.planning_s") = progress.map(triggerMs(_, "queryPlanning")).sum / 1e3
      m("stream.add_batch_s") = progress.map(triggerMs(_, "addBatch")).sum / 1e3
      m("stream.wal_commit_s") = progress.map(triggerMs(_, "walCommit")).sum / 1e3
      m("stream.job_overhead_s") = streams.map { r =>
        r.endMs - r.startMs - r.stats.progress.map(triggerMs(_, "triggerExecution")).sum
      }.sum / 1e3
      m("stream.state_commit_s") =
        progress.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3
      streams.foreach { r =>
        val withState = r.stats.progress.filter(_.stateOperators.nonEmpty)
        withState.lastOption.foreach { p =>
          m("stream.state_partitions") += p.stateOperators.map(_.numShufflePartitions).sum
          m("stream.state_rows") += p.stateOperators.map(_.numRowsTotal).sum
        }
        if (withState.nonEmpty) m("stream.state_mem_bytes") +=
          withState.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
      }
    }
    m.toMap
  }

  /** Every span of the traced pass: op → public call → Spark job →
    * stage, plus one span per streaming trigger. */
  def spans(recs: Seq[OpRec]): Seq[Span] = recs.flatMap { r =>
    val op = Span(r.name, "op", "", r.startMs, r.endMs)
    def callAt(t: Double) = r.calls.find(c => c.start <= t && t <= c.end)
      .map(_.name).getOrElse("op")
    val jobs = r.stats.jobs.toSeq.map { case (id, s, e) =>
      Span(r.name, s"job $id", callAt(s), s, if (e.isNaN) r.endMs else e)
    }
    val stageParent = r.stats.jobStages.toSeq
      .flatMap { case (j, ss) => ss.map(_ -> s"job $j") }.toMap
    val stages = r.stats.stages.values.toSeq.filter(_.tasks > 0).map { s =>
      Span(r.name, s"stage ${s.id}", stageParent.getOrElse(s.id, "op"),
        s.submit, s.complete)
    }
    val triggers = r.stats.progress.toSeq.map { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      Span(r.name, s"trigger ${p.id}/${p.batchId}", callAt(s), s,
        s + triggerMs(p, "triggerExecution"))
    }
    op +: (r.calls ++ jobs ++ stages ++ triggers)
  }
}
