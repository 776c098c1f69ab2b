package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced pass. Jobs count when they start inside
  * a measured operation; set-up, output checks and the harness's own jobs
  * stay outside. Every
  * workload reports the same metric names: a layer the workload does not
  * load reads 0, which is the "bypassed" prediction made checkable. */
final class Layers(w: Workload, traced: Pass, untraced: Pass, single: Pass) {
  import Tracer._

  private val (spans, allJobs, allBatches) = w.tracer.snapshot
  private val windows = traced.windows.toSeq
  private def inWindow(t: Long) = windows.exists { case (lo, hi) => t >= lo && t < hi }
  private val jobs = allJobs.filter(j => inWindow(j.startMs) && j.module != "perfbench")
  private val batches = allBatches.filter(b => b.inputRows > 0 && inWindow(b.startMs))
  private val windowMs = windows.map { case (lo, hi) => hi - lo }.sum.toDouble
  private def iv(js: Seq[Job]) = js.map(j => (j.startMs, j.endMs))
  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  /** Modules reported by name on every workload; jobs of any other
    * engine module are summed under `other`. */
  val Modules: Seq[String] = Seq("IngestPipeline", "PartitionedUpsert", "AdmissionPipeline",
    "StreamingDedup", "StreamingNearDup", "StreamingSubstring", "StreamingDecontam",
    "operators.SubstringIndex", "operators.WinnowIndex", "operators.DedupIndex",
    "operators.Compaction", "Marts", "Report", "Tables", "operators.RelationalQueries",
    "operators.WindowQueries", "operators.ValidationQueries", "operators.LlmQueries",
    "operators.SamplingQueries", "operators.CleaningQueries", "operators.CorpusOpsQueries",
    "operators.AuditQueries", "functions.Components", "other")
  val Reasons: Seq[String] = Seq("admit", "near_duplicate", "corpus_duplicate",
    "verbatim_repeat", "contaminated", "low_quality", "repetitive")
  val Indexes: Seq[String] = Seq("neardup", "substring", "winnow", "dedup")
  val Phases: Seq[(String, String)] = Seq("add_batch" -> "addBatch", "get_batch" -> "getBatch",
    "latest_offset" -> "latestOffset", "query_planning" -> "queryPlanning",
    "wal_commit" -> "walCommit")

  private def moduleKey(m: String) = if (Modules.contains(m)) m else "other"

  private val byBatch: Map[(String, Long), Seq[Job]] =
    jobs.filter(_.batch.isDefined).groupBy(_.batch.get)

  /** Per batch: job time inside its trigger window, job time outside it. */
  private val reconcile: Seq[(Batch, Long, Long)] = batches.map { b =>
    val js = byBatch.getOrElse((b.queryId, b.batchId), Nil)
    val inside = unionMs(clip(iv(js), b.startMs, b.startMs + b.triggerMs))
    (b, inside, unionMs(iv(js)) - inside)
  }
  private val triggerMs = batches.map(_.triggerMs).sum.toDouble

  def metrics: Seq[(String, String, Double)] = {
    val m = mutable.ArrayBuffer.empty[(String, String, Double)]
    def add(n: String, u: String, v: Double) = m += ((n, u, v))
    val runMs = jobs.map(_.runMs).sum.toDouble
    add("spark.jobs", "count", jobs.size.toDouble)
    add("spark.stages", "count", jobs.map(_.stages).sum.toDouble)
    add("spark.tasks", "count", jobs.map(_.tasks).sum.toDouble)
    add("spark.jobs_per_batch", "ratio", ratio(byBatch.values.map(_.size).sum.toDouble, batches.size.toDouble))
    add("spark.driver_gap_s", "s", windows.map { case (lo, hi) =>
      (hi - lo) - unionMs(clip(iv(jobs), lo, hi)) }.sum / 1e3)
    add("spark.task_wait_s", "s", jobs.map(_.waitMs).sum / 1e3)
    add("spark.executor_run_s", "s", runMs / 1e3)
    add("spark.executor_cpu_s", "s", jobs.map(_.cpuNs).sum / 1e9)
    add("spark.gc_s", "s", jobs.map(_.gcMs).sum / 1e3)
    add("spark.shuffle_read_bytes", "bytes", jobs.map(_.shuffleRead).sum.toDouble)
    add("spark.shuffle_write_bytes", "bytes", jobs.map(_.shuffleWrite).sum.toDouble)
    add("spark.spill_bytes", "bytes", jobs.map(_.spill).sum.toDouble)
    add("spark.records_written", "count", jobs.map(_.recordsWritten).sum.toDouble)
    add("spark.bytes_written", "bytes", jobs.map(_.bytesWritten).sum.toDouble)
    add("spark.failed_tasks", "count", (jobs.map(_.failedTasks).sum + jobs.count(_.failed)).toDouble)
    add("spark.speedup_vs_1core", "ratio", ratio(w.speed(untraced), w.speed(single)))
    add("trace.overhead_frac", "ratio", 1.0 - ratio(w.speed(traced), w.speed(untraced)))
    add("stream.batches", "count", batches.size.toDouble)
    for ((n, k) <- Phases)
      add(s"stream.${n}_share", "ratio", ratio(batches.map(_.phases.getOrElse(k, 0L)).sum.toDouble, triggerMs))
    add("stream.job_share", "ratio", ratio(reconcile.map(_._2).sum.toDouble, triggerMs))
    add("stream.driver_gap_share", "ratio",
      if (batches.isEmpty) 0.0 else 1.0 - ratio(reconcile.map(_._2).sum.toDouble, triggerMs))
    add("stream.jobs_outside_batch_share", "ratio", ratio(reconcile.map(_._3).sum.toDouble, triggerMs))
    add("stream.state_rows", "count", (0L +: batches.map(_.stateRows)).max.toDouble)
    add("stream.state_bytes", "bytes", (0L +: batches.map(_.stateBytes)).max.toDouble)
    val c = traced.counts
    def count(k: String) = c.getOrElse(k, 0.0)
    val topics = graft.Schemas.all.map(_.topic)
    val nIn = topics.map(t => count(s"$t.n_in")).sum
    // the ingest queries are those whose batches ran IngestPipeline jobs
    val ingestQueries = jobs.filter(_.module == "IngestPipeline").flatMap(_.batch).map(_._1).toSet
    add("IngestPipeline.write_amplification", "ratio", ratio(
      byBatch.collect { case ((q, _), js) if ingestQueries(q) => js.map(_.recordsWritten).sum }
        .sum.toDouble,
      batches.filter(b => ingestQueries(b.queryId)).map(_.inputRows).sum.toDouble))
    add("IngestPipeline.rejects_frac", "ratio", ratio(topics.map(t => count(s"$t.rejects")).sum, nIn))
    add("IngestPipeline.replay_frac", "ratio", ratio(topics.map(t => count(s"$t.replayed")).sum, nIn))
    add("AdmissionPipeline.admit_frac", "ratio", ratio(count("reason.admit"), count("decisions")))
    for (r <- Reasons) add(s"AdmissionPipeline.reason.$r", "count", count(s"reason.$r"))
    for (i <- Indexes) add(s"index.$i.bytes_appended", "bytes", count(s"index.$i.bytes_appended"))
    add("Marts.buckets_rewritten", "count", count("Marts.buckets_rewritten"))
    val cold = Stats.median(traced.times("Report.build.cold"))
    val warm = Stats.median(traced.times("Report.build.warm"))
    add("Report.cold_extra_share", "ratio", if (cold > 0) (cold - warm) / cold else 0.0)
    for (p <- Seq("sources.generate", "produce.write", "index.seed"))
      add(s"$p.share", "ratio", w.setupParts.get(p).map(_ / w.setupS).getOrElse(0.0))
    add("produce.bytes", "bytes",
      w.info.get("produce_bytes").collect { case b: Long => b.toDouble }.getOrElse(0.0))
    val byModule = jobs.groupBy(j => moduleKey(j.module))
    for (mod <- Modules) {
      val js = byModule.getOrElse(mod, Nil)
      add(s"$mod.jobs", "count", js.size.toDouble)
      add(s"$mod.busy_share", "ratio", ratio(unionMs(iv(js)).toDouble, windowMs))
      add(s"$mod.executor_run_share", "ratio", ratio(js.map(_.runMs).sum.toDouble, runMs))
    }
    m.toSeq
  }

  /** The absolute figures behind the shares: per module, per span name
    * (the workload pass and the public calls inside it) and per batch. */
  def detail: Map[String, Any] = {
    val modules = jobs.groupBy(_.module).map { case (mod, js) =>
      mod -> Map("jobs" -> js.size, "busy_s" -> unionMs(iv(js)) / 1e3,
        "executor_run_s" -> js.map(_.runMs).sum / 1e3, "tasks" -> js.map(_.tasks).sum)
    }
    val overlapping = spans.filter(s => s.endMs >= 0 &&
      windows.exists { case (lo, hi) => s.startMs < hi && s.endMs > lo })
    val calls = overlapping.groupBy(_.name)
      .map { case (n, ss) =>
        val self = ss.map { s =>
          (s.endMs - s.startMs) - unionMs(clip(iv(jobs), s.startMs, s.endMs)) }.sum
        n -> Map("count" -> ss.size, "total_s" -> ss.map(s => s.endMs - s.startMs).sum / 1e3,
          "self_s" -> self / 1e3)
      }
    val perBatch = reconcile.map { case (b, inside, outside) =>
      Map("query" -> b.queryId.take(8), "batch" -> b.batchId, "trigger_s" -> b.triggerMs / 1e3,
        "job_s" -> inside / 1e3, "driver_gap_s" -> (b.triggerMs - inside) / 1e3,
        "jobs_outside_s" -> outside / 1e3,
        "jobs" -> byBatch.getOrElse((b.queryId, b.batchId), Nil).size)
    }
    Map("modules" -> modules, "calls" -> calls, "batches" -> perBatch,
      "spans" -> spans.size, "jobs_traced" -> allJobs.size,
      "speed_note" -> ("speed is 1 / median latency of the batches after each query's " +
        "first for streams and 1 / cold report s for the dashboard; after the traced pass " +
        "one untraced round runs at local[N] (tracing overhead) and one at local[1] " +
        "(speed-up), each in a fresh session"))
  }
}
