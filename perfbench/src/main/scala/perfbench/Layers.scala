package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, computed after it ends from the spans,
  * the listener's records and the workload's counters. Counts and times are
  * per timed pass; ratios are taken over the whole timed window. Every
  * layer a timed op calls reports its total self time as `<layer>.self_s`.
  *
  * A job is charged to the innermost span open on the benchmark thread when
  * the job was submitted. A job that carries no span, or the id of a span
  * that had already closed (engine pool threads keep the local properties of
  * the call that created them), is counted in `spark.unattributed_jobs`.
  */
object Layers {
  private val MB = 1048576.0

  def apply(spans: Seq[SpanRec], probe: Probe, counters: Map[String, Double],
      timedOps: Seq[OpRec], passes: Seq[(Double, Int)], genRows: Double,
      cores: Int): Seq[(String, Double, String)] = probe.synchronized {
    val c = counters.withDefaultValue(0.0)
    val P = math.max(passes.length, 1).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def self(s: SpanRec): Double = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

    // spans inside the timed ops, and the op intervals
    val opSpans = spans.filter(s => s.pass >= 0 && s.layer == "bench" && s.kind == "op")
    val timed = mutable.Set.empty[Long]
    def mark(id: Long): Unit = { timed += id; children.getOrElse(id, Nil).foreach(s => mark(s.id)) }
    opSpans.foreach(s => mark(s.id))
    val intervals = opSpans.map(s => (s.startMs, s.endMs))
    def inOp(ms: Long) = intervals.exists { case (a, b) => ms >= a && ms <= b }

    // jobs → owning span (Some(layer)), unattributed (None), or outside the window (dropped)
    val owner: Map[Int, Option[SpanRec]] = probe.jobs.toSeq.flatMap { j =>
      byId.get(j.span) match {
        case Some(s) if j.startMs <= s.endMs => if (timed.contains(s.id)) Some(j.jobId -> Some(s)) else None
        case _ => if (inOp(j.startMs)) Some(j.jobId -> None) else None
      }
    }.toMap
    val jobs = probe.jobs.filter(j => owner.contains(j.jobId)).toSeq
    val stagesOf = probe.stageJob.groupBy(_._2).map { case (j, m) => j -> m.keys.toSeq }
    val aggs = jobs.flatMap(j => stagesOf.getOrElse(j.jobId, Nil).flatMap(probe.stages.get))
    def layerOf(j: JobRec) = owner(j.jobId).map(_.layer).getOrElse("")
    def jobsIn(layer: String) = jobs.count(layerOf(_) == layer)

    // executed plans, charged like their first job
    val execOwner = jobs.filter(_.execId >= 0).groupBy(_.execId).map { case (e, js) => e -> owner(js.minBy(_.jobId).jobId) }
    val execs = execOwner.keys.toSeq.flatMap(e => probe.execs.get(e).map(e -> _))
    def filesRead(names: Set[String]) = execs.collect {
      case (e, r) if execOwner(e).exists(s => s.layer == "catalog" && s.kind == "read" && (names.isEmpty || names(s.name))) =>
        r.fileAccums.map(probe.accums.getOrElse(_, 0L)).sum
    }.sum

    // driver gap: op time with no job running
    val jobCover = intervals.map { case (a, b) =>
      val clipped = jobs.filter(_.endMs >= 0).map(j => (math.max(a, j.startMs), math.min(b, j.endMs))).filter(x => x._1 < x._2).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      clipped.foreach { case (s, e) => if (e > end) { covered += e - math.max(s, end); end = e } }
      covered
    }.sum / 1000.0
    val passS = timedOps.map(_.seconds).sum
    val taskS = aggs.map(_.runMs).sum / 1000.0

    val inTimed = spans.filter(s => timed.contains(s.id))
    def selfOf(layer: String, kinds: String*) =
      inTimed.filter(s => s.layer == layer && (kinds.isEmpty || kinds.contains(s.kind))).map(self).sum
    def calls(layer: String) = inTimed.count(_.layer == layer)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val prepSpans = spans.filter(s => s.pass == Spans.Setup && s.layer == "gen")
    Seq(
      ("spark.jobs", jobs.length / P, "count"),
      ("spark.stages", aggs.map(_.attempts).sum / P, "count"),
      ("spark.tasks", aggs.map(_.tasks).sum / P, "count"),
      ("spark.job_wall_s", jobs.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1000.0 / P, "s"),
      ("spark.driver_gap_s", (passS - jobCover) / P, "s"),
      ("spark.task_s", taskS / P, "s"),
      ("spark.task_cpu_s", aggs.map(_.cpuNs).sum / 1e9 / P, "s"),
      ("spark.gc_s", aggs.map(_.gcMs).sum / 1000.0 / P, "s"),
      ("spark.busy_ratio", ratio(taskS, passS * cores), "ratio"),
      ("spark.shuffle_write_mb", aggs.map(_.shuffleWrite).sum / MB / P, "MB"),
      ("spark.shuffle_read_mb", aggs.map(_.shuffleRead).sum / MB / P, "MB"),
      ("spark.spill_mb", aggs.map(_.spill).sum / MB / P, "MB"),
      ("spark.input_mb", aggs.map(_.input).sum / MB / P, "MB"),
      ("spark.output_mb", aggs.map(_.output).sum / MB / P, "MB"),
      ("spark.exchanges", execs.map(_._2.exchanges).sum / P, "count"),
      ("spark.broadcasts", execs.map(_._2.broadcasts).sum / P, "count"),
      ("spark.task_failures", aggs.map(_.failures).sum / P, "count"),
      ("spark.unattributed_jobs", jobs.count(j => owner(j.jobId).isEmpty) / P, "count"),
      ("gen.self_s", prepSpans.map(self).sum, "s"),
      ("gen.rows", genRows, "rows"),
      ("ingest.self_s", selfOf("ingest") / P, "s"),
      ("ingest.calls", calls("ingest") / P, "count"),
      ("ingest.jobs", jobsIn("ingest") / P, "count"),
      ("ingest.rows_offered", c("ingest.rows_offered") / P, "rows"),
      ("ingest.rows_appended", c("ingest.rows_appended") / P, "rows"),
      ("ingest.skip_ratio", ratio(c("ingest.rows_offered") - c("ingest.rows_appended"), c("ingest.rows_offered")), "ratio"),
      ("catalog.self_s", selfOf("catalog") / P, "s"),
      ("catalog.commit_s", selfOf("catalog", "commit") / P, "s"),
      ("catalog.commits", inTimed.count(s => s.layer == "catalog" && s.kind != "read") / P, "count"),
      ("catalog.jobs", jobsIn("catalog") / P, "count"),
      ("catalog.files_added", c("catalog.files_added") / P, "count"),
      ("catalog.bytes_added", c("catalog.bytes_added") / P, "bytes"),
      ("catalog.write_amp", ratio(c("catalog.bytes_added"), c("catalog.user_bytes")), "ratio"),
      ("catalog.compact_s", selfOf("catalog", "compact") / P, "s"),
      ("catalog.bytes_rewritten", c("catalog.bytes_rewritten") / P, "bytes"),
      ("catalog.space_amp", c("catalog.space_amp") / P, "ratio"),
      ("catalog.read_s", selfOf("catalog", "read") / P, "s"),
      ("catalog.files_read", filesRead(Set.empty) / P, "count"),
      ("catalog.files_pruned_ratio", if (c("catalog.prunable_files") == 0) 0.0
        else 1.0 - filesRead(Set("readDtRange", "readWhere")) / c("catalog.prunable_files"), "ratio"),
      ("dedup.self_s", selfOf("dedup") / P, "s"),
      ("dedup.prepare_s", selfOf("dedup", "prepare") / P, "s"),
      ("dedup.sweep_s", selfOf("dedup", "sweep") / P, "s"),
      ("dedup.decon_s", selfOf("dedup", "decon") / P, "s"),
      ("dedup.jobs", jobsIn("dedup") / P, "count"),
      ("dedup.pairs_out", c("dedup.pairs_out") / P, "count"),
      ("dedup.recall", ratio(c("dedup.found"), c("dedup.planted")), "ratio"),
      ("streaming.self_s", selfOf("streaming") / P, "s"),
      ("streaming.candidates", c("streaming.candidates") / P, "count"),
      ("streaming.verify_yield", ratio(c("streaming.verified"), c("streaming.candidates")), "ratio"),
      ("streaming.fold_s", selfOf("streaming", "fold") / P, "s"),
      ("streaming.jobs", jobsIn("streaming") / P, "count"),
      ("text.self_s", selfOf("text") / P, "s"),
      ("text.pass_ratio", ratio(c("text.passed"), c("text.offered")), "ratio"),
      ("ops.self_s", selfOf("ops") / P, "s"),
      ("ops.cc_s", selfOf("ops", "cc") / P, "s"),
      ("ops.quantile_s", selfOf("ops", "quantile") / P, "s"),
      ("ops.jobs", jobsIn("ops") / P, "count"),
      ("analytics.self_s", selfOf("analytics") / P, "s"),
      ("analytics.queries", c("analytics.queries") / P, "count"),
      ("cache.peak_mb", Stats.median(passes.map(_._1)), "MB"),
      ("cache.leaked_blocks", if (passes.isEmpty) 0.0 else passes.map(_._2).max.toDouble, "count"),
      // pass_s is the ops' own timers, not their spans, so the layers' self
      // times plus unattributed_s account for it only if the spans do
      ("trace.pass_s", passS / P, "s"),
      ("trace.unattributed_s", inTimed.filter(s => s.layer == "bench").map(self).sum / P, "s"))
  }
}
