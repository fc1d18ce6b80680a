package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.PerfbenchDrain
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run.py builds the classpath and calls it):
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--detail <file>] [--spans <file>]
  * }}}
  *
  * Set-up (session, seeded inputs, warm-up passes) is timed as
  * `setup_s`, from JVM start to the first timed op; then whole passes run
  * until `--seconds` have gone by. The last stdout line is the result
  * object; a failed output check makes the exit code 1.
  */
object Main {
  /** Passes run before the timed window, so plans are compiled and the JIT warms. */
  val WarmupPasses = 1
  /** `local[nproc]`, capped at 8 to bound a run's length on a large host.
    * The cap is not measured: runs so far were on 4 cores.
    */
  val Cores: Int = math.min(8, Runtime.getRuntime.availableProcessors())

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName(opts.getOrElse("workload", ""))
      .getOrElse(sys.error(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart() = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val spark = graft.Sessions.local(Cores, appName = "perfbench", warehouseDir = Some(s"$work/warehouse"))
    val sessionS = sinceStart()
    val sc = spark.sparkContext
    val probe = new Probe(full = traced)
    sc.addSparkListener(probe)
    val spans = new Spans(sc, traced)
    val ctx = new Ctx(spark, work, seed, spans, probe)
    val run = new Runner(ctx)

    spans.pass = Spans.Setup
    workload.prepare(ctx, s"$work/inputs")
    val prepareS = sinceStart() - sessionS
    val genRows = ctx.counters("gen.rows")
    (1 to WarmupPasses).foreach(w => run.runPass(-w)(workload.pass(ctx, run, -w)))
    val baseline = settle(spark, probe)
    val setupS = sinceStart()

    // timed window: whole passes, closed loop
    ctx.counters.clear()
    val passes = mutable.ArrayBuffer.empty[(Double, Int)] // (peak MB, leaked blocks)
    val w0 = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - w0) / 1e9 < seconds) {
      val peak = run.runPass(p)(workload.pass(ctx, run, p))
      passes += peak -> math.max(0, settle(spark, probe) - baseline)
      p += 1
    }

    val timed = run.ops.filter(_.pass >= 0).toSeq
    val unitLat = timed.filter(_.kind == workload.unitOp).map(_.seconds)
    val (tail, tailPct, samples) = Stats.tail(unitLat)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", timed.map(_.rows).sum / timed.map(_.seconds).sum, "rows/s"),
      ("op_p50_s", Stats.median(unitLat), "s"),
      // the first timed pass starts from the settled set-up state; later
      // passes also hold blocks the cleaner has not reclaimed yet
      ("mem_peak_mb", passes.head._1, "MB"))
    val metrics =
      if (!traced) endToEnd
      else Layers(spans.done.toSeq, probe, ctx.counters.toMap, timed, passes.toSeq, genRows, Cores)
    val attempted = run.ops.length
    val failed = run.ops.count(_.failed)
    val correct = failed == 0 && run.failures.isEmpty

    opts.get("detail").foreach { path =>
      val detail = Json.obj(Seq(
        "workload" -> Json.str(workload.name), "seed" -> seed.toString, "traced" -> traced.toString,
        "cores" -> Cores.toString, "passes" -> passes.length.toString, "unit_op" -> Json.str(workload.unitOp),
        // the tail is recorded here, not gated: a run holds too few unit ops for a steady tail
        "op_samples" -> samples.toString, "op_tail_s" -> Json.num(tail), "op_tail_percentile" -> Json.num(tailPct),
        "op_p50_s_by_kind" -> Json.obj(timed.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
          k -> Json.num(Stats.median(os.map(_.seconds))) }),
        "session_s" -> Json.num(sessionS), "prepare_s" -> Json.num(prepareS),
        "warmup_s" -> Json.num(setupS - sessionS - prepareS),
        "end_to_end" -> Json.obj(endToEnd.map { case (k, v, _) => k -> Json.num(v) }),
        "ops" -> Json.arr(run.ops.toSeq.map(o => Json.obj(Seq("pass" -> o.pass.toString, "kind" -> Json.str(o.kind),
          "rows" -> o.rows.toString, "s" -> Json.num(o.seconds), "failed" -> o.failed.toString)))),
        "failures" -> Json.arr(run.failures.toSeq.map(Json.str))))
      java.nio.file.Files.write(java.nio.file.Paths.get(path), detail.getBytes("UTF-8"))
    }
    opts.get("spans").filter(_ => traced).foreach { path =>
      val lines = spans.done.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "workload" -> Json.str(workload.name), "pass" -> s.pass.toString, "op" -> s.op.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
      java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    spark.stop()
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println(result)
    if (!correct) sys.exit(1)
  }

  /** Drops every cache the session can drop, lets the cleaner reclaim
    * unreferenced checkpoints, and returns the RDD blocks still stored.
    */
  private def settle(spark: SparkSession, probe: Probe): Int = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(100)
    PerfbenchDrain(spark.sparkContext)
    probe.liveRddBlocks
  }
}

/** Just enough JSON for the result line and the trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
