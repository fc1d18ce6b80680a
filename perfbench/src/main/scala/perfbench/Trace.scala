package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One closed span: a call from the benchmark into one layer of the engine.
  * `layer` is the module and `kind` the per-layer metric its time goes to.
  */
final case class SpanRec(id: Long, parent: Long, layer: String, kind: String, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, pass: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans are opened only on the benchmark
  * thread; the innermost open span's id rides the Spark local property
  * [[Spans.Key]], so every job the call launches carries it. Untraced runs
  * record nothing and set no property.
  */
final class Spans(sc: SparkContext, val enabled: Boolean) {
  private var nextId = 0L
  private val stack = mutable.Stack.empty[(Long, Long, Long)] // (id, startNs, startMs)
  val done = mutable.ArrayBuffer.empty[SpanRec]
  var pass: Int = -1
  var op: Int = -1

  def apply[T](layer: String, kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack.push((id, System.nanoTime(), System.currentTimeMillis()))
      sc.setLocalProperty(Spans.Key, id.toString)
      try body
      finally {
        val (_, s0, m0) = stack.pop()
        done += SpanRec(id, parent, layer, kind, name, s0, System.nanoTime(), m0,
          System.currentTimeMillis(), pass, op)
        sc.setLocalProperty(Spans.Key, if (parent == 0L) null else parent.toString)
      }
    }
}

object Spans {
  val Key = "perfbench.span"
  /** The `pass` of spans recorded while inputs are generated. */
  val Setup: Int = Int.MinValue
}

/** What the listener saw of one job, stage or SQL execution. */
final case class JobRec(jobId: Int, startMs: Long, var endMs: Long, span: Long, execId: Long)

final class StageAgg {
  var attempts = 0; var tasks = 0; var failures = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L; var output = 0L
}

/** One SQL execution's latest physical plan: its shuffle and broadcast
  * exchanges, and the accumulators of its scans' "number of files read".
  */
final case class ExecRec(exchanges: Int, broadcasts: Int, fileAccums: Seq[Long])

/** Outside observer of the engine, a `SparkListener`. It always tracks the
  * bytes of cached and checkpointed RDD blocks; with `full` it also records
  * every job, stage, task and SQL execution plan (the final adaptive plan
  * when there is one), for attribution to spans once the run ends.
  */
final class Probe(full: Boolean) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val execs = mutable.HashMap.empty[Long, ExecRec]
  val accums = mutable.HashMap.empty[Long, Long]

  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L
  private var peakBytes = 0L

  def liveRddBlocks: Int = synchronized(blockBytes.size)
  def resetPeak(): Unit = synchronized { peakBytes = liveBytes }
  def peakMb: Double = synchronized(peakBytes / 1048576.0)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = info.blockId.name + "@" + info.blockManagerId.executorId
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      liveBytes += now - blockBytes.getOrElse(key, 0L)
      if (now > 0) blockBytes(key) = now else blockBytes.remove(key)
      peakBytes = math.max(peakBytes, liveBytes)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    val p = Option(e.properties)
    def prop(k: String): Long = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)
    val rec = JobRec(e.jobId, e.time, -1L, prop(Spans.Key), prop("spark.sql.execution.id"))
    jobs += rec
    jobById(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).attempts += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (full) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execs(s.executionId) = PlanCounts(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => execs(u.executionId) = PlanCounts(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accums(id) = accums.getOrElse(id, 0L) + v }
      case _ =>
    }
  }
}

/** Exchanges, broadcasts and file-count accumulators in a plan, looking
  * through adaptive query stages and subqueries.
  */
object PlanCounts {
  def apply(plan: SparkPlanInfo): ExecRec = {
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    val all = nodes(plan)
    ExecRec(all.count(_.nodeName == "Exchange"), all.count(_.nodeName == "BroadcastExchange"),
      all.filter(_.nodeName.startsWith("Scan")).flatMap(_.metrics).filter(_.name == "number of files read")
        .map(_.accumulatorId))
  }
}
