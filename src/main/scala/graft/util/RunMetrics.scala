package graft.util

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The engine's one run-metrics listener: what a measured body cost, broken
  * into jobs, executor tasks and bytes. At this engine's scale the cost of
  * a query is mostly fixed per-job overhead, so a timing alone cannot say
  * whether a change cut work or rode box noise; the job count, the job
  * time and the driver gap between jobs can.
  */
object RunMetrics {

  /** What one [[measure]]d body cost.
    *
    * @param wallSec      the body's wall time — the timed window, nothing else
    * @param jobs         Spark jobs started inside the window
    * @param jobSec       the UNION of those jobs' intervals, clipped to the
    *                     window: overlapped jobs count once, so it never
    *                     exceeds `wallSec`
    * @param stages       stages completed
    * @param tasks        tasks ended
    * @param taskSec      summed executor run time over those tasks
    * @param peakExecMemBytes the largest single task's peak execution memory
    */
  final case class Sample(
      wallSec: Double,
      jobs: Int,
      jobSec: Double,
      stages: Int,
      tasks: Long,
      taskSec: Double,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      memSpillBytes: Long,
      diskSpillBytes: Long,
      peakExecMemBytes: Long) {

    /** Wall time no job was running: planning, scheduling and driver-side
      * work (manifest IO, collects) between jobs.
      */
    def driverGapSec: Double = wallSec - jobSec

    def spillBytes: Long = memSpillBytes + diskSpillBytes
  }

  /** Run `body` and return what it cost. The timed window is `body` alone;
    * the listener-bus drains on either side of it sit outside, so events
    * of earlier work are never charged to this body and every event it
    * caused is counted before the sample is read.
    */
  def measure(spark: SparkSession)(body: => Unit): Sample = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      val wallSec = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      Bridge.drainListenerBus(sc)
      listener.sample(wallSec, startMs, endMs)
    } finally sc.removeSparkListener(listener)
  }

  /** Delivered on the bus thread, read after the drain: `synchronized`
    * gives the reader a consistent view.
    */
  private final class Listener extends SparkListener {
    private val jobStartMs = scala.collection.mutable.Map.empty[Int, Long]
    private val jobEndMs = scala.collection.mutable.Map.empty[Int, Long]
    private var stages = 0
    private var tasks = 0L
    private var runMs, shuffleR, shuffleW, memSpill, diskSpill, peakMem = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStartMs(e.jobId) = e.time
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEndMs(e.jobId) = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }

    def sample(wallSec: Double, startMs: Long, endMs: Long): Sample = synchronized {
      // a job still running at the window's end (one launched from a
      // thread the body did not join) counts up to the end
      val spans = jobStartMs.toSeq.map { case (id, s) => (s, jobEndMs.getOrElse(id, endMs)) }
      // job times are the scheduler's epoch millis, the window is nanoTime:
      // the min absorbs the millisecond rounding between the two clocks
      Sample(wallSec, jobStartMs.size, math.min(unionMs(spans, startMs, endMs) / 1e3, wallSec),
        stages, tasks, runMs / 1e3, shuffleR, shuffleW, memSpill, diskSpill, peakMem)
    }
  }

  /** Total length of the union of `spans`, each clipped to [startMs, endMs]. */
  private[graft] def unionMs(spans: Seq[(Long, Long)], startMs: Long, endMs: Long): Long = {
    var total = 0L
    var reach = startMs
    spans.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}
