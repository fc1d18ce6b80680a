package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import graft.util.RunMetrics

/** [[RunMetrics]] against RDD jobs whose shape is known exactly: job,
  * stage and task counts and shuffle bytes are facts of the DAG, not
  * timings, so they are asserted with `==`.
  */
class RunMetricsSpec extends SparkSpec {
  private def sc = spark.sparkContext

  test("a 4-partition map job: 1 job, 1 stage, 4 tasks, no shuffle, no spill") {
    val m = RunMetrics.measure(spark) {
      assert(sc.parallelize(1 to 1000, 4).map(_ * 2).count() == 1000)
    }
    assert((m.jobs, m.stages, m.tasks) == ((1, 1, 4L)))
    assert(m.shuffleReadBytes == 0L && m.shuffleWriteBytes == 0L)
    assert(m.spillBytes == 0L)
    assert(m.jobSec <= m.wallSec && m.driverGapSec >= 0.0)
  }

  test("a reduceByKey job: 1 job, 2 stages, 4 + 2 tasks, shuffle write equals read") {
    val m = RunMetrics.measure(spark) {
      val counts = sc.parallelize(1 to 1000, 4).map(i => (i % 10, 1))
        .reduceByKey(_ + _, 2).collect()
      assert(counts.length == 10 && counts.forall(_._2 == 100))
    }
    assert((m.jobs, m.stages, m.tasks) == ((1, 2, 6L)))
    assert(m.shuffleWriteBytes > 0L)
    assert(m.shuffleReadBytes == m.shuffleWriteBytes)
  }

  test("two overlapped jobs: job seconds are their union, never above wall") {
    // each job's two tasks sleep 400 ms on a 4-core session, so the jobs
    // run side by side: the union is ~0.4 s where a sum of job walls
    // would be ~0.8 s and push the driver gap below zero
    def sleepyJob(): Long = sc.parallelize(1 to 2, 2).map { i => Thread.sleep(400); i }.count()
    val m = RunMetrics.measure(spark) {
      val other = Future(sleepyJob())(scala.concurrent.ExecutionContext.global)
      assert(sleepyJob() == 2L)
      assert(Await.result(other, 60.seconds) == 2L)
    }
    assert(m.jobs == 2 && m.tasks == 4L)
    assert(m.taskSec >= 4 * 0.39, s"task time ${m.taskSec}")
    assert(m.jobSec >= 0.39, s"job time ${m.jobSec}")
    assert(m.jobSec <= m.wallSec && m.driverGapSec >= 0.0, m.toString)
  }

  test("union arithmetic: overlaps count once, spans clip to the window") {
    assert(RunMetrics.unionMs(Seq((0L, 400L), (100L, 500L), (600L, 700L)), 0L, 1000L) == 600L)
    assert(RunMetrics.unionMs(Seq((100L, 200L), (0L, 1000L)), 0L, 1000L) == 1000L)
    assert(RunMetrics.unionMs(Seq((-100L, 50L), (900L, 1200L)), 0L, 1000L) == 150L)
    assert(RunMetrics.unionMs(Seq.empty, 0L, 1000L) == 0L)
  }

  test("work finished before the window is never charged to it") {
    // the job's events may still sit in the listener bus when measure
    // starts; measure drains them before it listens
    sc.parallelize(1 to 100, 4).count()
    val m = RunMetrics.measure(spark)(())
    assert((m.jobs, m.stages, m.tasks) == ((0, 0, 0L)))
  }
}
