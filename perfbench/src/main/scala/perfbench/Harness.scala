package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed op: a batch, a shard, a query or a pass-level step. `rows` is
  * the share of the pass's fixed input the op takes in (0 for ops over data
  * the pass itself made).
  */
final case class OpRec(pass: Int, kind: String, rows: Long, seconds: Double, var failed: Boolean)

/** Everything a workload needs: the session, its scratch directory, the
  * seed, the span recorder and the counters it reports per layer.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val spans: Spans, val probe: Probe) {
  def traced: Boolean = spans.enabled
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = counters(key) += v
  def span[T](layer: String, kind: String, name: String)(body: => T): T = spans(layer, kind, name)(body)

  /** A result's rows as sorted canonical strings, doubles rounded to 6 places. */
  def canon(df: DataFrame): Seq[String] = Ctx.canonRows(df.collect().toSeq)
}

object Ctx {
  def canonRows(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case null => "\\N"
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
    case v => v.toString
  }.mkString("|")).sorted
}

/** Runs passes of ops in a closed loop (one client: the next op starts when
  * the previous one returns) and runs the output checks between ops with
  * the clock stopped. A check that fails marks the op it follows as failed.
  */
final class Runner(ctx: Ctx) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  private var pass = -1

  def op(kind: String, rows: Long)(body: => Unit): Unit = {
    ctx.spans.op = ops.length
    val t0 = System.nanoTime()
    val ok =
      try { ctx.span("bench", "op", kind)(body); true }
      catch { case NonFatal(e) => fail(s"op $kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    ops += OpRec(pass, kind, rows, (System.nanoTime() - t0) / 1e9, !ok)
  }

  def check(name: String)(cond: => Boolean): Unit = {
    val ok =
      try ctx.span("check", "check", name)(cond)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] check $name threw: $e"); false }
    if (!ok) {
      fail(s"check failed: $name")
      ops.lastOption.foreach(_.failed = true)
    }
  }

  private def fail(msg: String): Unit = {
    failures += s"pass $pass: $msg"
    System.err.println(s"[perfbench] pass $pass: $msg")
  }

  /** Runs one pass; returns its peak block-storage MB. */
  def runPass(p: Int)(body: => Unit): Double = {
    pass = p
    ctx.spans.pass = p
    PerfbenchDrain(ctx.spark.sparkContext)
    ctx.probe.resetPeak()
    body
    PerfbenchDrain(ctx.spark.sparkContext)
    ctx.probe.peakMb
  }
}

/** A benchmark workload: seeded inputs and a pass of ops that is the same
  * work every time it runs.
  */
trait Workload {
  def name: String
  /** The op kind `op_p50_s` is taken over: the workload's unit of work. */
  def unitOp: String
  /** Generate this seed's inputs and expected results under `dir`. */
  def prepare(ctx: Ctx, dir: String): Unit
  /** One pass of ops. A warm-up pass (`p < 0`) runs a single unit op but
    * every other op kind and every check, so every plan is compiled while
    * set-up stays short.
    */
  def pass(ctx: Ctx, run: Runner, p: Int): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: (value,
    * percentile, samples). Below 21 samples that percentile would not lie
    * above the median, so the maximum is reported, as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.length
    if (n <= 20) (s.last, 100.0, n) else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
