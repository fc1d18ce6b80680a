package perfbench

import java.time.{LocalDate, ZoneOffset}

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.Row

/** Expected results by plain Scala over the generated rows, sharing no code
  * with the engine. Each returns the canonical form [[Ctx.canonRows]] gives
  * the engine's result, so a check is one equality.
  */
object Expected {
  private def money(d: Double): BigDecimal = BigDecimal(d).setScale(2, RoundingMode.HALF_UP)
  val HashMod = 1000003L

  // ------------------------------------------------------------- adtech

  /** The one-shot campaign rollup: per campaign and measure, the decimal
    * sum (as double), count, min and max.
    */
  def rollup(ads: Seq[Row], measures: Seq[String]): Seq[String] = {
    val idx = measures.map(m => ads.head.fieldIndex(m))
    val byCampaign = ads.groupBy(_.getAs[Long]("campaign_id"))
    Ctx.canonRows(byCampaign.toSeq.map { case (c, rows) =>
      Row.fromSeq(c +: idx.flatMap { i =>
        val vs = rows.map(_.get(i))
        val asD = vs.map(v => v.asInstanceOf[Number].doubleValue)
        val sum = asD.map(money).sum.toDouble
        // min/max keep the column's own type
        val (mn, mx) = vs.head match {
          case _: java.lang.Long => (vs.map(_.asInstanceOf[Long]).min, vs.map(_.asInstanceOf[Long]).max)
          case _ => (asD.min, asD.max)
        }
        Seq(sum, vs.length.toLong, mn, mx)
      })
    })
  }

  // ------------------------------------------------------------- events

  private def day(r: Row): LocalDate = r.getTimestamp(1).toInstant.atZone(ZoneOffset.UTC).toLocalDate

  def topSpenders(events: Seq[Row], k: Int): Seq[String] = {
    val lo = events.map(day).max.minusDays(13)
    val totals = events.filter(r => !day(r).isBefore(lo)).groupBy(_.getLong(2))
      .map { case (u, rs) => (u, rs.map(r => money(r.getDouble(4))).sum.toDouble) }
    Ctx.canonRows(totals.toSeq.sortBy { case (u, t) => (-t, u) }.take(k).map { case (u, t) => Row(u, t) })
  }

  // ------------------------------------------------------------ curated

  private def ratio(n: Double, d: Double): Double = if (d == 0) 0.0 else n / d

  /** Curated rows from generated `(dt, campaign, adset, creative, impressions,
    * clicks, spend, conversions)` rows: the same columns as Reports reads them,
    * KPIs appended with ÷0 ⇒ 0.
    */
  def curated(ads: Seq[Row]): Seq[Row] = ads.map { r =>
    val (imp, clk, spend, conv) = (r.getLong(4).toDouble, r.getLong(5).toDouble, r.getDouble(6), r.getLong(7).toDouble)
    Row(r.getLong(1), r.getLong(2), r.getLong(3), r.getString(0), r.getLong(4), r.getLong(5), spend, r.getLong(7),
      ratio(clk, imp), ratio(spend, imp) * 1000, ratio(spend, clk), ratio(spend, conv))
  }

  private def rowKey(r: Row): Long = r.getLong(0) * 64 + r.getLong(1) * 8 + r.getLong(2)

  /** SQL `percentile`: linear interpolation at position p·(n−1). */
  private def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (lo == hi || sorted(lo) == sorted(hi)) sorted(lo)
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  /** Exact cpc quantiles per adset. */
  def quantiles(cur: Seq[Row], probs: Seq[Double]): Seq[String] =
    Ctx.canonRows(cur.groupBy(_.getLong(1)).toSeq.map { case (adset, rs) =>
      val s = rs.map(_.getDouble(10)).sorted.toIndexedSeq
      Row.fromSeq(adset +: probs.map(percentile(s, _)))
    })

  /** Row count, decimal spend total and Σ row key mod p. */
  def digest(cur: Seq[Row]): Seq[String] =
    // SQL sums of no rows are NULL
    Ctx.canonRows(Seq(if (cur.isEmpty) Row(0L, null, null)
      else Row(cur.length.toLong, cur.map(r => money(r.getDouble(6))).sum.bigDecimal, cur.map(r => rowKey(r) % HashMod).sum)))
}
