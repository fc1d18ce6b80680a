package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: print formatted physical plans for selected queries —
  * `runMain graft.Explain q06_filter_pushdown q40_minhash_neardups ...`
  * (all queries when no args). Used to audit pushdown/pruning/broadcast/
  * exchange-reuse per SURVEY.md §4.
  *
  * Eager operators (everything ending in `Caching.materialize`) run their
  * real plan while the query is BUILT and hand back a checkpoint scan, so
  * the plans executed during the build print first, then the query's own.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local(Sessions.coresFromEnv, appName = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val built = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        println(s"---------- executed while building ($fn) ----------\n" +
          qe.explainString(FormattedMode))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      spark.listenerManager.register(built)
      val df =
        try SparkEntry.queries(n)(spark, sfDir)
        finally {
          Bridge.drainListenerBus(spark.sparkContext)
          spark.listenerManager.unregister(built)
        }
      df.explain("formatted")
    }
    spark.stop()
  }
}
