package graft.util

import org.apache.spark.sql.DataFrame

/** Cache-lifecycle discipline for operators that persist shared intermediate
  * frames (signatures, term vectors, training corpora). A library call must
  * not leak pinned blocks into the caller's long-lived session: at 100 TB an
  * unreleased cache is an eviction storm for every query that follows.
  */
object Caching {

  /** Eagerly materialize the (small, output-linear) `result`, then release
    * every intermediate cache.
    *
    * `localCheckpoint` truncates the lineage to the materialized RDD, so the
    * released intermediates can never be silently recomputed by a downstream
    * action — unpersisting a lazily-returned plan instead would just move
    * the recompute to the caller's first action. The checkpointed blocks
    * themselves are reclaimed by the ContextCleaner once the returned frame
    * is unreferenced. On a real cluster (where executor loss would kill
    * local checkpoint blocks), swap in reliable `checkpoint()` or a table
    * write — same contract. The returned frame's own plan is a bare
    * checkpoint scan; `graft.Explain` prints the plan that ran here.
    */
  def materialize(result: DataFrame, cached: DataFrame*): DataFrame =
    try result.localCheckpoint(eager = true)
    finally cached.foreach(_.unpersist(blocking = false))

  /** localCheckpoint a frame AND capture the id of the RDD it pinned, so an
    * iterative operator can release a superseded round's blocks explicitly.
    * `Dataset.unpersist` can NOT do this — the pinned RDD is internal to
    * the Dataset, so unpersist on the frame is a no-op and every round
    * would leak one checkpointed copy. The pinned RDD is identified
    * DIRECTLY off the checkpointed Dataset's plan (its `LogicalRDD` wraps
    * exactly the persisted RDD) — not by diffing the context-global
    * persistent-RDD registry, which under concurrent driver threads (two
    * iterative loops at once, a mode the OCC layer supports) captures the
    * OTHER loop's ids and lets releaseTracked unpersist a checkpointed RDD
    * whose truncated lineage makes it unrecomputable.
    */
  def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint()
    val ids = org.apache.spark.sql.graftbridge.Bridge.checkpointedRddId(out).toSet
    // a miss means the plan shape changed under us: fail loudly rather than
    // silently leak one pinned copy per loop round
    require(ids.nonEmpty, "checkpointTracked: checkpointed plan exposed no LogicalRDD")
    (out, ids)
  }

  /** Release blocks captured by [[checkpointTracked]] once no frame reads
    * them anymore.
    */
  def releaseTracked(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}
