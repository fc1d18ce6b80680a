package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-pre-filtered joins: the standard way to join a huge fact table
  * against a selective dimension subset at 100 TB.
  *
  * A plain (even broadcast) join still SHUFFLES or hash-probes every fact
  * row that will later be dropped. Building a bloom filter of the key side
  * (one `bloom_filter_agg` pass → a single binary scalar, broadcast as a
  * 1-row frame — the same mechanism as Spark's own injected runtime
  * filters) and filtering with `might_contain` BEFORE the join eliminates
  * the non-matching bulk in the scan stage; the exact join then only sees
  * true matches plus the bloom's false-positive sliver, which it removes.
  * Semantics are therefore EXACTLY the plain join's (false positives never
  * survive, false negatives don't exist) — which is what makes the
  * operator oracle-checkable row-for-row.
  */
object BloomJoin {

  /** Spark's own runtime-bloom-filter bit cap (2^26 bits = 8 MB): past it a
    * bigger literal costs more to broadcast/embed than the residual false
    * positives cost the exact join. fpp degrades gracefully at the cap.
    */
  val MaxNumBits: Long = 1L << 26

  /** `-n·ln(fpp)/ln(2)²` optimal bloom bits for n items, floored at 64 and
    * capped at [[MaxNumBits]].
    */
  def bloomBits(expectedKeys: Long, fpp: Double): Long = math.min(MaxNumBits, math.max(64L,
    (-expectedKeys * math.log(fpp) / (math.log(2) * math.log(2))).toLong))

  /** Left-semi join `fact ⋉ keys` with a bloom pre-filter on the fact side.
    *
    * @param expectedKeys sizing for the bloom: `Some(n)` when the caller
    *                     knows the distinct-key scale; `None` (default)
    *                     COUNTS the key side's ROWS first — one extra
    *                     small-side job, and the filter is sized to the
    *                     data instead of a constant that under-sizes (FPR
    *                     → 1, filter neutered) the moment the population
    *                     moves. The row count is an upper bound on the
    *                     distinct keys: a key side with duplicates gets a
    *                     filter sized for more keys than it holds (a lower
    *                     FPR than `fpp`, at more literal bytes per task)
    * @param fpp          target false-positive rate: the pre-filter passes
    *                     ~fpp of non-matching fact rows to the exact join
    */
  def bloomSemiJoin(
      fact: DataFrame,
      keys: DataFrame,
      factKey: String,
      keysKey: String,
      expectedKeys: Option[Long] = None,
      fpp: Double = 0.01): DataFrame = {
    val spark = fact.sparkSession
    graft.extensions.GraftExtensions.register(spark)
    // The bloom is built over xxhash64(key), not a BIGINT cast: works for
    // ANY key type (a string key cast to bigint is NULL — a silent
    // drop-everything), and hash collisions only add false positives the
    // exact join removes anyway.
    //
    // might_contain requires its bloom input to be a constant or scalar
    // subquery; the one-row aggregate is collected to a binary literal —
    // bounded driver model state (numBits/8 bytes), like any broadcast
    // variable, never per-row data.
    def buildBloom(over: DataFrame, n: Long): Array[Byte] = over
      .agg(call_function("bloom_filter_agg",
        xxhash64(col(keysKey)), lit(n), lit(bloomBits(n, fpp))).as("bf"))
      .collect()(0).getAs[Array[Byte]]("bf")
    val bloomBytes = expectedKeys match {
      case Some(n) => buildBloom(keys, n)
      case None =>
        // auto-sizing: cache the key side across the count and the bloom
        // build so its subtree still computes ONCE at construction (the
        // execution-time exact join recomputes from lineage, as before).
        // The pin is on a DERIVED projection, never the caller's Dataset —
        // unpersisting a plan the caller also pinned would clobber their
        // cache state (the CrossSweep discipline) — and is released before
        // returning, so nothing leaks into the session.
        val cached = keys.select(keys.columns.map(col).toIndexedSeq: _*).persist()
        try {
          val n = cached.count()
          if (n == 0L) null else buildBloom(cached, n)
        } finally { cached.unpersist(blocking = false); () }
    }
    if (bloomBytes == null) return fact.filter(lit(false)) // empty key side
    val pruned = fact.filter(
      call_function("might_contain", lit(bloomBytes), xxhash64(col(factKey))))
    // exact join on the pruned remainder removes bloom/hash false positives
    pruned.join(keys.select(col(keysKey).as(factKey)).distinct(), Seq(factKey), "left_semi")
  }
}
