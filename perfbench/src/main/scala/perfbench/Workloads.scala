package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.analytics.Analytics
import graft.catalog.SnapshotTable
import graft.dedup.{Decontaminate, Dedup}
import graft.gen.AdsDataGenerator
import graft.ingest.{IncrementalLoader, IncrementalRollup}
import graft.ops.{Graph, Quantiles}
import graft.streaming.{IncrementalClusters, StreamingDedup}
import graft.text.TextPipelines
import graft.transform.KpiTransform

object Workloads {
  val all: Seq[Workload] = Seq(AdtechEtl, CurationSweep)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Bytes of every file under `dir`. */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true); var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
  }

  /** Order-independent checksum of every column. */
  def contentHash(df: DataFrame) =
    coalesce(sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(Expected.HashMod))), lit(0L))

  def pairs(df: DataFrame, a: String, b: String): Seq[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long")).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  def pairFrame(spark: SparkSession, ps: Seq[(Long, Long)]): DataFrame =
    Inputs.frame(spark, ps.map { case (a, b) => Row(a, b) },
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))), 1)

  /** Connected components by plain union-find, as a set of member sets. */
  def components(edges: Iterable[(Long, Long)]): Set[Set[Long]] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
  }

  /** A (member, representative) assignment as a set of member sets. */
  def members(assign: Seq[(Long, Long)]): Set[Set[Long]] =
    assign.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
}

import Workloads._

/** The reference pipeline end to end. An initial load of day 0, then daily
  * batches that each carry a new day plus a re-delivery of the previous day;
  * every delivery is appended idempotently to staging, merged with its KPIs
  * into the curated snapshot table and folded into a campaign rollup. The
  * report stage reads the warehouse ([[Reports]]) and curated is compacted.
  */
object AdtechEtl extends Workload {
  val name = "adtech_etl"
  val unitOp = "batch"
  val Batches = 4 // after the initial load
  val Campaigns = 200 // × 5 adsets × 3 creatives = 3,000 rows per day
  private val Keys = Seq("campaign_id")
  private val Measures = Seq("impressions", "clicks", "spend", "conversions")
  private def rollupCols = Keys ++ Measures.flatMap(m => Seq(s"sum_$m", s"cnt_$m", s"min_$m", s"max_$m"))

  private var dir = ""
  private var days = IndexedSeq.empty[String]
  private var generated = Seq.empty[Row]
  private var batchRows = IndexedSeq.empty[Long]
  private var batchBytes = IndexedSeq.empty[Long]
  private var expectedNew = IndexedSeq.empty[Long]

  /** Delivery 0 is day 0 alone (the initial load); delivery i is day i plus
    * a re-delivery of day i-1.
    */
  private def deliveryDays(i: Int) = if (i == 0) Seq(days(0)) else Seq(days(i - 1), days(i))
  private def deliveryPaths(i: Int) = deliveryDays(i).map(d => s"$dir/generated/dt=$d")

  def prepare(ctx: Ctx, d: String): Unit = {
    val spark = ctx.spark
    dir = d
    val p = AdsDataGenerator.Params(campaigns = Campaigns, days = Batches + 1, seed = ctx.seed)
    // one delivery file set per day
    ctx.span("gen", "generate", "AdsDataGenerator.generate") {
      AdsDataGenerator.generate(spark, p).coalesce(2).write.mode("overwrite").partitionBy("dt")
        .parquet(s"$dir/generated")
    }
    generated = spark.read.parquet(s"$dir/generated").select(col("dt").cast("string").as("dt"),
      col("campaign_id"), col("adset_id"), col("creative_id"), col("impressions"), col("clicks"),
      col("spend"), col("conversions")).collect().toSeq
    val end = java.time.LocalDate.parse(p.endDate)
    days = (0 to Batches).map(i => end.minusDays(Batches - i).toString)
    val perDay = generated.groupBy(_.getString(0)).map { case (d, rs) => d -> rs.length.toLong }
    batchRows = (0 to Batches).map(i => deliveryDays(i).map(perDay).sum)
    expectedNew = (0 to Batches).map(i => perDay(days(i)))
    batchBytes = (0 to Batches).map(i => deliveryPaths(i).map(dirBytes(spark, _)).sum)
    ctx.add("gen.rows", generated.length.toDouble)
    Reports.prepare(ctx, s"$d/sf", Seq(1, Batches).map(n => n -> loadedBy(n)).toMap, rangeDay = days(1))
  }

  /** The generated rows of days 0..n: curated's content after delivery n. */
  private def loadedBy(n: Int): Seq[Row] = { val ds = days.take(n + 1).toSet; generated.filter(r => ds(r.getString(0))) }

  private def manifest(spark: SparkSession, table: String) =
    SnapshotTable.currentManifest(spark, table).map(_.entries).getOrElse(Nil)

  def pass(ctx: Ctx, run: Runner, p: Int): Unit = {
    val spark = ctx.spark
    val base = s"${ctx.work}/etl/pass$p"
    val (staging, curated) = (s"$base/staging", s"$base/curated")
    var state: Option[String] = None
    var files = Set.empty[String]
    def added() = manifest(spark, curated).filterNot(e => files.contains(e.path))
    val last = if (p < 0) 1 else Batches
    (0 to last).foreach { i =>
      val batch = spark.read.option("basePath", s"$dir/generated").parquet(deliveryPaths(i): _*)
      var appended = -1L
      run.op(if (i == 0) "load" else unitOp, batchRows(i)) {
        appended = ctx.span("ingest", "append", "IncrementalLoader.appendNew") {
          IncrementalLoader.appendNew(spark, batch, staging)
        }
        ctx.span("catalog", "commit", "SnapshotTable.merge") {
          SnapshotTable.merge(spark, KpiTransform.withKpis(batch), curated)
        }
        ctx.span("ingest", "rollup", "IncrementalRollup.mergeState") {
          val loaded = spark.read.parquet(staging).filter(col("dt").cast("string") === days(i))
          val delta = IncrementalRollup.aggState(loaded, Keys, Measures)
          val next = state.fold(delta)(s => IncrementalRollup.mergeState(spark.read.parquet(s), delta, Keys, Measures))
          val out = s"$base/rollup-$i"
          next.write.parquet(out)
          state = Some(out)
        }
      }
      ctx.add("ingest.rows_offered", batchRows(i).toDouble)
      ctx.add("ingest.rows_appended", math.max(appended, 0L).toDouble)
      run.check(s"delivery $i appends only its new keys") { appended == expectedNew(i) }
      if (ctx.traced) {
        val a = added()
        ctx.add("catalog.files_added", a.length); ctx.add("catalog.bytes_added", a.map(_.bytes).sum.toDouble)
        ctx.add("catalog.user_bytes", batchBytes(i).toDouble)
        files = manifest(spark, curated).map(_.path).toSet
      }
    }

    // one scan answers the count, key, KPI and content checks
    val table = SnapshotTable.read(spark, curated)
    val kpiBroken = (col("clicks") === 0 && col("cpc") =!= 0) || (col("conversions") === 0 && col("cpa") =!= 0) ||
      (col("impressions") === 0 && (col("ctr") =!= 0 || col("cpm") =!= 0))
    val loaded = loadedBy(last)
    val keys = loaded.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).distinct.length.toLong
    var stats: Option[Row] = None
    run.check("curated holds every generated key once") {
      stats = Some(table.agg(count(lit(1)), countDistinct(col("campaign_id"), col("adset_id"), col("creative_id"), col("dt")),
        count_if(kpiBroken), contentHash(table)).collect()(0))
      stats.exists(r => r.getLong(0) == keys && r.getLong(1) == keys)
    }
    run.check("divide-by-zero KPIs are 0") { stats.exists(_.getLong(2) == 0L) }
    run.check("incremental rollup equals the one-shot aggregate") {
      state.exists(s => ctx.canon(spark.read.parquet(s).select(rollupCols.map(col): _*)) == Expected.rollup(loaded, Measures))
    }

    Reports.run(ctx, run, p, curated, last)

    run.op("compact", 0L) {
      ctx.span("catalog", "compact", "SnapshotTable.compact") { SnapshotTable.compact(spark, curated) }
    }
    run.check("compaction leaves the rows unchanged") {
      val after = SnapshotTable.read(spark, curated)
      stats.exists(r => after.agg(count(lit(1)), contentHash(after)).collect()(0) == Row(r.getLong(0), r.getLong(3)))
    }
    if (ctx.traced) {
      ctx.add("catalog.bytes_rewritten", added().map(_.bytes).sum.toDouble)
      ctx.add("catalog.space_amp", dirBytes(spark, curated).toDouble / manifest(spark, curated).map(_.bytes).sum)
    }
  }
}

/** The pipeline's report stage: the notebook's top-spend report over
  * `events`, and warehouse reads of the pass's curated snapshot table — a
  * date range, a point lookup and exact quantiles. Each result must equal
  * what plain Scala computes from the generated rows. Queries run in a
  * seeded order.
  */
object Reports {
  val Events = 20000
  val Users = 1500
  private val CuratedCols = Seq("campaign_id", "adset_id", "creative_id", "dt", "impressions", "clicks",
    "spend", "conversions", "ctr", "cpm", "cpc", "cpa")

  private var sfDir = ""
  private var rangeDay = ""
  private var campaign = 0L
  private var expected = Map.empty[Int, Map[String, Seq[String]]]

  /** `loaded` maps each delivery a pass ends on to the rows curated then holds. */
  def prepare(ctx: Ctx, d: String, loaded: Map[Int, Seq[Row]], rangeDay: String): Unit = {
    sfDir = d
    val events = Inputs.events(ctx.seed, Events, Users)
    Inputs.frame(ctx.spark, events, Inputs.EventSchema, 4).write.mode("overwrite").parquet(s"$sfDir/events.parquet")
    this.rangeDay = rangeDay
    campaign = 1L + new java.util.SplittableRandom(ctx.seed).nextInt(AdtechEtl.Campaigns)
    val top = Expected.topSpenders(events, 10)
    expected = loaded.map { case (n, ads) =>
      val curated = Expected.curated(ads)
      n -> Map(
        "topCampaignsBySpend" -> top,
        "readDtRange" -> Expected.digest(curated.filter(_.getString(3) == rangeDay)),
        "readWhere" -> Ctx.canonRows(curated.filter(_.getLong(0) == campaign)),
        "exactQuantilesSpread" -> Expected.quantiles(curated, Seq(0.5, 0.99)))
    }
  }

  private val rowKey = col("campaign_id") * 64 + col("adset_id") * 8 + col("creative_id")
  private def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("spend").cast("decimal(18,2)")), sum(pmod(rowKey, lit(Expected.HashMod))))
  private def canonical(df: DataFrame): DataFrame =
    df.select(CuratedCols.map(c => if (c == "dt") col(c).cast("string") else col(c)): _*)

  private case class Query(key: String, layer: String, kind: String, run: SparkSession => DataFrame)

  private def queries(table: String): Seq[Query] = Seq(
    Query("topCampaignsBySpend", "analytics", "query", s => Analytics.topCampaignsBySpend(s, sfDir)),
    // readDtRange skips whole files; the range itself is the caller's row filter
    Query("readDtRange", "catalog", "read", s =>
      digest(SnapshotTable.readDtRange(s, table, rangeDay, rangeDay).filter(col("dt") === lit(rangeDay).cast("date")))),
    Query("readWhere", "catalog", "read", s =>
      canonical(SnapshotTable.readWhere(s, table, col("campaign_id") === campaign))),
    Query("exactQuantilesSpread", "ops", "quantile", s => Quantiles.exactQuantilesSpread(
      SnapshotTable.read(s, table), "cpc", Seq("adset_id"), Seq(0.5, 0.99), Seq("p50", "p99"))))

  /** Runs the queries over `table`, which holds deliveries 0..`last`. */
  def run(ctx: Ctx, run: Runner, p: Int, table: String, last: Int): Unit =
    new scala.util.Random(ctx.seed * 31 + p).shuffle(queries(table)).foreach { q =>
      var got = Seq.empty[String]
      run.op(q.key, 0L) {
        got = ctx.span(q.layer, q.kind, q.key)(ctx.canon(q.run(ctx.spark)))
      }
      if (q.layer == "analytics") ctx.add("analytics.queries", 1)
      if (ctx.traced && q.layer == "catalog")
        ctx.add("catalog.prunable_files", SnapshotTable.currentManifest(ctx.spark, table).map(_.entries.length).getOrElse(0).toDouble)
      run.check(s"${q.key} matches its plain formulation") {
        val want = expected(last)(q.key)
        val ok = got == want
        if (!ok) System.err.println(s"[perfbench] ${q.key}: got ${got.diff(want).take(3)}, " +
          s"expected ${want.diff(got).take(3)}")
        ok
      }
    }
}

/** Compute- and job-heavy curation: fresh shards are each gated,
  * decontaminated, swept against a reference corpus prepared once per pass,
  * deduplicated within themselves and folded into incremental clusters; the
  * pass ends with a connected components over the admitted docs'
  * near-duplicate pairs.
  */
object CurationSweep extends Workload {
  val name = "curation_sweep"
  val unitOp = "shard"
  val RefDocs = 400
  val Shards = 4
  val ShardDocs = 160
  val BenchPassages = 40

  private var dir = ""
  private var corpus: Inputs.Corpus = _

  def prepare(ctx: Ctx, d: String): Unit = {
    dir = d
    corpus = Inputs.corpus(ctx.seed, RefDocs, Shards, ShardDocs, BenchPassages)
    val spark = ctx.spark
    Inputs.frame(spark, Inputs.docRows(corpus.reference), Inputs.DocSchema, 4).write.mode("overwrite").parquet(s"$dir/reference")
    Inputs.frame(spark, corpus.benchmark.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, Inputs.DocSchema, 1)
      .write.mode("overwrite").parquet(s"$dir/benchmark")
    corpus.shards.zipWithIndex.foreach { case (docs, s) =>
      Inputs.frame(spark, Inputs.docRows(docs), Inputs.DocSchema, 2).write.mode("overwrite").parquet(s"$dir/shard-$s")
    }
  }

  def pass(ctx: Ctx, run: Runner, p: Int): Unit = {
    val spark = ctx.spark
    val clustersDir = s"${ctx.work}/curation/pass$p/clusters"
    val reference = spark.read.parquet(s"$dir/reference")
    val bench = spark.read.parquet(s"$dir/benchmark").select(col("text"))
    var prep: Dedup.PreparedReference = null
    val allWithin = mutable.ArrayBuffer.empty[(Long, Long)]
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]

    run.op("prepare", 0L) {
      prep = ctx.span("dedup", "prepare", "Dedup.crossPrepare") { Dedup.crossPrepare(reference) }
    }
    // a warm-up pass sweeps one shard
    (if (p < 0) corpus.shards.indices.take(1) else corpus.shards.indices).foreach { s =>
      val docs = spark.read.parquet(s"$dir/shard-$s")
      var gate = Set.empty[Long]; var contaminated = Set.empty[Long]
      var cross = Seq.empty[(Long, Long)]; var within = Seq.empty[(Long, Long)]
      run.op(unitOp, ShardDocs) {
        gate = ctx.span("text", "gate", "TextPipelines.qualityGate") {
          TextPipelines.qualityGate(docs).select(col("doc_id")).collect().map(_.getLong(0)).toSet
        }
        contaminated = ctx.span("dedup", "decon", "Decontaminate.ngramOverlap") {
          Decontaminate.ngramOverlap(docs, bench, n = 8).filter(col("contaminated"))
            .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        }
        cross = ctx.span("dedup", "sweep", "Dedup.crossNearDupsPrepared") {
          pairs(Dedup.crossNearDupsPrepared(docs, prep), "new_id", "ref_id")
        }
        val cands = ctx.span("streaming", "candidates", "StreamingDedup.nearDupCandidates") {
          val c = StreamingDedup.nearDupCandidates(docs, threshold = 0.0).toDF()
            .select(col("id_a"), col("id_b")).persist()
          ctx.add("streaming.candidates", c.count().toDouble)
          c
        }
        val verified = ctx.span("dedup", "sweep", "Dedup.verifyPairsExactJaccard") {
          val v = Dedup.verifyPairsExactJaccard(docs, cands, threshold = 0.5)
          within = pairs(v, "id_a", "id_b")
          v
        }
        cands.unpersist(blocking = false)
        ctx.span("streaming", "fold", "IncrementalClusters.foldPairs") {
          IncrementalClusters.foldPairs(spark, clustersDir, verified)
        }
      }
      ctx.add("streaming.verified", within.length)
      ctx.add("text.passed", gate.size); ctx.add("text.offered", ShardDocs)
      ctx.add("dedup.pairs_out", cross.length + within.length)

      // ground truth comes from the generator, never from the engine
      val shardIds = corpus.shards(s).map(_.id)
      val crossSet = cross.toSet
      val withinSet = within.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val flagged = cross.map(_._1).toSet ++ contaminated ++ within.flatMap { case (a, b) => Seq(a, b) }
      val expect = shardIds.flatMap(id => corpus.kinds(id) match {
        case Inputs.CrossTwin(r) => Some(crossSet.contains((id, r)))
        case Inputs.ExactCopy(r) => Some(crossSet.contains((id, r)))
        case Inputs.WithinTwin(o) => Some(withinSet.contains((math.min(id, o), math.max(id, o))))
        case _ => None
      })
      ctx.add("dedup.planted", expect.length); ctx.add("dedup.found", expect.count(identity))
      run.check(s"shard $s: every planted twin is flagged") { expect.forall(identity) }
      run.check(s"shard $s: every contaminated doc is flagged") {
        shardIds.filter(corpus.kinds(_) == Inputs.Contaminated).forall(contaminated.contains)
      }
      run.check(s"shard $s: no clean doc is flagged") { shardIds.filter(corpus.clean.contains).forall(!flagged.contains(_)) }

      val admitted = gate -- contaminated -- cross.map(_._1)
      allWithin ++= within
      edges ++= within.filter { case (a, b) => admitted(a) && admitted(b) }
    }

    var comps = Seq.empty[(Long, Long)]
    run.op("finish", 0L) {
      comps = ctx.span("ops", "cc", "Graph.connectedComponentsAuto") {
        pairs(Graph.connectedComponentsAuto(pairFrame(spark, edges.toSeq)), "id", "rep")
      }
      prep.release()
    }
    run.check("folded clusters equal one-shot connected components") {
      members(pairs(IncrementalClusters.clusters(spark, clustersDir), "doc_id", "rep_id")) == components(allWithin)
    }
    run.check("connected components equal union-find over the same edges") {
      members(comps) == components(edges)
    }
  }
}
