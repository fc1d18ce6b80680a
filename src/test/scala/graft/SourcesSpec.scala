package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.catalog.CatalogOps
import graft.gen.AdsDataGenerator
import graft.transform.KpiTransform

class SourcesSpec extends SparkSpec {

  test("CSV sink + scan round-trips the ads schema (S1/S2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString + "/ads"
    val ads = AdsDataGenerator.generate(spark, AdsDataGenerator.Params(campaigns = 2, days = 3))
    Sources.writeCsv(ads, dir)
    val back = Sources.readCsv(spark, dir, ads.schema)
    assert(back.count() == ads.count())
    // same names/types (nullability legitimately differs: range outputs are non-null)
    assert(back.schema.map(f => (f.name, f.dataType)) == ads.schema.map(f => (f.name, f.dataType)))
    assert(back.except(ads).count() == 0 && ads.except(back).count() == 0)
  }

  test("latestFile picks lexicographically-last matching name (S3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-files").toString
    Seq("ads_data_2026-08-01A.csv", "ads_data_2026-08-01B.csv", "ads_data_2026-07-31Z.csv",
      "other.csv", "ads_data_x.txt").foreach { n =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$n"), "x")
    }
    val latest = Sources.latestFile(spark, dir, "ads_data_", ".csv")
    assert(latest.exists(_.endsWith("ads_data_2026-08-01B.csv")))
    assert(Sources.latestFile(spark, dir + "/missing", "a", ".csv").isEmpty)
  }

  test("JDBC round-trip on embedded Derby: batched write, partitioned read, incremental anti-join append (S4-S8)") {
    import graft.ingest.IncrementalLoader
    // Derby ships with Spark (/opt/spark/jars) for the Hive metastore — an
    // in-JVM database that exercises the same JDBC source/sink code path the
    // reference uses against Oracle/Snowflake.
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby").toString + "/db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val table = "orders_sink"

    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_orderkey")).limit(200).cache()
    val first = orders.filter(pmod(col("o_orderkey"), lit(4)) =!= 0)

    // S7/S8: batched insert (batchsize forces several executeBatch rounds)
    Sources.writeJdbc(first.coalesce(2), url, table, props, batchSize = 32, mode = "overwrite")

    // S4: full-table scan
    val back = Sources.readJdbc(spark, url, table, props)
    assert(back.count() == first.count())

    // S5/S6: partitioned parallel scan with pushed bounds
    val (lo, hi) = {
      val r = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val part = Sources.readJdbc(spark, url, table, props,
      partitionOn = Some(("o_orderkey", lo, hi + 1, 4)))
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == first.count())
    // double sums associate differently across 4 partitions — compare within ulps
    assert(math.abs(part.select(sum(col("o_totalprice"))).collect()(0).getDouble(0) -
      first.select(sum(col("o_totalprice"))).collect()(0).getDouble(0)) < 1e-4)

    // incremental load: anti-join against sink keys, append only the delta
    val delta = IncrementalLoader.newRows(orders, back, keys = Seq("o_orderkey"))
    assert(delta.count() == orders.count() - first.count())
    Sources.writeJdbc(delta, url, table, props, batchSize = 32, mode = "append")
    val loaded = Sources.readJdbc(spark, url, table, props)
    assert(loaded.count() == orders.count())

    // idempotence: re-running the same batch finds nothing new
    assert(IncrementalLoader.newRows(orders, loaded, keys = Seq("o_orderkey")).count() == 0)

    // row-level parity through the JDBC boundary (types + values)
    assert(loaded.except(orders).count() == 0 && orders.except(loaded).count() == 0)
  }

  test("ads dialect: NUMBER-family type contract and EVENT_DATE extract normalization (S5/S6)") {
    import graft.sources.AdsJdbcDialect
    import org.apache.spark.sql.types._
    AdsJdbcDialect.register()
    // the marker in the db path routes these connections through the dialect
    val dbDir = java.nio.file.Files.createTempDirectory("graft-ads").toString + "/graft-ads-db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

    // the reference's staging shape (scripts/oracle_to_snowflake.py:63-74):
    // NUMBER ids/counts, DATE dt, NUMBER(10,2) spend
    val ads = spark.range(0, 100).select(
      (col("id") % 5).as("CAMPAIGN_ID"),
      (col("id") % 3).as("ADSET_ID"),
      col("id").as("CREATIVE_ID"),
      date_add(to_date(lit("2024-06-01")), (col("id") % 30).cast("int")).as("DT"),
      (col("id") * 100).as("IMPRESSIONS"),
      (col("id") * 3).as("CLICKS"),
      (col("id").cast("decimal(10,2)") * 1.25).cast("decimal(10,2)").as("SPEND"),
      (col("id") % 7).as("CONVERSIONS"))

    Sources.writeJdbc(ads, url, "ADS_DATA_STG", props, mode = "overwrite")
    val back = Sources.readJdbc(spark, url, "ADS_DATA_STG", props)
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    // NUMBER (scale 0) → long (the int() contract), NOT decimal(19,0)
    assert(types("CAMPAIGN_ID") == LongType && types("IMPRESSIONS") == LongType,
      s"scale-0 NUMBER must map to LongType, got $types")
    // NUMBER(10,2) → decimal(10,2), exact money — never double
    assert(types("SPEND") == DecimalType(10, 2), s"SPEND must stay DECIMAL(10,2), got $types")
    assert(types("DT") == DateType)
    // value parity through the dialect boundary (dates day-exact,
    // money 2dp-exact)
    assert(back.except(ads).count() == 0 && ads.except(back).count() == 0)

    // the live-table variant spells the date EVENT_DATE
    // (scripts/insert_ads_data.py:23,37-40); the extract renames to DT and
    // normalizes to day precision (scripts/oracle_to_snowflake.py:38-43)
    Sources.writeJdbc(ads.withColumnRenamed("DT", "EVENT_DATE"),
      url, "ADS_DATA_LIVE", props, mode = "overwrite")
    val extracted = Sources.readAdsExtract(spark, url, "ADS_DATA_LIVE", props)
    assert(extracted.columns.contains("DT") && !extracted.columns.contains("EVENT_DATE"))
    assert(extracted.schema("DT").dataType == DateType)
    assert(extracted.except(ads).count() == 0 && ads.except(extracted).count() == 0)
  }

  test("JSON and ORC round-trip lineitem with explicit schemas; ORC pushes filters") {
    val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    Sources.writeJson(li, s"$base/j")
    val jBack = Sources.readJson(spark, s"$base/j", li.schema)
    assert(jBack.exceptAll(li).isEmpty && li.exceptAll(jBack).isEmpty)

    Sources.writeOrc(li, s"$base/o")
    val oBack = Sources.readOrc(spark, s"$base/o")
    assert(oBack.exceptAll(li).isEmpty && li.exceptAll(oBack).isEmpty)
    // same scan-side contract as parquet: the predicate reaches the ORC scan
    val plan = oBack.filter(col("l_returnflag") === "R")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), plan)
  }

  test("events time-range predicates on ts reach the parquet scan (µs fixture keeps ts stored)") {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val stored = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    assume(stored == org.apache.spark.sql.types.TimestampType,
      "legacy nanos fixture: ts is derived there and pushes via ts_nanos instead")
    val ev = Tables.events(spark, sfDir)
    val plan = ev.filter(col("ts") >= java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"ts range predicate must reach the scan, got:\n$plan")
  }

  test("readTextCorpus: one doc per line, content-addressed ids, dedup-ready") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"),
      "the first document\nthe second document\nthe first document\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"),
      "the first document\n")
    val corpus = Sources.readTextCorpus(spark, dir)
    assert(corpus.count() == 4)
    // same (file, text) line → same id (the within-file duplicate); the
    // same text in ANOTHER file gets a different id (source is part of the
    // address) — exact dedup across sources then keys on the text hash
    assert(corpus.select("doc_id").distinct().count() == 3)
    assert(corpus.filter(col("text") === "the first document").count() == 3)
  }

  test("catalog ops: database, CTAS, view, truncate+reload, counts (S9-S13)") {
    CatalogOps.createDatabaseIfNotExists(spark, "graft_test")
    spark.sql("DROP VIEW IF EXISTS graft_test.ads_view")
    spark.sql("DROP TABLE IF EXISTS graft_test.staging_ads")
    val ads = AdsDataGenerator.generate(spark, AdsDataGenerator.Params(campaigns = 2, days = 2))

    CatalogOps.ctas(ads, "graft_test.staging_ads")
    assert(CatalogOps.rowCount(spark, "graft_test.staging_ads") == ads.count())

    // create-if-absent is a no-op when the table exists
    CatalogOps.createTableIfNotExists(ads, "graft_test.staging_ads")
    assert(CatalogOps.rowCount(spark, "graft_test.staging_ads") == ads.count())

    CatalogOps.createOrReplaceView(spark, "graft_test.ads_view", "graft_test.staging_ads")
    assert(CatalogOps.rowCount(spark, "graft_test.ads_view") == ads.count())

    // truncate+reload with a smaller batch: table ends up exactly the new batch
    val half = ads.filter(col("campaign_id") === 1)
    CatalogOps.truncateReload(half, "graft_test.staging_ads")
    assert(CatalogOps.rowCount(spark, "graft_test.staging_ads") == half.count())
  }

  test("materializeCurated: full-refresh CTAS + view; re-runs leave one copy; ÷0 KPIs are 0 (S10)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-curated").toString + "/curated"
    val staging = Seq(
      (1L, 1000L, 10L, 5.0, 2L),
      (2L, 0L, 0L, 0.0, 0L), // every denominator zero
      (3L, 400L, 0L, 2.0, 0L)) // clicks and conversions zero
      .toDF("campaign_id", "impressions", "clicks", "spend", "conversions")
    KpiTransform.materializeCurated(staging, path, "graft_curated_view")
    KpiTransform.materializeCurated(staging, path, "graft_curated_view") // full refresh
    val view = spark.table("graft_curated_view")
    assert(view.count() == staging.count(), "a re-run must overwrite, not append")
    val kpis = view.select($"campaign_id", $"ctr", $"cpm", $"cpc", $"cpa")
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(kpis == Seq(
      (1L, 0.01, 5.0, 0.5, 2.5),
      (2L, 0.0, 0.0, 0.0, 0.0),
      (3L, 0.0, 5.0, 0.0, 0.0)))
  }
}
