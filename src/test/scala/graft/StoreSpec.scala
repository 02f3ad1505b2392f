package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.fs.{Ingest, OfflineStore, Registry}

/** Offline store lifecycle (append/partition-pruned read/watermark/metadata),
  * ingest normalization, registry surface. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-test").toString

  private lazy val raw = Seq(
    (1704067200L, 21.0, 105.75, 2L, 1.0, 2.0, 3.0, 4.0, 5.0, 15.555, 7.0, 8.0), // 2024-01-01
    (1704153600L, 21.0, 105.75, 3L, 1.0, 2.0, 3.0, 4.0, 5.0, 40.0, 7.0, 8.0)    // 2024-01-02
  ).toDF("dt", "lat", "lon", "aqi_level", "co", "no", "no2", "o3", "so2", "pm2_5", "pm10", "nh3")

  test("normalize rounds floats to 2dp and derives partition columns") {
    val got = Ingest.normalize(raw).select("pm2_5", "year", "month", "day")
      .as[(Double, Int, Int, Int)].collect().toSet
    assert(got == Set((15.56, 2024, 1, 1), (40.0, 2024, 1, 2)))
  }

  test("deriveFeatures produces the 9-column feature row with native AQI") {
    val got = Ingest.deriveFeatures(raw)
    assert(got.columns.toSeq == Seq("entity_id", "feature_timestamp", "dt", "lat", "lon",
      "aqi", "hour", "day", "dayOfWeek"))
    val r = got.where(col("dt") === 1704067200L).select("entity_id", "aqi", "dayOfWeek")
      .as[(String, Double, Int)].collect().head
    assert(r._1 == "21.0_105.75")
    // 15.555 in band (12.1, 35.4): 49/23.3*(15.555-12.1)+51
    assert(math.abs(r._2 - ((100 - 51).toDouble / (35.4 - 12.1) * (15.555 - 12.1) + 51)) < 1e-12)
    assert(r._3 == 2) // 2024-01-01 is a Monday; Spark dayofweek: 1=Sunday
  }

  test("offline store: append, partition-pruned incremental read, watermark cycle") {
    val root = tmpDir()
    val store = OfflineStore(spark, root)
    store.append("aqi_info", Ingest.normalize(raw))
    assert(store.watermark("aqi_info").isEmpty)

    val all = store.read("aqi_info")
    assert(all.count() == 2)
    val since = store.readSince("aqi_info", java.time.LocalDate.parse("2024-01-02"))
    assert(since.count() == 1)
    // the partition filter must prune directories, not scan-and-filter
    val scan = since.queryExecution.executedPlan.collectLeaves().mkString
    assert(scan.contains("year") || since.inputFiles.length == 1)

    // readBetween: both bounds inclusive, pruned the same way
    val between = store.readBetween("aqi_info", None, java.time.LocalDate.parse("2024-01-01"))
    assert(between.select("day").as[Int].collect().toSeq == Seq(1))
    assert(store.readBetween("aqi_info", Some(java.time.LocalDate.parse("2024-01-02")),
      java.time.LocalDate.parse("2024-01-02")).select("day").as[Int].collect().toSeq == Seq(2))

    val next = store.advanceWatermark("aqi_info", all)
    assert(next.contains(java.time.LocalDate.parse("2024-01-03")))
    assert(store.watermark("aqi_info").contains(java.time.LocalDate.parse("2024-01-03")))
  }

  test("feature metadata registration is guarded (idempotent)") {
    val store = OfflineStore(spark, tmpDir())
    assert(store.registerFeatureMetadata("pm2_5", "v1", "epa-piecewise", "aqi"))
    assert(!store.registerFeatureMetadata("pm2_5", "v1", "epa-piecewise", "aqi"))
    assert(store.registerFeatureMetadata("pm2_5", "v2", "epa-piecewise", "aqi"))
    assert(store.read("feature_metadata").count() == 2)
  }

  test("lineage rows append") {
    val store = OfflineStore(spark, tmpDir())
    store.appendLineage("aqi_info", "v1", "events", "Queries.scala")
    store.appendLineage("aqi_info", "v2", "events", "Queries.scala")
    assert(store.read("lineage").count() == 2)
  }

  test("compactDay merges a day's small files without changing its rows") {
    val store = OfflineStore(spark, tmpDir())
    val day1 = Ingest.normalize(raw).where(col("day") === 1)
    // five separate appends -> five (or more) small files in the partition
    (1 to 5).foreach(_ => store.append("t", day1))
    store.append("t", Ingest.normalize(raw).where(col("day") === 2)) // untouched neighbor
    val beforeRows = store.read("t").orderBy("dt", "pm2_5").collect().toSeq
    val (nBefore, nAfter) = store.compactDay("t", java.time.LocalDate.of(2024, 1, 1))
    assert(nBefore >= 5, s"expected one file per append, saw $nBefore")
    assert(nAfter == 1, s"compaction must hit the target file count, saw $nAfter")
    assert(store.read("t").orderBy("dt", "pm2_5").collect().toSeq == beforeRows,
      "compaction must be invisible to readers")
    // idempotent: already-compact partition is a no-op
    assert(store.compactDay("t", java.time.LocalDate.of(2024, 1, 1)) == ((1, 1)))
  }

  test("compactDay recovers a crashed swap and cleans stranded leftovers") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir()
    val store = OfflineStore(spark, root)
    (1 to 3).foreach(_ => store.append("t", Ingest.normalize(raw).where(col("day") === 1)))
    val rows = store.read("t").orderBy("dt").collect().toSeq
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new Path(s"$root/t/year=2024/month=1/day=1")
    val old = new Path(part.getParent, ".day=1_compact_old")
    // simulate a crash between the two renames: partition gone, set-aside left
    assert(fs.rename(part, old))
    val (b, a) = store.compactDay("t", java.time.LocalDate.of(2024, 1, 1))
    assert(a == 1 && b >= 3, "rerun must restore the set-aside copy and finish compacting")
    assert(store.read("t").orderBy("dt").collect().toSeq == rows)
    // simulate a crash after the swap: partition intact + stranded duplicate
    assert(fs.mkdirs(old))
    store.compactDay("t", java.time.LocalDate.of(2024, 1, 1))
    assert(!fs.exists(old), "stranded set-aside dir must be cleaned even on the no-op path")
  }

  test("compactDay preserves columns added by schema evolution (mergeSchema)") {
    val store = OfflineStore(spark, tmpDir())
    val day1 = Ingest.normalize(raw).where(col("day") === 1)
    store.append("t", day1)
    store.append("t", day1.withColumn("quality_flag", lit("ok")))
    store.compactDay("t", java.time.LocalDate.of(2024, 1, 1))
    val got = spark.read.option("mergeSchema", "true").parquet(s"${store.root}/t")
      .select("quality_flag").as[Option[String]].collect().toSeq.sortBy(_.isDefined)
    assert(got == Seq(None, Some("ok")),
      "the compacted rewrite must keep the union schema, not one sampled footer")
  }

  test("expireOlderThan drops only pre-cutoff day partitions") {
    val store = OfflineStore(spark, tmpDir())
    store.append("t", Ingest.normalize(raw)) // days 2024-01-01 and 2024-01-02
    val dropped = store.expireOlderThan("t", java.time.LocalDate.of(2024, 1, 2))
    assert(dropped == 1)
    val days = store.read("t").select("day").distinct().as[Int].collect().toSet
    assert(days == Set(2), "only the pre-cutoff partition may disappear")
    assert(store.expireOlderThan("t", java.time.LocalDate.of(2024, 1, 2)) == 0, "idempotent")
  }

  test("schema evolution: a column added by a later append is readable across history") {
    val store = OfflineStore(spark, tmpDir())
    store.append("t", Ingest.normalize(raw).where(col("day") === 1))
    store.append("t", Ingest.normalize(raw).where(col("day") === 2)
      .withColumn("quality_flag", lit("ok")))
    // mergeSchema unions the file schemas; old files surface null for the new column
    val got = spark.read.option("mergeSchema", "true").parquet(s"${store.root}/t")
      .select("day", "quality_flag").as[(Int, Option[String])].collect().toSet
    assert(got == Set((1, None), (2, Some("ok"))))
  }

  test("read memoizes the inferred schema: no Spark job until the sampled file changes") {
    val store = OfflineStore(spark, tmpDir())
    val path = s"${store.root}/t"
    store.append("t", Ingest.normalize(raw).where(col("day") === 1))
    store.append("t", Ingest.normalize(raw).where(col("day") === 2).withColumn("quality_flag", lit("ok")))
    assert(sparkWork(store.read("t"))._1 > 0, "the first read infers the schema from a footer")
    var again: org.apache.spark.sql.DataFrame = null
    val (stages, _) = sparkWork { again = store.read("t") }
    assert(stages == 0, s"a read with nothing changed ran $stages stages")
    assert(again.schema == spark.read.parquet(path).schema)
    // Spark samples the first file in path order: day 1's, without the new column
    assert(!store.read("t").columns.contains("quality_flag"))

    assert(store.expireOlderThan("t", java.time.LocalDate.of(2024, 1, 2)) == 1)
    val expired = store.read("t").schema
    assert(expired.fieldNames.contains("quality_flag"), "expiring the sampled day must re-infer")
    assert(expired == spark.read.parquet(path).schema)
  }

  test("read re-infers the schema after compactDay widens the sampled day") {
    val store = OfflineStore(spark, tmpDir())
    val path = s"${store.root}/t"
    val day1 = Ingest.normalize(raw).where(col("day") === 1)
    store.append("t", day1)
    store.append("t", Ingest.normalize(raw).where(col("day") === 2))
    assert(!store.read("t").columns.contains("quality_flag"))
    store.append("t", day1.withColumn("quality_flag", lit("ok")))
    store.compactDay("t", java.time.LocalDate.of(2024, 1, 1))
    val compacted = store.read("t").schema
    assert(compacted.fieldNames.contains("quality_flag"), "the compacted day's new footer must be sampled")
    assert(compacted == spark.read.parquet(path).schema)
  }

  test("readRawJson multiLine handles the reference's single-array landing format") {
    // extract.py:52-108 writes ONE JSON array file, not JSONL
    val tmp = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/arr.json"),
      """[{"dt":1704067200,"lat":21.0,"lon":105.75,"aqi_level":2,"co":1.0,"no":0.5,
        |"no2":3.0,"o3":4.0,"so2":5.0,"pm2_5":10.0,"pm10":7.0,"nh3":8.0},
        |{"dt":1704070800,"lat":21.0,"lon":105.75,"aqi_level":1,"co":1.0,"no":0.5,
        |"no2":3.0,"o3":4.0,"so2":5.0,"pm2_5":20.0,"pm10":7.0,"nh3":8.0}]""".stripMargin
        .getBytes("UTF-8"))
    val got = Ingest.readRawJson(spark, s"$tmp/arr.json", multiLine = true)
    assert(got.count() == 2)
    assert(got.select("pm2_5").as[Double].collect().toSet == Set(10.0, 20.0))
  }

  test("readRawJson degrades malformed records to nulls, never aborts the scan") {
    // load.py:129's to_numeric(errors='coerce') equivalent: a bad numeric
    // nulls the FIELD; a syntactically broken line nulls the ROW (PERMISSIVE
    // default) — either way the 100 TB scan keeps going
    val tmp = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/dirty.json"),
      ("""{"dt":1704067200,"lat":21.0,"lon":105.75,"aqi_level":2,"co":1.0,"no":0.5,"no2":3.0,"o3":4.0,"so2":5.0,"pm2_5":10.0,"pm10":7.0,"nh3":8.0}""" + "\n" +
        """{"dt":1704070800,"lat":21.0,"lon":105.75,"aqi_level":1,"co":1.0,"no":0.5,"no2":3.0,"o3":4.0,"so2":5.0,"pm2_5":"not-a-number","pm10":7.0,"nh3":8.0}""" + "\n" +
        """{this line is not json at all""" + "\n").getBytes("UTF-8"))
    val got = Ingest.readRawJson(spark, s"$tmp/dirty.json")
    val rows = got.select("pm2_5", "pm10").collect()
    assert(rows.length == 3, "every input line must surface as a row")
    val pm25 = rows.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSet
    assert(pm25 == Set(Some(10.0), None), "bad numeric and broken line must both null pm2_5")
    assert(rows.count(_.isNullAt(1)) == 1, "only the unparseable LINE nulls the whole row")
  }

  test("advanceWatermark on an empty frame is a no-op (returns None)") {
    val store = OfflineStore(spark, tmpDir())
    val empty = Ingest.normalize(raw).limit(0)
    assert(store.advanceWatermark("t", empty).isEmpty)
    assert(store.watermark("t").isEmpty)
  }

  test("registry save/load roundtrip preserves every view attribute") {
    val path = tmpDir() + "/registry"
    val orig = Registry.defaultRegistry()
    // sub-day TTL must survive the roundtrip (day-granularity persistence
    // would truncate it to zero)
    orig.applyView(orig.view("aqi_info_v1").copy(name = "aqi_hourly",
      ttl = java.time.Duration.ofHours(12)))
    Registry.save(spark, orig, path)
    val loaded = Registry.load(spark, path)
    assert(loaded.view("aqi_hourly").ttl == java.time.Duration.ofHours(12))
    assert(loaded.listViews.map(_.name).toSet == orig.listViews.map(_.name).toSet)
    val a = loaded.view("aqi_info_v1"); val b = orig.view("aqi_info_v1")
    assert(a.entity == b.entity)
    assert(a.fields == b.fields)
    assert(a.ttl == b.ttl && a.online == b.online && a.tags == b.tags)
    assert(a.schema == b.schema)
  }

  test("registry load accepts the legacy day-granularity format") {
    val path = tmpDir() + "/legacy_registry"
    new java.io.File(path).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/part-0.json"),
      ("""{"name":"old_view","entityName":"entity_id","joinKeys":["entity_id"],""" +
        """"entityDescription":"","fields":[{"name":"aqi","dtype":"double","description":""}],""" +
        """"source":"aqi_info","timestampField":"feature_timestamp","ttlDays":7,""" +
        """"online":true,"tags":{}}""").getBytes("UTF-8"))
    val loaded = Registry.load(spark, path)
    assert(loaded.view("old_view").ttl == java.time.Duration.ofDays(7))
  }

  test("registry: views, refs, describe (check_metadata.py surface)") {
    val r = Registry.defaultRegistry()
    assert(r.listViews.map(_.name) == Seq("aqi_info_v1", "aqi_info_v2"))
    assert(Registry.parseRef("aqi_info_v1:aqi") == Registry.FeatureRef("aqi_info_v1", "aqi"))
    val resolved = r.resolve(Seq("aqi_info_v1:aqi", "aqi_info_v1:hour"))
    assert(resolved.head._2 == Seq("aqi", "hour"))
    assert(r.describe(spark).count() == 2)
    intercept[IllegalArgumentException](Registry.parseRef("no-colon"))
    intercept[NoSuchElementException](r.view("nope"))
  }
}
