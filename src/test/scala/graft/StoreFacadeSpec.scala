package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.fs.{FeatureStore, OfflineStore, OnlineStore, PointInTime, Registry}

/** The unified facade must run the reference's training and serving scripts
  * shape-for-shape: `store.get_historical_features(entity_df, features=
  * ["aqi_info_v1:hour", ...])` (model/aqi_predict_hn.py:18-47, including
  * the lag + dropna post-processing) and `store.get_online_features(
  * features, entity_rows)` (agent/aqi-agent/app/agent.py:73-76). */
class StoreFacadeSpec extends SparkSpec {
  import spark.implicits._

  private val entityId = "21.0_105.75"
  private def ts(h: Int): Timestamp = Timestamp.valueOf(f"2025-05-01 ${h}%02d:00:00")

  // hourly aqi_info history: feature at hour h carries aqi = 10*h
  private lazy val history = (0 until 24).map(h =>
    (entityId, ts(h), h, 1, 5, 10.0 * h, h.toLong))
    .toDF("entity_id", "feature_timestamp", "hour", "day", "dayOfWeek", "aqi", "fid")

  private lazy val store = new FeatureStore(
    Registry.defaultRegistry(),
    Map("aqi_info" -> history),
    tieBreaks = Map("aqi_info" -> Seq("fid")))

  private val refs = Seq("aqi_info_v1:hour", "aqi_info_v1:day",
    "aqi_info_v1:dayOfWeek", "aqi_info_v1:aqi")

  test("get_historical_features: reference entity_df shape, PIT-correct values") {
    // entity_df = entity_id × hourly event_timestamps (aqi_predict_hn.py:18-22);
    // probes at :30 so each should see the feature of the SAME hour
    val entityDf = (0 until 24).map(h =>
      (entityId, Timestamp.valueOf(f"2025-05-01 ${h}%02d:30:00")))
      .toDF("entity_id", "event_timestamp")
    val out = store.getHistoricalFeatures(entityDf, refs)
    assert(out.columns.toSeq ==
      Seq("entity_id", "event_timestamp", "hour", "day", "dayOfWeek", "aqi"))
    val rows = out.orderBy("event_timestamp")
      .select("hour", "aqi").as[(Int, Double)].collect()
    assert(rows.length == 24)
    rows.zipWithIndex.foreach { case ((h, aqi), i) =>
      assert(h == i && aqi == 10.0 * i, s"probe $i matched wrong feature row")
    }
  }

  test("get_historical_features: TTL excludes stale features; unknown entity → nulls") {
    val entityDf = Seq(
      (entityId, Timestamp.valueOf("2025-05-20 00:00:00")), // > 7d after history
      ("no_such_entity", ts(5))
    ).toDF("entity_id", "event_timestamp")
    val out = store.getHistoricalFeatures(entityDf, refs)
    assert(out.count() == 2)
    assert(out.where(col("aqi").isNotNull).count() == 0)
  }

  test("training post-processing: lag + dropna over the facade read (script steps 2)") {
    val entityDf = (0 until 24).map(h => (entityId, ts(h)))
      .toDF("entity_id", "event_timestamp")
    val training = store.getHistoricalFeatures(entityDf, refs)
    // training_df['last_hour_aqi'] = aqi.shift(1); dropna (aqi_predict_hn.py:40-47)
    val withLag = PointInTime.withLag(training, Seq("entity_id"),
      "event_timestamp", "aqi", "last_hour_aqi", 1, Nil).na.drop()
    val rows = withLag.orderBy("event_timestamp")
      .select("aqi", "last_hour_aqi").as[(Double, Double)].collect()
    assert(rows.length == 23) // first row dropped by the shift
    rows.zipWithIndex.foreach { case ((aqi, prev), i) =>
      assert(aqi == 10.0 * (i + 1) && prev == 10.0 * i)
    }
  }

  test("get_online_features: latest row per entity_rows key; absent key → nulls") {
    val keys = Seq(entityId, "absent").toDF("entity_id")
    val out = store.getOnlineFeatures(refs, keys)
    assert(out.columns.toSeq == Seq("entity_id", "hour", "day", "dayOfWeek", "aqi"))
    val byKey = out.collect().map(r => r.getString(0) -> r).toMap
    assert(byKey(entityId).getInt(1) == 23 && byKey(entityId).getDouble(4) == 230.0)
    assert(byKey("absent").isNullAt(4))
  }

  test("get_online_features: asOf + view TTL expires stale snapshots to null") {
    val keys = Seq(entityId).toDF("entity_id")
    val fresh = store.getOnlineFeatures(refs, keys,
      asOf = Some(to_timestamp(lit("2025-05-02 00:00:00"))))
    assert(fresh.collect().head.getDouble(4) == 230.0)
    val stale = store.getOnlineFeatures(refs, keys,
      asOf = Some(to_timestamp(lit("2025-06-01 00:00:00")))) // > 7d TTL
    assert(stale.collect().head.isNullAt(4))
  }

  test("production wiring: facade over a real OfflineStore table") {
    val root = java.nio.file.Files.createTempDirectory("graft-facade-store").toString
    val offline = OfflineStore(spark, root)
    // day-partitioned feature history, two entities
    offline.append("aqi_info", history
      .withColumn("year", year(col("feature_timestamp")))
      .withColumn("month", month(col("feature_timestamp")))
      .withColumn("day", dayofmonth(col("feature_timestamp"))))
    val store = FeatureStore(offline, Registry.defaultRegistry(),
      tieBreaks = Map("aqi_info" -> Seq("fid")))

    val entityDf = Seq((entityId, ts(10))).toDF("entity_id", "event_timestamp")
    val hist = store.getHistoricalFeatures(entityDf, refs).collect().head
    assert(hist.getAs[Double]("aqi") == 100.0 && hist.getAs[Int]("hour") == 10)

    val online = store.getOnlineFeatures(refs, Seq(entityId).toDF("entity_id")).collect().head
    assert(online.getAs[Double]("aqi") == 230.0)

    // the snapshot is frozen at first use: appends after materialization
    // stay invisible until an explicit refresh (the Feast materialize step)
    val later = Seq((entityId, Timestamp.valueOf("2025-05-02 03:00:00"), 3, 2, 6, 999.0, 99L))
      .toDF("entity_id", "feature_timestamp", "hour", "day", "dayOfWeek", "aqi", "fid")
    offline.append("aqi_info", later
      .withColumn("year", year(col("feature_timestamp")))
      .withColumn("month", month(col("feature_timestamp")))
      .withColumn("day", dayofmonth(col("feature_timestamp"))))
    val frozen = store.getOnlineFeatures(refs, Seq(entityId).toDF("entity_id")).collect().head
    assert(frozen.getAs[Double]("aqi") == 230.0, "cached snapshot must be frozen pre-refresh")
    store.refreshOnline("aqi_info_v1")
    val refreshed = store.getOnlineFeatures(refs, Seq(entityId).toDF("entity_id")).collect().head
    assert(refreshed.getAs[Double]("aqi") == 999.0, "refreshOnline must see the append")
  }

  /** Feature rows (entity, hour stamp, aqi, fid) landed in a day-partitioned
    * `aqi_info` table, the production layout. */
  private def land(offline: OfflineStore, rows: (String, String, Double, Long)*): Unit =
    offline.append("aqi_info", rows.map { case (e, t, aqi, fid) =>
      val ts = Timestamp.valueOf(t)
      (e, ts, ts.toLocalDateTime.getHour, 1, 5, aqi, fid)
    }.toDF("entity_id", "feature_timestamp", "hour", "day", "dayOfWeek", "aqi", "fid")
      .withColumn("year", year(col("feature_timestamp")))
      .withColumn("month", month(col("feature_timestamp")))
      .withColumn("day", dayofmonth(col("feature_timestamp"))))

  private def offlineStore(prefix: String): (OfflineStore, FeatureStore) = {
    val offline = OfflineStore(spark, java.nio.file.Files.createTempDirectory(prefix).toString)
    (offline, FeatureStore(offline, Registry.defaultRegistry(), tieBreaks = Map("aqi_info" -> Seq("fid"))))
  }

  test("refreshOnline ≡ latestSnapshot of the OfflineStore table after every step") {
    val (offline, store) = offlineStore("graft-facade-refresh")
    val view = "aqi_info_v1"
    def agrees(step: String): Map[String, Row] = {
      val got = store.refreshOnline(view)
      val want = OnlineStore.latestSnapshot(offline.read("aqi_info"),
        Seq("entity_id"), "feature_timestamp", Seq("fid"))
      assert(got.columns.toSeq == want.columns.toSeq, step)
      val rows = got.collect().sortBy(_.getString(0)).toSeq
      assert(rows == want.collect().sortBy(_.getString(0)).toSeq, step)
      rows.map(r => r.getString(0) -> r).toMap
    }
    def aqi(snap: Map[String, Row], e: String) = snap(e).getAs[Double]("aqi")

    land(offline, ("a", "2025-05-01 01:00:00", 1.0, 1L), ("b", "2025-05-01 02:00:00", 2.0, 2L))
    store.materializeOnline(view)
    agrees("first build")
    land(offline, ("a", "2025-05-02 01:00:00", 3.0, 3L))
    assert(aqi(agrees("new day"), "a") == 3.0)
    land(offline, ("b", "2025-05-02 04:00:00", 4.0, 4L))
    assert(aqi(agrees("append to the same day"), "b") == 4.0)

    // an append then a compaction of its day: reads keep serving the held
    // rows, which reference no file that the compaction replaced
    land(offline, ("a", "2025-05-02 05:00:00", 5.0, 5L))
    assert(offline.compactDay("aqi_info", java.time.LocalDate.of(2025, 5, 2)) == ((3, 1)))
    val frozen = store.getOnlineFeatures(refs, Seq("a", "b").toDF("entity_id"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("aqi")).toMap
    assert(frozen == Map("a" -> 3.0, "b" -> 4.0), "reads before the refresh serve the frozen rows")
    assert(aqi(agrees("compactDay"), "a") == 5.0)

    land(offline, ("a", "2025-05-01 23:00:00", 6.0, 6L))
    assert(aqi(agrees("late row older than the key's latest"), "a") == 5.0)
    land(offline, ("c", "2025-05-01 03:00:00", 7.0, 7L))
    assert(aqi(agrees("new key in an old day"), "c") == 7.0)
    val before = store.materializeOnline(view)
    agrees("no change")
    assert(store.materializeOnline(view) eq before, "a refresh with nothing changed keeps the snapshot")

    assert(offline.expireOlderThan("aqi_info", java.time.LocalDate.of(2025, 5, 2)) == 1)
    val expired = agrees("expireOlderThan")
    assert(expired.keySet == Set("a", "b"), "a key whose rows all expired leaves the snapshot")

    // a day's files deleted with its dir kept: the listing still names the
    // dir, now empty, and its rows must leave the snapshot as an expired
    // day's do
    land(offline, ("c", "2025-05-03 01:00:00", 8.0, 8L))
    assert(aqi(agrees("new day"), "c") == 8.0)
    val day = new org.apache.hadoop.fs.Path(s"${offline.root}/aqi_info/year=2025/month=5/day=3")
    val hfs = day.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.listStatus(day).foreach(f => assert(hfs.delete(f.getPath, false)))
    assert(hfs.exists(day) && hfs.listStatus(day).isEmpty)
    assert(agrees("a day emptied in place").keySet == Set("a", "b"),
      "a key whose only day was emptied in place leaves the snapshot")
  }

  test("refreshOnline keeps the snapshot's columns when an append adds one") {
    val (offline, store) = offlineStore("graft-facade-schema")
    land(offline, ("a", "2025-05-01 01:00:00", 1.0, 1L))
    val cols = store.materializeOnline("aqi_info_v1").columns.toSeq
    offline.append("aqi_info", Seq(("a", Timestamp.valueOf("2025-05-02 01:00:00"), 1, 5, 2.0, 2L, 9.5))
      .toDF("entity_id", "feature_timestamp", "hour", "dayOfWeek", "aqi", "fid", "extra")
      .withColumn("year", lit(2025)).withColumn("month", lit(5)).withColumn("day", lit(2)))
    val snap = store.refreshOnline("aqi_info_v1")
    assert(snap.columns.toSeq == cols, "the delta is read under the held schema")
    assert(snap.collect().map(_.getAs[Double]("aqi")).toSeq == Seq(2.0), "the new day still folds")
  }

  test("online reads scan no source file; a refresh reads only changed days, none when unchanged") {
    val (offline, store) = offlineStore("graft-facade-work")
    land(offline, (entityId, "2025-05-01 01:00:00", 1.0, 1L), (entityId, "2025-05-01 02:00:00", 2.0, 2L))
    store.materializeOnline("aqi_info_v1")

    val read = store.getOnlineFeatures(refs, Seq(entityId).toDF("entity_id"))
    val (_, readRecords) = sparkWork(assert(read.collect().head.getAs[Double]("aqi") == 2.0))
    val scans = new AdaptiveSparkPlanHelper {}.collect(read.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty && readRecords == 0, s"an online read scanned files: $scans")

    assert(sparkWork(store.refreshOnline("aqi_info_v1"))._1 == 0, "nothing changed, yet a job ran")
    land(offline, (entityId, "2025-05-02 01:00:00", 3.0, 3L))
    // a small delta folds with the held rows in one partition: one stage, no shuffle
    val (stages, records) = sparkWork(store.refreshOnline("aqi_info_v1"))
    assert(stages == 1 && records == 1, s"a one-row day refreshed in $stages stages reading $records rows")
  }

  /** 14 days of day-partitioned `aqi_info` history, 2025-05-01..14: key a
    * at 05:00 and 23:00 each day, b at 12:00, c once at 05-01 05:00; aqi
    * encodes day and hour. Registry: the default views plus a TTL-less
    * `aqi_info_nottl` over the same source. */
  private def fortnight(prefix: String): (OfflineStore, Registry.FeatureRegistry, FeatureStore) = {
    val offline = OfflineStore(spark, java.nio.file.Files.createTempDirectory(prefix).toString)
    val rows = for (d <- 1 to 14; (e, h) <- Seq(("a", 5), ("a", 23), ("b", 12)))
      yield (e, f"2025-05-$d%02d $h%02d:00:00", d * 100.0 + h)
    land(offline, (rows :+ (("c", "2025-05-01 05:00:00", 1.0))).zipWithIndex
      .map { case ((e, t, aqi), i) => (e, t, aqi, i.toLong) }: _*)
    val registry = Registry.defaultRegistry()
    registry.applyView(registry.view("aqi_info_v1").copy(name = "aqi_info_nottl", ttl = java.time.Duration.ZERO))
    (offline, registry, FeatureStore(offline, registry, tieBreaks = Map("aqi_info" -> Seq("fid"))))
  }

  /** The unscoped read: the merge PIT over the whole `offline.read`, view
    * by view in the facade's (name-sorted) order. */
  private def unscoped(offline: OfflineStore, registry: Registry.FeatureRegistry,
      entityDf: org.apache.spark.sql.DataFrame, features: Seq[String]) =
    registry.resolve(features).toSeq.sortBy(_._1.name).foldLeft(entityDf) { case (acc, (v, fields)) =>
      PointInTime.historicalFeaturesMerge(acc, offline.read(v.source), v.entity.joinKeys,
        "event_timestamp", v.timestampField, fields,
        if (v.ttl.isZero) None else Some(s"${v.ttl.toSeconds} SECONDS"), Seq("fid"))
    }

  private def byProbe(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def executedNodes[T](df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan)(pf)

  test("a driver-held entity frame's scoped read ≡ the unscoped merge over the whole OfflineStore table") {
    val (offline, registry, store) = fortnight("graft-facade-scope")
    def t(s: String) = Timestamp.valueOf(s)
    val entityDf = Seq(
      (1L, "a", t("2025-05-10 06:00:00")),
      (2L, "zz", t("2025-05-10 06:00:00")),   // key absent from history
      (3L, "a", t("2025-04-20 00:00:00")),    // earlier than all history
      (4L, "c", t("2025-05-08 05:00:00")),    // exactly TTL after c's only feature: served
      (5L, "c", t("2025-05-08 05:00:01")),    // one second past it: only the TTL-less view serves
      (6L, "a", t("2025-05-11 23:30:00")),    // these two span a day boundary
      (7L, "a", t("2025-05-12 00:30:00")),
      (8L, null, t("2025-05-10 06:00:00"))    // null key: matches nothing
    ).toDF("probe_id", "entity_id", "event_timestamp")
    assert(entityDf.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    for (features <- Seq(refs, Seq("aqi_info_nottl:aqi"), Seq("aqi_info_v1:aqi", "aqi_info_nottl:hour"))) {
      val got = byProbe(store.getHistoricalFeatures(entityDf, features))
      assert(got == byProbe(unscoped(offline, registry, entityDf, features)), features)
    }
    val twoViews = byProbe(store.getHistoricalFeatures(entityDf, Seq("aqi_info_v1:aqi", "aqi_info_nottl:hour")))
      .map(r => r.getLong(0) -> (Option(r.getAs[Any]("aqi")), Option(r.getAs[Any]("hour")))).toMap
    assert(twoViews == Map(
      1L -> ((Some(1005.0), Some(5))), 2L -> ((None, None)), 3L -> ((None, None)),
      4L -> ((Some(1.0), Some(5))), 5L -> ((None, Some(5))),
      6L -> ((Some(1123.0), Some(23))), 7L -> ((Some(1123.0), Some(23))), 8L -> ((None, None))))
  }

  test("a driver-held entity frame reads only its window's day dirs and shuffles only in-scope rows") {
    val (offline, registry, store) = fortnight("graft-facade-scope-plan")
    val entityDf = Seq((1L, "a", Timestamp.valueOf("2025-05-10 06:00:00")),
      (2L, "a", Timestamp.valueOf("2025-05-10 07:00:00"))).toDF("probe_id", "entity_id", "event_timestamp")
    val inScope = offline.read("aqi_info").where(col("entity_id") === "a" &&
      col("feature_timestamp").between(Timestamp.valueOf("2025-05-03 06:00:00"),
        Timestamp.valueOf("2025-05-10 07:00:00"))).count() + 2

    def read(entity: org.apache.spark.sql.DataFrame) = {
      val out = store.getHistoricalFeatures(entity, refs)
      assert(byProbe(out) == byProbe(unscoped(offline, registry, entity, refs)))
      val days = executedNodes(out) { case f: FileSourceScanExec => f.metrics("numPartitions").value }
      val shuffled = executedNodes(out) { case e: ShuffleExchangeExec =>
        e.metrics("shuffleRecordsWritten").value }
      (days, shuffled.sum)
    }
    val (days, shuffled) = read(entityDf)
    // 05-10 minus the 7-day TTL, widened a day each side: 05-02..05-11
    assert(days == Seq(10L), s"scoped scan read day dirs $days, expected 10 of 14")
    assert(shuffled > 0 && shuffled <= inScope, s"shuffled $shuffled rows, in scope $inScope")

    // a distributed entity frame is not scoped: the whole history (43
    // rows) and the 2 entity rows, which the repartition shuffled once more
    val (allDays, allShuffled) = read(entityDf.repartition(2))
    assert(allDays == Seq(14L) && allShuffled == 43 + 2 + 2, s"$allDays days, $allShuffled rows")
  }

  test("an empty driver-held entity frame reads no feature rows") {
    val (_, _, store) = fortnight("graft-facade-scope-empty")
    val empty = Seq.empty[(Long, String, Timestamp)].toDF("probe_id", "entity_id", "event_timestamp")
    val out = store.getHistoricalFeatures(empty, refs)
    val (_, records) = sparkWork(assert(out.collect().isEmpty))
    assert(out.columns.toSeq == Seq("probe_id", "entity_id", "event_timestamp", "hour", "day", "dayOfWeek", "aqi"))
    val scans = executedNodes(out) { case f: FileSourceScanExec => f }
    assert(scans.isEmpty && records == 0, s"an empty entity frame scanned $records rows: $scans")
  }

  test("multi-view resolution joins each requested view once") {
    val refs2 = Seq("aqi_info_v1:aqi", "aqi_info_v2:hour")
    val entityDf = Seq((entityId, ts(5))).toDF("entity_id", "event_timestamp")
    val out = store.getHistoricalFeatures(entityDf, refs2)
    val r = out.collect().head
    assert(out.columns.toSeq == Seq("entity_id", "event_timestamp", "aqi", "hour"))
    assert(r.getDouble(2) == 50.0 && r.getInt(3) == 5)
  }
}
