package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.fs.{FeatureStore, Ingest, OfflineStore, PointInTime, Registry, Serving}

/** `feature_store`: the reference's three users of one feature store.
  *
  *  - Set-up lands 9 days of the 459-cell grid in one pass.
  *  - Backfill: 5 more days, one day per pass (11k rows a day), each
  *    through raw -> normalize -> append -> readSince -> derive -> append
  *    -> advanceWatermark, the reference's daily job. The first is
  *    untimed warm-up.
  *  - Then rounds of the hourly pipeline beside training and agent reads on
  *    the same store. Each round lands one hour's 459-record JSON file,
  *    runs raw -> normalize -> append -> derive -> append, compacts the
  *    day's partitions of both tables (`compactDay`) unless it is the
  *    day's first hour, and refreshes the online snapshot (forced by an
  *    action); then two agent reads
  *    (`getOnlineFeatures` for the three city keys -> `nextHourFeatures` ->
  *    `withAqiLevel`), one city training read (one city, the last 100
  *    hourly events of the backfill, the four `aqi_info_v1` refs, `withLag`
  *    and a null-drop, as aqi_predict_hn.py does) and one grid training read
  *    (every cell x the 7 days of hourly events before the backfill's end,
  *    77k entity rows).
  * Hanoi's cell is dark for 8.5 days ending 36 hours before the backfill's
  * end, so part of the city read is past the 7-day TTL and null-dropped;
  * a few other cells go dark too. The agent's cities are lit again by the
  * time the hourly rounds start. */
object FeatureStoreLoad {
  val BulkDays = 9
  val BackfillDays = 5
  val CityEvents = 100
  val GridHours = 168
  val ReadsPerHour = 2
  val CityReadsPerHour = 1
  val MaxHours = 200
  /** Timed rounds at least. */
  val MinRounds = 4

  val Refs: Seq[String] = Seq("aqi_info_v1:hour", "aqi_info_v1:day", "aqi_info_v1:dayOfWeek", "aqi_info_v1:aqi")

  /** Feature rows carry `day`; the store partitions on (year, month, day). */
  def withYearMonth(df: DataFrame): DataFrame =
    df.withColumn("year", year(col("feature_timestamp"))).withColumn("month", month(col("feature_timestamp")))

  def date(epochSec: Long): LocalDate = LocalDate.ofEpochDay(Math.floorDiv(epochSec, Gen.Day))

  /** Land the JSON days under `dir` in one pass: raw -> normalize -> append,
    * then derive the features of everything past the watermark, append
    * them and advance the watermark. */
  def bulkLand(offline: OfflineStore, dir: String, firstDay: LocalDate): Unit = {
    val raw = Ingest.normalize(Ingest.readRawJson(offline.spark, dir, multiLine = true))
    offline.append("raw", raw)
    val fresh = offline.readSince("raw", offline.watermark("raw").getOrElse(firstDay))
    offline.append("aqi_info", withYearMonth(Ingest.deriveFeatures(fresh)))
    offline.advanceWatermark("raw", fresh)
  }

  def sameDouble(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9

  def optDouble(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  def run(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val days = BulkDays + BackfillDays
    val end = days * 24
    val hanoi = Gen.cellOf("21.0_105.75")
    val cities = Serving.CityEntities.map { case (_, e) => Gen.cellOf(e) }
    // The grid runs on past the backfill for the hourly rounds.
    val grid = new Gen.Grid(r.seed, days + MaxHours / 24 + 1, forcedDark = Seq(hanoi), darkHours = 204,
      darkEndBeforeEnd = 36 + (MaxHours / 24 + 1) * 24, keepLit = cities.filterNot(_ == hanoi),
      othersEndBy = end)
    val bulkDir = r.inputs.resolve("bulk")
    for (d <- 0 until BulkDays)
      Gen.writeString(bulkDir.resolve(f"day-$d%03d.json"), grid.jsonArray(d * 24 until (d + 1) * 24))
    val dailyFiles = (BulkDays until days).map { d =>
      val p = r.inputs.resolve("daily").resolve(f"day-$d%03d.json")
      Gen.writeString(p, grid.jsonArray(d * 24 until (d + 1) * 24))
      (d, p.toString)
    }
    val offline = OfflineStore(spark, r.store.resolve("offline").toString)
    val firstDay = date(Gen.Epoch0)
    bulkLand(offline, bulkDir.toString, firstDay)
    r.setupDone()

    // Backfill: one day per pass, the reference's daily job.
    def backfillDay(d: Int, file: String): Double = {
      val (_, rawMs) = r.span("ingest.raw") {
        offline.append("raw", Ingest.normalize(Ingest.readRawJson(spark, file, multiLine = true)))
      }
      val fresh = offline.readSince("raw", offline.watermark("raw").getOrElse(firstDay))
      val (_, featMs) = r.span("ingest.features") {
        offline.append("aqi_info", withYearMonth(Ingest.deriveFeatures(fresh)))
      }
      val (wm, wmMs) = r.span("offline.watermark")(offline.advanceWatermark("raw", fresh))
      r.attempted += 1
      r.check(wm.contains(date(grid.dt(d * 24)).plusDays(1)), s"watermark after day $d is $wm")
      grid.rowsIn(d * 24 until (d + 1) * 24) / ((rawMs + featMs + wmMs) / 1000.0)
    }
    // The first day warms the chain (its calls run 2-3x their settled
    // time); the others are timed.
    r.warmOnce { backfillDay(dailyFiles.head._1, dailyFiles.head._2); () }
    val perDay = dailyFiles.tail.map { case (d, file) => backfillDay(d, file) }
    r.endToEnd("write_per_s") = Run.median(perDay)

    // Backfill totals: row count and pm2.5 sum against the generator.
    val all = 0 until end
    val Row(n: Long, cents: Long) = offline.read("raw")
      .agg(count(lit(1)), sum(round(col("pm2_5") * 100).cast("long"))).head()
    r.check(n == grid.rowsIn(all), s"raw rows $n, generated ${grid.rowsIn(all)}")
    r.check(cents == grid.pmCentsIn(all), s"raw pm2_5 cents $cents, generated ${grid.pmCentsIn(all)}")
    val nFeat = offline.read("aqi_info").count()
    r.check(nFeat == n, s"feature rows $nFeat, raw rows $n")

    val store = FeatureStore(offline, Registry.defaultRegistry())
    val cityKeys = Serving.CityEntities.map(_._2).toDF("entity_id")

    // City read: expected rows from the generator, lag over event order,
    // then every row with a null dropped.
    val cityEvents = (end - CityEvents until end).map(grid.dt)
    val (hDts, hPm) = grid.series(hanoi, end)
    val cityFeatures = cityEvents.map(e => Reference.asOf(hDts, hPm, e, Gen.TtlSec))
    val cityExpected = cityEvents.indices.flatMap { i =>
      val lag = if (i == 0) None else cityFeatures(i - 1).map(_.aqi)
      for (f <- cityFeatures(i); l <- lag) yield (cityEvents(i), f, l)
    }
    val cityDf = cityEvents.map(e => (Gen.entityId(hanoi), e)).toDF("entity_id", "ts")
      .select(col("entity_id"), timestamp_seconds(col("ts")).as("event_timestamp"))
    def cityRead(): Double = {
      val (rows, ms) = r.span("pit.city") {
        val hist = store.getHistoricalFeatures(cityDf, Refs)
        PointInTime.withLag(hist, Seq("entity_id"), "event_timestamp", "aqi", "aqi_lag")
          .na.drop()
          .select(unix_seconds(col("event_timestamp")), col("aqi"), col("hour"), col("day"),
            col("dayOfWeek"), col("aqi_lag"))
          .collect()
      }
      val got = rows.map(x => (x.getLong(0), x.getDouble(1), x.getInt(2), x.getInt(3), x.getInt(4),
        x.getDouble(5))).sortBy(_._1)
      r.check(got.length == cityExpected.size, s"city read: ${got.length} rows, expected ${cityExpected.size}")
      got.zip(cityExpected).foreach { case ((ts, a, h, d, w, l), (ets, f, el)) =>
        r.check(ts == ets && sameDouble(a, f.aqi) && h == f.hour && d == f.day &&
          w == f.dayOfWeek && sameDouble(l, el),
          s"city read row at $ts: ($a,$h,$d,$w,$l), expected at $ets: $f lag $el")
      }
      r.countRowsOut("pit.city", rows.length)
      ms
    }

    // Grid read: every cell x the last 7 days of hourly events.
    val gridEvents = (end - GridHours until end).map(grid.dt)
    val gridExpected: Map[(String, Long), Option[Reference.Features]] = (for (c <- Gen.Cells.indices) yield {
      val (dts, pm) = grid.series(c, end)
      gridEvents.map(e => (Gen.entityId(c), e) -> Reference.asOf(dts, pm, e, Gen.TtlSec))
    }).flatten.toMap
    val gridDf = Gen.Cells.indices.map(Gen.entityId).toDF("entity_id")
      .crossJoin(gridEvents.toDF("ts"))
      .select(col("entity_id"), timestamp_seconds(col("ts")).as("event_timestamp"))
    def gridRead(): Double = {
      val (rows, ms) = r.span("pit.grid") {
        store.getHistoricalFeatures(gridDf, Refs)
          .select(col("entity_id"), unix_seconds(col("event_timestamp")), col("aqi"), col("hour"),
            col("day"), col("dayOfWeek"))
          .collect()
      }
      r.check(rows.length == gridExpected.size, s"grid read: ${rows.length} rows, expected ${gridExpected.size}")
      rows.foreach { x =>
        val want = gridExpected.get((x.getString(0), x.getLong(1)))
        val got = optDouble(x, 2).map(a =>
          Reference.Features(a, x.getInt(3), x.getInt(4), x.getInt(5)))
        val ok = (want, got) match {
          case (Some(Some(w)), Some(g)) => sameDouble(w.aqi, g.aqi) && w.copy(aqi = 0) == g.copy(aqi = 0)
          case (Some(None), None) => x.isNullAt(3) && x.isNullAt(4) && x.isNullAt(5)
          case _ => false
        }
        r.check(ok, s"grid read row ${x.getString(0)}@${x.getLong(1)}: $got, expected $want")
      }
      ms
    }

    def agentRead(h: Int): Double = {
      val (rows, ms) = r.span("online.read") {
        val online = store.getOnlineFeatures(Refs, cityKeys,
          asOf = Some(timestamp_seconds(lit(grid.dt(h)))))
        Serving.withAqiLevel(Serving.nextHourFeatures(online))
          .select("entity_id", "aqi", "hour", "day", "dayOfWeek", "next_hour", "next_day",
            "next_dayOfWeek", "last_hour_aqi", "aqi_level_label")
          .collect()
      }
      r.check(rows.length == cities.size, s"agent read at hour $h: ${rows.length} rows")
      r.countRowsOut("online.read", rows.length)
      rows.foreach { x =>
        val c = Gen.cellOf(x.getString(0))
        val want = Reference.aqi(grid.pm25(c, h))
        val (hh, d, w) = Reference.calendar(grid.dt(h))
        val (nh, nd, nw) = Reference.nextHour(hh, d, w)
        val ok = !x.isNullAt(1) && sameDouble(x.getDouble(1), want) &&
          x.getInt(2) == hh && x.getInt(3) == d && x.getInt(4) == w &&
          x.getInt(5) == nh && x.getInt(6) == nd && x.getInt(7) == nw &&
          sameDouble(x.getDouble(8), want) && x.getString(9) == Reference.aqiLevel(want)
        r.check(ok, s"agent read at hour $h: $x, expected aqi $want at ($hh,$d,$w)")
      }
      ms
    }

    /** One simulated hour: land its file, ingest it, compact the day's
      * partitions when due, refresh the online snapshot. Returns (ingest
      * ms, refresh ms). */
    def hour(h: Int): (Double, Double) = {
      val file = r.inputs.resolve("hourly").resolve(f"hour-$h%05d.json")
      Gen.writeString(file, grid.jsonArray(h to h))
      val (raw, rawMs) = r.span("ingest.raw") {
        val raw = Ingest.normalize(Ingest.readRawJson(spark, file.toString, multiLine = true))
        offline.append("raw", raw)
        raw
      }
      val (_, featMs) = r.span("ingest.features") {
        offline.append("aqi_info", withYearMonth(Ingest.deriveFeatures(raw)))
      }
      // Compaction comes before the refresh: the snapshot's plan pins the
      // file listing it was built on. After the day's first hour each
      // partition holds one file: nothing to compact.
      if (h % 24 != 0) {
        val day = date(grid.dt(h))
        val (files, _) = r.span("offline.compact") {
          Seq(offline.compactDay("raw", day), offline.compactDay("aqi_info", day))
        }
        r.check(files.forall { case (before, after) => before > 1 && after == 1 },
          s"compactDay on $day at hour $h: (files before, after) $files")
        r.attempted += 1
      }
      val (n, refreshMs) = r.span("online.refresh")(store.refreshOnline("aqi_info_v1").count())
      val keys = Gen.Cells.indices.count(c => (0 to h).exists(!grid.isDark(c, _)))
      r.check(n == keys, s"snapshot after hour $h has $n keys, expected $keys")
      r.attempted += 2
      (rawMs + featMs, refreshMs)
    }

    store.refreshOnline("aqi_info_v1").count()
    var h = end
    final case class Round(ingestMs: Double, refreshMs: Double, reads: Seq[Double], city: Seq[Double],
        gridMs: Double)
    def hourlyRound(): Round = {
      val (ingestMs, refreshMs) = hour(h)
      val reads = (1 to ReadsPerHour).map(_ => agentRead(h))
      val city = (1 to CityReadsPerHour).map(_ => cityRead())
      val gridMs = gridRead()
      r.attempted += ReadsPerHour + CityReadsPerHour + 1
      h += 1
      Round(ingestMs, refreshMs, reads, city, gridMs)
    }
    // Two untimed hours: each timed operation runs at least once before it
    // is measured (the first calls of a plan shape run 2-6x slower). The
    // second hour is the first with a compaction; its reads are left out.
    r.warmOnce {
      hourlyRound()
      hour(h)
      h += 1
    }

    val rounds = Seq.newBuilder[Round]
    r.startClock()
    var timed = 0
    while ((timed < MinRounds || r.timeLeft) && h < grid.hours) {
      rounds += hourlyRound()
      timed += 1
    }
    val rs = rounds.result()
    r.endToEnd("ingest_ms") = Run.median(rs.map(_.ingestMs))
    r.endToEnd("refresh_ms") = Run.median(rs.map(_.refreshMs))
    r.endToEnd("read_ms") = Run.median(rs.flatMap(_.reads))
    r.endToEnd("query_ms") = Run.median(rs.flatMap(_.city))
    r.endToEnd("scan_ms") = Run.median(rs.map(_.gridMs))

    // Conserved totals across the compactions: every landed reading is in
    // the raw table once and has one feature row.
    val landed = offline.read("raw").count()
    r.check(landed == grid.rowsIn(0 until h), s"raw rows $landed, landed ${grid.rowsIn(0 until h)}")
    val featured = offline.read("aqi_info").count()
    r.check(featured == landed, s"feature rows $featured, raw rows $landed")
  }
}
