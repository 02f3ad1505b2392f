package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.fs.Layout
import graft.streaming.OnlineRefresh

/** The Z-ordered readings table and its commit log (half of the
  * `artifacts` workload).
  *
  * Set-up builds a table of 10k readings Z-ordered on (lat, lon) with its
  * manifest and key index. Each cycle appends a 1k-row epoch, upserts 120
  * rows (100 corrections, 20 new keys) and deletes 100 keys, each followed
  * by its index refresh, then runs 4 point reads (`Layout.pointRead`) and 2
  * SQL range reads through `format("graft")`. A `maintainLayout` pass
  * follows every cycle; by its own policy it compacts when the table holds
  * more files than the built table's 8, which is every second cycle. Every
  * read is checked against the benchmark's own model of the table; count
  * and pm2.5 sum must not change across maintenance. */
object TableLoad {
  val FirstRows = 10000
  val AppendRows = 1000
  val Corrections = 100
  val NewKeys = 20
  val Deletes = 100
  val PointReads = 4
  val RangeReads = 2
  val ZCols = Seq("lat", "lon")
  val Key = "id"

  /** One write-and-read cycle: rows written, their ms with the index
    * refreshes, and each read's ms. */
  final case class Cycle(rows: Int, writeMs: Double, pointMs: Seq[Double], rangeMs: Seq[Double])

  /** Build the table; returns the cycle and the maintenance pass to run
    * after it. */
  def setup(r: Run): (() => Cycle, () => Unit) = {
    import r.spark.implicits._
    val spark = r.spark
    val rnd = new scala.util.Random(r.seed)
    val model = new Reference.TableModel
    val path = r.store.resolve("readings").toString
    var nextId = 0L
    var batch = 0L

    def reading(id: Long): Reference.TableRow = Reference.TableRow(id,
      math.round((19.5 + rnd.nextDouble() * 4.0) * 100) / 100.0,
      math.round((102.0 + rnd.nextDouble() * 6.5) * 100) / 100.0,
      Gen.Epoch0 + rnd.nextInt(90 * 24) * Gen.Hour,
      math.round(rnd.nextDouble() * 30000) / 100.0)
    def fresh(n: Int): Seq[Reference.TableRow] = Seq.fill(n) { nextId += 1; reading(nextId) }
    def frame(rows: Seq[Reference.TableRow]): DataFrame =
      rows.map(x => (x.id, x.lat, x.lon, x.dt, x.pm25)).toDF("id", "lat", "lon", "dt", "pm25")
    def rowOf(x: Row) = Reference.TableRow(x.getLong(0), x.getDouble(1), x.getDouble(2), x.getLong(3), x.getDouble(4))
    def existing(n: Int): Seq[Long] = {
      val ids = model.ids.toVector
      rnd.shuffle(ids).take(n)
    }

    val first = fresh(FirstRows)
    Layout.buildZorderedEpoch(frame(first), path, ZCols, bits = 6, numFiles = 8, batchId = 0L)
    Layout.writeLayoutIndexes(spark, path, ZCols, Key)
    model.append(first)

    def totals(): (Long, Long) = {
      val x = spark.read.parquet(path).agg(count(lit(1)), sum(round(col("pm25") * 100).cast("long"))).head()
      (x.getLong(0), x.getLong(1))
    }

    val cycle = () => {
      batch += 1
      val add = fresh(AppendRows)
      val (_, aMs) = r.span("layout.append") {
        Layout.appendZorderedEpoch(frame(add), path, batch, numFiles = 2)
        Layout.refreshLayoutIndexes(spark, path, ZCols, Key)
      }
      model.append(add)

      batch += 1
      val upd = existing(Corrections).map(reading) ++ fresh(NewKeys)
      val ((replaced, inserted), uMs) = r.span("layout.upsert") {
        val res = Layout.upsertByKey(spark, path, frame(upd), Key, numFiles = 1, batchId = Some(batch))
        Layout.refreshLayoutIndexes(spark, path, ZCols, Key, allowGone = true)
        res
      }
      val want = model.upsert(upd)
      r.check((replaced, inserted) == want, s"upsert returned ($replaced, $inserted), model $want")

      val victims = existing(Deletes) ++ Seq(-1L, -2L)
      val (removed, dMs) = r.span("layout.delete") {
        val n = Layout.deleteByKeys(spark, path, victims.toDF(Key), Key)
        Layout.refreshLayoutIndexes(spark, path, ZCols, Key, allowGone = true)
        n
      }
      val wantRemoved = model.delete(victims)
      r.check(removed == wantRemoved, s"delete removed $removed, model $wantRemoved")

      val points = (1 to PointReads).map { i =>
        val id = if (i % 4 == 0) nextId + 1000 + i else rnd.nextLong(nextId) + 1
        val (rows, ms) = r.span("layout.point_read") {
          Layout.pointRead(spark, path, Key, lit(id)).select("id", "lat", "lon", "dt", "pm25").collect()
        }
        r.check(rows.map(rowOf).toSeq == model.get(id).toSeq, s"point read $id: ${rows.toSeq}, model ${model.get(id)}")
        r.countRowsOut("layout.point_read", rows.length)
        ms
      }

      val ranges = (1 to RangeReads).map { _ =>
        val la = math.round((19.5 + rnd.nextDouble() * 3.0) * 100) / 100.0
        val lo = math.round((102.0 + rnd.nextDouble() * 5.0) * 100) / 100.0
        val (rows, ms) = r.span("layout.range_read") {
          spark.read.format("graft").load(path).createOrReplaceTempView("readings")
          spark.sql(s"SELECT id, lat, lon, dt, pm25 FROM readings WHERE lat BETWEEN ${la}D AND ${la + 1.0}D " +
            s"AND lon BETWEEN ${lo}D AND ${lo + 1.5}D").collect()
        }
        val got = rows.map(rowOf).toSeq.sortBy(_.id)
        r.check(got == model.range(la, la + 1.0, lo, lo + 1.5),
          s"range read [$la,${la + 1.0}]x[$lo,${lo + 1.5}]: ${got.size} rows, model ${model.range(la, la + 1.0, lo, lo + 1.5).size}")
        ms
      }

      r.attempted += 3 + PointReads + RangeReads
      Cycle(add.size + upd.size + victims.size, aMs + uMs + dMs, points, ranges)
    }

    val maintain = () => {
      r.span("layout.maintain") {
        OnlineRefresh.maintainLayout(spark, path, ZCols, Key, maxFiles = 8, numFiles = 8).collect()
      }
      // The model is what the reads before maintenance were checked
      // against; maintenance must leave count and sum as they were.
      val after = totals()
      r.check(after == (model.size.toLong, model.sumPm25Cents),
        s"totals after maintainLayout $after, model ${(model.size, model.sumPm25Cents)}")
      r.attempted += 1
    }
    (cycle, maintain)
  }
}
