package perfbench

import java.time.{Instant, ZoneOffset}

/** Expected outputs, computed from the generator's own records without
  * calling the program. Every check in the workloads compares the
  * program's answer against one of these. */
object Reference {

  /** EPA PM2.5 breakpoints as the reference pipeline lists them
    * (write_to_bigquery.py:93-101): concentration band -> index band.
    * The bands leave gaps (12.0 < c < 12.1 and so on); a concentration in
    * a gap, below 0 or above 500.4 takes the fallback 8.5. */
  private val PmBands: Array[(Double, Double, Double, Double)] = Array(
    (0.0, 12.0, 0.0, 50.0),
    (12.1, 35.4, 51.0, 100.0),
    (35.5, 55.4, 101.0, 150.0),
    (55.5, 150.4, 151.0, 200.0),
    (150.5, 250.4, 201.0, 300.0),
    (250.5, 350.4, 301.0, 400.0),
    (350.5, 500.4, 401.0, 500.0))

  val AqiFallback = 8.5

  def aqi(pm25: Double): Double = {
    var i = 0
    while (i < PmBands.length) {
      val (cLo, cHi, iLo, iHi) = PmBands(i)
      if (pm25 >= cLo && pm25 <= cHi) return (iHi - iLo) / (cHi - cLo) * (pm25 - cLo) + iLo
      i += 1
    }
    AqiFallback
  }

  /** The agent's level label (agent.py:103-107). */
  def aqiLevel(aqi: Double): String =
    if (aqi <= 50) "Good" else if (aqi <= 100) "Moderate"
    else if (aqi <= 150) "Sensitive" else "Polluted"

  /** (hour, day of month, day of week with 1 = Sunday) of a UTC instant. */
  def calendar(epochSec: Long): (Int, Int, Int) = {
    val t = Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC)
    (t.getHour, t.getDayOfMonth, t.getDayOfWeek.getValue % 7 + 1)
  }

  /** Next-hour clock with day and weekday rollover (agent.py:88-90). The
    * day of month rolls over by +1 without wrapping, as the agent does. */
  def nextHour(hour: Int, day: Int, dow: Int): (Int, Int, Int) =
    if (hour == 23) (0, day + 1, dow % 7 + 1) else (hour + 1, day, dow)

  /** One expected training row: the features of the latest reading at or
    * before the event, within the TTL, or None when nothing qualifies. */
  final case class Features(aqi: Double, hour: Int, day: Int, dayOfWeek: Int)

  /** Point-in-time lookup over one cell's readings (`dts` ascending,
    * `pm25` aligned): the latest reading with event - ttl <= dt <= event. */
  def asOf(dts: Array[Long], pm25: Array[Double], event: Long, ttlSec: Long): Option[Features] = {
    var lo = 0
    var hi = dts.length - 1
    var at = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (dts(mid) <= event) { at = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (at < 0 || dts(at) < event - ttlSec) None
    else {
      val (h, d, w) = calendar(dts(at))
      Some(Features(aqi(pm25(at)), h, d, w))
    }
  }

  /** BM25 top-k over the surviving corpus, in the program's documented
    * quantisation: idf in integer milli-nats, each per-term score rounded
    * to an integer milli-score, per-document sums exact, ties broken by
    * ascending doc id. Returns (doc id, summed milli-score) per rank. */
  final class Bm25(k1: Double = 1.2, b: Double = 0.75) {
    private val postings = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.LongMap[Int]]
    private val docTerms = scala.collection.mutable.LongMap.empty[Map[String, Int]]
    private val docLen = scala.collection.mutable.LongMap.empty[Long]
    private var totalLen = 0L

    def insert(id: Long, tokens: Seq[String]): Unit = {
      require(!docTerms.contains(id), s"doc $id inserted twice")
      val tf = tokens.groupMapReduce(identity)(_ => 1)(_ + _)
      docTerms(id) = tf
      docLen(id) = tokens.size.toLong
      totalLen += tokens.size
      tf.foreach { case (t, n) => postings.getOrElseUpdate(t, scala.collection.mutable.LongMap.empty)(id) = n }
    }

    def delete(id: Long): Unit = {
      val tf = docTerms.remove(id).getOrElse(sys.error(s"doc $id deleted but not present"))
      totalLen -= docLen.remove(id).get
      tf.keys.foreach(t => postings(t).remove(id))
    }

    /** Spark's `round(x, 0)` on a double: HALF_UP on the double's decimal
      * form. */
    private def roundHalfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

    def topK(query: Seq[String], k: Int): Seq[(Long, Long)] = {
      val n = docTerms.size.toLong
      val avgdl = if (n > 0) totalLen.toDouble / n.toDouble else 0d
      val scores = scala.collection.mutable.LongMap.empty[Long]
      for (t <- query.distinct; ps <- postings.get(t) if ps.nonEmpty) {
        val df = ps.size.toLong
        val idfM = roundHalfUp(math.log((n.toDouble - df + 0.5d) / (df + 0.5d) + 1d) * 1000d)
        ps.foreach { case (doc, tf) =>
          val dl = docLen(doc).toDouble
          val norm = k1 * ((1d - b) + (if (avgdl > 0) b * dl / avgdl else 0d))
          val s = roundHalfUp(idfM * (tf.toDouble * (k1 + 1d)) / (tf.toDouble + norm))
          scores(doc) = scores.getOrElse(doc, 0L) + s
        }
      }
      scores.toSeq.sortBy { case (doc, s) => (-s, doc) }.take(k)
    }
  }

  /** The table's expected contents: key -> row, with the layout's
    * upsert (replace or insert by key) and delete-by-key semantics. */
  final case class TableRow(id: Long, lat: Double, lon: Double, dt: Long, pm25: Double)

  final class TableModel {
    private val rows = scala.collection.mutable.LongMap.empty[TableRow]
    def size: Int = rows.size
    def sumPm25Cents: Long = rows.valuesIterator.map(r => math.round(r.pm25 * 100)).sum
    def get(id: Long): Option[TableRow] = rows.get(id)
    def ids: Iterator[Long] = rows.keysIterator
    /** Append of fresh keys: the generator never reuses a key here. */
    def append(rs: Seq[TableRow]): Unit = rs.foreach { r =>
      require(!rows.contains(r.id), s"append reuses key ${r.id}")
      rows(r.id) = r
    }
    /** Returns (rows replaced, rows landed), as `Layout.upsertByKey` does:
      * every update row lands; stored rows sharing its key are replaced. */
    def upsert(rs: Seq[TableRow]): (Long, Long) = {
      val replaced = rs.count(r => rows.contains(r.id)).toLong
      rs.foreach(r => rows(r.id) = r)
      (replaced, rs.size.toLong)
    }
    /** Returns rows removed. */
    def delete(ids: Seq[Long]): Long = ids.distinct.count(id => rows.remove(id).isDefined).toLong
    def range(latLo: Double, latHi: Double, lonLo: Double, lonHi: Double): Seq[TableRow] =
      rows.valuesIterator.filter(r => r.lat >= latLo && r.lat <= latHi && r.lon >= lonLo && r.lon <= lonHi)
        .toSeq.sortBy(_.id)
  }
}
