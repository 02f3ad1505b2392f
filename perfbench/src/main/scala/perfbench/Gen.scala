package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded input generators. The same seed gives the same inputs; nothing
  * here depends on the program. */
object Gen {

  /** The reference grid: 17 x 27 cells at 0.25 degrees over northern
    * Vietnam (lat 19.5-23.5, lon 102.0-108.5), 459 cells. */
  val Lats: IndexedSeq[Double] = (0 until 17).map(i => 19.5 + 0.25 * i)
  val Lons: IndexedSeq[Double] = (0 until 27).map(j => 102.0 + 0.25 * j)
  val Cells: IndexedSeq[(Double, Double)] = for (la <- Lats; lo <- Lons) yield (la, lo)
  def entityId(cell: Int): String = s"${Cells(cell)._1}_${Cells(cell)._2}"
  def cellOf(entityId: String): Int = Cells.indexWhere { case (la, lo) => s"${la}_$lo" == entityId }

  /** 2024-01-01T00:00:00Z: the first hour of every generated history. */
  val Epoch0 = 1704067200L
  val Hour = 3600L
  val Day = 86400L
  val TtlSec: Long = 7 * Day

  /** Concentrations that sit on a band edge, inside a gap between bands,
    * or out of range, so the AQI fallback and every edge are exercised. */
  private val SpecialPm = Array(0.0, 12.0, 12.1, 35.4, 35.5, 55.4, 55.5, 150.4, 150.5,
    250.4, 250.5, 350.4, 350.5, 500.4, 12.05, 35.45, 55.45, 150.45, 250.45, 350.45,
    500.5, 612.0)

  /** Hourly readings of every cell over `days` days. A cell that is dark
    * (no readings) for an interval longer than the TTL shows expiry.
    * `forcedDark` cells are dark for `darkHours`, ending `darkEndBeforeEnd`
    * hours before the last hour; a few other seeded cells, never one of
    * `keepLit`, go dark too, their dark spells ending in the 72 hours
    * before `othersEndBy` (default: the last hour). */
  final class Grid(seed: Long, val days: Int, forcedDark: Seq[Int], darkHours: Int, darkEndBeforeEnd: Int,
      keepLit: Seq[Int] = Nil, othersEndBy: Int = -1) {
    val hours: Int = days * 24
    private val rnd = new scala.util.Random(seed)
    private val level = Array.fill(Cells.size)(8.0 + rnd.nextDouble() * 60.0)
    /** Per cell: [start, end) hour index of its dark interval, or (0, 0). */
    val dark: Array[(Int, Int)] = Array.fill(Cells.size)((0, 0))
    private val others = rnd.shuffle(Cells.indices.filterNot(c => forcedDark.contains(c) || keepLit.contains(c)).toVector).take(Cells.size / 25)
    for (c <- forcedDark) {
      val end = hours - darkEndBeforeEnd
      dark(c) = (end - darkHours, end)
    }
    for (c <- others) {
      val len = TtlSec.toInt / 3600 + 12 + rnd.nextInt(72)
      val end = (if (othersEndBy >= 0) othersEndBy else hours) - rnd.nextInt(72)
      dark(c) = ((end - len).max(0), end)
    }

    /** A uniform double in [0, 1) that depends only on (seed, cell, hour,
      * k): any record can be regenerated without replaying a stream. */
    private def u(cell: Int, h: Int, k: Int): Double =
      (mix(seed * 0x100000001B3L ^ (cell.toLong << 40) ^ (h.toLong << 8) ^ k) >>> 11) / 9007199254740992.0

    def isDark(cell: Int, h: Int): Boolean = h >= dark(cell)._1 && h < dark(cell)._2

    /** pm2.5 of (cell, hour) in exact cents: a function of the seed and the
      * coordinates alone, so any hour can be regenerated independently. */
    def pm25(cell: Int, h: Int): Double =
      if (u(cell, h, 0) < 1.0 / 40) SpecialPm((u(cell, h, 1) * SpecialPm.length).toInt)
      else {
        val diurnal = 1.0 + 0.35 * math.sin((h % 24) / 24.0 * 2 * math.Pi)
        // roughly normal: a centred sum of four uniforms, unit variance
        val z = (u(cell, h, 2) + u(cell, h, 3) + u(cell, h, 4) + u(cell, h, 5) - 2.0) * math.sqrt(3.0)
        math.round(level(cell) * diurnal * math.exp(z * 0.45) * 100).toDouble / 100
      }

    def dt(h: Int): Long = Epoch0 + h * Hour

    /** The reference extract format: ONE JSON array per landing, records
      * in schema order (extract.py:52-108). */
    def jsonArray(hoursIncl: Range): String = {
      val sb = new java.lang.StringBuilder(hoursIncl.size * Cells.size * 170)
      sb.append('[')
      var first = true
      for (h <- hoursIncl; c <- Cells.indices if !isDark(c, h)) {
        if (!first) sb.append(",\n")
        first = false
        val pm = pm25(c, h)
        var k = 10
        def g(scale: Double) = { k += 1; math.round(u(c, h, k) * scale * 100).toDouble / 100 }
        sb.append("{\"dt\":").append(dt(h))
          .append(",\"lat\":").append(Cells(c)._1).append(",\"lon\":").append(Cells(c)._2)
          .append(",\"aqi_level\":").append(1 + (u(c, h, 6) * 5).toInt)
          .append(",\"co\":").append(g(900)).append(",\"no\":").append(g(20))
          .append(",\"no2\":").append(g(60)).append(",\"o3\":").append(g(120))
          .append(",\"so2\":").append(g(40)).append(",\"pm2_5\":").append(pm)
          .append(",\"pm10\":").append(g(200)).append(",\"nh3\":").append(g(30)).append('}')
      }
      sb.append(']').toString
    }

    def rowsIn(hoursIncl: Range): Long =
      hoursIncl.iterator.map(h => Cells.indices.count(c => !isDark(c, h)).toLong).sum

    /** Sum of pm2.5 in cents over the given hours (exact). */
    def pmCentsIn(hoursIncl: Range): Long =
      (for (h <- hoursIncl.iterator; c <- Cells.indices.iterator if !isDark(c, h))
        yield math.round(pm25(c, h) * 100)).sum

    /** Ascending reading times and pm2.5 of one cell up to hour `toExcl`. */
    def series(cell: Int, toExcl: Int): (Array[Long], Array[Double]) = {
      val hs = (0 until toExcl).filterNot(isDark(cell, _))
      (hs.map(h => dt(h)).toArray, hs.map(h => pm25(cell, h)).toArray)
    }
  }

  /** SplitMix64's finaliser. */
  def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def writeString(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Zipf(1.1) vocabulary sampler over `v` words named t<rank>. */
  final class Zipf(v: Int, s: Double = 1.1) {
    private val cdf: Array[Double] = {
      val w = (1 to v).map(r => 1.0 / math.pow(r, s)).toArray
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def word(rank: Int): String = s"t$rank"
    def draw(r: scala.util.Random): String = {
      val x = r.nextDouble()
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < x) lo = m + 1 else hi = m }
      word(lo + 1)
    }
  }

  /** A document of 8-160 tokens drawn from the vocabulary. */
  def document(z: Zipf, r: scala.util.Random): Seq[String] = {
    val len = 8 + (if (r.nextInt(5) == 0) r.nextInt(150) else r.nextInt(50))
    Seq.fill(len)(z.draw(r))
  }
}
