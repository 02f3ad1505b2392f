package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own reference code: every output check leans on it, so
  * it is pinned here against hand-worked values. */
class ReferenceSpec extends AnyFunSuite {
  import Reference._

  private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9

  test("AQI: every band edge maps to its index edge") {
    val edges = Seq(
      (0.0, 0.0), (12.0, 50.0), (12.1, 51.0), (35.4, 100.0), (35.5, 101.0), (55.4, 150.0),
      (55.5, 151.0), (150.4, 200.0), (150.5, 201.0), (250.4, 300.0), (250.5, 301.0),
      (350.4, 400.0), (350.5, 401.0), (500.4, 500.0))
    for ((c, want) <- edges) assert(near(aqi(c), want), s"aqi($c) = ${aqi(c)}, want $want")
  }

  test("AQI: interior values interpolate within their band") {
    assert(near(aqi(15.56), 49.0 / 23.3 * 3.46 + 51.0))
    assert(near(aqi(6.0), 25.0))
  }

  test("AQI: gaps between bands and out-of-range values take the 8.5 fallback") {
    for (c <- Seq(12.05, 35.45, 55.45, 150.45, 250.45, 350.45, 500.5, 612.0, -0.01))
      assert(aqi(c) == AqiFallback, s"aqi($c)")
  }

  test("AQI level labels switch after 50, 100 and 150") {
    assert(Seq(0.0, 50.0, 50.01, 100.0, 150.0, 150.01).map(aqiLevel) ==
      Seq("Good", "Good", "Moderate", "Moderate", "Sensitive", "Polluted"))
  }

  test("calendar and next-hour rollover") {
    // 2024-01-01T00:00Z was a Monday; day of week counts 1 = Sunday
    assert(calendar(Gen.Epoch0) == ((0, 1, 2)))
    assert(calendar(Gen.Epoch0 + 6 * Gen.Day + 23 * Gen.Hour) == ((23, 7, 1)))
    assert(nextHour(23, 7, 1) == ((0, 8, 2)))
    assert(nextHour(23, 31, 7) == ((0, 32, 1)))
    assert(nextHour(5, 3, 4) == ((6, 3, 4)))
  }

  test("point-in-time lookup: latest reading at or before the event, TTL inclusive") {
    val dts = Array(100L, 200L, 300L)
    val pm = Array(6.0, 12.0, 612.0)
    assert(asOf(dts, pm, 50, 1000).isEmpty)
    assert(asOf(dts, pm, 200, 1000).map(_.aqi).contains(50.0))
    assert(asOf(dts, pm, 250, 1000).map(_.aqi).contains(50.0))
    assert(asOf(dts, pm, 300, 1000).map(_.aqi).contains(AqiFallback))
    assert(asOf(dts, pm, 1300, 1000).isDefined)
    assert(asOf(dts, pm, 1301, 1000).isEmpty)
  }

  test("BM25: a hand-worked three-document corpus") {
    val bm = new Bm25()
    bm.insert(1, Seq("a", "b"))
    bm.insert(2, Seq("a", "c", "c"))
    bm.insert(3, Seq("b", "c", "d"))
    // n = 3, avgdl = 8/3; df(c) = 2 -> idf = round(ln(1.5/2.5 + 1) * 1000) = 470
    // doc 2: tf 2, dl 3 -> 470 * 4.4 / (2 + 1.2 * (0.25 + 0.75 * 3 / (8/3))) = 624.3
    // doc 3: tf 1, dl 3 -> 470 * 2.2 / (1 + 1.3125) = 447.1
    assert(bm.topK(Seq("c"), 10) == Seq((2L, 624L), (3L, 447L)))
    // doc 1 scores 524 for each of a and b; docs 2 and 3 tie at 447 and
    // rank by ascending doc id
    assert(bm.topK(Seq("a", "b", "b"), 10) == Seq((1L, 1048L), (2L, 447L), (3L, 447L)))
    assert(bm.topK(Seq("a", "b"), 1) == Seq((1L, 1048L)))
    // deleting doc 2: n = 2, avgdl = 2.5, df(c) = 1 -> idf = round(ln 2 * 1000) = 693
    bm.delete(2)
    assert(bm.topK(Seq("c"), 10) == Seq((3L, 641L)))
    assert(bm.topK(Seq("zzz"), 10).isEmpty)
  }

  test("table model: upsert replaces or inserts by key, delete removes present keys once") {
    val m = new TableModel
    def row(id: Long, pm: Double) = TableRow(id, 20.0 + id, 105.0, 0L, pm)
    m.append(Seq(row(1, 1.0), row(2, 2.0), row(3, 3.0)))
    assert(m.upsert(Seq(row(2, 20.0), row(4, 4.0))) == ((1L, 2L)))
    assert(m.get(2).map(_.pm25).contains(20.0) && m.get(4).isDefined && m.size == 4)
    assert(m.delete(Seq(1, 1, 9)) == 1L)
    assert(m.get(1).isEmpty && m.size == 3)
    assert(m.sumPm25Cents == 2000 + 300 + 400)
    assert(m.range(22.0, 23.0, 105.0, 105.0).map(_.id) == Seq(2L, 3L))
    assertThrows[IllegalArgumentException](m.append(Seq(row(3, 0.0))))
  }
}
