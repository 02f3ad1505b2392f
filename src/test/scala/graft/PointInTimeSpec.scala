package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.fs.PointInTime

/** As-of join semantics per FIXTURES.md §5: event before any feature → null,
  * feature exactly at event ts (inclusive), feature older than TTL → null,
  * duplicate feature timestamps (tie-break), interleaved entities, null
  * keys and null feature timestamps (never match), a null value in the
  * latest feature row (served as null) — and the join+rank vs
  * merge formulations agreeing on all of it, with and without a TTL. */
class PointInTimeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // Entity probes: (probe_id, entity, event_ts)
  private lazy val entity: DataFrame = Seq(
    (1L, "a", ts("2024-01-01 00:00:00")), // before any feature -> null
    (2L, "a", ts("2024-01-02 10:00:00")), // exactly at a feature ts -> inclusive
    (3L, "a", ts("2024-01-20 00:00:00")), // latest feature older than 7d TTL -> null
    (4L, "a", ts("2024-01-03 00:00:00")), // duplicate feature ts at 01-02 10:00 -> max tie id
    (5L, "b", ts("2024-01-02 12:00:00")), // interleaved entity
    (6L, "c", ts("2024-01-02 12:00:00")), // entity with no matchable features
    (7L, null, ts("2024-01-02 12:00:00")), // null key never matches, not even a null-key feature
    (8L, "d", ts("2024-01-10 00:00:00"))  // latest feature's value is null -> null, not an older value
  ).toDF("probe_id", "entity", "event_ts")

  // Features: (entity, fts, v, fid); two rows share ts 2024-01-02 10:00:00
  private lazy val feature: DataFrame = Seq(
    ("a", ts("2024-01-02 10:00:00"), 1.0, 100L),
    ("a", ts("2024-01-02 10:00:00"), 2.0, 101L), // tie -> fid 101 wins
    ("a", ts("2024-01-05 00:00:00"), 3.0, 102L),
    ("b", ts("2024-01-02 11:00:00"), 9.0, 200L),
    ("b", ts("2024-01-02 13:00:00"), 8.0, 201L), // after probe 5 -> excluded
    (null, ts("2024-01-02 10:00:00"), 4.0, 300L), // null key -> matches nothing
    ("c", null, 5.0, 400L)                       // null ts -> matches nothing
  ).toDF("entity", "fts", "v", "fid").unionByName(Seq[(String, Timestamp, Option[Double], Long)](
    ("d", ts("2024-01-08 00:00:00"), Some(5.0), 500L),
    ("d", ts("2024-01-09 00:00:00"), None, 501L) // the latest row carries a null v
  ).toDF("entity", "fts", "v", "fid"))

  private def run(fn: (DataFrame, DataFrame, Seq[String], String, String, Seq[String],
      Option[String], Seq[String]) => DataFrame,
      ttl: Option[String] = Some("7 DAYS")): Map[Long, Option[Double]] =
    fn(entity, feature, Seq("entity"), "event_ts", "fts", Seq("v"), ttl, Seq("fid"))
      .select("probe_id", "v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

  private val expected = Map(
    1L -> None,        // nothing at or before
    2L -> Some(2.0),   // inclusive <=, tie broken by max fid
    3L -> None,        // stale beyond TTL
    4L -> Some(2.0),   // duplicate-ts tie-break is deterministic
    5L -> Some(9.0),   // entity b, later feature excluded
    6L -> None,        // entity c's only feature has no timestamp
    7L -> None,        // null key
    8L -> None         // the latest row's null, never the older row's 5.0
  )

  // Without a TTL the stale probe 3 serves a's latest feature; a null key
  // or a null feature timestamp still matches nothing.
  private val expectedNoTtl = expected + (3L -> Some(3.0))

  test("historicalFeatures (join+rank) matches the spec on every edge") {
    assert(run(PointInTime.historicalFeatures) == expected)
    assert(run(PointInTime.historicalFeatures, ttl = None) == expectedNoTtl)
  }

  test("historicalFeaturesMerge (single-shuffle) is equivalent") {
    assert(run(PointInTime.historicalFeaturesMerge) == expected)
    assert(run(PointInTime.historicalFeaturesMerge, ttl = None) == expectedNoTtl)
  }

  test("TTL boundary is inclusive: feature exactly ttl-old still serves") {
    val e = Seq((1L, "a", ts("2024-01-08 00:00:00"))).toDF("probe_id", "entity", "event_ts")
    val f = Seq(("a", ts("2024-01-01 00:00:00"), 5.0)).toDF("entity", "fts", "v")
    val spec = PointInTime.historicalFeatures(e, f, Seq("entity"), "event_ts", "fts", Seq("v"), Some("7 DAYS"))
    val merge = PointInTime.historicalFeaturesMerge(e, f, Seq("entity"), "event_ts", "fts", Seq("v"), Some("7 DAYS"))
    assert(spec.select("v").as[Double].collect().toSeq == Seq(5.0))
    assert(merge.select("v").as[Double].collect().toSeq == Seq(5.0))
  }

  test("sessionizeNative equals sessionize at the exact-gap boundary") {
    // the ±1µs cases pin the boundary: session_window's merge is INCLUSIVE
    // of ts == session end (split only on a strictly greater gap), which
    // is exactly the lag form's `ts > prev + 30min` rule — same gap string
    val t0 = ts("2024-01-01 00:00:00")
    def us(base: Timestamp, micros: Long): Timestamp = {
      val t = new Timestamp(base.getTime + micros / 1000)
      t.setNanos(((base.getNanos / 1000 + micros % 1000) * 1000).toInt)
      t
    }
    val gap = 1800L * 1000000L
    val ev = Seq(
      (1L, "u1", t0),
      (2L, "u1", us(t0, gap)),          // exactly 30:00 later: SAME session
      (3L, "u1", us(t0, 2 * gap + 1)),  // 30:00.000001 after #2: NEW session
      (4L, "u2", t0)
    ).toDF("event_id", "user_id", "ts")
    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def canon(df: DataFrame) = df
      .select("user_id", "session_seq", "session_start", "session_end", "n_events")
      .as[(String, Long, Timestamp, Timestamp, Long)].collect()
      .map(r => (r._1, r._2, micros(r._3), micros(r._4), r._5)).sorted.toSeq
    val lagForm = canon(PointInTime.sessionize(ev, Seq("user_id"), "ts", "event_id"))
    val native = canon(PointInTime.sessionizeNative(
      ev.select("user_id", "ts"), Seq("user_id"), "ts"))
    assert(lagForm == native, "the two sessionize formulations must agree")
    assert(native.contains(("u1", 1L, micros(t0), micros(us(t0, gap)), 2L)),
      "an exactly-30min gap does NOT split (strict >)")
    assert(native.contains(
      ("u1", 2L, micros(us(t0, 2 * gap + 1)), micros(us(t0, 2 * gap + 1)), 1L)),
      "one microsecond past the gap DOES split")
  }

  test("withLag shifts per key in time order with tie-break") {
    val df = Seq(("a", ts("2024-01-01 00:00:00"), 1.0, 1L),
      ("a", ts("2024-01-01 01:00:00"), 2.0, 2L),
      ("b", ts("2024-01-01 00:30:00"), 9.0, 3L))
      .toDF("k", "t", "v", "id")
    val got = PointInTime.withLag(df, Seq("k"), "t", "v", "prev", 1, Seq("id"))
      .select("id", "prev").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(1L -> None, 2L -> Some(1.0), 3L -> None))
  }
}
