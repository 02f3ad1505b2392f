package graft.fs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure column expressions for the feature-engineering surface.
  *
  * All hot-path logic is built from `org.apache.spark.sql.functions` so it
  * stays inside whole-stage codegen — no UDFs, no serialization walls.
  *
  * Reference semantics (behavior only, re-expressed Spark-first):
  *   - AQI piecewise-linear EPA formula: spark/code/write_to_bigquery.py:91-105
  *   - calendar derivations:             spark/code/write_to_bigquery.py:81-86
  *   - entity key construction:          spark/code/write_to_bigquery.py:87
  *   - AQI level bucketing:              agent/aqi-agent/app/agent.py:103-107
  */
object Expressions {

  /** EPA PM2.5 breakpoints: (cLo, cHi, iLo, iHi).
    * Note the table has *gaps* (e.g. 12.0 < c < 12.1) — values falling in a
    * gap take the fallback, matching the reference exactly.
    * Ref: spark/code/write_to_bigquery.py:93-101. */
  val AqiBreakpoints: Seq[(Double, Double, Int, Int)] = Seq(
    (0.0, 12.0, 0, 50),
    (12.1, 35.4, 51, 100),
    (35.5, 55.4, 101, 150),
    (55.5, 150.4, 151, 200),
    (150.5, 250.4, 201, 300),
    (250.5, 350.4, 301, 400),
    (350.5, 500.4, 401, 500)
  )

  /** Canonical AQI fallback for out-of-range concentrations (the Spark-job
    * variant of the reference; the loader returns null and the online path
    * returns 500 — both available via the `fallback` parameter). */
  val CanonicalFallback = 8.5

  /** Piecewise-linear EPA AQI from a PM2.5 concentration column.
    *
    * Codegen-friendly `when`-chain instead of the reference's Python UDF
    * (write_to_bigquery.py:107 forces a per-batch Python round-trip; this
    * stays in Tungsten). Null in → null out; out-of-range/gap → fallback.
    */
  def aqiPm25(c: Column, fallback: Option[Double] = Some(CanonicalFallback)): Column = {
    val chain = AqiBreakpoints.foldLeft(when(c.isNull, lit(null).cast("double"))) {
      case (acc, (lo, hi, iLo, iHi)) =>
        val slope = (iHi - iLo).toDouble / (hi - lo)
        acc.when(c.between(lo, hi), lit(slope) * (c - lit(lo)) + lit(iLo.toDouble))
    }
    fallback match {
      case Some(f) => chain.otherwise(lit(f))
      case None    => chain // null for out-of-range
    }
  }

  /** DuckDB-dialect SQL for the same AQI computation, generated from the same
    * breakpoint table so the two can never drift. Used by SparkEntry.oracleSql. */
  def aqiPm25Sql(c: String, fallback: Option[Double] = Some(CanonicalFallback)): String = {
    val cases = AqiBreakpoints.map { case (lo, hi, iLo, iHi) =>
      val slope = (iHi - iLo).toDouble / (hi - lo)
      s"WHEN $c BETWEEN $lo AND $hi THEN $slope * ($c - $lo) + ${iLo.toDouble}"
    }
    val els = fallback.map(f => s"ELSE $f").getOrElse("ELSE NULL")
    s"(CASE WHEN $c IS NULL THEN NULL ${cases.mkString(" ")} $els END)"
  }

  /** Loader-variant AQI (load.py:104-117): banker's-rounded, null for
    * out-of-range — `bround` is exactly Python's round-half-to-even. One of
    * the reference's three diverging AQI specs (SURVEY §1.4); canonical is
    * [[aqiPm25]]'s unrounded 8.5-fallback form. */
  def aqiPm25Loader(c: Column): Column = bround(aqiPm25(c, fallback = None))

  /** Online-variant AQI (redis_data.py:29-42): unrounded, 500 fallback. */
  def aqiPm25Online(c: Column): Column = aqiPm25(c, fallback = Some(500.0))

  /** AQI level label buckets. Ref: agent.py:103-107. */
  def aqiLevel(aqi: Column): Column =
    when(aqi.isNull, lit(null).cast("string"))
      .when(aqi <= 50, "Good")
      .when(aqi <= 100, "Moderate")
      .when(aqi <= 150, "Sensitive")
      .otherwise("Polluted")

  def aqiLevelSql(aqi: String): String =
    s"(CASE WHEN $aqi IS NULL THEN NULL WHEN $aqi <= 50 THEN 'Good' " +
      s"WHEN $aqi <= 100 THEN 'Moderate' WHEN $aqi <= 150 THEN 'Sensitive' " +
      s"ELSE 'Polluted' END)"

  /** Entity key: underscore-joined string of the key columns.
    * Ref: write_to_bigquery.py:87 (`lat + "_" + lon`). */
  def entityId(keys: Column*): Column =
    concat_ws("_", keys.map(_.cast("string")): _*)

  /** The 4-dp HALF_UP average of a 2-dp quantity in EXACT integer
    * arithmetic: given exact cents (the decimal sum of value·100 cast to
    * long) and the count, (cents·200 + n) div (2n) IS
    * round-half-up(avg·10⁴) — `div` is Spark's integral Long division, so
    * the whole computation stays in Long and is bit-identical on any
    * engine at any scale (DuckDB's `//` shares the truncate-toward-zero
    * convention). Why not round(avg(double),4): the double avg accumulates
    * in partition/merge (and streaming-state) order, and quotients land
    * EXACTLY on the half boundary (1134.09/24 = 47.253750), where Spark's
    * BigDecimal HALF_UP and DuckDB's binary-double rounding of the same
    * double legitimately disagree (the r7 sf0.1 audit caught this class).
    * Half-up assumes nonnegative sums, like every rounding mode here. */
  def exactAvg4(cents: Column, n: Column): Column =
    call_function("div", cents * 200 + n, n * 2).cast("double") / 10000.0

  /** Opaque-UDF twin of [[aqiPm25]] for parity testing only (§2.9 U1): the
    * reference computes AQI via a Python UDF (write_to_bigquery.py:91-108);
    * this is the JVM equivalent, used to differential-test the codegen'd
    * `when`-chain. NEVER use in the hot path — it breaks codegen. */
  val aqiPm25Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((c: java.lang.Double) =>
      if (c == null) null
      else AqiBreakpoints.collectFirst {
        case (lo, hi, iLo, iHi) if c >= lo && c <= hi =>
          Double.box((iHi - iLo).toDouble / (hi - lo) * (c - lo) + iLo)
      }.getOrElse(Double.box(CanonicalFallback)))

  /** Parse a "d/m" or "d/m/y" date from free text (agent.py:43-52's C12).
    * No match or an invalid calendar date (e.g. "31/2") → null — via
    * `try_to_date`, because `make_date` under Spark 4's default ANSI mode
    * would abort the job on the first malformed user string. */
  def dateInText(text: Column, defaultYear: Column): Column = {
    val pat = "(\\d{1,2})/(\\d{1,2})(?:/(\\d{4}))?"
    val d = regexp_extract(text, pat, 1)
    val m = regexp_extract(text, pat, 2)
    val y = regexp_extract(text, pat, 3)
    when(d === "", lit(null).cast("date"))
      .otherwise(try_to_date(
        concat_ws("-", when(y === "", defaultYear.cast("string")).otherwise(y), m, d),
        "yyyy-M-d"))
  }

  /** Wall-clock now in an explicit zone (C14) — the engine runs a fixed-UTC
    * session; zone-local timestamps are derived, never ambient
    * (redis_data.py:64 stamps Asia/Ho_Chi_Minh wall-clock). */
  def nowInZone(zone: String): Column =
    from_utc_timestamp(current_timestamp(), zone)

  /** Next-hour clock arithmetic with day/dow rollover. Ref: agent.py:88-90. */
  def nextHour(hourC: Column, dayC: Column, dowC: Column): (Column, Column, Column) = {
    val h = (hourC + 1) % 24
    val rolls = hourC === 23
    val d = when(rolls, dayC + 1).otherwise(dayC)
    val w = when(rolls, (dowC % 7) + 1).otherwise(dowC)
    (h, d, w)
  }
}
