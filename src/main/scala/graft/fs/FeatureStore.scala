package graft.fs

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** The unified feature-store facade — the reference's flagship API surface
  * (`store.get_historical_features(entity_df, features=[...])`,
  * model/aqi_predict_hn.py:25-33, and `store.get_online_features(features,
  * entity_rows)`, agent/aqi-agent/app/agent.py:73-76) composed from the
  * engine's parts: [[Registry]] resolves `view:field` refs to typed views,
  * `sourceLoader` maps a view's source name to its feature-history frame
  * (an [[OfflineStore]] read in production; any DataFrame in tests),
  * [[PointInTime]] does the as-of join, [[OnlineStore]] the latest-snapshot
  * lookup.
  *
  * Scale notes: historical reads use the merge (union + single shuffle +
  * carry-forward) PIT formulation — linear in input, no entity×features-in-
  * TTL row explosion (see [[PointInTime]]'s scaladoc for the 100 TB
  * rationale). An entity frame whose rows already sit on the driver (the
  * reference's pandas `entity_df`: one city, ~100 hours) cuts the feature
  * side to its keys and time window before that shuffle, and over an
  * [[OfflineStore]] to the day dirs of that window: the benchmark's city
  * read went from the whole 14-day history (152k rows, 3.0 MB shuffled)
  * to one key's rows (56k rows scanned, 3 KB shuffled), and stays flat as
  * history deepens. A distributed entity frame is not scoped: its bounds
  * would cost a Spark job per read (a min/max aggregate took 74-112 ms on
  * 100- and 77k-row frames), and a broadcast semi-join of its keys made
  * the 77k-row grid read 100-150 ms slower. Online lookups broadcast the
  * per-view snapshot, one row per live entity, held on the driver as
  * local rows (see [[materializeOnline]]): a lookup scans no source file,
  * and a refresh folds in only the day partitions that changed.
  * Multi-view requests chain one PIT join per view; each is its own
  * single shuffle on that view's keys.
  */
final class FeatureStore private (
    val registry: Registry.FeatureRegistry,
    /** Where the sources live: a bare loader, or [[OfflineStore]] tables,
      * whose partition listing lets a refresh read only the changed days. */
    sources: Either[String => DataFrame, OfflineStore],
    tieBreaks: Map[String, Seq[String]]
) {

  /** `sourceLoader` maps a view's source name to its feature history.
    * `tieBreaks` are per-SOURCE unique tie-break columns (e.g. an event id):
    * duplicate feature timestamps within a key resolve to the highest
    * tie-break, making reads deterministic. Sources absent there tie
    * arbitrarily. */
  def this(registry: Registry.FeatureRegistry, sourceLoader: String => DataFrame,
      tieBreaks: Map[String, Seq[String]] = Map.empty) =
    this(registry, Left(sourceLoader), tieBreaks)

  import FeatureStore.{Held, Scope, wallClock}

  private def sourceLoader(source: String): DataFrame = sources.fold(_(source), _.read(source))

  // Each entry is replaced whole, so a read sees one snapshot or the next,
  // never a mix, and never waits. Builds and refreshes take `refreshing`.
  private val held = scala.collection.concurrent.TrieMap.empty[String, Held]
  private val refreshing = new Object

  /** Resolved views in a deterministic (name-sorted) join order. */
  private def resolved(features: Seq[String]): Seq[(Registry.FeatureView, Seq[String])] =
    registry.resolve(features).toSeq.sortBy(_._1.name)

  private def ttlInterval(v: Registry.FeatureView): Option[String] =
    if (v.ttl.isZero) None else Some(s"${v.ttl.toSeconds} SECONDS")

  /** Feast `get_historical_features`: for each entity row, attach the
    * latest in-TTL feature values per requested view, point-in-time
    * correct against `eventTs`. Output = entity columns ++ requested
    * fields (plain field names, the reference's `full_feature_names=False`
    * shape — collisions across views are the caller's to rename).
    *
    * When `entityDf`'s optimized plan is a `LocalRelation` (rows held on
    * the driver: collecting them runs no Spark job) and `eventTs` is a
    * timestamp or date, each view's feature rows are first cut to what
    * those rows can match: the entity's key values (one `isin` per join
    * key; a superset for a composite key), `featureTs <= max(eventTs)`
    * and, for a view with a TTL, `featureTs >= min(eventTs) - TTL`. An
    * [[OfflineStore]] source also reads only the day dirs of that window,
    * widened by a day each side (see [[OfflineStore.readBetween]]). An
    * empty frame scans no feature rows. Any other entity frame reads the
    * whole history: see the class's scale notes for what scoping it cost. */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      features: Seq[String],
      eventTs: String = "event_timestamp"
  ): DataFrame = {
    val views = resolved(features)
    val scope = Scope.of(entityDf, views.flatMap(_._1.entity.joinKeys).distinct, eventTs)
    views.foldLeft(entityDf) { case (acc, (view, fields)) =>
      PointInTime.historicalFeaturesMerge(
        acc,
        scope.fold(sourceLoader(view.source))(history(view, _)),
        keys = view.entity.joinKeys,
        eventTs = eventTs,
        featureTs = view.timestampField,
        featureCols = fields,
        ttl = ttlInterval(view),
        tieBreak = tieBreaks.getOrElse(view.source, Nil)
      )
    }
  }

  /** The view's feature rows that `scope`'s entity rows can match. */
  private def history(view: Registry.FeatureView, scope: Scope): DataFrame = scope.span match {
    case None => sourceLoader(view.source).where(lit(false))
    case Some((first, last)) =>
      val ttl = ttlInterval(view)
      val rows = sources match {
        case Left(load) => load(view.source)
        case Right(offline) => offline.readBetween(view.source,
          ttl.map(_ => wallClock(first).minus(view.ttl).toLocalDate.minusDays(1)),
          wallClock(last).toLocalDate.plusDays(1))
      }
      val ts = col(view.timestampField)
      val window = (ts <= lit(last)) +: ttl.map(t => ts >= lit(first) - expr(s"INTERVAL $t")).toSeq
      rows.where((view.entity.joinKeys.map(k => col(k).isin(scope.keys(k): _*)) ++ window).reduce(_ && _))
  }

  /** Latest-per-key snapshot of a view ([[OnlineStore.latestSnapshot]]),
    * built on first use, collected and held on the driver: reads
    * broadcast it from there and scan no source file. Its size is the
    * broadcast's: one row per live entity.
    *
    * The snapshot is FROZEN until [[refreshOnline]]: appends and
    * compactions after it was built stay invisible to reads, which never
    * touch the files again. That mirrors Feast, where online state only
    * advances on an explicit `materialize`. */
  def materializeOnline(viewName: String): DataFrame =
    held.get(viewName).getOrElse(refreshing.synchronized {
      held.getOrElse(viewName, advance(viewName, None))
    }).frame

  /** Advance a view's snapshot to the source's current state (the explicit
    * Feast `materialize` step) and return it; later [[getOnlineFeatures]]
    * calls use it. Only the partition dirs that are new or whose file set
    * changed since the last build are read and upserted into the held
    * rows ([[OnlineStore.writeOnline]], the fold `OnlineRefresh.start`
    * uses). A [[OfflineStore.compactDay]] rewrite re-delivers its day,
    * which the idempotent fold absorbs. The delta is the changed days,
    * small beside the history, so it folds with the held rows in one
    * partition: one stage, no shuffle. Nothing changed: no Spark job.
    * A partition dir that is gone ([[OfflineStore.expireOlderThan]]), or a
    * store built from a bare `sourceLoader`, rebuilds through the same
    * fold with nothing held, at the source scan's parallelism. Refreshes
    * of one store run one at a time.
    *
    * The snapshot's columns are those of its last full build: the delta
    * is read under the held schema, so a column that later appends add
    * is not carried until the next full build. */
  def refreshOnline(viewName: String): DataFrame =
    refreshing.synchronized(advance(viewName, held.get(viewName))).frame

  /** Fold the source's changes since `prev` into a new snapshot and publish
    * it. Callers hold `refreshing`. The listing is taken before the read,
    * so a file landing in between is read now and again next time, which
    * the fold absorbs; it is never missed. */
  private def advance(viewName: String, prev: Option[Held]): Held = {
    val v = registry.view(viewName)
    require(v.online, s"feature view '$viewName' is not online-enabled")
    val offline = sources.toOption
    val listing = offline.map(_.partitionListing(v.source))
    val changed = for {
      p <- prev
      was <- p.listing
      now <- listing if was.keySet.subsetOf(now.keySet)
    } yield now.filter { case (dir, files) => !was.get(dir).contains(files) }
    def fold(base: DataFrame, delta: DataFrame): Held = {
      val folded = OnlineStore.writeOnline(base, delta, v.entity.joinKeys, v.timestampField,
        tieBreaks.getOrElse(v.source, Nil))
      Held(folded.sparkSession.createDataFrame(
        java.util.Arrays.asList(folded.collect(): _*), folded.schema), listing)
    }
    val next = (prev, changed) match {
      case (Some(p), Some(dirs)) if dirs.isEmpty => p
      case (Some(p), Some(dirs)) =>
        val delta = offline.get.readPartitions(v.source, dirs.keys, p.frame.schema)
        fold(p.frame.coalesce(1), delta.coalesce(1))
      case _ =>
        val all = sourceLoader(v.source)
        fold(all.sparkSession.createDataFrame(java.util.List.of[Row](), all.schema), all)
    }
    held.put(viewName, next)
    next
  }

  /** Feast `get_online_features`: broadcast-join the requested entity keys
    * against each view's latest snapshot. `asOf` + the view TTL expire
    * stale rows to null (Feast online staleness); `asOf=None` skips expiry
    * (deterministic reads over static fixtures). Output = key columns ++
    * requested fields. */
  def getOnlineFeatures(
      features: Seq[String],
      entityRows: DataFrame,
      asOf: Option[Column] = None
  ): DataFrame =
    resolved(features).foldLeft(entityRows) { case (acc, (view, fields)) =>
      val snap = materializeOnline(view.name)
        .select((view.entity.joinKeys ++ fields :+ view.timestampField).distinct.map(col): _*)
      val looked = OnlineStore.lookup(
        acc, snap, view.entity.joinKeys, view.timestampField,
        ttl = asOf.flatMap(_ => ttlInterval(view)), asOf = asOf)
      looked.drop(view.timestampField)
    }
}

object FeatureStore {
  /** A view's online snapshot: its latest-per-key rows as a local frame,
    * and the source's [[OfflineStore.partitionListing]] they were built
    * from (None without an [[OfflineStore]]: every refresh rebuilds). */
  private final case class Held(frame: DataFrame, listing: Option[Map[String, Set[(String, Long)]]])

  /** What a driver-held entity frame asks of the feature side: each join
    * key's distinct values, and the earliest and latest event time in the
    * column's own type (None when no row has one). */
  private final case class Scope(keys: Map[String, Seq[Any]], span: Option[(Any, Any)])

  private object Scope {
    /** `entityDf`'s scope, if its optimized plan is a `LocalRelation` and
      * `eventTs` is a timestamp or date; None otherwise. `Dataset.isLocal`
      * is not the test: it looks at the analyzed plan, where a projected
      * local frame is still a `Project` until `ConvertToLocalRelation`. */
    def of(entityDf: DataFrame, keys: Seq[String], eventTs: String): Option[Scope] = {
      val temporal = entityDf.schema.find(_.name == eventTs).map(_.dataType).exists {
        case TimestampType | TimestampNTZType | DateType => true
        case _ => false
      }
      if (!temporal || !entityDf.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) None
      else {
        val rows = entityDf.select((keys :+ eventTs).map(col): _*).collect()
        val times = rows.flatMap(r => Option(r.get(keys.size)))
          .sortWith((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
        Some(Scope(keys.zipWithIndex.map { case (k, i) => k -> rows.map(_.get(i)).distinct.toSeq }.toMap,
          times.headOption.map((_, times.last))))
      }
    }
  }

  /** A scope bound's date-time: a timestamp's instant in UTC, whose date
    * is within a day of its date in any zone; a timestamp without zone or
    * a date as written. */
  private def wallClock(t: Any): LocalDateTime = t match {
    case t: java.sql.Timestamp => LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC)
    case i: Instant => LocalDateTime.ofInstant(i, ZoneOffset.UTC)
    case l: LocalDateTime => l
    case d: java.sql.Date => d.toLocalDate.atStartOfDay
    case d: LocalDate => d.atStartOfDay
  }

  /** Production wiring: sources load from an [[OfflineStore]] table. */
  def apply(offline: OfflineStore, registry: Registry.FeatureRegistry,
      tieBreaks: Map[String, Seq[String]] = Map.empty): FeatureStore =
    new FeatureStore(registry, Right(offline), tieBreaks)
}
