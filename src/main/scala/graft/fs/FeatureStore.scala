package graft.fs

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

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
  * rationale). Online lookups broadcast the per-view snapshot, one row per
  * live entity, held on the driver as local rows (see
  * [[materializeOnline]]): a lookup scans no source file, and a refresh
  * folds in only the day partitions that changed. Multi-view requests
  * chain one PIT join per view; each is its own single shuffle on that
  * view's keys.
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

  import FeatureStore.Held

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
    * shape — collisions across views are the caller's to rename). */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      features: Seq[String],
      eventTs: String = "event_timestamp"
  ): DataFrame =
    resolved(features).foldLeft(entityDf) { case (acc, (view, fields)) =>
      PointInTime.historicalFeaturesMerge(
        acc,
        sourceLoader(view.source),
        keys = view.entity.joinKeys,
        eventTs = eventTs,
        featureTs = view.timestampField,
        featureCols = fields,
        ttl = ttlInterval(view),
        tieBreak = tieBreaks.getOrElse(view.source, Nil)
      )
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

  /** Production wiring: sources load from an [[OfflineStore]] table. */
  def apply(offline: OfflineStore, registry: Registry.FeatureRegistry,
      tieBreaks: Map[String, Seq[String]] = Map.empty): FeatureStore =
    new FeatureStore(registry, Right(offline), tieBreaks)
}
