package graft.fs

import org.apache.spark.sql.{Column, DataFrame}
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
  * rationale). Online lookups broadcast the per-view snapshot, which is
  * one row per live entity by construction — but the snapshot is a lazy
  * plan, not stored data (see [[materializeOnline]]), so every lookup
  * re-runs the latest-per-key argmax over the view's whole history.
  * Multi-view requests chain one PIT join per view; each is its own
  * single shuffle on that view's keys.
  */
final class FeatureStore(
    val registry: Registry.FeatureRegistry,
    sourceLoader: String => DataFrame,
    /** Per-SOURCE unique tie-break columns (e.g. an event id): duplicate
      * feature timestamps within a key resolve to the highest tie-break,
      * making reads deterministic. Sources absent here tie arbitrarily. */
    tieBreaks: Map[String, Seq[String]] = Map.empty
) {

  // TrieMap: a serving facade is naturally hit from concurrent driver
  // threads; a plain mutable.Map could corrupt under simultaneous inserts
  // (getOrElseUpdate may compute a snapshot twice under a race, which is
  // harmless — both are identical lazy plans)
  private val snapshots = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

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

  /** Latest-per-key snapshot PLAN for a view
    * ([[OnlineStore.latestSnapshot]]'s map-side-collapsing argmax). What is
    * memoized per view is the lazy plan and its file listing, NOT data:
    * every action on it — each [[getOnlineFeatures]] call — re-runs the
    * argmax over the view's whole history (a 3-key read scans every
    * landed row). It stands in for Feast's materialize-to-Redis in
    * semantics only, not in cost.
    *
    * The snapshot is FROZEN at first use: the memoized plan pins the source's
    * parquet file listing, so appends after materialization stay invisible
    * and a concurrent [[OfflineStore.compactDay]] (which replaces data
    * files) can make lookups on the stale plan fail with
    * FileNotFoundException. That mirrors Feast, where online state only
    * advances on an explicit `materialize` — call [[refreshOnline]] after
    * ingest/compaction to advance it here. */
  def materializeOnline(viewName: String): DataFrame =
    snapshots.getOrElseUpdate(viewName, {
      val v = registry.view(viewName)
      require(v.online, s"feature view '$viewName' is not online-enabled")
      OnlineStore.latestSnapshot(
        sourceLoader(v.source), v.entity.joinKeys, v.timestampField,
        tieBreaks.getOrElse(v.source, Nil))
    })

  /** Re-materialize a view's snapshot against the source's CURRENT file
    * listing (the explicit Feast `materialize` step). Returns the fresh
    * snapshot; subsequent [[getOnlineFeatures]] calls use it. */
  def refreshOnline(viewName: String): DataFrame = {
    snapshots.remove(viewName)
    materializeOnline(viewName)
  }

  /** Drop every cached snapshot (e.g. after a bulk backfill or compaction
    * across views); each view re-materializes lazily on next use. */
  def invalidateOnline(): Unit = snapshots.clear()

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
  /** Production wiring: sources load from an [[OfflineStore]] table. */
  def apply(offline: OfflineStore, registry: Registry.FeatureRegistry,
      tieBreaks: Map[String, Seq[String]] = Map.empty): FeatureStore =
    new FeatureStore(registry, offline.read, tieBreaks)
}
