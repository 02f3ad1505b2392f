package graft.fs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-cached point-read serving over a materialized online snapshot —
  * the honest equivalent of the reference's Redis `get_online_features`
  * (agent/aqi-agent/app/agent.py:73-76): a hash-map get per key, no Spark
  * job per read. Built by [[OnlineStore.pointLookupCache]]; semantics are
  * differential-tested against [[OnlineStore.lookup]] (same TTL nulling,
  * same absent-key path).
  *
  * When to use which: `lookup` (broadcast join) is the BATCH serving path —
  * right when the keys are themselves a DataFrame of many entities (a
  * training frame, a scoring batch). This cache is the LOW-LATENCY path for
  * one-key-at-a-time reads (an HTTP serving tier): the snapshot is one row
  * per live entity — the same smallness argument that makes `lookup`
  * broadcastable makes it collectable — so it is collected ONCE into the
  * serving process and each read is a map get + the TTL staleness check.
  * Staleness bound = snapshot age + feature TTL; refresh by rebuilding from
  * the refreshed snapshot (cost ∝ live entities, not history). */
final class PointLookupCache private[fs] (
    tsCol: String,
    ttlMillis: Option[Long],
    val featureCols: Seq[String],
    rows: Map[Vector[Any], Map[String, Any]]) extends Serializable {

  private val absent: Map[String, Any] = featureCols.map(_ -> null).toMap

  def size: Int = rows.size

  /** Feature map for one entity key as of `asOf`. Absent key → all-null
    * features (the reference's "no data" path, agent.py:78-79); row past
    * TTL → all features nulled, exactly like `lookup`'s expiry (a null ts
    * counts as expired in both). */
  def get(key: Seq[Any], asOf: java.time.Instant = java.time.Instant.now()): Map[String, Any] =
    rows.get(key.toVector) match {
      case None => absent
      case Some(v) =>
        val live = ttlMillis.forall { ms =>
          v(tsCol) match {
            case ts: java.sql.Timestamp => ts.getTime >= asOf.toEpochMilli - ms
            case _ => false
          }
        }
        if (live) v else absent
    }
}

/** Online store: latest feature row per entity key, upserts, key lookups.
  *
  * The reference keeps this in Redis (hash per key, latest wins —
  * airflow/dags/load.py:139-148, feast/feature_store.yaml:10-12). Spark-first
  * restatement: a compact "latest snapshot" DataFrame materialized from the
  * offline history and held on the driver as local rows
  * ([[FeatureStore.materializeOnline]]), refreshed by the [[writeOnline]]
  * upsert fold over the changed partitions; lookups are broadcast left
  * joins. Holding it and broadcasting it share one size envelope: one row
  * per live entity.
  */
object OnlineStore {

  /** Latest row per key — argmax by (ts, tieBreak).
    *
    * Implemented with `max_by(struct(payload), struct(ts, tieBreak))`. The
    * struct buffer keeps it out of HashAggregateExec, so it plans as
    * partial+final SortAggregate — but the partial phase still collapses
    * each partition to one row per key BEFORE the shuffle, so only
    * pre-combined partials cross the wire. At 100 TB this beats the
    * `row_number`-window form, which shuffles and sorts EVERY input row;
    * the window form is kept for differential testing.
    *
    * Determinism contract: (tsCol ++ tieBreak) must uniquely identify a row
    * within each key — two rows with identical ordering keys but different
    * payloads tie arbitrarily (in both formulations). Event/row ids make a
    * natural unique tie-break.
    */
  def latestSnapshot(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val payloadCols = df.columns.filterNot(keys.contains).toSeq
    val ordKey = struct((tsCol +: tieBreak).map(col): _*)
    val picked = df
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(payloadCols.map(col): _*), ordKey).as("__latest"))
    payloadCols
      .foldLeft(picked) { (d, c) => d.withColumn(c, col(s"__latest.$c")) }
      .drop("__latest")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Window-based variant (differential-test twin of [[latestSnapshot]]). */
  def latestSnapshotWindowed(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((tsCol +: tieBreak).map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Upsert: union new rows into the snapshot, keep latest per key.
    * Ref semantics: feast `write_to_online_store` (redis_data.py:88-94) —
    * idempotent (re-upserting the same rows is a no-op). */
  def writeOnline(
      snapshot: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieBreak: Seq[String] = Nil
  ): DataFrame =
    latestSnapshot(snapshot.unionByName(updates, allowMissingColumns = true), keys, tsCol, tieBreak)

  /** Point lookup of entity keys against the snapshot: broadcast left join,
    * nulls for absent keys (the reference's "no data" path, agent.py:78-79).
    * Optional `ttl` expires rows older than `asOf - ttl` to null, matching
    * Feast online-read staleness. */
  def lookup(
      keysDf: DataFrame,
      snapshot: DataFrame,
      keys: Seq[String],
      tsCol: String,
      ttl: Option[String] = None,
      asOf: Option[Column] = None
  ): DataFrame = {
    val joined = keysDf.join(broadcast(snapshot), keys, "left")
    ttl match {
      case Some(t) =>
        val cutoff = asOf.getOrElse(current_timestamp()) - expr(s"INTERVAL $t")
        val live = col(tsCol) >= cutoff
        val featureCols = snapshot.columns.filterNot(keys.contains)
        featureCols.foldLeft(joined) { (d, c) =>
          d.withColumn(c, when(live, col(c)).otherwise(lit(null)))
        }
      case None => joined
    }
  }

  /** Collect the snapshot into a [[PointLookupCache]] for driver/serving-
    * process point reads. The collect is bounded by construction: the
    * snapshot is one row per live entity (the broadcastability argument of
    * [[lookup]]) — do NOT point this at raw history. `ttl` mirrors
    * `lookup`'s staleness nulling. */
  def pointLookupCache(
      snapshot: DataFrame,
      keys: Seq[String],
      tsCol: String,
      ttl: Option[java.time.Duration] = None
  ): PointLookupCache = {
    val featureCols = snapshot.columns.filterNot(keys.contains).toSeq
    val rows = snapshot.collect().map { r =>
      val k = keys.map(c => r.get(r.fieldIndex(c))).toVector
      val v = featureCols.map(c => c -> r.get(r.fieldIndex(c))).toMap
      k -> v
    }.toMap
    new PointLookupCache(tsCol, ttl.map(_.toMillis), featureCols, rows)
  }
}
