package graft.fs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join — the semantic heart of the feature store.
  *
  * For each (entity keys, eventTs) row of `entityDf`, attach the **latest**
  * feature row with `featureTs <= eventTs` and `eventTs - featureTs <= ttl`,
  * keeping entity rows with no qualifying feature (nulls), exactly the
  * semantics of Feast's `get_historical_features`
  * (ref: model/aqi_predict_hn.py:25-33; TTL feast/features/aqi_feature.py:20).
  *
  * Two physical formulations, equivalent results (tested against each other,
  * PointInTimeSpec). Neither matches a null key or a null timestamp: the
  * spec form's `===`/`<=` are never true on null, and the merge form drops
  * feature rows with a null key or timestamp before its union, so an
  * entity row with a null key gets nulls (as in SQL and Feast).
  *
  *   - [[historicalFeatures]] — equi-join on keys + range predicate, then
  *     `row_number` rank-to-1 per entity row. Simple and exactly the spec,
  *     but the join multiplies each entity row by every in-TTL feature row
  *     before the rank filters it back down. Fine when feature history per
  *     key within TTL is shallow.
  *
  *   - [[historicalFeaturesMerge]] — union the two sides, single shuffle on
  *     entity keys, sort by time within each key, carry the last feature
  *     forward (`last(..., ignoreNulls=true)` over an unbounded-preceding
  *     frame). No row explosion: O((|E|+|F|) log) per key, one shuffle total.
  *     This is the 100 TB path — at scale the join+rank form's intermediate
  *     blow-up (entities × features-in-TTL) dominates; the merge form is
  *     linear in input size and AQE handles key skew.
  *
  * Tie-breaking: duplicate feature timestamps are resolved by `tieBreak`
  * columns (descending), so results are deterministic.
  *
  * MEASURED depth/skew guidance (SCALE.md r12; local[32], sf0.1 events):
  *
  *   - History DEPTH: at ×30 in-TTL history per entity the spec form ran
  *     44.7 s vs the merge form's 0.43 s — the join+rank intermediate is
  *     QUADRATIC in per-key in-TTL depth (probes × features before the
  *     rank), the merge linear. ×10 → ×30 slope: spec 6.86 → 44.7 (6.5×
  *     for 3× depth, the d² term), merge 0.48 → 0.43 (flat).
  *   - Key SKEW: with ~50% of all events on ONE entity (hot sensor / bot
  *     account), spec 6.17 s vs merge 0.23 s at sf0.1; at ×10 the merge
  *     held 0.23 s while the spec form's hot-key intermediate is ~660M
  *     rows for one key (gated out of routine probes). The merge form's
  *     hot-key cost is one sorted window partition of |hot probes| +
  *     |hot features| rows — AQE cannot split a window partition, so at
  *     extreme single-key mass the remaining lever is sessionizing the
  *     key (salt by coarse time bucket, carry the boundary feature
  *     forward); no fixture here has needed it.
  *
  * Default to [[historicalFeaturesMerge]] whenever history depth within
  * TTL exceeds a few rows per key or key mass is skewed; the spec form
  * remains the readable reference and the shallow-history fast path.
  */
object PointInTime {

  /** Spec formulation: join + rank. */
  def historicalFeatures(
      entityDf: DataFrame,
      featureDf: DataFrame,
      keys: Seq[String],
      eventTs: String,
      featureTs: String,
      featureCols: Seq[String],
      ttl: Option[String] = None, // e.g. "7 days" (SQL interval literal)
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val e = entityDf.withColumn("__row_id", monotonically_increasing_id())
    val f = featureDf.select(
      (keys.map(k => col(k).as(s"__k_$k")) :+ col(featureTs).as("__fts")) ++
        tieBreak.map(t => col(t).as(s"__tb_$t")) ++
        featureCols.map(c => col(c).as(s"__f_$c")): _*
    )
    val keyCond = keys.map(k => e(k) === f(s"__k_$k")).reduce(_ && _)
    val rangeCond = f("__fts") <= e(eventTs) &&
      ttl.map(t => f("__fts") >= e(eventTs) - expr(s"INTERVAL $t")).getOrElse(lit(true))

    val joined = e.join(f, keyCond && rangeCond, "left")
    val w = Window
      .partitionBy(col("__row_id"))
      .orderBy(col("__fts").desc_nulls_last +: tieBreak.map(t => col(s"__tb_$t").desc): _*)
    joined
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(e.columns.toIndexedSeq.filter(_ != "__row_id").map(col) ++
        featureCols.map(c => col(s"__f_$c").as(c)): _*)
  }

  /** Scale formulation: union + single shuffle + carry-forward. */
  def historicalFeaturesMerge(
      entityDf: DataFrame,
      featureDf: DataFrame,
      keys: Seq[String],
      eventTs: String,
      featureTs: String,
      featureCols: Seq[String],
      ttl: Option[String] = None,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val entityCols = entityDf.columns.toSeq
    // A feature row with a null key or timestamp matches no entity row
    // (the spec form's `===` and `<=`); left in, a null key would share
    // the null-key entity rows' window partition and carry its values.
    val matchable = (keys :+ featureTs).map(c => col(c).isNotNull).reduce(_ && _)
    // Common shape: keys, __ts, __kind (0=feature sorts before 1=entity at
    // equal ts → inclusive `featureTs <= eventTs`), tie-break, payloads.
    val fSide = featureDf.where(matchable).select(
      keys.map(col) ++ Seq(col(featureTs).as("__ts"), lit(0).as("__kind")) ++
        tieBreak.map(t => col(t).as(s"__tb_$t")) ++
        featureCols.map(c => col(c).as(s"__f_$c")) ++
        entityCols.filterNot(keys.contains).map(c => lit(null).cast(entityDf.schema(c).dataType).as(s"__e_$c")): _*
    )
    val eSide = entityDf.select(
      keys.map(col) ++ Seq(col(eventTs).as("__ts"), lit(1).as("__kind")) ++
        tieBreak.map(t => lit(null).cast(featureDf.schema(t).dataType).as(s"__tb_$t")) ++
        featureCols.map(c => lit(null).cast(featureDf.schema(c).dataType).as(s"__f_$c")) ++
        entityCols.filterNot(keys.contains).map(c => col(c).as(s"__e_$c")): _*
    )
    val unioned = fSide.unionByName(eSide)

    // Within each key, order by (ts, kind, tieBreak): the last feature row at
    // or before each entity row is carried forward. `last(ignoreNulls)` over
    // an unbounded-preceding frame is computed in one pass per key.
    val order: Seq[Column] =
      col("__ts").asc +: col("__kind").asc +: tieBreak.map(t => col(s"__tb_$t").asc_nulls_last)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // The latest feature row is carried WHOLE, as one struct of its
    // timestamp and payloads: the struct is non-null even when a payload
    // is null, so a null in the latest row serves null, as in the spec
    // form, never an older row's value. One window expression → one
    // Window node, one pass over each sorted partition.
    val latestFeature = struct(col("__ts") +: featureCols.map(c => col(s"__f_$c")): _*)
    val carried = unioned.select(col("*"),
      last(when(col("__kind") === 0, latestFeature), ignoreNulls = true).over(w).as("__last"))

    val ttlOk = ttl
      .map(t => col("__last").getField("__ts") >= col("__ts") - expr(s"INTERVAL $t"))
      .getOrElse(lit(true))
    carried
      .where(col("__kind") === 1)
      .select(
        (keys.map(col) ++ Seq(col("__ts").as(eventTs)) ++
          entityCols.filterNot(k => keys.contains(k) || k == eventTs).map(c => col(s"__e_$c").as(c)) ++
          featureCols.map(c =>
            when(ttlOk, col("__last").getField(s"__f_$c")).otherwise(lit(null)).as(c))): _*
      )
      // restore caller's column order
      .select(entityCols.map(col) ++ featureCols.map(col): _*)
  }

  /** Time-series lag feature: previous value per key ordered by time.
    * Ref: model/aqi_predict_hn.py:40-47 (pandas shift after global sort; the
    * frame is single-entity there, so partitioning by key preserves semantics
    * while staying distributed). */
  def withLag(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      lagName: String,
      offset: Int = 1,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc +: tieBreak.map(c => col(c).asc): _*)
    df.withColumn(lagName, lag(col(valueCol), offset).over(w))
  }

  /** Gap-based sessionization: a session is a maximal run of per-key events
    * with inter-event gaps ≤ `gap`. One shuffle (by key) feeds the lag, the
    * running session counter, AND the final aggregate (the aggregate's
    * ClusteredDistribution is satisfied by the window's partitioning —
    * PlanSpec pins the single exchange).
    *
    * Output: key columns + (session_seq, session_start, session_end,
    * n_events). `tieCol` totals the within-key ordering for deterministic
    * session boundaries on timestamp ties. */
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      gap: String = "30 MINUTES"
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev_ts").isNull ||
          col(tsCol) > col("__prev_ts") + expr(s"INTERVAL $gap"), lit(1L)).otherwise(lit(0L)))
      .withColumn("session_seq", sum(col("__new_sess")).over(w))
      .groupBy((keys :+ "session_seq").map(col): _*)
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** [[sessionize]] via Spark's NATIVE `session_window` aggregate — the
    * built-in a 100×-scale user reaches for first, A/B'd against the same
    * oracle as the lag+running-sum form (SCALE.md r10).
    *
    * Boundary contract (spec-pinned on an exact-gap corpus): Spark merges
    * an event into the running session when its ts ≤ session end
    * (= last ts + gap) — an event EXACTLY gap after its predecessor stays
    * in the session, and a split needs a STRICTLY greater gap. That is
    * precisely [[sessionize]]'s (and the DuckDB oracle's) `ts > prev +
    * gap` rule, so the same gap string transfers verbatim.
    *
    * `session_window` emits its own (start, end = last+gap) bounds;
    * the reference output wants observed min/max(ts), so both are
    * re-aggregated and the synthetic window is dropped. `session_seq`
    * (the per-key running session index) is not a session_window
    * concept — one row_number pass over the SESSION-count-sized
    * aggregate (not the event-sized input) restores it. */
  def sessionizeNative(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gap: String = "30 minutes"
  ): DataFrame = {
    val grouped = df
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(min(col(tsCol)).as("session_start"), max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("session_start").asc)
    grouped
      .withColumn("session_seq", row_number().over(w).cast("long"))
      .select((keys :+ "session_seq" :+ "session_start" :+ "session_end" :+ "n_events")
        .map(col): _*)
  }
}
