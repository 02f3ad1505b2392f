package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.types._
import graft.streaming.OnlineRefresh
import graft.ops.TextAnalysis

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  test("online refresh maintains latest-per-key snapshot across micro-batches") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    def refresh(): Unit = {
      val q = OnlineRefresh.start(spark, s"$tmp/in/*", schema, s"$tmp/snap",
        s"$tmp/ckpt", Seq("user_id"), "ts")
      q.awaitTermination()
    }

    Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "value").write.parquet(s"$tmp/in/b1")
    refresh()
    // batch 2 arrives later: user 1 updated, user 2 new
    Seq((1L, Timestamp.valueOf("2024-01-02 00:00:00"), 9.0),
        (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 5.0))
      .toDF("user_id", "ts", "value").write.mode("append").parquet(s"$tmp/in/b2")
    refresh()

    val snap = spark.read.parquet(s"$tmp/snap")
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    // pre-fix failure mode: each batch rebuilt the store from only itself
    assert(snap == Map(1L -> 9.0, 2L -> 5.0))
  }

  test("online refresh restores a snapshot swap crashed between its renames") {
    val tmp = Files.createTempDirectory("graft-snapheal").toString
    def refresh(): Unit = OnlineRefresh.start(spark, s"$tmp/in/*", schema,
      s"$tmp/snap", s"$tmp/ckpt", Seq("user_id"), "ts").awaitTermination()
    Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 2.0))
      .toDF("user_id", "ts", "value").write.parquet(s"$tmp/in/b1")
    refresh()
    // the state a crash between the swap's two renames leaves: the live
    // snapshot moved aside, its replacement never moved in
    Files.move(java.nio.file.Paths.get(s"$tmp/snap"),
      java.nio.file.Paths.get(s"$tmp/snap_old"))
    Seq((1L, Timestamp.valueOf("2024-01-02 00:00:00"), 9.0),
        (3L, Timestamp.valueOf("2024-01-01 00:00:00"), 3.0))
      .toDF("user_id", "ts", "value").write.parquet(s"$tmp/in/b2")
    refresh()
    val snap = spark.read.parquet(s"$tmp/snap")
      .select("user_id", "value").as[(Long, Double)].collect().toMap
    assert(snap == Map(1L -> 9.0, 2L -> 2.0, 3L -> 3.0),
      "latest-per-key over both batches: the set-aside snapshot must be " +
        "restored, not rebuilt from the second batch alone")
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/snap_old")))
  }

  test("flatMapGroupsWithState latest-per-key emits only real advances") {
    // Spark 4.1 relocated MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import OnlineRefresh.Obs
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-fmgs").toString
    val input = MemoryStream[Obs]
    val q = OnlineRefresh.latestPerKeyStream(input.toDS())
      .writeStream.format("memory").queryName("latest_cdc")
      .outputMode("append").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()

    input.addData(
      Obs("a", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, 1L),
      Obs("a", Timestamp.valueOf("2024-01-01 02:00:00"), 3.0, 2L), // newest in batch wins
      Obs("b", Timestamp.valueOf("2024-01-01 01:00:00"), 5.0, 3L))
    q.processAllAvailable()
    input.addData(
      Obs("a", Timestamp.valueOf("2024-01-01 01:00:00"), 2.0, 4L), // stale ts -> suppressed
      Obs("a", Timestamp.valueOf("2024-01-01 02:00:00"), 9.0, 5L), // equal ts, higher id -> tie-break advance (matches batch argmax)
      Obs("b", Timestamp.valueOf("2024-01-01 04:00:00"), 7.0, 6L)) // advance -> emitted
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table("latest_cdc").as[Obs].collect()
      .groupBy(_.key).view.mapValues(_.map(o => (o.ts.toString, o.value)).toSet).toMap
    assert(emitted("a") == Set(("2024-01-01 02:00:00.0", 3.0), ("2024-01-01 02:00:00.0", 9.0)))
    assert(emitted("b") == Set(("2024-01-01 01:00:00.0", 5.0), ("2024-01-01 04:00:00.0", 7.0)))
  }

  test("streaming dedup drops repeats within the watermark, state stays bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-dedup").toString
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = OnlineRefresh.dedupStream(stream, Seq("doc_id"), "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (1L, Timestamp.valueOf("2024-01-01 00:05:00"), "a-dup"),
      (2L, Timestamp.valueOf("2024-01-01 00:10:00"), "b"))
    q.processAllAvailable()
    input.addData((2L, Timestamp.valueOf("2024-01-01 00:20:00"), "b-dup-next-batch"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "b")), "duplicates must be dropped across micro-batches")
  }

  test("streaming text dedup by digest: same TEXT dropped across batches, ids differ") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-textdedup").toString
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = OnlineRefresh.dedupStreamByDigest(stream, "text", "ts")
      .writeStream.format("memory").queryName("textdedup_out")
      .outputMode("append").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "same body"),
      (2L, Timestamp.valueOf("2024-01-01 00:05:00"), "same body"), // intra-batch dup
      (3L, Timestamp.valueOf("2024-01-01 00:10:00"), "other body"))
    q.processAllAvailable()
    input.addData((4L, Timestamp.valueOf("2024-01-01 00:20:00"), "same body")) // cross-batch dup
    q.processAllAvailable()
    q.stop()
    val out = spark.table("textdedup_out").select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L), s"text duplicates must drop regardless of doc_id: $out")
    // the digest working column must not leak into the output schema
    assert(!spark.table("textdedup_out").columns.contains("__graft_digest"))
  }

  test("streaming simhash dedup: fingerprint-equal near-dups drop, kept set ≡ batch groups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-simdedup").toString
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val q = OnlineRefresh.dedupStreamBySimhash(stream, "text", "ts")
      .writeStream.format("memory").queryName("simdedup_out")
      .outputMode("append").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "the quick brown fox jumps"),
      // same tokens, different whitespace: identical fingerprint, NOT identical text
      (2L, Timestamp.valueOf("2024-01-01 00:05:00"), "the  quick brown  fox jumps"),
      (3L, Timestamp.valueOf("2024-01-01 00:10:00"), "a completely different body"))
    input.addData(rows.take(2))
    q.processAllAvailable()
    input.addData(rows.drop(2)) // cross-batch: new fingerprint passes
    input.addData(Seq((4L, Timestamp.valueOf("2024-01-01 00:20:00"),
      "the quick  brown fox  jumps"))) // cross-batch fingerprint dup drops
    q.processAllAvailable()
    q.stop()
    val out = spark.table("simdedup_out").select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L), s"fingerprint-equal docs must dedup across batches: $out")
    assert(!spark.table("simdedup_out").columns.contains("__graft_simhash"))
    // batch differential: the streaming kept set must be exactly batch
    // simhashGroups64's first-arrival representative per fingerprint
    val batchReps = graft.ops.Dedup
      .simhashGroups64((rows :+ ((4L, Timestamp.valueOf("2024-01-01 00:20:00"),
        "the quick  brown fox  jumps"))).toDF("doc_id", "ts", "text"))
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(batchReps == out, s"stream ≡ batch broken: batch=$batchReps stream=$out")
  }

  test("streaming PIT enrichment equals the one-shot batch as-of join") {
    import graft.fs.PointInTime
    val tmp = Files.createTempDirectory("graft-pit-stream").toString
    // static offline feature history: two entities, two feature versions each
    val features = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10.0, 100L),
      (1L, Timestamp.valueOf("2024-01-01 06:00:00"), 11.0, 101L),
      (2L, Timestamp.valueOf("2024-01-01 03:00:00"), 20.0, 102L),
      // stale beyond the 2-day TTL for the batch-2 probe at Jan 10
      (3L, Timestamp.valueOf("2024-01-01 00:00:00"), 30.0, 103L)
    ).toDF("user_id", "fts", "fval", "fid")

    val entitySchema = StructType(Seq(
      StructField("probe_id", LongType),
      StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    def enrich(): Unit = {
      val q = OnlineRefresh.enrichAsOfStream(spark, s"$tmp/in/*", entitySchema,
        () => features, s"$tmp/out", s"$tmp/ckpt",
        Seq("user_id"), "ts", "fts", Seq("fval"), Some("2 DAYS"), Seq("fid"))
      q.awaitTermination()
    }

    val b1 = Seq(
      (1000L, 1L, Timestamp.valueOf("2024-01-01 05:00:00")), // sees 10.0
      (1001L, 2L, Timestamp.valueOf("2024-01-01 02:00:00"))) // before any feature -> null
    val b2 = Seq(
      (1002L, 1L, Timestamp.valueOf("2024-01-01 07:00:00")), // sees 11.0 (advanced)
      (1003L, 3L, Timestamp.valueOf("2024-01-10 00:00:00"))) // TTL-expired -> null
    b1.toDF("probe_id", "user_id", "ts").write.parquet(s"$tmp/in/b1")
    enrich()
    b2.toDF("probe_id", "user_id", "ts").write.mode("append").parquet(s"$tmp/in/b2")
    enrich()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "fval").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val streamed = canon(spark.read.parquet(s"$tmp/out"))
    val batch = canon(PointInTime.historicalFeatures(
      (b1 ++ b2).toDF("probe_id", "user_id", "ts"), features,
      Seq("user_id"), "ts", "fts", Seq("fval"), Some("2 DAYS"), Seq("fid")))
    assert(streamed == batch, "incremental micro-batch PIT must equal the batch join")
    assert(streamed == Map(1000L -> Some(10.0), 1001L -> None,
      1002L -> Some(11.0), 1003L -> None))
  }

  test("session_window (streaming sessionize) agrees with the batch lag/running-sum form") {
    // batch differential: the same session_window expression runs in batch,
    // so its boundaries must match q_sessionize's gap-based derivation
    val ev = Queries.all("q_sessionize")(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"session_start", $"n_events")
      .as[(Long, Timestamp, Long)].collect().toSet
    val sw = {
      import org.apache.spark.sql.functions._
      Queries.readEvents(spark, "/root/testdata/sf0.001")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"session_window.start".as("session_start"), $"n_events")
        .as[(Long, Timestamp, Long)].collect().toSet
    }
    assert(sw == ev, "session_window and the lag/running-sum sessionizer must produce identical sessions")
  }

  test("streaming sessionize emits closed sessions once the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-sess").toString
    val input = MemoryStream[(Long, Timestamp)]
    val stream = input.toDF().toDF("user_id", "ts")
    val q = OnlineRefresh.sessionAggregate(stream, "ts", "user_id")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 00:10:00")), // same session (gap < 30m)
      (1L, Timestamp.valueOf("2024-01-01 01:00:00"))) // new session
    q.processAllAvailable()
    // push the watermark far past both sessions so append mode closes them
    input.addData((2L, Timestamp.valueOf("2024-01-01 08:00:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out")
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(out == Set(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-01 00:40:00"), 2L),
      (1L, Timestamp.valueOf("2024-01-01 01:00:00"), Timestamp.valueOf("2024-01-01 01:30:00"), 1L)),
      "closed sessions must extend to last-event + gap and count members")
  }

  test("stream-static enrichment joins each micro-batch against the snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-enrich").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("user_id", "feature")
      .write.parquet(s"$tmp/snap")
    val snapshot = spark.read.parquet(s"$tmp/snap")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("user_id", "payload")
    val q = OnlineRefresh.enrichStream(stream, snapshot, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData((1L, "a"), (3L, "c")) // 3 has no snapshot row -> null feature
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched").select("user_id", "payload", "feature")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set((1L, "a", Some(10.0)), (3L, "c", None)))
  }

  test("incremental BM25 index build: multi-batch accumulation equals the monolithic index") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sbm25").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    // stage as 3 files, stream 1 file per trigger -> 3 genuine micro-batches
    corpus.repartition(3).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // the multi-batch reality, not just the merged result: one postings
    // partition per epoch (a silent single-batch run would prove nothing)
    val batches = new java.io.File(s"$tmp/ix/postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batches == 3, s"expected 3 batch partitions, got $batches")
    val qs = Seq(("qa", "spark window table"), ("qb", "customer stream fast"))
      .toDF("query_id", "query")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Double, Int)].collect().sorted.toSeq
    val streamed = canon(TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25Index(spark, s"$tmp/ix"), qs, k = 6))
    val direct = canon(TextAnalysis.bm25TopK(corpus, qs, k = 6))
    assert(streamed == direct, "accumulated index diverged from the one-shot build")
    // checkpointed re-invocation is a no-op: no new epochs, same artifact
    val q2 = OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val batches2 = new java.io.File(s"$tmp/ix/postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batches2 == 3, "resume from checkpoint must not re-build epochs")
  }

  test("decontaminateStream: batching-invariant — 1-file and 4-file runs land identical sets") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ref = docs.where(col("doc_id") % 7 === 0)
    val in = docs.where(col("doc_id") % 7 =!= 0)
    def run(nFiles: Int): Seq[(Long, Double)] = {
      val tmp = Files.createTempDirectory("graft-sdec").toString
      in.repartition(nFiles).write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val q = OnlineRefresh.decontaminateStream(spark, s"$tmp/src", schema,
        () => ref, s"$tmp/out", s"$tmp/ck", maxContamination = 0.5,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      spark.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("contamination"))
        .as[(Long, Double)].collect().sorted.toSeq
    }
    val one = run(1)
    val four = run(4)
    assert(one.nonEmpty && one.size < in.count(),
      s"gate must actually discriminate (kept ${one.size})")
    assert(one == four, "survivor set must not depend on how the stream was batched")
  }

  test("decontaminateStream releases its cached reference grams when the query ends") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.streaming.Trigger
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val tmp = Files.createTempDirectory("graft-sdecrel").toString
    Seq((1L, "the quick brown fox jumps over it"), (2L, "a lazy dog sleeps all day long"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val ref = Seq((9L, "the quick brown fox jumps over it")).toDF("doc_id", "text")
    // the cache manager matches by plan: the same derivation resolves to
    // the stream's cached frame while it is held
    def cached: Boolean = graft.ops.Dedup.referenceGrams(ref, "text", 3)
      .queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .isDefined
    def run(name: String, trigger: Trigger) =
      OnlineRefresh.decontaminateStream(spark, s"$tmp/src", schema, () => ref,
        s"$tmp/out_$name", s"$tmp/ck_$name", maxContamination = 0.5,
        trigger = trigger)
    val live = run("live", Trigger.ProcessingTime("100 milliseconds"))
    live.processAllAvailable()
    assert(cached, "a running query holds the reference grams")
    live.stop()
    live.awaitTermination()
    // the release rides the listener bus, which runs after awaitTermination
    eventually(timeout(30.seconds), interval(50.millis)) { assert(!cached) }
    val once = run("once", Trigger.AvailableNow())
    once.awaitTermination()
    eventually(timeout(30.seconds), interval(50.millis)) { assert(!cached) }
    assert(spark.read.parquet(s"$tmp/out_once").select("doc_id").as[Long]
      .collect().toSeq == Seq(2L), "the gate still drops the contaminated doc")
  }

  test("streaming incremental dedup: sequential fold vs standing corpus, resume is a no-op") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sdinc").toString
    // tiny corpus, shard = doc_id parity: a within-shard exact dup
    // (2,12 — both even), a CROSS-shard exact dup (4 even, 1 odd — the
    // standing-corpus kill), and unique rest
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "the quick brown fox"),
      (3L, "unrelated text one"), (4L, "alpha beta gamma delta"),
      (12L, "the quick brown fox"), (13L, "completely different words here")
    ).toDF("doc_id", "text")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for (i <- 0 until 2) {
      val part = Files.createTempDirectory("graft-sdinc-part").toString
      docs.where(col("doc_id") % 2 === i).coalesce(1)
        .write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    // shard 0 (even ids 2, 4, 12): 12 dups 2 within-shard → survivors 2, 4
    // shard 1 (odd ids 1, 3, 13): 1's text already stands as doc 4 → the
    // digest anti-join kills it; survivors 3, 13
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.dedupIncrementalStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out/docs")
      .select(col("doc_id"), col("batch").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == Seq((2L, 0L), (3L, 1L), (4L, 0L), (13L, 1L)),
      s"sequential fold broke: $got")
    // resume from checkpoint: no re-delivery, no new partitions
    val q2 = OnlineRefresh.dedupIncrementalStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val batches = new java.io.File(s"$tmp/out/docs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batches == 2, "resume from checkpoint must not re-run epochs")
  }

  test("spanBankIngestStream: later batches score vs the standing bank; self-repeats clean; resume no-op") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sspan").toString
    // shard = doc_id parity, width 3. Batch 0 (even): 2 and 4 land the
    // bank. Batch 1 (odd): 1 shares two windows with 2; 5 is an exact
    // copy of 4; 3 and 15 repeat each other WITHIN the batch (and 3
    // repeats itself) — the self-repeat contract says both score clean.
    val docs = Seq(
      (2L, "a b c d e"), (4L, "x y z w"),
      (1L, "a b c d q"), (3L, "p p p p p"), (5L, "x y z w"),
      (13L, "totally new words here now"), (15L, "p p p p p")
    ).toDF("doc_id", "text")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for (i <- 0 until 2) {
      val part = Files.createTempDirectory("graft-sspan-part").toString
      docs.where(col("doc_id") % 2 === i).coalesce(1)
        .write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.spanBankIngestStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", width = 3, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out/coverage")
      .select(col("doc_id"), col("n_windows").cast("long"),
        col("dup_windows"), col("batch").cast("long"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 1L),   // "a b c", "b c d" banked by doc 2; "c d q" new
      (2L, 3L, 0L, 0L),   // batch 0 scores clean by construction
      (3L, 3L, 0L, 1L),   // self/within-batch repeats are NOT boilerplate
      (4L, 2L, 0L, 0L),
      (5L, 2L, 2L, 1L),   // exact copy of banked doc 4
      (13L, 3L, 0L, 1L),
      (15L, 3L, 0L, 1L)), s"span coverage fold broke: $got")
    // resume from checkpoint: no re-delivery, no new partitions
    val q2 = OnlineRefresh.spanBankIngestStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", width = 3, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    def nParts(sub: String) = new java.io.File(s"$tmp/out/$sub").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(nParts("coverage") == 2 && nParts("bank") == 2,
      "resume from checkpoint must not re-run epochs")
  }

  test("zorderIngestStream: epochs land once, reads exact across epochs, resume appends, compaction preserves serve") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = Files.createTempDirectory("graft-szing").toString
    val grid = spark.range(4000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b"))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    def stage(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val part = Files.createTempDirectory("graft-szing-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    for (i <- 0 until 3) stage(i, grid.where(col("id") % 3 === i))
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = {
      val q = OnlineRefresh.zorderIngestStream(spark, s"$tmp/src", schema,
        s"$tmp/z", s"$tmp/ck", Seq("a", "b"), "id",
        numFilesPerBatch = 2, maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    run()
    def nEpochs: Int = new java.io.File(s"$tmp/z").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(nEpochs == 3, s"3 staged files must land 3 epochs, got $nEpochs")
    // exactness across epochs: composed range+point vs the full scan
    def checkExact(): Unit = {
      val full = spark.read.parquet(s"$tmp/z")
        .where(col("a").between(10.0, 25.0) && col("b").between(30.0, 45.0))
        .select("id", "a", "b")
      val pruned = graft.fs.Layout.prunedRead(spark, s"$tmp/z",
        Seq(("a", 10.0, 25.0), ("b", 30.0, 45.0))).select("id", "a", "b")
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        "streamed layout pruned read must equal the full-scan filter")
      assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(777L))
        .count() == 1)
    }
    checkExact()
    // resume from checkpoint: no re-delivery, no new epochs, indexes fresh
    run()
    assert(nEpochs == 3, "resume must not re-run epochs")
    checkExact()
    // a late 4th shard arrives: resume ingests exactly it
    stage(3, spark.range(4000, 5000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b")))
    run()
    assert(nEpochs == 4, "the late shard must land as one new epoch")
    checkExact()
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(4500L)).count() == 1,
      "late-shard rows must be point-readable through the refreshed index")
    // compaction folds committed epochs, serve unchanged
    assert(OnlineRefresh.compactZorderLayout(spark, s"$tmp/z", Seq("a", "b"), "id",
      numFiles = 4))
    assert(nEpochs == 2, s"compaction must leave target + newest, got $nEpochs")
    checkExact()
    assert(spark.read.parquet(s"$tmp/z").count() == 5000,
      "compaction moves bytes, never rows")
    // crash INSIDE the companion compaction's ROOT swap (live dir gone,
    // set-aside present): the next ingest batch must restore the root
    // BEFORE appending — the r14 ADVICE gap: without the head recovery
    // the batch would recreate the root holding only its own epoch and
    // the allowGone refreshes would silently drop every pre-compaction
    // file from the indexes (silent row loss, not a loud staleness
    // failure)
    val root = new java.io.File(s"$tmp/z")
    val rootAside = new java.io.File(s"$tmp/z_old")
    assert(root.renameTo(rootAside))
    stage(4, spark.range(5000, 5100).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b")))
    run()
    assert(root.isDirectory && !rootAside.exists,
      "the ingest stream's head recovery must restore the swapped-aside root")
    assert(spark.read.parquet(s"$tmp/z").count() == 5100,
      "recovery must restore the whole pre-crash table, not just the new epoch")
    checkExact()
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(5050L)).count() == 1,
      "the post-crash epoch must land and index as usual")
  }

  test("zorderIngestStream maintains the quantile index per epoch when configured") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = Files.createTempDirectory("graft-szq").toString
    val grid = spark.range(4000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b"))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    def stage(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val part = Files.createTempDirectory("graft-szq-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    for (i <- 0 until 3) stage(i, grid.where(col("id") % 3 === i))
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = {
      val q = OnlineRefresh.zorderIngestStream(spark, s"$tmp/src", schema,
        s"$tmp/z", s"$tmp/ck", Seq("a", "b"), "id",
        numFilesPerBatch = 2, maxFilesPerTrigger = Some(1),
        quantileOn = Some(("b", "id")), quantileK = 16)
      q.awaitTermination()
    }
    run()
    val rect = Seq(("a", 5.0, 40.0), ("b", 10.0, 70.0))
    def direct(): (Long, Double) = {
      val sk = graft.ops.Sketches.quantileSketch(
        spark.read.parquet(s"$tmp/z")
          .where(col("a").between(5.0, 40.0) && col("b").between(10.0, 70.0))
          .withColumn("g", lit(1)),
        "g", col("id"), col("b"), k = 16)
      val r = graft.ops.Sketches.quantileEstimate(sk, "g",
        Seq(0.5 -> "p50")).head()
      (r.getAs[Long]("n_seen"), r.getAs[Double]("p50"))
    }
    def pushed(): (Long, Double) = {
      val (n, qs, _, _) = graft.fs.Layout.quantileMatching(spark, s"$tmp/z",
        rect, "b", "id", probs = Seq(0.5), k = 16)
      (n, qs(0).get)
    }
    assert(pushed() == direct(), "streamed quantile index must serve the pushdown")
    // a late shard lands one epoch; the incremental refresh catches up
    stage(3, spark.range(4000, 5000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b")))
    run()
    assert(pushed() == direct(), "late-shard samples must fold in exactly")
    assert(spark.read.parquet(s"$tmp/z").count() == 5000)
  }

  test("zorderDeleteStream: fed keys leave exactly, resume no-op, late takedown shard applies, serve stays exact throughout") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = Files.createTempDirectory("graft-szdel").toString
    val grid = spark.range(4000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b"))
    // the standing table: 2-epoch layout, both indexes
    graft.fs.Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0),
      s"$tmp/z", Seq("a", "b"), bits = 6, numFiles = 4)
    graft.fs.Layout.appendZorderedEpoch(grid.where(col("id") % 2 === 1),
      s"$tmp/z", 1, numFiles = 4)
    graft.fs.Layout.writeManifest(spark, s"$tmp/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$tmp/z", "id")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    def stage(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val part = Files.createTempDirectory("graft-szdel-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    stage(0, spark.range(0, 100).toDF("id"))
    stage(1, spark.range(200, 250).toDF("id"))
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = {
      val q = OnlineRefresh.zorderDeleteStream(spark, s"$tmp/src", schema,
        s"$tmp/z", s"$tmp/ck", Seq("a", "b"), "id",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    def checkExact(expected: Long): Unit = {
      assert(spark.read.parquet(s"$tmp/z").count() == expected)
      val full = spark.read.parquet(s"$tmp/z")
        .where(col("a").between(10.0, 25.0) && col("b").between(30.0, 45.0))
        .select("id", "a", "b")
      val pruned = graft.fs.Layout.prunedRead(spark, s"$tmp/z",
        Seq(("a", 10.0, 25.0), ("b", 30.0, 45.0))).select("id", "a", "b")
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        "pruned read must stay exact after streamed deletes")
    }
    run()
    checkExact(4000 - 150)
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(42L)).count() == 0,
      "a fed key must be gone")
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(150L)).count() == 1,
      "an unfed key must survive")
    // resume from checkpoint: no re-delivery, nothing moves
    run()
    checkExact(3850)
    // a late takedown shard arrives; resume applies exactly it
    stage(2, spark.range(3000, 3010).toDF("id"))
    run()
    checkExact(3840)
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(3005L)).count() == 0)
    // crash INSIDE a partition swap (set-aside present, live dir gone):
    // the next batch must restore the partition BEFORE its head refresh
    // — refreshing first would record the partition's files as gone and
    // serve without its surviving rows
    val p0 = new java.io.File(s"$tmp/z/batch=0")
    val aside = new java.io.File(s"$tmp/z/.delold_batch=0")
    assert(p0.renameTo(aside))
    stage(3, spark.range(500, 510).toDF("id"))
    run()
    assert(p0.isDirectory && !aside.exists,
      "the stream's head recovery must restore the set-aside partition")
    checkExact(3830)
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(502L)).count() == 0)
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(600L)).count() == 1,
      "rows from the recovered partition must survive and stay indexed")
  }

  test("maintainLayout: folds pend, recluster fires on drift, compact on file count, no-op below thresholds") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val grid = spark.range(10000).select(col("id"),
      (col("id") % 100).cast("double").as("a"),
      (col("id") / lit(100)).cast("long").cast("double").as("b"))
    def actions(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.as[(String, Double)].collect().toMap
    // (1) healthy uniform layout, nothing pending → measure-only report
    val t1 = Files.createTempDirectory("graft-maint1").toString
    graft.fs.Layout.writeZordered(grid, s"$t1/z", "a", "b", bits = 6,
      numFiles = 8)
    graft.fs.Layout.writeManifest(spark, s"$t1/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$t1/z", "id")
    val r1 = actions(OnlineRefresh.maintainLayout(spark, s"$t1/z",
      Seq("a", "b"), "id", reclusterAt = 0.3, maxFiles = 64))
    assert(!r1.contains("reclustered") && !r1.contains("compacted") &&
      !r1.keys.exists(_.startsWith("fold_")), s"healthy table must no-op: $r1")
    assert(r1.contains("drift_a") && r1("files_before") == 8.0)
    // (2) drifted + both sidecars pending → folds, then recluster
    // (epoch shape — the delta fold goes through upsertByKey, which
    // needs the bounded-rewrite unit; bounds freeze on the low epoch)
    val t2 = Files.createTempDirectory("graft-maint2").toString
    graft.fs.Layout.buildZorderedEpoch(grid.where(col("b") <= 49.0), s"$t2/z",
      Seq("a", "b"), bits = 6, numFiles = 8)
    graft.fs.Layout.appendZorderedEpoch(grid.where(col("b") > 49.0), s"$t2/z",
      1, numFiles = 8)
    graft.fs.Layout.writeManifest(spark, s"$t2/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$t2/z", "id")
    graft.fs.Layout.deleteLogical(spark, s"$t2/z",
      spark.range(100, 120).toDF("id"), "id")
    graft.fs.Layout.upsertLogical(spark, s"$t2/z",
      Seq((8L, 999.0, 999.0), (110L, 1.0, 1.0)).toDF("id", "a", "b"), "id")
    val r2 = actions(OnlineRefresh.maintainLayout(spark, s"$t2/z",
      Seq("a", "b"), "id", reclusterAt = 0.3, maxFiles = 64))
    assert(r2("fold_tombstones_removed") == 20.0)
    // the staged update of tombstoned key 110 must NOT resurrect it
    assert(r2("fold_deltas_replaced") == 1.0 && r2("fold_deltas_inserted") == 1.0)
    assert(r2("reclustered") == 1.0 && r2("drift_b") > 0.3 &&
      r2("drift_after_b") < 0.3, s"recluster must fire and reset: $r2")
    val served = spark.read.parquet(s"$t2/z")
    assert(served.count() == 10000 - 20)
    assert(graft.fs.Layout.pointRead(spark, s"$t2/z", "id", lit(8L))
      .select("a").head().getDouble(0) == 999.0)
    assert(graft.fs.Layout.pointRead(spark, s"$t2/z", "id", lit(110L)).count() == 0)
    // (3) fragmented uniform layout → compact branch (epoch shape)
    val t3 = Files.createTempDirectory("graft-maint3").toString
    graft.fs.Layout.buildZorderedEpoch(grid.where(col("id") % 4 === 0),
      s"$t3/z", Seq("a", "b"), bits = 6, numFiles = 4)
    for (r <- 1 to 3)
      graft.fs.Layout.appendZorderedEpoch(grid.where(col("id") % 4 === r),
        s"$t3/z", r, numFiles = 4)
    graft.fs.Layout.writeManifest(spark, s"$t3/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$t3/z", "id")
    // the id%4 epoch split skews a's bucket occupancy (every 4th value),
    // so pin the drift gate out of the way — this scenario tests the
    // file-count decision
    val r3 = actions(OnlineRefresh.maintainLayout(spark, s"$t3/z",
      Seq("a", "b"), "id", reclusterAt = 0.9, maxFiles = 8, numFiles = 4))
    assert(r3("compacted") == 1.0 && !r3.contains("reclustered"), s"$r3")
    assert(r3("files_after") < r3("files_before"), s"$r3")
    assert(spark.read.parquet(s"$t3/z").count() == 10000)
    // pruned reads serve exactly after maintenance (indexes rewritten)
    val pr = graft.fs.Layout.prunedRead(spark, s"$t3/z",
      Seq(("a", 0.0, 30.0), ("b", 0.0, 10.0))).select("id", "a", "b")
    val full = grid.where(col("a").between(0.0, 30.0) &&
      col("b").between(0.0, 10.0))
    assert(pr.exceptAll(full).isEmpty && full.exceptAll(pr).isEmpty)
    // (4) tierBytes set: the INCREMENTAL fold takes the compact slot —
    // only the small tail rewrites, the big epoch's files stay; a second
    // pass with nothing left to tier falls through to the full fold
    // striped epoch split (like t3) so every epoch is identically
    // distributed — this scenario tests the tier decision, not drift
    val t4 = Files.createTempDirectory("graft-maint4").toString
    graft.fs.Layout.buildZorderedEpoch(
      grid.where(org.apache.spark.sql.functions.pmod(col("id"), lit(8)) < 5),
      s"$t4/z", Seq("a", "b"), bits = 6, numFiles = 8)
    for (r <- 5 to 7)
      graft.fs.Layout.appendZorderedEpoch(
        grid.where(org.apache.spark.sql.functions.pmod(col("id"), lit(8)) === r),
        s"$t4/z", r, numFiles = 4)
    graft.fs.Layout.writeManifest(spark, s"$t4/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$t4/z", "id")
    // a STANDING optional index: maintenance must leave it fresh too
    graft.fs.Layout.writeQuantileIndex(spark, s"$t4/z", "b", "id", k = 16)
    def quantOk(): Unit = {
      val (n, qs, _, _) = graft.fs.Layout.quantileMatching(spark, s"$t4/z",
        Seq(("a", 0.0, 99.0), ("b", 0.0, 99.0)), "b", "id",
        probs = Seq(0.5), k = 16)
      assert(n == 16 && qs(0).nonEmpty,
        "standing quantile index must serve after maintenance")
    }
    val rp4 = new org.apache.hadoop.fs.Path(s"$t4/z")
    val hfs4 = rp4.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigBytes = hfs4.getContentSummary(
      new org.apache.hadoop.fs.Path(rp4, "batch=0")).getLength
    def bigFiles(): Set[String] = hfs4.listStatus(
      new org.apache.hadoop.fs.Path(rp4, "batch=0"))
      .map(_.getPath.getName).toSet
    val bigBefore = bigFiles()
    val r4 = actions(OnlineRefresh.maintainLayout(spark, s"$t4/z",
      Seq("a", "b"), "id", reclusterAt = 0.9, maxFiles = 8, numFiles = 4,
      tierBytes = Some(bigBytes / 2)))
    assert(r4("tiered") == 2.0 && !r4.contains("compacted"), s"$r4")
    assert(bigFiles() == bigBefore, "tier must not touch the big epoch")
    assert(r4("files_after") < r4("files_before"), s"$r4")
    quantOk()
    val pr4 = graft.fs.Layout.prunedRead(spark, s"$t4/z",
      Seq(("a", 0.0, 30.0), ("b", 0.0, 10.0))).select("id", "a", "b")
    assert(pr4.exceptAll(full).isEmpty && full.exceptAll(pr4).isEmpty)
    // nothing small enough remains (one tiered epoch + newest) — the
    // same call now takes the full-fold fallback
    val r5 = actions(OnlineRefresh.maintainLayout(spark, s"$t4/z",
      Seq("a", "b"), "id", reclusterAt = 0.9, maxFiles = 8, numFiles = 4,
      tierBytes = Some(bigBytes / 2)))
    assert(r5.contains("compacted") && !r5.contains("tiered"), s"$r5")
    assert(spark.read.parquet(s"$t4/z").count() == 10000)
    quantOk()
  }

  test("zorder MoR streams: takedowns tombstone and CDC batches stage at O(feed), serves exact, folds converge") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-szmor").toString
    val grid = spark.range(4000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b"))
    graft.fs.Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0),
      s"$tmp/z", Seq("a", "b"), bits = 6, numFiles = 4)
    graft.fs.Layout.appendZorderedEpoch(grid.where(col("id") % 2 === 1),
      s"$tmp/z", 1, numFiles = 4)
    graft.fs.Layout.writeManifest(spark, s"$tmp/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$tmp/z", "id")
    def dataFiles(): Set[String] = {
      def walk(d: java.io.File): Seq[String] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f.getName))
      walk(new java.io.File(s"$tmp/z")).filter(_.endsWith(".parquet")).toSet
    }
    val before = dataFiles()
    def stage(dir: String, i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(dir))
      val part = Files.createTempDirectory("graft-szmor-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$dir/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    // takedown feed: 150 keys over two mtime-ordered batches
    stage(s"$tmp/dsrc", 0, spark.range(0, 100).toDF("id"))
    stage(s"$tmp/dsrc", 1, spark.range(200, 250).toDF("id"))
    val dSchema = spark.read.parquet(s"$tmp/dsrc").schema
    def runDel(): Unit = OnlineRefresh.zorderDeleteMorStream(spark,
      s"$tmp/dsrc", dSchema, s"$tmp/z", s"$tmp/dck", "id",
      maxFilesPerTrigger = Some(1)).awaitTermination()
    runDel()
    assert(dataFiles() == before,
      "the MoR takedown stream must move ZERO data bytes")
    assert(graft.fs.Layout.readLayoutMor(spark, s"$tmp/z", "id").count() == 3850)
    assert(graft.fs.Layout.pointReadMor(spark, s"$tmp/z", "id", lit(42L)).count() == 0)
    assert(graft.fs.Layout.pointReadMor(spark, s"$tmp/z", "id", lit(150L)).count() == 1)
    // resume from checkpoint: no re-delivery, nothing changes
    runDel()
    assert(graft.fs.Layout.readLayoutMor(spark, s"$tmp/z", "id").count() == 3850)
    // CDC feed: replace id 300 twice across batches (latest wins), insert 20000
    stage(s"$tmp/usrc", 0, Seq((300L, 999.0, 999.0)).toDF("id", "a", "b"))
    stage(s"$tmp/usrc", 1,
      Seq((300L, 777.0, 777.0), (20000L, 1.0, 1.0)).toDF("id", "a", "b"))
    val uSchema = spark.read.parquet(s"$tmp/usrc").schema
    def runUps(): Unit = OnlineRefresh.zorderUpsertMorStream(spark,
      s"$tmp/usrc", uSchema, s"$tmp/z", s"$tmp/uck", "id",
      maxFilesPerTrigger = Some(1)).awaitTermination()
    runUps()
    assert(dataFiles() == before,
      "the MoR CDC stream must move ZERO data bytes")
    assert(graft.fs.Layout.pointReadMor(spark, s"$tmp/z", "id", lit(300L))
      .select("a").head().getDouble(0) == 777.0,
      "latest staged batch must win across stream batches")
    assert(graft.fs.Layout.pointReadMor(spark, s"$tmp/z", "id", lit(20000L)).count() == 1)
    assert(graft.fs.Layout.readLayoutMor(spark, s"$tmp/z", "id").count() == 3851)
    runUps() // resume: no re-delivery, serve unchanged
    assert(graft.fs.Layout.pointReadMor(spark, s"$tmp/z", "id", lit(300L))
      .select("a").head().getDouble(0) == 777.0)
    // folds converge regardless of order; pushdowns re-arm
    assert(graft.fs.Layout.applyUpsertDeltas(spark, s"$tmp/z", "id",
      Seq("a", "b")) == ((1L, 2L)))
    assert(graft.fs.Layout.applyTombstones(spark, s"$tmp/z", "id",
      Seq("a", "b")) == 150L)
    assert(spark.read.parquet(s"$tmp/z").count() == 3851)
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(300L))
      .select("a").head().getDouble(0) == 777.0)
    assert(graft.fs.Layout.countMatching(spark, s"$tmp/z",
      Seq(("a", 0.0, 2000.0)))._1 == 3851L)
  }

  test("zorderUpsertStream: CDC batches apply latest-wins, resume no-op, late shard overrides, inserts land") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = Files.createTempDirectory("graft-szups").toString
    val grid = spark.range(4000).select(col("id"),
      (col("id") % 50).cast("double").as("a"),
      (col("id") / lit(50)).cast("long").cast("double").as("b"))
    graft.fs.Layout.buildZorderedEpoch(grid.where(col("id") % 2 === 0),
      s"$tmp/z", Seq("a", "b"), bits = 6, numFiles = 4)
    graft.fs.Layout.appendZorderedEpoch(grid.where(col("id") % 2 === 1),
      s"$tmp/z", 1, numFiles = 4)
    graft.fs.Layout.writeManifest(spark, s"$tmp/z", Seq("a", "b"))
    graft.fs.Layout.writeValueIndex(spark, s"$tmp/z", "id")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    def stage(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val part = Files.createTempDirectory("graft-szups-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    // batch 0 updates keys 10..19; batch 1 updates 15..24 (overlap —
    // the later batch must win) and inserts new keys 9000..9004
    stage(0, spark.range(10, 20).select(col("id"),
      lit(111.0).as("a"), lit(111.0).as("b")))
    stage(1, spark.range(15, 25).select(col("id"),
      lit(222.0).as("a"), lit(222.0).as("b"))
      .unionByName(spark.range(9000, 9005).select(col("id"),
        lit(333.0).as("a"), lit(333.0).as("b"))))
    val schema = spark.read.parquet(s"$tmp/src").schema
    def run(): Unit = {
      val q = OnlineRefresh.zorderUpsertStream(spark, s"$tmp/src", schema,
        s"$tmp/z", s"$tmp/ck", Seq("a", "b"), "id",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    def aOf(id: Long): Double =
      graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(id))
        .select("a").head().getDouble(0)
    run()
    assert(spark.read.parquet(s"$tmp/z").count() == 4005,
      "15 updates in place + 5 inserts over 4000")
    assert(graft.fs.Layout.pointRead(spark, s"$tmp/z", "id", lit(17L)).count() == 1,
      "an overlapping key must exist exactly once")
    assert(aOf(12L) == 111.0 && aOf(17L) == 222.0 && aOf(9002L) == 333.0,
      "batch-0 version, batch-1 override, and insert must all serve")
    // resume: no re-delivery, nothing moves
    run()
    assert(spark.read.parquet(s"$tmp/z").count() == 4005)
    assert(aOf(17L) == 222.0)
    // a late CDC shard overrides again
    stage(2, spark.range(17, 18).select(col("id"),
      lit(444.0).as("a"), lit(444.0).as("b")))
    run()
    assert(spark.read.parquet(s"$tmp/z").count() == 4005 && aOf(17L) == 444.0)
  }

  test("span bank retract: ≡ rebuild over survivors on disjoint spans; idempotent; kills the boilerplate signal") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sspanr").toString
    // batch = doc_id parity; doc 3 (the future takedown) shares no
    // width-3 span with any other doc — the rebuild-equivalence corpus
    val docs = Seq(
      (2L, "a b c d e"), (4L, "m n o p"),
      (1L, "q r s t"), (3L, "taken down content entirely"))
      .toDF("doc_id", "text")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for (i <- 0 until 2) {
      val part = Files.createTempDirectory("graft-sspanr-part").toString
      docs.where(col("doc_id") % 2 === i).coalesce(1)
        .write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.spanBankIngestStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", width = 3, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // before retraction: an exact copy of doc 3 scores fully boilerplate
    val probe = Seq((99L, "taken down content entirely")).toDF("doc_id", "text")
    def score(): (Long, Long) = graft.ops.Dedup.duplicateSpansAgainst(probe,
        OnlineRefresh.readSpanBank(spark, s"$tmp/out"), width = 3)
      .select(col("n_windows").cast("long"), col("dup_windows"))
      .as[(Long, Long)].head()
    assert(score() == ((2L, 2L)), "banked doc must flag its copy")
    OnlineRefresh.retractSpanBank(spark, s"$tmp/out", docs.where(col("doc_id") === 3),
      width = 3)
    // the takedown's signal is gone...
    assert(score() == ((2L, 0L)), "retracted doc must stop flagging copies")
    // ...and the surviving bank ≡ a rebuild over the survivors
    val survivors = graft.ops.Dedup.spanFingerprintBank(
      docs.where(col("doc_id") =!= 3), width = 3)
    val after = OnlineRefresh.readSpanBank(spark, s"$tmp/out")
    assert(after.exceptAll(survivors).isEmpty && survivors.exceptAll(after).isEmpty,
      "disjoint-span retraction must equal the survivor rebuild")
    // idempotent: re-applying the same takedown is a no-op
    OnlineRefresh.retractSpanBank(spark, s"$tmp/out", docs.where(col("doc_id") === 3),
      width = 3)
    assert(OnlineRefresh.readSpanBank(spark, s"$tmp/out").exceptAll(survivors).isEmpty)
    // other docs' signals are untouched
    val p2 = Seq((98L, "a b c d e")).toDF("doc_id", "text")
    val kept = graft.ops.Dedup.duplicateSpansAgainst(p2,
        OnlineRefresh.readSpanBank(spark, s"$tmp/out"), width = 3)
      .select(col("dup_windows")).as[Long].head()
    assert(kept == 3L, s"survivor spans must keep flagging, got $kept")
  }

  test("span bank compact: serve unchanged, stream resumes and scores vs the folded bank") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sspanc").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    def stage(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val part = Files.createTempDirectory("graft-sspanc-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    for (i <- 0 until 3) stage(i, corpus.where(col("doc_id") % 4 === i))
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.spanBankIngestStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", width = 8, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val before = OnlineRefresh.readSpanBank(spark, s"$tmp/out").collect().toSet
    assert(OnlineRefresh.compactSpanBank(spark, s"$tmp/out"), "3 epochs must compact")
    def nParts() = new java.io.File(s"$tmp/out/bank").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(nParts() == 2, "compaction folds to oldest + newest")
    assert(OnlineRefresh.readSpanBank(spark, s"$tmp/out").collect().toSet == before,
      "compaction must not move the bank's fp set")
    assert(!OnlineRefresh.compactSpanBank(spark, s"$tmp/out"),
      "2 partitions: nothing to fold")
    // resume: a 4th shard arrives and scores against the compacted bank —
    // same coverage the uncompacted bank would give (the batch twin)
    stage(3, corpus.where(col("doc_id") % 4 === 3))
    val q2 = OnlineRefresh.spanBankIngestStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", width = 8, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out/coverage")
      .where(col("batch") === 3)
      .select(col("doc_id"), col("n_windows"), col("dup_windows"), col("dup_ratio"))
    val want = graft.ops.Dedup.duplicateSpansAgainst(
      corpus.where(col("doc_id") % 4 === 3),
      graft.ops.Dedup.spanFingerprintBank(corpus.where(col("doc_id") % 4 < 3), width = 8),
      width = 8)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "post-compaction epoch must score exactly as the batch twin")
  }

  test("buildPqIndexStream: shard-union ≡ monolithic; retract drops exactly the ids; compact folds; resume no-op") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-spqix").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val books = graft.ops.Similarity.pqCodebookTable(emb)
    val q = OnlineRefresh.buildPqIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", books, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    def nParts() = new java.io.File(s"$tmp/ix/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(nParts() == 4, "4 staged files → 4 epochs")
    // per-row encoding has no cross-row terms: the streamed artifact must
    // SERVE exactly as the monolithic build
    val probes = emb.where(col("vec_id") < 10)
    val served = graft.ops.Similarity.pqTopKFromIndex(
      OnlineRefresh.readPqIndex(spark, s"$tmp/ix"), probes, k = 5)
    val direct = graft.ops.Similarity.pqTopKFromIndex(
      graft.ops.Similarity.pqIndex(emb), probes, k = 5)
    assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty,
      "streamed PQ serve must equal the monolithic build's")
    // retraction: encode(W ∖ D) by dropping rows
    val dels = emb.where(col("vec_id") % 7 === 0).select(col("vec_id"))
    OnlineRefresh.retractPqArtifact(spark, s"$tmp/ix", dels)
    val after = OnlineRefresh.readPqIndex(spark, s"$tmp/ix").codes
      .select(col("vec_id"), col("codes"), col("recon_n2"))
    val want = graft.ops.Similarity.pqEncodeAgainst(
      emb.where(col("vec_id") % 7 =!= 0), books)
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty,
      "retracted codes must equal the survivor encode")
    // compaction: fold 3 committed epochs into the oldest, set unchanged
    val before = after.collect().toSet
    assert(OnlineRefresh.compactPqIndex(spark, s"$tmp/ix"), "4 epochs must compact")
    assert(nParts() == 2, "compaction folds to oldest + newest")
    assert(OnlineRefresh.readPqIndex(spark, s"$tmp/ix").codes
      .select(col("vec_id"), col("codes"), col("recon_n2"))
      .collect().toSet == before, "compaction must not move the codes set")
    // resume from checkpoint: no re-delivery, no new partitions
    val q2 = OnlineRefresh.buildPqIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", books, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    assert(nParts() == 2, "resume from checkpoint must not re-run epochs")
  }

  test("compaction: serve output unchanged, stream resumes and appends on top") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sbm25c").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val wave1 = corpus.where(col("doc_id") < 400)
    val wave2 = corpus.where(col("doc_id") >= 400)
    wave1.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    def nParts(sub: String) = new java.io.File(s"$tmp/ix/$sub").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(nParts("postings") == 4)
    val qs = Seq(("qa", "spark window table"), ("qb", "customer stream fast"))
      .toDF("query_id", "query")
    def serve() = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25Index(spark, s"$tmp/ix"), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val before = serve()
    assert(OnlineRefresh.compactBm25Index(spark, s"$tmp/ix"), "4 epochs must compact")
    assert(nParts("postings") == 2 && nParts("stats") == 2,
      "3 committed epochs fold into the oldest partition; newest kept verbatim")
    assert(serve() == before, "compaction must not move the served scores")
    // idempotent second call: 2 partitions -> nothing non-newest to fold
    assert(!OnlineRefresh.compactBm25Index(spark, s"$tmp/ix"))
    // RESUME: stage a second wave, restart from the same checkpoint — new
    // epochs append on top of the compacted artifact, and the final serve
    // equals a monolithic build over BOTH waves
    wave2.repartition(2).write.mode("append").parquet(s"$tmp/src")
    val q2 = OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    assert(nParts("postings") == 4, "resume must append 2 fresh epochs")
    val direct = TextAnalysis.bm25TopK(corpus, qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    assert(serve() == direct, "resumed-after-compaction index diverged from monolithic")
  }

  test("KMV/quantile compaction: estimates unchanged after merge-fold") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-skmvc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.buildKmvSketchStream(spark, s"$tmp/src", schema,
      s"$tmp/kmv", s"$tmp/ck", "source", "text", k = 16, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    def est() = graft.ops.Sketches.kmvEstimate(
      OnlineRefresh.readKmvSketch(spark, s"$tmp/kmv", "source", 16), "source", 16)
      .as[(String, Long, Double)].collect().sorted.toSeq
    val before = est()
    assert(OnlineRefresh.compactKmvSketch(spark, s"$tmp/kmv", "source", 16))
    assert(est() == before, "KMV estimate moved under compaction")
    val q2 = OnlineRefresh.buildQuantileSketchStream(spark, s"$tmp/src", schema,
      s"$tmp/qsk", s"$tmp/ck2", "source", "doc_id", "n_chars", k = 16,
      maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    def qest() = graft.ops.Sketches.quantileEstimate(
      OnlineRefresh.readQuantileSketch(spark, s"$tmp/qsk", "source", 16), "source")
      .as[(String, Long, Double, Double)].collect().sorted.toSeq
    val qBefore = qest()
    assert(OnlineRefresh.compactQuantileSketch(spark, s"$tmp/qsk", "source", 16))
    assert(qest() == qBefore, "quantile estimate moved under compaction")
  }

  test("minhashIncrementalStream: fold vs the signature artifact; artifact tracks survivors") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-smhinc").toString
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo"
    // shard = parity: 12 exact-dups 2 within shard 0; odd 1 is an exact
    // dup of standing 2; odd 5 is standing 4 plus trailing whitespace —
    // its RAW-text digest differs (stage 1 misses it) but its shingle set
    // is identical (est_jaccard = 1.0, band collision certain), so ONLY
    // the signature-artifact stage can kill it — deterministic, unlike a
    // changed-token near-dup whose band collision is a hash coin flip
    val docs = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, base), (12L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (5L, base + " "),
      (3L, "totally unrelated words in this one here")
    ).toDF("doc_id", "text")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for (i <- 0 until 2) {
      val part = Files.createTempDirectory("graft-smhinc-part").toString
      docs.where(col("doc_id") % 2 === i).coalesce(1)
        .write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/shard_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.minhashIncrementalStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", threshold = 0.35, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val got = spark.read.parquet(s"$tmp/out/docs")
      .select(col("doc_id"), col("batch").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(got == Seq((2L, 0L), (3L, 1L), (4L, 0L)),
      s"fold broke (12 dups 2 in-shard; 1 exact-kills vs standing; 5 near-kills): $got")
    // the signature artifact must hold exactly the survivors' signatures
    val sigIds = spark.read.parquet(s"$tmp/out/sigs")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(sigIds == Seq(2L, 3L, 4L), s"artifact out of step with survivors: $sigIds")
    // resume from checkpoint: no re-delivery, no new partitions
    val q2 = OnlineRefresh.minhashIncrementalStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", threshold = 0.35, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val batches = new java.io.File(s"$tmp/out/sigs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batches == 2, "resume from checkpoint must not re-run epochs")
  }

  test("crash recovery: a half-swapped artifact self-heals from any public entry point") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sheal").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    corpus.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1)).awaitTermination()
    val qs = Seq(("qa", "spark window table")).toDF("query_id", "query")
    def serve() = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25Index(spark, s"$tmp/ix"), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val before = serve()
    // crash window: the root renamed aside, replacement never moved in —
    // the state a kill between swapDir's two renames leaves behind (the
    // root is the only swap unit, so no sub-dir can be left half-swapped)
    def simulateCrash(dir: String): Unit = {
      assert(new java.io.File(dir).renameTo(new java.io.File(dir + "_old")))
      assert(!new java.io.File(dir).exists())
    }
    simulateCrash(s"$tmp/ix")
    assert(serve() == before, "readBm25Index must self-heal a half-swapped artifact root")
    simulateCrash(s"$tmp/ix")
    assert(OnlineRefresh.compactBm25Index(spark, s"$tmp/ix"),
      "compactBm25Index must self-heal, then compact 4 epochs")
    assert(serve() == before, "healed-then-compacted serve moved")
    simulateCrash(s"$tmp/ix")
    assert(serve() == before, "readBm25Index must self-heal the compacted root")
  }

  test("IVF compaction: served top-k unchanged, stream resumes and appends") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sivfc").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val wave1 = emb.where(col("vec_id") % 5 =!= 0)
    val wave2 = emb.where(col("vec_id") % 5 === 0)
    wave1.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val cents = graft.ops.Similarity.ivfIndex(emb, nLists = 8).centroids
    OnlineRefresh.buildIvfIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", cents, maxFilesPerTrigger = Some(1)).awaitTermination()
    def nParts = new java.io.File(s"$tmp/ix/assignments").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(nParts == 4)
    def serve(corpus: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.ivfTopKFromIndex(
        OnlineRefresh.readIvfIndex(spark, s"$tmp/ix"), corpus,
        emb.where(col("vec_id") < 5), k = 3, nProbe = 3)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = serve(wave1)
    assert(OnlineRefresh.compactIvfIndex(spark, s"$tmp/ix"), "4 epochs must compact")
    assert(nParts == 2, "3 committed epochs fold; newest kept verbatim")
    assert(serve(wave1) == before, "compaction must not move the served top-k")
    assert(!OnlineRefresh.compactIvfIndex(spark, s"$tmp/ix"), "2 partitions -> no-op")
    // resume on top of the compacted artifact; final == monolithic build
    wave2.repartition(2).write.mode("append").parquet(s"$tmp/src")
    OnlineRefresh.buildIvfIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", cents, maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(nParts == 4, "resume must append 2 fresh epochs")
    val mono = graft.ops.Similarity.ivfTopKFromIndex(
      graft.ops.Similarity.IvfIndex(cents, graft.ops.Similarity.ivfAssign(emb, cents)),
      emb, emb.where(col("vec_id") < 5), k = 3, nProbe = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(serve(emb) == mono, "resumed-after-compaction index diverged from monolithic")
  }

  test("IVF per-row retraction: idempotent, composes with compaction in either order") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sivfrt").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val cents = graft.ops.Similarity.ivfIndex(emb, nLists = 8).centroids
    OnlineRefresh.buildIvfIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", cents, maxFilesPerTrigger = Some(1)).awaitTermination()
    def serve() = graft.ops.Similarity.ivfTopKFromIndex(
      OnlineRefresh.readIvfIndex(spark, s"$tmp/ix"), emb,
      emb.where(col("vec_id") < 5), k = 3, nProbe = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def direct(corpus: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.ivfTopKFromIndex(
        graft.ops.Similarity.IvfIndex(cents, graft.ops.Similarity.ivfAssign(corpus, cents)),
        emb, emb.where(col("vec_id") < 5), k = 3, nProbe = 3)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val d1 = emb.where(col("vec_id") % 7 === 3).select(col("vec_id"))
    val surv1 = emb.where(col("vec_id") % 7 =!= 3)
    OnlineRefresh.retractIvfArtifact(spark, s"$tmp/ix", d1)
    assert(serve() == direct(surv1), "retract before compaction")
    // idempotent: a replayed deletion batch is a pure-anti-join no-op
    OnlineRefresh.retractIvfArtifact(spark, s"$tmp/ix", d1)
    assert(serve() == direct(surv1), "re-applied deletion must be a no-op")
    assert(OnlineRefresh.compactIvfIndex(spark, s"$tmp/ix"), "4 epochs must compact")
    assert(serve() == direct(surv1), "compaction after retraction")
    // retraction AFTER compaction (the other composition order)
    val d2 = emb.where(col("vec_id") % 7 === 5).select(col("vec_id"))
    OnlineRefresh.retractIvfArtifact(spark, s"$tmp/ix", d2)
    assert(serve() == direct(emb.where(
      col("vec_id") % 7 =!= 3 && col("vec_id") % 7 =!= 5)),
      "retract after compaction")
  }

  test("retract-then-compact: artifact equals a build over the survivors; stream resumes") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sbm25rc").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val wave1 = corpus.where(col("doc_id") < 400)
    val wave2 = corpus.where(col("doc_id") >= 400)
    wave1.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1)).awaitTermination()
    val del = wave1.where(col("doc_id") % 7 === 3).select(col("doc_id"))
    OnlineRefresh.retractBm25Artifact(spark, s"$tmp/ix", del)
    assert(OnlineRefresh.compactBm25Index(spark, s"$tmp/ix"), "4 epochs must compact")
    val qs = Seq(("qa", "spark window table"), ("qb", "customer stream fast"))
      .toDF("query_id", "query")
    def serve() = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25Index(spark, s"$tmp/ix"), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    def direct(docs: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25TopK(docs, qs, k = 6)
        .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val surv1 = wave1.where(col("doc_id") % 7 =!= 3)
    assert(serve() == direct(surv1),
      "compact(retract(A, D)) must equal a direct build over W \\ D")
    // an unknown / postings-less id must be rejected, not half-applied
    intercept[IllegalArgumentException] {
      OnlineRefresh.retractBm25Artifact(spark, s"$tmp/ix",
        Seq(999999L).toDF("doc_id"))
    }
    // resume after BOTH: fresh epochs append; final == build over survivors + wave2
    wave2.repartition(2).write.mode("append").parquet(s"$tmp/src")
    OnlineRefresh.buildBm25IndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(serve() == direct(surv1.unionByName(wave2)),
      "resumed-after-retract-and-compact index diverged")
  }

  test("minhashIngestRetractStream: takedowns feed back into dedup decisions; reinsert survives") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-smhret").toString
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo"
    val aText = "the quick brown fox jumps over the lazy dog"
    // stage 0 inserts 2=aText, 4=base; stage 1 DELETES 4; stage 2 inserts
    // 5=base+" " (near-dup of the DELETED 4 — must survive: it died in the
    // insert-only minhashIncrementalStream test), 8=aText (exact copy of
    // STANDING 2 — still killed), 10=base (exact copy of DELETED 4 — its
    // digest is retracted, so it re-enters); stage 3 DELETES 2.
    val stages = Seq(
      Seq(("ins", 2L, aText), ("ins", 4L, base)),
      Seq(("del", 4L, null: String)),
      Seq(("ins", 5L, base + " "), ("ins", 8L, aText), ("ins", 10L, base)),
      Seq(("del", 2L, null: String)))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for ((rows, i) <- stages.zipWithIndex) {
      val part = Files.createTempDirectory("graft-smhret-part").toString
      rows.toDF("op", "doc_id", "text").coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/stage_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.minhashIngestRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", threshold = 0.35, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // landed survivors per epoch, BEFORE tombstone filtering
    val landed = spark.read.parquet(s"$tmp/out/docs")
      .select(col("doc_id"), col("batch").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(landed == Seq((2L, 0L), (4L, 0L), (5L, 2L), (10L, 2L)),
      s"epoch survivors broke (8 must die vs standing 2; 5 and 10 must re-enter): $landed")
    // the serving read applies only LATER tombstones: 4 (del@1 > ins@0)
    // and 2 (del@3 > ins@0) are out; 5 and 10 stay
    val corpus = OnlineRefresh.readRetractedCorpus(spark, s"$tmp/out")
      .select(col("doc_id"), col("batch").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(corpus == Seq((5L, 2L), (10L, 2L)), s"tombstone read broke: $corpus")
    // resume from checkpoint: no re-delivery, no new partitions
    val q2 = OnlineRefresh.minhashIngestRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", threshold = 0.35, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val batches = new java.io.File(s"$tmp/out/sigs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batches == 4, "resume from checkpoint must not re-run epochs")
    // PHYSICAL compaction: fold epochs with tombstones applied, drop the
    // applied tombstone partitions — served corpus unchanged
    assert(OnlineRefresh.compactRetractedCorpus(spark, s"$tmp/out"))
    val corpusC = OnlineRefresh.readRetractedCorpus(spark, s"$tmp/out")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(corpusC == Seq(5L, 10L), s"compaction moved the corpus: $corpusC")
    val delParts = new java.io.File(s"$tmp/out/dels").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(delParts == 1, "applied tombstone partitions must drop; newest kept")
    assert(!OnlineRefresh.compactRetractedCorpus(spark, s"$tmp/out"),
      "2 doc epochs -> nothing non-newest to fold")
    // resume ON the compacted artifact: batch 4 — a copy of a LIVE doc
    // still dies against the folded standing, a copy of the DELETED 2
    // re-enters; batch 5 — id 2 itself REINSERTS with fresh text; batch
    // 6 — a copy of the reinserted text must DIE: the tombstone for 2
    // (epoch 3) is OLDER than the reinsert (epoch 5), so the standing
    // retraction must keep 2's new signature (an id-only retraction
    // blinded the loop here while the read still served the reinsert)
    val newText = "entirely novel reinserted content with many distinct words"
    val extras = Seq(
      Seq(("ins", 12L, base + " "), ("ins", 14L, aText)),
      Seq(("ins", 2L, newText)),
      Seq(("ins", 20L, newText)))
    for ((rows, j) <- extras.zipWithIndex) {
      val part2 = Files.createTempDirectory("graft-smhret-part").toString
      rows.toDF("op", "doc_id", "text").coalesce(1).write.mode("overwrite").parquet(part2)
      val src2 = new java.io.File(part2).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst2 = java.nio.file.Paths.get(s"$tmp/src/stage_${4 + j}.parquet")
      Files.copy(src2, dst2)
      Files.setLastModifiedTime(dst2,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + (4 + j) * 60000L))
    }
    val q3 = OnlineRefresh.minhashIngestRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", threshold = 0.35, maxFilesPerTrigger = Some(1))
    q3.awaitTermination()
    val corpusR = OnlineRefresh.readRetractedCorpus(spark, s"$tmp/out")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(corpusR == Seq(2L, 5L, 10L, 14L),
      s"resume broke (12 dies vs live 5; 14 re-enters; 2 reinserts; 20 dies vs the reinsert): $corpusR")
  }

  test("dedupIngestRetractStream: the Hamming-criterion loop honors takedowns the same way") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sddret").toString
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo"
    val aText = "the quick brown fox jumps over the lazy dog"
    // same interleaving as the MinHash twin: 5 = base+" " has the SAME
    // token set as deleted 4 (fingerprint Hamming 0) — only retraction of
    // the standing side lets it land; 8 = exact copy of standing 2 still
    // dies; 10 = exact copy of DELETED 4 re-enters.
    val stages = Seq(
      Seq(("ins", 2L, aText), ("ins", 4L, base)),
      Seq(("del", 4L, null: String)),
      Seq(("ins", 5L, base + " "), ("ins", 8L, aText), ("ins", 10L, base)),
      Seq(("del", 2L, null: String)))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for ((rows, i) <- stages.zipWithIndex) {
      val part = Files.createTempDirectory("graft-sddret-part").toString
      rows.toDF("op", "doc_id", "text").coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/stage_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.dedupIngestRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/out", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val landed = spark.read.parquet(s"$tmp/out/docs")
      .select(col("doc_id"), col("batch").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(landed == Seq((2L, 0L), (4L, 0L), (5L, 2L), (10L, 2L)),
      s"epoch survivors broke: $landed")
    val corpus = OnlineRefresh.readRetractedCorpus(spark, s"$tmp/out")
      .select(col("doc_id"), col("batch").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(corpus == Seq((5L, 2L), (10L, 2L)), s"tombstone read broke: $corpus")
    // the sig-less loop compacts with the same LSM fold
    assert(OnlineRefresh.compactRetractedCorpus(spark, s"$tmp/out"))
    val corpusC = OnlineRefresh.readRetractedCorpus(spark, s"$tmp/out")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(corpusC == Seq(5L, 10L), s"compaction moved the corpus: $corpusC")
  }

  test("buildBm25IndexRetractStream: tombstones-at-read equal a build over the survivors") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-sbmret").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    // inserts arrive as two waves with a deletion epoch between and after
    val stages = Seq(
      corpus.where(col("doc_id") % 2 === 0)
        .select(org.apache.spark.sql.functions.lit("ins").as("op"), col("doc_id"), col("text")),
      corpus.where(col("doc_id") % 10 === 0)
        .select(org.apache.spark.sql.functions.lit("del").as("op"), col("doc_id"),
          org.apache.spark.sql.functions.lit(null).cast("string").as("text")),
      corpus.where(col("doc_id") % 2 === 1)
        .select(org.apache.spark.sql.functions.lit("ins").as("op"), col("doc_id"), col("text")),
      corpus.where(col("doc_id") % 10 === 5)
        .select(org.apache.spark.sql.functions.lit("del").as("op"), col("doc_id"),
          org.apache.spark.sql.functions.lit(null).cast("string").as("text")))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/src"))
    for ((df, i) <- stages.zipWithIndex) {
      val part = Files.createTempDirectory("graft-sbmret-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$tmp/src/stage_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$tmp/src").schema
    val q = OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val qs = Seq(("qa", "spark window table"), ("qb", "customer stream fast"))
      .toDF("query_id", "query")
    val served = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25IndexRetracted(spark, s"$tmp/ix"), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val direct = TextAnalysis.bm25TopK(
      corpus.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    assert(served == direct, "tombstoned serve diverged from a direct build over survivors")
    // logical -> physical -> compacted: committed tombstones applied and
    // dropped (newest epoch's stay logical), serve invariant
    assert(OnlineRefresh.applyBm25Tombstones(spark, s"$tmp/ix"))
    OnlineRefresh.compactBm25Index(spark, s"$tmp/ix")
    val served2 = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25IndexRetracted(spark, s"$tmp/ix"), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    assert(served2 == direct, "apply+compact moved the served scores")
    assert(!OnlineRefresh.applyBm25Tombstones(spark, s"$tmp/ix"),
      "no committed tombstones left to apply")
  }

  // ---- r13: the bm25 retract family's enforced preconditions ----

  /** Stage op-feed files with deterministic mtimes (delivery order). */
  private def stageOps(dir: String, stages: Seq[org.apache.spark.sql.DataFrame]): StructType = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    for ((df, i) <- stages.zipWithIndex) {
      val part = Files.createTempDirectory("graft-ops-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      val dst = java.nio.file.Paths.get(s"$dir/stage_$i.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    spark.read.parquet(dir).schema
  }

  private def tinyOpCorpus(): Seq[(Long, String)] = Seq(
    1L -> "spark shuffles the partitioned table",
    2L -> "window functions rank each customer order",
    3L -> "the stream lands one epoch per file",
    4L -> "customer orders arrive as a fast stream",
    5L -> "broadcast the small dimension table",
    6L -> "tombstones mark deleted documents logically",
    7L -> "the index folds partial epochs exactly",
    8L -> "watermarks close the hourly window")

  private def insDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text").select(
      org.apache.spark.sql.functions.lit("ins").as("op"), $"doc_id", $"text")
  private def delDf(ids: Seq[Long]) =
    ids.toDF("doc_id").select(org.apache.spark.sql.functions.lit("del").as("op"),
      $"doc_id", org.apache.spark.sql.functions.lit(null).cast("string").as("text"))

  test("applyBm25Tombstones refuses an id tombstoned in both a committed and the newest epoch") {
    val docs = tinyOpCorpus()
    val tmp = Files.createTempDirectory("graft-bmdup").toString
    // epochs: ins(1-4) / del(2) / ins(5-8) / del(2 again, 5) — id 2 sits in
    // committed epoch 1 AND newest epoch 3: applying its committed copy
    // physically while the newest stays logical would double-subtract
    val schema = stageOps(s"$tmp/src", Seq(
      insDf(docs.take(4)), delDf(Seq(2L)), insDf(docs.drop(4)), delDf(Seq(2L, 5L))))
    val q = OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val ex = intercept[IllegalArgumentException] {
      OnlineRefresh.applyBm25Tombstones(spark, s"$tmp/ix")
    }
    assert(ex.getMessage.contains("double-subtract"))
  }

  test("retractBm25Artifact carries the dels subtree and refuses tombstoned ids") {
    val docs = tinyOpCorpus()
    val tmp = Files.createTempDirectory("graft-bmcarry").toString
    val schema = stageOps(s"$tmp/src", Seq(
      insDf(docs.take(4)), delDf(Seq(2L)), insDf(docs.drop(4))))
    val q = OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // physically retract a NON-tombstoned id: the dels subtree must ride
    // the root swap (pre-r13 it was silently dropped — serve then threw on
    // the missing path, or a restarted stream resurfaced deleted docs)
    OnlineRefresh.retractBm25Artifact(spark, s"$tmp/ix", Seq(7L).toDF("doc_id"))
    val qs = Seq(("qa", "customer stream table")).toDF("query_id", "query")
    val served = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25IndexRetracted(spark, s"$tmp/ix"), qs, k = 8)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val direct = TextAnalysis.bm25TopK(
      docs.filterNot(d => d._1 == 2L || d._1 == 7L).toDF("doc_id", "text"), qs, k = 8)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    assert(served == direct,
      "dels must survive the physical retract's root swap (and still apply at serve)")
    // a tombstoned id is applyBm25Tombstones' job: retracting it here would
    // double-subtract when the carried-through logical tombstone re-applies
    val ex = intercept[IllegalArgumentException] {
      OnlineRefresh.retractBm25Artifact(spark, s"$tmp/ix", Seq(2L).toDF("doc_id"))
    }
    assert(ex.getMessage.contains("applyBm25Tombstones"))
  }

  test("buildBm25IndexRetractStream self-heals a half-swapped artifact root on restart") {
    val docs = tinyOpCorpus()
    val tmp = Files.createTempDirectory("graft-bmheal").toString
    val schema = stageOps(s"$tmp/src", Seq(insDf(docs.take(4)), delDf(Seq(2L))))
    val q = OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val qs = Seq(("qa", "customer stream table")).toDF("query_id", "query")
    def serve() = TextAnalysis.bm25TopKFromIndex(
      OnlineRefresh.readBm25IndexRetracted(spark, s"$tmp/ix"), qs, k = 8)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val before = serve()
    // simulate a root swap crashed between renames: ix moved aside, ix_tmp
    // never renamed in — the restarted stream must restore ix BEFORE
    // recreating subdirectories (pre-r13 createDirectories ran first, so
    // recoverSwap's !exists(dst) guard never fired and the committed
    // epochs in _old were lost; the checkpoint prevents re-delivery)
    Files.move(java.nio.file.Paths.get(s"$tmp/ix"),
      java.nio.file.Paths.get(s"$tmp/ix_old"))
    val q2 = OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    assert(serve() == before,
      "restarted stream must self-heal the half-swapped root before creating dirs")
  }

  test("buildIvfIndexRetractStream: apply+GC is idempotent and the stream resumes on top") {
    import org.apache.spark.sql.functions.{col, lit}
    val tmp = Files.createTempDirectory("graft-ivfret").toString
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(4)(rnd.nextDouble().toFloat)
    val all = (1L to 24L).map(i => (i, vec()))
    val emb = all.toDF("vec_id", "embedding")
    val centroids = graft.ops.Similarity.ivfIndex(emb, nLists = 4).centroids
    def ins(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select(lit("ins").as("op"), col("vec_id"), col("embedding"))
    def del(ids: Seq[Long]) = ids.toDF("vec_id").select(lit("del").as("op"),
      col("vec_id"), lit(null).cast("array<float>").as("embedding"))
    val schema = stageOps(s"$tmp/src", Seq(
      ins(all.take(12)), del(Seq(3L, 7L)), ins(all.slice(12, 20))))
    val q = OnlineRefresh.buildIvfIndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", centroids, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    def servedIds() = OnlineRefresh.readIvfIndexRetracted(spark, s"$tmp/ix")
      .assignments.select("vec_id").as[Long].collect().toSet
    val logical = servedIds()
    assert(logical == (1L to 20L).toSet -- Set(3L, 7L),
      "tombstones must apply at serve")
    // physical application drops the tombstoned rows AND all tombstone
    // partitions (idempotent per-row retraction — even the newest epoch's
    // apply safely, unlike the BM25 twin's replay-safety split)
    assert(OnlineRefresh.applyIvfTombstones(spark, s"$tmp/ix"))
    assert(servedIds() == logical, "apply+GC moved the served set")
    assert(!OnlineRefresh.applyIvfTombstones(spark, s"$tmp/ix"),
      "no tombstones left — second application must be a no-op")
    // the stream resumes onto the physically-cleaned artifact: a late
    // epoch inserts more vectors and deletes an old one
    val late = Files.createTempDirectory("graft-ivfret-late").toString
    ins(all.drop(20)).unionByName(del(Seq(5L)))
      .coalesce(1).write.mode("overwrite").parquet(late)
    val lateFile = new java.io.File(late).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val dst = java.nio.file.Paths.get(s"$tmp/src/stage_late.parquet")
    Files.copy(lateFile, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1700000300000L))
    val q2 = OnlineRefresh.buildIvfIndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", centroids, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    assert(servedIds() == (1L to 24L).toSet -- Set(3L, 5L, 7L),
      "resumed stream must append inserts and honor the late takedown")
  }

  test("recenterIvfIndex: stream resumes onto the re-centered artifact with new centroids") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-ivfrec").toString
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(4)(rnd.nextDouble().toFloat)
    val all = (1L to 24L).map(i => (i, vec()))
    val emb = all.toDF("vec_id", "embedding")
    // drifted bootstrap: centroids from the first 8 ids only
    val drifted = graft.ops.Similarity.ivfIndex(
      emb.where(col("vec_id") <= 8), nLists = 4).centroids
    val stages = Seq(all.take(10), all.slice(10, 20))
      .map(_.toDF("vec_id", "embedding"))
    val schema = stageOps(s"$tmp/src", stages)
    val q = OnlineRefresh.buildIvfIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", drifted, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val first20 = all.take(20).toDF("vec_id", "embedding")
    assert(OnlineRefresh.recenterIvfIndex(spark, s"$tmp/ix", first20, nLists = 4))
    val fresh = graft.ops.Similarity.ivfIndex(first20, nLists = 4)
    def asgMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(asgMap(OnlineRefresh.readIvfIndex(spark, s"$tmp/ix").assignments) ==
      asgMap(fresh.assignments),
      "re-centered artifact must equal a fresh build over the accumulated corpus")
    // resume: a late epoch must assign against the NEW centroids
    val late = Files.createTempDirectory("graft-ivfrec-late").toString
    all.drop(20).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(late)
    val lateFile = new java.io.File(late).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val dst = java.nio.file.Paths.get(s"$tmp/src/stage_late.parquet")
    Files.copy(lateFile, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1700000300000L))
    // restart passes the ORIGINAL (stale) centroids — the stored
    // re-centered table must stay authoritative, not be clobbered
    val q2 = OnlineRefresh.buildIvfIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", drifted, maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    val expect = asgMap(fresh.assignments) ++ asgMap(graft.ops.Similarity.ivfAssign(
      all.drop(20).toDF("vec_id", "embedding"), fresh.centroids))
    assert(asgMap(OnlineRefresh.readIvfIndex(spark, s"$tmp/ix").assignments) == expect,
      "resumed epochs must assign against the re-centered centroids")
  }

  test("hourly watermarked aggregate compiles to a streaming-safe plan") {
    val tmp = Files.createTempDirectory("graft-stream2").toString
    Seq((1L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
        (1L, Timestamp.valueOf("2024-01-01 00:50:00"), 4.0),
        (1L, Timestamp.valueOf("2024-01-01 01:10:00"), 8.0))
      .toDF("user_id", "ts", "value").write.parquet(s"$tmp/in/b1")
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/in/*")
    val agg = OnlineRefresh.hourlyAggregate(stream, "ts", "user_id", "value")
    val q = agg.writeStream.format("memory").queryName("hourly_agg")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt").start()
    q.awaitTermination()
    // append mode only emits windows closed by the watermark; with a single
    // batch nothing closes — correctness of the values is a batch concern,
    // here we assert the streaming plan executes with state + watermark
    assert(spark.table("hourly_agg").columns.toSeq ==
      Seq("window", "user_id", "avg_value", "n"))
  }

  test("maintainBm25Index / maintainIvfIndex: the artifact planners fold, compact, and recenter on the numbers") {
    import org.apache.spark.sql.functions.{col, lit}
    def actions(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.as[(String, Double)].collect().toMap
    // ---- BM25: 3 insert waves + 2 takedown epochs between/after ----
    val tmp = Files.createTempDirectory("graft-mbm25").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    def insd(p: org.apache.spark.sql.Column) = corpus.where(p)
      .select(lit("ins").as("op"), col("doc_id"), col("text"))
    def deld(p: org.apache.spark.sql.Column) = corpus.where(p)
      .select(lit("del").as("op"), col("doc_id"),
        lit(null).cast("string").as("text"))
    val schema = stageOps(s"$tmp/src", Seq(
      insd(col("doc_id") % 3 === 0), deld(col("doc_id") % 10 === 0),
      insd(col("doc_id") % 3 === 1), insd(col("doc_id") % 3 === 2),
      deld(col("doc_id") % 10 === 5)))
    OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1)).awaitTermination()
    val qs = Seq(("qa", "spark window table"), ("qb", "customer stream fast"))
      .toDF("query_id", "query")
    def serve(): Seq[(String, Long, Double, Int)] =
      graft.ops.TextAnalysis.bm25TopKFromIndex(
        OnlineRefresh.readBm25IndexRetracted(spark, s"$tmp/ix"), qs, k = 6)
        .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val direct = graft.ops.TextAnalysis.bm25TopK(
      corpus.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5), qs, k = 6)
      .as[(String, Long, Double, Int)].collect().sorted.toSeq
    val r1 = actions(OnlineRefresh.maintainBm25Index(spark, s"$tmp/ix",
      maxEpochs = 2))
    assert(r1("tombstones_applied") == 1.0 && r1("compacted") == 1.0, s"$r1")
    // epochs_before counts the postings epoch dirs the one rewrite starts
    // from, the del-only epochs' empty ones included (5 staged); the fold
    // leaves the oldest and the newest
    assert(r1("epochs_before") == 5.0 && r1("epochs_after") == 2.0, s"$r1")
    assert(serve() == direct, "maintenance moved the served scores")
    // second run: nothing pending, epochs under the ceiling — measure-only
    val r2 = actions(OnlineRefresh.maintainBm25Index(spark, s"$tmp/ix",
      maxEpochs = 8))
    assert(!r2.contains("tombstones_applied") && !r2.contains("compacted"), s"$r2")
    assert(serve() == direct)
    // ---- IVF: drifted bootstrap centroids, epochs, takedowns ----
    val t2 = Files.createTempDirectory("graft-mivf").toString
    val rnd = new scala.util.Random(23)
    def vec() = Seq.fill(4)(rnd.nextDouble().toFloat)
    val all = (1L to 24L).map(i => (i, vec()))
    val emb = all.toDF("vec_id", "embedding")
    val drifted = graft.ops.Similarity.ivfIndex(
      emb.where(col("vec_id") <= 8), nLists = 4).centroids
    def insv(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select(lit("ins").as("op"), col("vec_id"), col("embedding"))
    def delv(ids: Seq[Long]) = ids.toDF("vec_id").select(lit("del").as("op"),
      col("vec_id"), lit(null).cast("array<float>").as("embedding"))
    val schema2 = stageOps(s"$t2/src", Seq(
      insv(all.take(12)), delv(Seq(3L, 7L)),
      insv(all.slice(12, 20)), insv(all.drop(20))))
    OnlineRefresh.buildIvfIndexRetractStream(spark, s"$t2/src", schema2,
      s"$t2/ix", s"$t2/ck", drifted, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    def servedIds(): Set[Long] = OnlineRefresh.readIvfIndexRetracted(
      spark, s"$t2/ix").assignments.select("vec_id").as[Long].collect().toSet
    val logical = (1L to 24L).toSet -- Set(3L, 7L)
    assert(servedIds() == logical)
    // drift gate off, epoch ceiling low: fold tombstones + compact
    val rA = actions(OnlineRefresh.maintainIvfIndex(spark, s"$t2/ix", emb,
      recenterBelow = -1.0, maxEpochs = 2, nLists = 4))
    assert(rA("tombstones_applied") == 1.0 && rA("compacted") == 1.0, s"$rA")
    assert(rA.keys.exists(_.startsWith("mean_cos_epoch_")), s"$rA")
    assert(servedIds() == logical, "maintenance moved the served set")
    // drift gate forced: re-center from the live corpus, receipt carries
    // the after number, served set unchanged
    val rB = actions(OnlineRefresh.maintainIvfIndex(spark, s"$t2/ix", emb,
      recenterBelow = 0.999999, maxEpochs = 8, nLists = 4))
    assert(rB("recentered") == 1.0 && rB.contains("mean_cos_after"), s"$rB")
    assert(servedIds() == logical, "recenter moved the served set")
  }

  test("artifact lease parity: an index planner overlapping a held artifact root refuses loudly") {
    // the layout family's lease discipline, extended to the BM25/IVF/PQ
    // artifact roots: a maintenance fold must never interleave with a
    // mid-epoch stream landing (or a concurrent planner firing)
    val tmp = Files.createTempDirectory("graft-alease").toString
    val lp = new org.apache.hadoop.fs.Path(
      graft.fs.Layout.leasePath(s"$tmp/ix"))
    val hfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(lp.getParent)
    val out = hfs.create(lp, true)
    out.write("bm25IndexStream:ck-other".getBytes("UTF-8")); out.close()
    val e1 = intercept[IllegalArgumentException](
      OnlineRefresh.maintainBm25Index(spark, s"$tmp/ix"))
    assert(e1.getMessage.contains("bm25IndexStream:ck-other"))
    val e2 = intercept[IllegalArgumentException](
      OnlineRefresh.maintainIvfIndex(spark, s"$tmp/ix",
        spark.range(1).selectExpr("id AS vec_id",
          "array(CAST(1.0 AS FLOAT)) AS embedding")))
    assert(e2.getMessage.contains("single-writer"))
    val e3 = intercept[IllegalArgumentException](
      OnlineRefresh.maintainPqIndex(spark, s"$tmp/ix",
        spark.range(1).selectExpr("id AS vec_id",
          "array(CAST(1.0 AS FLOAT)) AS embedding")))
    assert(e3.getMessage.contains("single-writer"))
    assert(graft.fs.Layout.breakWriterLease(spark, s"$tmp/ix"))
  }

  test("maintainPqIndex: drift-gated retrain from the live corpus, compact on the epoch ceiling") {
    import org.apache.spark.sql.functions.col
    def actions(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.as[(String, Double)].collect().toMap
    val tmp = Files.createTempDirectory("graft-mpq").toString
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.repartition(4).write.parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    // drifted bootstrap: codebooks trained on a CORRUPTED slice (shrunk +
    // shifted embeddings) that no bootstrap over the REAL corpus can
    // re-pick — the r15 fixture trained on the true lowest-id slice, which
    // retrainPqIndex's own lowest-id bootstrap re-derived almost verbatim,
    // leaving the genuine retrain delta at the receipt's 4-dp rounding
    // resolution (the 0.0121 !< 0.0121 suite-order flake). With the books
    // off in a different region AND the retrain Lloyd-refining per
    // subspace, the MSE drop is orders of magnitude — no rounding or
    // file-ordering nondeterminism can flip the assertion.
    val drifted = graft.ops.Similarity.pqCodebookTable(
      emb.where(col("vec_id") < 16).select(col("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> CAST(x * 0.05 + 6.0 AS FLOAT))")
          .as("embedding")))
    OnlineRefresh.buildPqIndexStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", drifted, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    def ids(): Set[Long] = OnlineRefresh.readPqIndex(spark, s"$tmp/ix")
      .codes.select("vec_id").as[Long].collect().toSet
    val all = ids()
    assert(all == emb.select("vec_id").as[Long].collect().toSet)
    // gate off, ceiling low: compact folds 4 epochs to 2
    val rA = actions(OnlineRefresh.maintainPqIndex(spark, s"$tmp/ix", emb,
      maxEpochs = 2))
    assert(rA("compacted") == 1.0 && rA("epochs_before") == 4.0 &&
      rA("epochs_after") == 2.0, s"$rA")
    assert(rA.keys.exists(_.startsWith("mean_mse_epoch_")), s"$rA")
    assert(ids() == all, "compaction moved the indexed set")
    // gate forced: retrain from the live corpus — reconstruction error
    // must actually improve vs the drifted bootstrap books
    val mseBefore = rA.collect { case (k, v) if k.startsWith("mean_mse_epoch_") => v }.max
    val rB = actions(OnlineRefresh.maintainPqIndex(spark, s"$tmp/ix", emb,
      retrainAboveMse = 0.0, maxEpochs = 8))
    assert(rB("retrained") == 1.0 && rB.contains("mean_mse_after"), s"$rB")
    // a REAL drop, not a rounding-resolution one: the corrupted books sit
    // in the wrong region entirely, so the Lloyd-refined retrain must cut
    // the reconstruction error by at least half (measured: ~3 orders)
    assert(rB("mean_mse_after") < mseBefore / 2,
      s"retraining on the full corpus must beat the drifted bootstrap: $rB")
    assert(ids() == all, "retrain moved the indexed set")
    // healthy now: a third run with the same gate measures only
    val rC = actions(OnlineRefresh.maintainPqIndex(spark, s"$tmp/ix", emb,
      retrainAboveMse = rB("mean_mse_after") + 1.0, maxEpochs = 8))
    assert(!rC.contains("retrained") && !rC.contains("compacted"), s"$rC")
    // integrity guard (now ONE aggregate over the left join — r16
    // verdict #3's two table-sized count jobs collapsed; the refusal
    // behavior is the pin): a corpus MISSING an indexed id refuses…
    val missing = emb.where(col("vec_id") =!= 0L)
    val eM = intercept[IllegalArgumentException](
      OnlineRefresh.retrainPqIndex(spark, s"$tmp/ix", missing))
    assert(eM.getMessage.contains("no embedding"), eM.getMessage)
    // …and so does one carrying a DUPLICATED id
    val dup = emb.unionByName(emb.limit(1))
    val eD = intercept[IllegalArgumentException](
      OnlineRefresh.retrainPqIndex(spark, s"$tmp/ix", dup))
    assert(eD.getMessage.contains("drop or duplicate"), eD.getMessage)
    // neither refusal touched the artifact
    assert(ids() == all, "a refused retrain must not move the indexed set")
  }

  test("crash recovery: every artifact family's reader and mutators heal a half-swapped root") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = tinyOpCorpus()
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 24L).map(i => (i, Seq.fill(4)(rnd.nextDouble().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    def insv(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select(lit("ins").as("op"), col("vec_id"), col("embedding"))
    def delv(ids: Seq[Long]) = ids.toDF("vec_id").select(lit("del").as("op"),
      col("vec_id"), lit(null).cast("array<float>").as("embedding"))
    def textStages = Seq(docs.take(2), docs.slice(2, 4), docs.slice(4, 6), docs.drop(6))
      .map(_.toDF("doc_id", "text"))
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noIds = Seq.empty[Long].toDF("vec_id")
    val qs = Seq(("qa", "customer stream table")).toDF("query_id", "query")
    def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = q.awaitTermination()
    def tmp(name: String) = Files.createTempDirectory(s"graft-crash-$name").toString
    // (family, swap root, serve, mutators): each artifact holds 4 epochs
    val families: Seq[(String, String, () => Seq[String], Seq[(String, () => Any)])] = Seq({
      val t = tmp("bm25")
      val schema = stageOps(s"$t/src", Seq(insDf(docs.take(3)), delDf(Seq(2L)),
        insDf(docs.slice(3, 6)), insDf(docs.drop(6))))
      run(OnlineRefresh.buildBm25IndexRetractStream(spark, s"$t/src", schema,
        s"$t/ix", s"$t/ck", maxFilesPerTrigger = Some(1)))
      ("bm25", s"$t/ix", () => TextAnalysis.bm25TopKFromIndex(
          OnlineRefresh.readBm25IndexRetracted(spark, s"$t/ix"), qs, k = 8)
        .collect().map(_.toString).sorted.toSeq, Seq(
        "retractBm25Artifact" -> (() => OnlineRefresh.retractBm25Artifact(spark, s"$t/ix", noDocs)),
        "applyBm25Tombstones" -> (() => OnlineRefresh.applyBm25Tombstones(spark, s"$t/ix")),
        "compactBm25Index" -> (() => OnlineRefresh.compactBm25Index(spark, s"$t/ix")),
        "maintainBm25Index" -> (() => OnlineRefresh.maintainBm25Index(spark, s"$t/ix"))))
    }, {
      val t = tmp("ivf")
      val schema = stageOps(s"$t/src", Seq(insv(vecs.take(8)), delv(Seq(3L)),
        insv(vecs.slice(8, 16)), insv(vecs.drop(16))))
      run(OnlineRefresh.buildIvfIndexRetractStream(spark, s"$t/src", schema, s"$t/ix",
        s"$t/ck", graft.ops.Similarity.ivfIndex(emb, nLists = 4).centroids,
        maxFilesPerTrigger = Some(1)))
      ("ivf", s"$t/ix", () => OnlineRefresh.readIvfIndexRetracted(spark, s"$t/ix")
        .assignments.select("vec_id").collect().map(_.toString).sorted.toSeq, Seq(
        "retractIvfArtifact" -> (() => OnlineRefresh.retractIvfArtifact(spark, s"$t/ix", noIds)),
        "applyIvfTombstones" -> (() => OnlineRefresh.applyIvfTombstones(spark, s"$t/ix")),
        "compactIvfIndex" -> (() => OnlineRefresh.compactIvfIndex(spark, s"$t/ix")),
        "recenterIvfIndex" -> (() => OnlineRefresh.recenterIvfIndex(spark, s"$t/ix", emb, nLists = 4)),
        "maintainIvfIndex" -> (() => OnlineRefresh.maintainIvfIndex(spark, s"$t/ix", emb, nLists = 4))))
    }, {
      val t = tmp("pq")
      val pqEmb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      pqEmb.repartition(4).write.parquet(s"$t/src")
      val schema = spark.read.parquet(s"$t/src").schema
      run(OnlineRefresh.buildPqIndexStream(spark, s"$t/src", schema, s"$t/ix", s"$t/ck",
        graft.ops.Similarity.pqCodebookTable(pqEmb), maxFilesPerTrigger = Some(1)))
      ("pq", s"$t/ix", () => OnlineRefresh.readPqIndex(spark, s"$t/ix")
        .codes.select("vec_id").collect().map(_.toString).sorted.toSeq, Seq(
        "retractPqArtifact" -> (() => OnlineRefresh.retractPqArtifact(spark, s"$t/ix", noIds)),
        "compactPqIndex" -> (() => OnlineRefresh.compactPqIndex(spark, s"$t/ix")),
        "retrainPqIndex" -> (() => OnlineRefresh.retrainPqIndex(spark, s"$t/ix", pqEmb)),
        "maintainPqIndex" -> (() => OnlineRefresh.maintainPqIndex(spark, s"$t/ix", pqEmb))))
    }, {
      val t = tmp("corpus")
      val schema = stageOps(s"$t/src", Seq(insDf(docs.take(3)), delDf(Seq(2L)),
        insDf(docs.slice(3, 6)), insDf(docs.drop(6))))
      run(OnlineRefresh.dedupIngestRetractStream(spark, s"$t/src", schema, s"$t/out",
        s"$t/ck", maxFilesPerTrigger = Some(1)))
      ("retract corpus", s"$t/out", () => OnlineRefresh.readRetractedCorpus(spark, s"$t/out")
        .select("doc_id", "text").collect().map(_.toString).sorted.toSeq, Seq(
        "compactRetractedCorpus" -> (() => OnlineRefresh.compactRetractedCorpus(spark, s"$t/out"))))
    }, {
      val t = tmp("span")
      val schema = stageOps(s"$t/src", textStages)
      run(OnlineRefresh.spanBankIngestStream(spark, s"$t/src", schema, s"$t/out",
        s"$t/ck", width = 3, maxFilesPerTrigger = Some(1)))
      ("span bank", s"$t/out/bank", () => OnlineRefresh.readSpanBank(spark, s"$t/out")
        .collect().map(_.toString).sorted.toSeq, Seq(
        "retractSpanBank" -> (() => OnlineRefresh.retractSpanBank(spark, s"$t/out", noDocs, width = 3)),
        "compactSpanBank" -> (() => OnlineRefresh.compactSpanBank(spark, s"$t/out"))))
    }, {
      val t = tmp("kmv")
      val schema = stageOps(s"$t/src", textStages.map(_.withColumn("g", lit("all"))))
      run(OnlineRefresh.buildKmvSketchStream(spark, s"$t/src", schema, s"$t/out",
        s"$t/ck", "g", "text", maxFilesPerTrigger = Some(1)))
      ("kmv", s"$t/out", () => graft.ops.Sketches.kmvEstimate(
          OnlineRefresh.readKmvSketch(spark, s"$t/out", "g"), "g")
        .collect().map(_.toString).sorted.toSeq, Seq(
        "compactKmvSketch" -> (() => OnlineRefresh.compactKmvSketch(spark, s"$t/out", "g"))))
    }, {
      val t = tmp("quantile")
      val schema = stageOps(s"$t/src", textStages.map(_.withColumn("g", lit("all"))))
      run(OnlineRefresh.buildQuantileSketchStream(spark, s"$t/src", schema, s"$t/out",
        s"$t/ck", "g", "text", "doc_id", maxFilesPerTrigger = Some(1)))
      ("quantile", s"$t/out", () => graft.ops.Sketches.quantileEstimate(
          OnlineRefresh.readQuantileSketch(spark, s"$t/out", "g"), "g")
        .collect().map(_.toString).sorted.toSeq, Seq(
        "compactQuantileSketch" -> (() => OnlineRefresh.compactQuantileSketch(spark, s"$t/out", "g"))))
    })
    for ((family, root, serve, mutators) <- families) {
      val r = new java.io.File(root)
      val old = new java.io.File(root + "_old")
      // the state a kill between swapDir's two renames leaves behind
      def crash(): Unit = assert(r.renameTo(old) && !r.exists(), s"$family: crash")
      val before = serve()
      assert(before.nonEmpty, s"$family: the 4-epoch artifact serves nothing")
      crash()
      assert(serve() == before, s"$family: the reader must heal a half-swapped root")
      for ((name, mutate) <- mutators) {
        crash()
        mutate()
        assert(r.isDirectory && !old.exists(), s"$family: $name left the root unhealed")
        assert(serve() == before, s"$family: $name moved the served result")
      }
    }
  }

  test("maintainBm25Index rewrites the postings once: tombstones applied and epochs folded in one pass") {
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.QueryExecution
    val docs = tinyOpCorpus()
    val tmp = Files.createTempDirectory("graft-bmonce").toString
    // committed tombstones pending (epoch 1) and 4 epochs past maxEpochs = 2
    val schema = stageOps(s"$tmp/src", Seq(insDf(docs.take(3)), delDf(Seq(2L)),
      insDf(docs.slice(3, 6)), insDf(docs.drop(6))))
    OnlineRefresh.buildBm25IndexRetractStream(spark, s"$tmp/src", schema,
      s"$tmp/ix", s"$tmp/ck", maxFilesPerTrigger = Some(1)).awaitTermination()
    object plans extends AdaptiveSparkPlanHelper {
      def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }.flatMap {
        case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
        case n => Seq(n)
      }
    }
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var report = Map.empty[String, Double]
    spark.listenerManager.register(listener)
    // sparkWork's marker job drains the listener queue the QueryExecution
    // listener shares
    try sparkWork {
      report = OnlineRefresh.maintainBm25Index(spark, s"$tmp/ix", maxEpochs = 2)
        .as[(String, Double)].collect().toMap
    } finally spark.listenerManager.unregister(listener)
    assert(report("tombstones_applied") == 1.0 && report("compacted") == 1.0, s"$report")
    import scala.jdk.CollectionConverters._
    val postingsScans = executed.asScala.toSeq.flatMap(plans.nodes).count {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("/postings"))
      case _ => false
    }
    // the attribution rollup, then the folded and the newest epoch's writes
    assert(postingsScans == 3, s"postings scanned $postingsScans times")
  }
}
