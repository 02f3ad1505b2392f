package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch step-timer for the r18 optimization round (removed before close).
  * Replays a named composite fixture step by step and prints per-step
  * seconds, so the optimization targets the step that actually costs. */
object Probe18 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => () }
    def step[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"STEP $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      System.out.flush()
      r
    }
    val section = sys.env.getOrElse("PROBE18", "bm25rc")
    section match {
      case "bm25rc" =>
        import spark.implicits._
        val src = java.nio.file.Files.createTempDirectory("p18_src")
        val out = java.nio.file.Files.createTempDirectory("p18_out")
        val ck = java.nio.file.Files.createTempDirectory("p18_ck")
        val docs = step("read documents") {
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
          d.count(); d
        }
        step("stage 4 shards") {
          docs.repartition(4).write.mode("overwrite").parquet(src.toString)
        }
        val schema = spark.read.parquet(src.toString).schema
        step("stream build 4 epochs") {
          val q = streaming.OnlineRefresh.buildBm25IndexStream(spark, src.toString,
            schema, out.toString, ck.toString, maxFilesPerTrigger = Some(1))
          q.awaitTermination()
        }
        step("retractBm25Artifact") {
          streaming.OnlineRefresh.retractBm25Artifact(spark, out.toString,
            docs.where(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")))
        }
        step("compactBm25Index") {
          require(streaming.OnlineRefresh.compactBm25Index(spark, out.toString))
        }
        step("serve topk") {
          ops.TextAnalysis.bm25TopKFromIndex(
            streaming.OnlineRefresh.readBm25Index(spark, out.toString),
            Seq(("q1", "spark window agg"), ("q2", "customer query fast table"),
              ("q3", "stream batch merge vector")).toDF("query_id", "query"),
            k = 10).count()
        }
      case "zmaint" =>
        val base = java.nio.file.Files.createTempDirectory("p18_zm").toString
        val e = spark.read.option("mergeSchema", "false")
          .parquet(s"$sfDir/events.parquet")
          .select(col("event_id"), col("user_id"), col("value"))
        val low = e.where(col("value") <= 35.0)
        val hi = e.where(col("value") > 35.0)
        step("buildZorderedEpoch(low,8)") {
          fs.Layout.buildZorderedEpoch(low, s"$base/z", Seq("user_id", "value"),
            bits = 6, numFiles = 8)
        }
        step("appendZorderedEpoch(hi even,4)") {
          fs.Layout.appendZorderedEpoch(hi.where(pmod(col("event_id"), lit(2)) === 0),
            s"$base/z", 1, numFiles = 4)
        }
        step("appendZorderedEpoch(hi odd,4)") {
          fs.Layout.appendZorderedEpoch(hi.where(pmod(col("event_id"), lit(2)) === 1),
            s"$base/z", 2, numFiles = 4)
        }
        step("writeManifest") {
          fs.Layout.writeManifest(spark, s"$base/z", Seq("user_id", "value"))
        }
        step("writeValueIndex(event_id)") {
          fs.Layout.writeValueIndex(spark, s"$base/z", "event_id")
        }
        step("deleteLogical(user_id=7)") {
          fs.Layout.deleteLogical(spark, s"$base/z",
            e.where(col("user_id") === 7).select("event_id"), "event_id")
        }
        step("upsertLogical(%97)") {
          val upd = e.where(pmod(col("event_id"), lit(97)) === 0)
            .withColumn("value", col("value") + lit(1000.0))
          fs.Layout.upsertLogical(spark, s"$base/z", upd, "event_id")
        }
        step("maintain: recoverLayout") {
          fs.Layout.recoverLayout(spark, s"$base/z")
        }
        // applyTombstones fine-grained replica
        val ts = step("aT: readTombstones") {
          fs.Layout.readTombstones(spark, s"$base/z", "event_id")
        }
        step("aT: head refreshManifest (fresh)") {
          fs.Layout.refreshManifest(spark, s"$base/z", Seq("user_id", "value"),
            allowGone = true)
        }
        step("aT: head refreshValueIndex (fresh)") {
          fs.Layout.refreshValueIndex(spark, s"$base/z", "event_id", 1 << 16,
            allowGone = true)
        }
        step("aT: deleteByKeys") {
          fs.Layout.deleteByKeys(spark, s"$base/z", ts, "event_id", 1 << 16)
        }
        step("aT: close refreshManifest") {
          fs.Layout.refreshManifest(spark, s"$base/z", Seq("user_id", "value"),
            allowGone = true)
        }
        step("aT: close refreshValueIndex") {
          fs.Layout.refreshValueIndex(spark, s"$base/z", "event_id", 1 << 16,
            allowGone = true)
        }
        step("aT: purge deltas + clear") {
          fs.Layout.readDeltas(spark, s"$base/z", "event_id").foreach { d =>
            d.join(broadcast(ts), Seq("event_id"), "left_anti").count()
          }
        }
        step("maintain: applyTombstones (residual)") {
          fs.Layout.applyTombstones(spark, s"$base/z", "event_id",
            Seq("user_id", "value"), 1 << 16)
        }
        step("maintain: applyUpsertDeltas") {
          fs.Layout.applyUpsertDeltas(spark, s"$base/z", "event_id",
            Seq("user_id", "value"), 1 << 16, 8)
        }
        step("maintain: layoutDrift") {
          fs.Layout.layoutDrift(spark, s"$base/z", None).collect()
        }
        step("maintain: fileCount") {
          fs.Layout.listedDataFilePaths(spark, s"$base/z").size
        }
        step("maintain: reclusterLayout") {
          fs.Layout.reclusterLayout(spark, s"$base/z", 8, None)
        }
        step("maintain: writeManifest") {
          fs.Layout.writeManifest(spark, s"$base/z", Seq("user_id", "value"))
        }
        step("maintain: writeValueIndex") {
          fs.Layout.writeValueIndex(spark, s"$base/z", "event_id")
        }
        step("maintain: drift after") {
          fs.Layout.layoutDrift(spark, s"$base/z", None).collect()
        }
        step("prunedRead") {
          fs.Layout.prunedRead(spark, s"$base/z", Seq(("user_id", 5.0, 11.0)))
            .select(col("event_id"), col("user_id"), col("value")).count()
        }
      case "pipeline" =>
        // q_pipeline_full stage decomposition (r19): which stage owns the
        // ~7.7 s floor — containment kill, textStats, fuzzy keep-best,
        // split, or the contamination gate
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val uncontained = step("dropContained (noop sink)") {
          val u = ops.Dedup.dropContained(docs, n = 3, threshold = 0.5)
          u.write.format("noop").mode("overwrite").save(); u
        }
        val stats = step("textStats over uncontained (noop)") {
          val st = ops.TextAnalysis.textStats(uncontained)
          st.write.format("noop").mode("overwrite").save(); st
        }
        val fuzzy = step("dropNearDuplicates (noop)") {
          val f = ops.Dedup.dropNearDuplicates(stats, "quality_score")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          f.write.format("noop").mode("overwrite").save(); f
        }
        val split = ops.Sampling.hashSplit(fuzzy.where(col("quality_score") >= 0.5), "doc_id")
        val train = split.where(col("split") === "train")
        val test = split.where(col("split") === "test")
        step("contamination gate + final join (noop)") {
          val cont = ops.Dedup.contamination(train, test)
          train.join(cont.select("doc_id", "contamination"), Seq("doc_id"))
            .where(col("contamination") <= 0.2)
            .select(col("doc_id"), col("quality_score"), col("split"), col("contamination"))
            .unionByName(test.select(col("doc_id"), col("quality_score"), col("split"),
              lit(null).cast("double").as("contamination")))
            .write.format("noop").mode("overwrite").save()
        }
        fuzzy.unpersist(false)
      case "explain" =>
        // PROBE18_QUERIES=q_a,q_b PROBE18_SUFFIX=before — dump
        // .explain("formatted") of each named declared query to plans/r18/
        val names = sys.env.getOrElse("PROBE18_QUERIES", "").split(',')
          .map(_.trim).filter(_.nonEmpty)
        val suffix = sys.env.getOrElse("PROBE18_SUFFIX", "before")
        val dirName = sys.env.getOrElse("PROBE18_DIR", "plans/r19")
        val outDir = java.nio.file.Paths.get(dirName)
        java.nio.file.Files.createDirectories(outDir)
        names.foreach { n =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
          println(s"WROTE $dirName/${n}_$suffix.txt")
        }
      case _ => println(s"unknown section $section")
    }
    spark.stop()
  }
}
