package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.ops.TextAnalysis
import graft.streaming.OnlineRefresh

/** The BM25 artifact lifecycle of a growing corpus (half of the
  * `artifacts` workload).
  *
  * A seeded corpus (Zipf(1.1) vocabulary of 20k words, documents of 8-157
  * tokens) lands as parquet epochs of (op, doc_id, text). Set-up indexes a
  * first epoch of 5,000 documents. A round lands [[EpochsPerMaintenance]]
  * epochs, each of 500 inserts plus 50 deletes of earlier documents and
  * each run through `buildBm25IndexRetractStream` (AvailableNow, awaited);
  * serves a batch of 8 top-10 queries through `readBm25IndexRetracted` +
  * `bm25TopKFromIndex`, which must match the benchmark's own BM25 over the
  * surviving documents; runs `maintainBm25Index`; and serves the batch
  * again, which must not change. */
object TextIndex {
  val FirstDocs = 5000
  val InsertsPerEpoch = 500
  val DeletesPerEpoch = 50
  val QueriesPerBatch = 8
  val K = 10
  /** Maintenance runs after this many epochs. The index then holds the
    * last compacted epoch plus these, more than `maxEpochs`, so every pass
    * compacts. */
  val EpochsPerMaintenance = 2
  val MaxEpochs = 2

  val InputSchema: StructType = new StructType()
    .add("op", StringType).add("doc_id", LongType).add("text", StringType)

  /** One round of the index: the epochs' stream times, the served
    * batch's times (before and after maintenance) and the maintenance
    * pass's time. */
  final case class Round(epochMs: Seq[Double], serveMs: Seq[Double], maintainMs: Double)

  /** The warm-up round's epochs: its calls only need to run, so they are
    * small. */
  val WarmInserts = 20
  val WarmDeletes = 2

  /** Index the first epoch; returns the round to run after it. A warm-up
    * round (`warm = true`) lands small epochs and does not serve: a serve's
    * first call is one of four samples, which the median leaves out. */
  def setup(r: Run): Boolean => Round = {
    import r.spark.implicits._
    val spark = r.spark
    val rnd = new scala.util.Random(r.seed)
    val zipf = new Gen.Zipf(20000)
    val reference = new Reference.Bm25()
    val inDir = r.inputs.resolve("stream")
    val out = r.store.resolve("bm25").toString
    val ckpt = r.store.resolve("bm25_ckpt").toString
    var nextId = 0L
    var epoch = 0
    val live = scala.collection.mutable.ArrayBuffer.empty[Long]

    /** Land one epoch file of `inserts` new documents and `deletes` deletes
      * of earlier ones. */
    def landEpoch(inserts: Int, deletes: Int): Unit = {
      val docs = Seq.fill(inserts) { nextId += 1; (nextId, Gen.document(zipf, rnd)) }
      val dels = (0 until deletes).map { _ =>
        val i = rnd.nextInt(live.size)
        val id = live(i)
        live(i) = live.last
        live.remove(live.size - 1)
        id
      }
      val rows = docs.map { case (id, toks) => ("ins", id, toks.mkString(" ")) } ++
        dels.map(id => ("del", id, null: String))
      val stage = r.work.resolve("stage").resolve(s"e$epoch").toString
      rows.toDF("op", "doc_id", "text").coalesce(1).write.parquet(stage)
      val part = Files.list(java.nio.file.Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(inDir)
      Files.move(part, inDir.resolve(f"epoch-$epoch%05d.parquet"))
      epoch += 1
      docs.foreach { case (id, toks) => reference.insert(id, toks); live += id }
      dels.foreach(reference.delete)
    }

    def runEpoch(): Double = r.span("bm25.epoch") {
      val q = OnlineRefresh.buildBm25IndexRetractStream(spark, inDir.toString, InputSchema, out, ckpt)
      try q.awaitTermination() finally q.stop()
      q.exception.foreach(e => throw e)
    }._2

    def queryBatch(): Seq[(Long, Seq[String])] = (1 to QueriesPerBatch).map { i =>
      // mid-frequency terms: the head of a Zipf vocabulary matches most docs
      val terms = Seq.fill(1 + rnd.nextInt(3))(zipf.word(20 + rnd.nextInt(2000)))
      (i.toLong, terms)
    }

    /** Serve a batch; returns (rows, ms). Rows are (query, rank, doc, milli). */
    def serve(batch: Seq[(Long, Seq[String])]): (Seq[(Long, Int, Long, Long)], Double) = {
      val queries = batch.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("query_id", "query")
      val (rows, ms) = r.span("bm25.serve") {
        TextAnalysis.bm25TopKFromIndex(OnlineRefresh.readBm25IndexRetracted(spark, out), queries, k = K)
          .collect()
      }
      val got = rows.map(x => (x.getLong(0), x.getInt(3), x.getLong(1), math.round(x.getDouble(2) * 1000)))
        .toSeq.sortBy(x => (x._1, x._2))
      (got, ms)
    }

    def checkServe(batch: Seq[(Long, Seq[String])], got: Seq[(Long, Int, Long, Long)], when: String): Unit = {
      val want = batch.flatMap { case (qid, terms) =>
        reference.topK(terms, K).zipWithIndex.map { case ((doc, s), i) => (qid, i + 1, doc, s) }
      }.sortBy(x => (x._1, x._2))
      r.check(got == want, s"top-$K $when differs from the reference: " +
        got.diff(want).take(3).mkString(",") + " vs " + want.diff(got).take(3).mkString(","))
    }

    landEpoch(FirstDocs, 0)
    runEpoch()

    (warm: Boolean) => {
      val epochMs = (1 to EpochsPerMaintenance).map { _ =>
        if (warm) landEpoch(WarmInserts, WarmDeletes) else landEpoch(InsertsPerEpoch, DeletesPerEpoch)
        runEpoch()
      }
      val batch = if (warm) Nil else queryBatch()
      val before = if (warm) None else Some(serve(batch))
      before.foreach { case (got, _) => checkServe(batch, got, "after the epochs") }
      val (report, mMs) = r.span("bm25.maintain") {
        OnlineRefresh.maintainBm25Index(spark, out, maxEpochs = MaxEpochs).collect()
      }
      r.check(report.exists(_.getString(0) == "compacted"),
        s"maintainBm25Index did not compact: ${report.mkString(",")}")
      val after = before.map { case (got, _) =>
        val (again, ms) = serve(batch)
        r.check(again == got, "serve results changed across maintainBm25Index")
        ms
      }
      r.attempted += EpochsPerMaintenance + 1 + 2 * before.size
      val serveMs = before.map(_._2).toSeq ++ after
      Round(epochMs, serveMs, mMs)
    }
  }
}
