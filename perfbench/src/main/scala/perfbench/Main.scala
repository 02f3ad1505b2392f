package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the work directory, the
  * measured-phase clock, operation counts, check failures and metrics. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
    val tracer: Option[Tracer]) {
  var attempted = 0L
  /** No operation of these workloads fails on their inputs; an exception
    * ends the run without a result. */
  val failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer values the workload computes itself (ratios and counts that
    * need its own knowledge, e.g. rows returned). */
  val layerExtra = mutable.LinkedHashMap.empty[String, Double]
  /** Spans are recorded from the end of set-up on, warm-up excepted. */
  private var recording = false
  private var gcAtStart = 0L

  val inputs: Path = work.resolve("in")
  /** Everything the program writes lives under here; `store_mb` is its
    * size at the end of the run. */
  val store: Path = work.resolve("store")

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && problems.size < 20) problems += what

  /** Run `body` as one span of the named layer; returns its result and
    * wall time in ms. Warm-up calls are not recorded as spans. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val s = if (recording) tracer.map(_.begin(name)) else None
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e6)
    } finally s.foreach(x => tracer.foreach(_.end(x)))
  }

  /** Add rows returned by a call of `span` to `<span>.rows_out`, the
    * denominator of its per-row ratios; warm-up calls are left out like
    * their spans. */
  def countRowsOut(span: String, rows: Int): Unit =
    if (recording) layerExtra(s"$span.rows_out") = layerExtra.getOrElse(s"$span.rows_out", 0d) + rows

  /** Run `body` with span recording off (warm-up work: the first calls of
    * a plan shape run several times slower than its settled time). */
  def warmOnce(body: => Unit): Unit = {
    recording = false
    try body finally recording = true
  }

  /** Setup ends here: `setup_s` is counted from the JVM's start. */
  def setupDone(): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    endToEnd("setup_s") = (System.currentTimeMillis() - startMs) / 1000.0
    gcAtStart = Run.gcMs()
    recording = true
  }

  private var deadline = 0L
  private var clockStart = 0L
  def startClock(): Unit = {
    clockStart = System.nanoTime()
    deadline = clockStart + seconds * 1000000000L
    System.err.println(f"[perfbench] set-up ${endToEnd("setup_s")}%.1f s, warm-up done after " +
      f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")
  }
  def measured(): Double = (System.nanoTime() - clockStart) / 1e9
  def timeLeft: Boolean = System.nanoTime() < deadline

  def finishLayers(): Unit = {
    layerExtra("jvm.gc_ms") = (Run.gcMs() - gcAtStart).toDouble
    layerExtra("jvm.heap_after_gc_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

object Run {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "write_per_s" -> "1/s", "ingest_ms" -> "ms", "refresh_ms" -> "ms", "read_ms" -> "ms",
    "query_ms" -> "ms", "scan_ms" -> "ms", "store_mb" -> "MB")

  /** The spans every traced run reports, whichever workload ran them. */
  val Spans: Seq[String] = Seq("ingest.raw", "ingest.features", "offline.watermark", "offline.compact", "pit.city",
    "pit.grid", "online.refresh", "online.read", "bm25.epoch", "bm25.serve", "bm25.maintain",
    "layout.append", "layout.upsert", "layout.delete", "layout.point_read", "layout.range_read",
    "layout.maintain")
  val Counters: Seq[(String, String)] = Seq("wall_ms" -> "ms", "plan_ms" -> "ms", "cpu_ms" -> "ms",
    "input_rows" -> "count", "shuffle_bytes" -> "bytes", "files_read" -> "count")
  val Extras: Seq[(String, String)] = Seq(
    "pit.city.rows_out_per_input_row" -> "ratio", "online.read.rows_out_per_input_row" -> "ratio",
    "bm25.serve.postings_scans" -> "count", "layout.point_read.files_per_row" -> "ratio",
    "layout.maintain.bytes_rewritten" -> "bytes", "ingest.raw.files_written" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_after_gc_mb" -> "MB")

  val Workloads: Map[String, Run => Unit] = Map(
    "feature_store" -> FeatureStoreLoad.run, "artifacts" -> Artifacts.run)

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val traceOut = opts.get("trace-out").map(Paths.get(_))

    val threads = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, work, seed, seconds, tracer)
    body(run)
    System.err.println(f"[perfbench] measured ${run.measured()}%.1f s")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        run.endToEnd("store_mb") = Run.dirBytes(run.store) / 1048576.0
        EndToEnd.map { case (n, u) => (n, run.endToEnd(n), u) }
      } else {
        run.finishLayers()
        tracer.get.drain()
        val bySpan = tracer.get.recorded.groupBy(_.name)
        val perSpan = for (s <- Spans; (c, u) <- Counters) yield {
          val calls = bySpan.getOrElse(s, Nil)
          val v =
            if (calls.isEmpty) 0d
            else if (c == "wall_ms") Run.median(calls.map(x => (x.end - x.start) / 1e6))
            else Run.median(calls.map(_.counters.getOrElse(c, 0d)))
          (s"$s.$c", v, u)
        }
        def medianOf(span: String, counter: String): Double =
          bySpan.get(span).map(cs => Run.median(cs.map(_.counters.getOrElse(counter, 0d)))).getOrElse(0d)
        def totalOf(span: String, counter: String): Double =
          bySpan.get(span).map(_.map(_.counters.getOrElse(counter, 0d)).sum).getOrElse(0d)
        def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0d
        def rowsOut(span: String): Double = run.layerExtra.getOrElse(s"$span.rows_out", 0d)
        val fromSpans = Map(
          "pit.city.rows_out_per_input_row" -> ratio(rowsOut("pit.city"), totalOf("pit.city", "input_rows")),
          "online.read.rows_out_per_input_row" ->
            ratio(rowsOut("online.read"), totalOf("online.read", "input_rows")),
          "bm25.serve.postings_scans" -> medianOf("bm25.serve", "postings_scans"),
          "layout.point_read.files_per_row" ->
            ratio(totalOf("layout.point_read", "files_read"), rowsOut("layout.point_read")),
          "layout.maintain.bytes_rewritten" -> medianOf("layout.maintain", "bytes_written"),
          "ingest.raw.files_written" -> medianOf("ingest.raw", "files_written"))
        val extras = Extras.map { case (n, u) =>
          (n, fromSpans.getOrElse(n, run.layerExtra.getOrElse(n, 0d)), u)
        }
        traceOut.foreach(tracer.get.writeSpans)
        perSpan ++ extras
      }
    spark.stop()

    val correct = run.problems.isEmpty
    run.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {$ms}}""")
  }
}
