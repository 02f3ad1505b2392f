package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into one layer of the program and the action that
  * forces it. Counters are filled in by the listeners, which run on
  * Spark's listener bus after the fact, so they are keyed by ids the
  * events carry (job tags, stage ids, SQL execution ids), never by the
  * time an event arrives. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  @volatile var end: Long = 0L
  val counters: TrieMap[String, Double] = TrieMap.empty
  def add(k: String, v: Double): Unit = counters.synchronized {
    counters.update(k, counters.getOrElse(k, 0d) + v)
  }
  def tag: String = s"perfbench-span-$id"
}

/** The traced run's recorder: a SparkListener and a QueryExecutionListener
  * registered from the benchmark's own code. Each span sets a job group
  * and a job tag; job tags are inherited by threads started inside the
  * span, which is how a streaming query's micro-batches stay attributed to
  * the span that started it. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byTag = TrieMap.empty[String, Span]
  private val byStage = TrieMap.empty[Int, Span]
  private val byExecution = TrieMap.empty[Long, Span]
  private val DrainTag = "perfbench-drain-"
  private val drainJobs = TrieMap.empty[Int, String]
  @volatile private var drained: Set[String] = Set.empty

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    byTag(s.tag) = s
    stack = s :: stack
    sc.setJobGroup(s.tag, name)
    sc.addJobTag(s.tag)
    s
  }

  def end(s: Span): Unit = {
    s.end = System.nanoTime()
    sc.removeJobTag(s.tag)
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(p.tag, p.name)
      case None => sc.clearJobGroup()
    }
  }

  /** The innermost span among a job's tags. */
  private def spanOf(tags: Iterable[String]): Option[Span] =
    tags.flatMap(byTag.get).toSeq.sortBy(-_.id).headOption

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq).getOrElse(Nil)
    tags.filter(_.startsWith(DrainTag)).foreach(t => drainJobs(e.jobId) = t)
    spanOf(tags).foreach { s =>
      e.stageIds.foreach(byStage(_) = s)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => byExecution.putIfAbsent(id.toLong, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    drainJobs.remove(e.jobId).foreach(t => drained += t)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.add("cpu_ms", m.executorCpuTime / 1e6)
      s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
      s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart =>
      spanOf(st.jobTags).foreach(s => byExecution.putIfAbsent(st.executionId, s))
    case end: SparkListenerSQLExecutionEnd => lastEnded = end.executionId
    case _ =>
  }

  /** Spark's ExecutionListenerBus follows this listener on the shared
    * queue: it calls onSuccess for an execution right after this listener
    * saw that execution's end event, so the two pair up here. (The
    * QueryExecution's own `id` is not the SQL execution id.) */
  @volatile private var lastEnded = -1L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    byExecution.get(lastEnded).foreach { s =>
      s.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      val plan = qe.executedPlan
      s.add("files_read", Tracer.filesRead(plan).toDouble)
      s.add("files_written", Tracer.filesWritten(plan).toDouble)
      s.add("postings_scans", Tracer.scansUnder(plan, "/postings").toDouble)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted so far has reached the listeners: a
    * marker job's end arrives after all of them on the same queue. */
  def drain(): Unit = {
    val marker = DrainTag + System.nanoTime()
    sc.addJobTag(marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
    val deadline = System.nanoTime() + 20_000_000_000L
    while (!drained(marker) && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def recorded: Seq[Span] = spans.toSeq.filter(_.end > 0)

  /** Spans as JSON lines: name, start/end in ns since the first span,
    * parent id and counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = recorded.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start - t0},""" +
        s""""end_ns":${s.end - t0},"counters":{$cs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Every node of an executed plan, through adaptive stages, subqueries
    * and the physical plan of an eagerly run command (writes). */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }.flatMap {
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case p => Seq(p)
  }

  def filesRead(plan: SparkPlan): Long = nodes(plan).map {
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case b: BatchScanExec => b.inputPartitions.map {
      case fp: FilePartition => fp.files.length.toLong
      case _ => 0L
    }.sum
    case _ => 0L
  }.sum

  def filesWritten(plan: SparkPlan): Long = nodes(plan).map {
    case w: DataWritingCommandExec => w.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case _ => 0L
  }.sum

  def scansUnder(plan: SparkPlan, dir: String): Int = nodes(plan).count {
    case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(dir))
    case _ => false
  }
}
