package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** (stages submitted, parquet records read) by `body`'s Spark jobs.
    * Listener events arrive in order, so once a marker job run after
    * `body` is seen, every job of `body` has been. */
  protected def sparkWork(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"work-${System.nanoTime}"
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobGroups.add(g)
        e.stageIds.foreach(stages.put(_, g))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (group == stages.get(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!jobGroups.contains(s"$group-end") && System.nanoTime < deadline) Thread.sleep(10)
      assert(jobGroups.contains(s"$group-end"), "listener never saw the marker job")
      (stages.values.toArray.count(_ == group), records.get)
    } finally sc.removeSparkListener(listener)
  }
}
