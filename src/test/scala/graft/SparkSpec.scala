package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one JVM-wide session, scalatest runs
  * suites in the same forked JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s result and the Spark jobs it started, counted by a listener. */
  def jobsOf[T](f: => T): (T, Int) = {
    val (r, jobs, _) = workOf(f)
    (r, jobs)
  }

  /** `f`'s result, the Spark jobs it started and the shuffle records
    * their tasks wrote, counted by a listener. The listener bus delivers
    * events asynchronously but in order, so a marker job submitted after
    * `f` returns is seen only once every job and task of `f` has been
    * counted. */
  def workOf[T](f: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (r, jobs.get, records.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
