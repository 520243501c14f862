package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (JVM-wide; suites must not
  * stop it). Mirrors the production session conf: AQE on, shuffle
  * partitions sized to cores, UTC.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Runs `f` under a fresh tag and returns its result with the
    * properties of every job it launched, in start order. The tag is a
    * local property of its own, not the job group, so jobs that `f` runs
    * under a job group of their own (`graft.Run`'s phases) are counted
    * too. Listener events arrive in order, so once a marker job's start
    * is seen every job `f` launched has been counted.
    */
  def jobsOf[T](f: => T): (T, Seq[java.util.Properties]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobsOf"
    val tag = s"jobs-of-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val t = p.getProperty(key)
          if (t == tag) jobs.add(p)
          else if (t == s"$tag-marker") markerSeen.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val r = try f finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
