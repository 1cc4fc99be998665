package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per suite;
  * sharing across suites is safe because config is identical).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same session shape as Verify/Bench: FAIR scheduling for the
      // concurrent-streams path (asserted in MaintenanceSpec)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfSmoke = "/root/testdata/sf0.001"

  /** A Spark job that started: its `spark.job.description` (its first
    * stage's call site when it has none) and its task count.
    */
  case class JobRun(description: String, tasks: Int)

  /** Run `body`; return its result and every job that started meanwhile.
    * Listener events arrive asynchronously but in order, so after `body`
    * one marker job runs and its start proves the rest were delivered.
    */
  def jobsDuring[T](body: => T): (T, Seq[JobRun]) = {
    val sc = spark.sparkContext
    val descKey = "spark.job.description"
    val marker = s"jobsDuring-end-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[JobRun]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).flatMap(p =>
            Option(p.getProperty(descKey)))
          .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
        if (desc == marker) drained.countDown()
        else jobs.add(JobRun(desc, e.stageInfos.map(_.numTasks).sum))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      val prev = sc.getLocalProperty(descKey)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
      assert(drained.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the marker job within 60 s")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
