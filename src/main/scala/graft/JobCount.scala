package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches — the probe behind QRepeat's
  * `build_jobs` and the zero-job builder spec (a query builder must not
  * hide work). The block's jobs run under a private job group (inherited
  * by threads the block starts, not by pools that already exist); afterwards
  * one single-task marker job runs under a second group. The listener bus
  * delivers job starts in submission order, so once the marker's start
  * arrives every job of the block has been counted. */
private[graft] object JobCount {
  private val GroupKey = "spark.jobGroup.id"
  private val seq = new AtomicInteger

  def apply[T](s: SparkSession)(f: => T): (T, Int) = {
    val sc = s.sparkContext
    val tag = s"graft-jobcount-${seq.incrementAndGet()}"
    val marker = s"$tag-marker"
    val n = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(GroupKey)).orNull match {
          case `tag` => n.incrementAndGet()
          case `marker` => seen.countDown()
          case _ =>
        }
    }
    val saved = Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")
      .map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted block")
      val out = f
      sc.setJobGroup(marker, "job count marker")
      sc.parallelize(Seq(0), 1).count()
      require(seen.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the job count marker")
      (out, n.get)
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }
}
