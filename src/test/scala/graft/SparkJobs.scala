package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a piece of driver code starts. */
object SparkJobs {

  /** `body`'s result and the Spark jobs started while it ran. A
    * sentinel job drains the (FIFO) listener bus before the count is
    * read, so every job `body` started has been seen. */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.sentinel") != null)
          sentinelSeen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setLocalProperty("graft.sentinel", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.sentinel", null)
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
