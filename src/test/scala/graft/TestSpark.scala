package graft

import org.apache.spark.grafttest.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, under the project's session
  * policy (`Sessions`). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.create(4)

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out = try body
      finally {
        ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, jobs.get())
  }
}
