package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches — the guard against driver-side
  * work creeping back into a plan build or a pass. */
object SparkJobs {
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Thread.sleep(500) // listener bus is async
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** Every message down a throwable's cause chain, concatenated: Spark
  * wraps a task's exception, so a spec looks for the contract text
  * anywhere in the chain. */
object Causes {
  def messages(x: Throwable): String =
    Option(x).map(t => t.getMessage + messages(t.getCause)).getOrElse("")
}
