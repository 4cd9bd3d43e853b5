package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, reused via getOrCreate). */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = Tables.localSession(4)
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs (listener events drain first). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val out =
      try body
      finally {
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(l)
      }
    (out, jobs.get())
  }
}
