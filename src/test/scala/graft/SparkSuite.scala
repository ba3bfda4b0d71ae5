package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test fixture: one local session per JVM, graft functions
  * registered. Suites extend this instead of building their own session.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.getOrCreate("local[4]")
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  /** Run `f` and count the Spark jobs it launched. The listener bus is
    * drained before and after, so the count holds exactly the jobs
    * started while `f` ran; jobs of a running streaming query are not
    * counted.
    */
  def countingJobs[A](f: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    org.apache.spark.GraftTestAccess.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .forall(_.getProperty("sql.streaming.queryId") == null))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.GraftTestAccess.drainListeners(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
