package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, stopped after),
  * built through the engine's own `GraftSession.configure`. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.configure(SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  /** Runs `body` and returns (result, number of Spark jobs started). */
  def countingJobs[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      // the listener bus is async (and its drain API is private[spark]);
      // give queued JobStart events time to land before reading
      Thread.sleep(500)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM — don't stop; sbt forks one JVM for
    // the whole Test run and the last suite's afterAll would kill others'.
    super.afterAll()
  }
}
