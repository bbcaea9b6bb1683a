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

  override def afterAll(): Unit = {
    // shared across suites in one JVM — don't stop; sbt forks one JVM for
    // the whole Test run and the last suite's afterAll would kill others'.
    super.afterAll()
  }
}
