package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, length, upper}

import graft.SparkSpecBase

/** Generated code is compiled once per JVM, not once per session. Every
  * stream runs in a cloned session; with one executor classloader for all
  * sessions (`GraftSession.configure`) a stream's tasks find the classes
  * that an earlier run of the same plan compiled. */
class CodegenReuseSpec extends SparkSpecBase {
  import spark.implicits._

  /** One MemoryStream → foreachBatch run in `session`, each batch
    * collected: (classes compiled meanwhile, rows collected). */
  private def run(session: SparkSession): (Long, Seq[(String, Int)]) = {
    val src = MemoryStream[(Long, String)](session)
    val ckpt = Files.createTempDirectory("graft-codegen-reuse")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val p = GraftPipeline.foreachBatch(
      src.toDF().filter(col("_1") % 3 =!= 0)
        .select(upper(col("_2")).as("u"), (length(col("_2")) * 7).as("n")),
      ckpt.toString, "100 milliseconds") { (batch, _) =>
      batch.collect().foreach(r => seen.add(r.getString(0) -> r.getInt(1)))
    }
    try {
      src.addData((1L, "alpha"), (2L, "bravo"), (3L, "charlie"))
      p.underlying.processAllAvailable()
    } finally {
      p.shutdown()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
    import scala.jdk.CollectionConverters._
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before,
      seen.asScala.toSeq.sorted)
  }

  test("sessions share one executor classloader") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.newSession().conf
      .get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a stream reuses the classes an earlier run of its plan compiled") {
    val rows = Seq("ALPHA" -> 35, "BRAVO" -> 35)
    val (_, first) = run(spark)
    val (again, second) = run(spark)
    val (fresh, third) = run(spark.newSession())
    assert(first == rows && second == rows && third == rows)
    assert(again == 0L, s"the second run compiled $again classes")
    assert(fresh == 0L, s"a run from a new session compiled $fresh classes")
  }
}
