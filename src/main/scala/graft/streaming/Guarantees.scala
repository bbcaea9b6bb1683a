package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ProcessingFailureException

/** Processing-guarantee semantics of the reference
  * (api/record/RecordProcessingGuarantee.java:9-19):
  *
  *  - `at_least_once`: a failure kills the instance; uncommitted records
  *    replay on restart. Spark equivalent needs NO code: a checkpointed
  *    streaming query over a replayable source IS at-least-once — an
  *    exception in any batch stops the query and the un-committed batch
  *    replays on restart. (Exactly-once with idempotent sinks is a strict
  *    upgrade the reference cannot give.)
  *
  *  - `none`: a failing record is logged + skipped. Engine form:
  *    [[graft.operators.DeadLetter.split]] classifies records with
  *    vectorized predicates and splits the batch into an ok frame and a
  *    dead-letter frame, so the query keeps running and failures are
  *    observable data (impl/record/RecordStatusObserverImpl.java:39-47
  *    logs-and-continues the same way).
  */
object Guarantees {

  /** `at_least_once` batch wrapper: a failing batch is rethrown as the
    * taxonomy [[ProcessingFailureException]], so the pipeline terminates
    * and the ShutdownCallback receives the reference's exception type —
    * the observable contract of RecordStatusObserverTest (onFailure under
    * at_least_once wraps the cause in ProcessingFailureException and shuts
    * the instance down, impl/record/RecordStatusObserverImpl.java:28-37). */
  def atLeastOnce(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      try body(batch, batchId)
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new ProcessingFailureException(
            s"record processing failed in batch $batchId", e)
      }

  /** Exactly-once file sink: the strict upgrade over the reference's
    * at-least-once that idempotent sinks buy. Each micro-batch lands in
    * its own `batch_id=` partition with DYNAMIC partition overwrite, so a
    * replayed batch (crash between sink write and checkpoint commit — the
    * reference's duplication window, ConsumerThread.java:184-186)
    * OVERWRITES its own partition instead of appending duplicates; other
    * batches' partitions are untouched. Wire as
    * `foreachBatch(Guarantees.exactlyOnceParquet(path))`. */
  def exactlyOnceParquet(path: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.withColumn("batch_id",
          org.apache.spark.sql.functions.lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
}
