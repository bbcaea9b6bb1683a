package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's `private[sql]` surface — the one place the engine
  * touches non-public API. Everything else builds on the public DataFrame /
  * Catalyst-expression contracts; this shim only converts Column <->
  * Expression (needed to expose custom codegen expressions as user-facing
  * `Column`s) and registers SQL function names. Living in the
  * `org.apache.spark.sql` namespace for access is the established pattern for
  * Spark-native extension libraries.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `CollectTopK` (private[sql]) with the ordering reversed: a size-k
    * bounded priority queue per group keeping the SMALLEST k elements,
    * partial-aggregating map-side. See GraftFunctions.collectSmallest. */
  def collectSmallestExpr(e: Expression, k: Int): Expression =
    new org.apache.spark.sql.catalyst.expressions.aggregate
      .CollectTopK(e, k, true, 0, 0).toAggregateExpression()

  /** `BloomFilterAggregate` (private[sql]) over a LONG column with an
    * explicit size: lets a caller who KNOWS the approximate item count
    * build the sketch in one pass — `DataFrameStatFunctions.bloomFilter`
    * needs the exact count up front, which costs a whole extra execution
    * of the input pipeline. The aggregate's putLong path is bit-compatible
    * with `BloomFilter.mightContainLong` (graft's codegen probe). Returns
    * the serialized filter bytes; NULL on empty input (callers must
    * short-circuit — see Dedup.repeatedSpans). */
  def bloomFilterAggExpr(e: Expression, estItems: Long,
                         numBits: Long): Expression =
    new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(e,
        org.apache.spark.sql.catalyst.expressions.Literal(estItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression()

  /** True while the query's stream-execution thread is actually alive.
    * `StreamingQuery.isActive` flips false as soon as stop() marks the
    * state TERMINATED — even though a hung batch can keep the execution
    * thread running (exactly the situation the reference's
    * CANNOT_STOP_THREADS status reports, KafkaWorkersImpl.java:180). */
  def executionThreadAlive(q: StreamingQuery): Boolean = q match {
    case w: StreamingQueryWrapper => w.streamingQuery.queryExecutionThread.isAlive
    case s: StreamExecution => s.queryExecutionThread.isAlive
    case _ => q.isActive
  }

  /** The Spark schema of one Parquet footer, converted by the code Spark's
    * schema inference runs on the footer it picks
    * (`ParquetFileFormat.readSchemaFromFooter`): the Spark row-metadata
    * schema when the file carries one, and the session's binary, int96,
    * NTZ and nanos settings. (Inference takes Spark's defaults for case
    * sensitivity, field-id reads and variant annotations where this reads
    * the session's; the engine changes none of them.) */
  def parquetSchema(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The persisted `df` as a frame whose plan is its cache entry alone.
    * A self-join renews the attributes of its right side's leaves, and
    * Spark's cache lookup does not match a renewed checkpoint leaf
    * (`LogicalRDD` keeps its partitioning's old attributes); over this
    * frame the self-join renews only the cache entry's own output, so
    * both sides read the cache. */
  def cachedLeaf(df: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(d.sparkSession, d.queryExecution.withCachedData)
  }

  /** True for a name Spark's file listing skips: hidden `_`/`.` files other
    * than the Parquet summary files, and `._COPYING_` files. */
  def hiddenPathName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** Register a SQL function name building a custom expression. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
