package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.plans.PlanStats

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read parquet from
  * it; the same code path would read a 100 TB partitioned table on a real
  * cluster (spark.read.parquet over a directory tree), so nothing here is
  * local-mode specific.
  *
  * Opening a table runs no Spark job. `spark.read.parquet` infers the schema
  * with a one-task job that reads one footer (70-120 ms of scheduling per
  * open on a 4-core box, paid by every query). Instead the driver reads that
  * same footer and hands its schema to `spark.read.schema(s).parquet`:
  * Spark's inference picks `_common_metadata`, then `_metadata`, then the
  * first data file in path order, hidden files skipped, and converts it with
  * Spark's own footer-to-schema code, so the schema is the one inference
  * gives. A session with `spark.sql.parquet.mergeSchema` on, a directory
  * with subdirectories (partition discovery), and a path with nothing to
  * read take plain `spark.read.parquet`, with its job and its errors.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val footer = footerOf(spark, path)
    // events.ts arrives in several wire formats: parquet TIMESTAMP(NANOS)
    // (earlier driver drops), int64 nanos (GenScale's scale dirs) and
    // timestamp[us] (current driver drops). With the legacy conf on, a
    // NANOS column reads as long, which normalize converts. The conf is
    // session-wide, so it is set only for a NANOS footer, or where no
    // footer answers and Spark's inference reads the files.
    if (name == "events" && footer.forall { case (_, f) => nanosTs(f) })
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(name, readFooter(spark, path, footer))
  }

  /** Register every table as a temp view so SQL-form queries work too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** `spark.read.parquet(path)`, with the schema read on the driver when
    * it can be (see the object doc). */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    readFooter(spark, path, footerOf(spark, path))

  private def readFooter(spark: SparkSession, path: String,
                         footer: Option[(Path, ParquetMetadata)]): DataFrame =
    footer.flatMap { case (file, f) =>
      try Some(GraftShims.parquetSchema(spark, file, f))
      catch { case NonFatal(_) => None } // Spark reports it
    } match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The file Spark's inference would read for `path`, and its footer;
    * None where only Spark's own inference answers. */
  private def footerOf(spark: SparkSession, path: String): Option[(Path, ParquetMetadata)] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val top = fs.getFileStatus(root)
      val files: Seq[FileStatus] =
        if (top.isFile) Seq(top)
        else fs.listStatus(root).toSeq
          .filterNot(f => GraftShims.hiddenPathName(f.getPath.getName))
          .sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val pick =
        if (files.exists(_.isDirectory)) None
        else summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
          .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      pick.map(f => f.getPath ->
        PlanStats.footer(HadoopInputFile.fromStatus(f, conf), rowGroups = false))
    } catch { case NonFatal(_) => None } // a missing path or a bad footer: Spark reports it

  /** True when the footer's top-level `ts` is a parquet TIMESTAMP(NANOS). */
  private def nanosTs(footer: ParquetMetadata): Boolean = {
    val schema = footer.getFileMetaData.getSchema
    schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }

  /** The engine's column types over a raw table read. */
  private[graft] def normalize(name: String, raw: DataFrame): DataFrame = {
    // A NANOS events.ts read as long: convert with exact integer division
    // (a double division would lose precision above 2^53 ns), while a
    // MICROS column reads as a timestamp already.
    val df = if (name == "events" && raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
    // Timezone-NAIVE parquet timestamps (isAdjustedToUTC=false, what the
    // current driver drop writes for events.ts / o_orderdate / l_shipdate)
    // read as TIMESTAMP_NTZ under Spark 4's NTZ inference, which rejects
    // unix_micros(), numeric casts, and mixed comparisons the engine and
    // its DuckDB oracles rely on. The session is pinned UTC (GraftSession),
    // so casting NTZ -> TIMESTAMP maps the wall-clock to the identical
    // instant DuckDB sees when it reads the same naive column.
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampNTZType) d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }
  }
}
