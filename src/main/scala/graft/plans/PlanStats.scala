package graft.plans

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}

/** Row counts WITHOUT a scan, where one is derivable.
  *
  * The corpus-size-routed operators (Similarity.ivfIndex,
  * Dedup.simhashPairs, the autoStride / autoBandBits sizers) need one
  * number — how many rows — to pick a branch or size a sketch. Paying a
  * full `count()` scan for that number is fine at test SFs and a real
  * pre-pass at 100 TB (a whole extra read of the corpus before any work
  * starts). Resolution order here:
  *
  *  1. caller-supplied hint (the caller of a 100 TB job usually knows);
  *  2. catalog/CBO statistics when the optimizer already carries an EXACT
  *     row count (`LogicalPlan.stats.rowCount` — populated after ANALYZE
  *     TABLE or from a CTAS; the size-only estimator leaves it None, so an
  *     estimate can never masquerade as a count);
  *  3. parquet footer metadata for a BARE parquet scan: every footer
  *     records its row-group counts, so the exact total is a handful of
  *     metadata reads (driver-side, parallel, no Spark job at all) — free
  *     relative to any scan;
  *  4. `df.count()` — the honest fallback.
  *
  * Footers are only consulted when the frame is provably count-preserving
  * over the files: Project / SubqueryAlias chains above a parquet
  * LogicalRelation (1:1 by construction — this is exactly the shape
  * Tables.load produces). Any Filter / Sample / Generate / join makes the
  * plan shape unrecognized and falls through to count().
  */
object PlanStats {

  /** Exact row count of `df`, from the cheapest admissible source:
    * hint > exact plan statistics > parquet footers > count(). */
  def rowCount(df: DataFrame, hint: Option[Long] = None): Long =
    hint.orElse(cheapRowCount(df)).getOrElse(df.count())

  /** Exact row count WITHOUT running a Spark job, or None when no
    * metadata source can prove one. */
  def cheapRowCount(df: DataFrame): Option[Long] =
    try {
      val plan = df.queryExecution.optimizedPlan
      plan.stats.rowCount.map(_.toLong).orElse {
        unwrap(plan) match {
          case lr: LogicalRelation =>
            lr.relation match {
              case fs: HadoopFsRelation
                  if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
                footerRowCount(df, fs)
              case _ => None
            }
          case _ => None
        }
      }
    } catch { case NonFatal(_) => None }

  /** Count-preserving wrappers only: a Project is 1:1 per row by
    * construction, a SubqueryAlias is a pure rename. Everything else
    * (Filter, Sample, Generate, joins, aggregates) stops the descent. */
  @scala.annotation.tailrec
  private def unwrap(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child)       => unwrap(child)
    case SubqueryAlias(_, child) => unwrap(child)
    case other                   => other
  }

  /** Past this many files the driver-side footer pass stops being "free";
    * a 100 TB table in sane file sizes (128 MB-1 GB) sits well under it. */
  private val maxFooterFiles = 65536

  private def footerRowCount(df: DataFrame, fs: HadoopFsRelation):
      Option[Long] = {
    val files = fs.location.inputFiles
    if (files.isEmpty) Some(0L)
    else if (files.length > maxFooterFiles) None
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      // parallel driver-side metadata reads — each is one footer fetch;
      // no Spark job, no executor involvement
      val total = java.util.Arrays.stream(files).parallel()
        .mapToLong { f =>
          footer(HadoopInputFile.fromPath(new Path(f), conf), rowGroups = true)
            .getBlocks.stream().mapToLong(_.getRowCount).sum()
        }.sum()
      Some(total)
    }
  }

  /** One Parquet footer, read on the driver by Spark's own footer reader.
    * `rowGroups = false` skips the row-group metadata: a schema needs only
    * the file metadata (Tables.load). */
  private[graft] def footer(file: HadoopInputFile, rowGroups: Boolean): ParquetMetadata =
    ParquetFooterReader.readFooter(file,
      if (rowGroups) ParquetMetadataConverter.NO_FILTER
      else ParquetMetadataConverter.SKIP_ROW_GROUPS)
}
