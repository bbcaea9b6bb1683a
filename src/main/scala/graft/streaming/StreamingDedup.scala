package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming deduplication — `dropDuplicates` with watermark-bounded state
  * (SURVEY.md §2.9 streaming block): digest-keyed
  * `dropDuplicatesWithinWatermark`, whose state holds only digests inside
  * the watermark window, so it is bounded at any scale.
  */
object StreamingDedup {

  /** Exact payload dedup keyed by md5 digest, state bounded by watermark. */
  def exact(df: DataFrame, payload: Column, tsCol: String,
            delay: String): DataFrame =
    df.withColumn("digest", md5(payload.cast("string")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("digest")
      .drop("digest")
}
