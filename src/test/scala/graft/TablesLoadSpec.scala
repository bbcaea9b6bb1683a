package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Pins both wire formats of `events.ts` through Tables.load (ADVICE r7):
  *
  *  - int64 nanos (what GenScale writes back for scale dirs, and what the
  *    legacy nanosAsLong conf surfaces for TIMESTAMP(NANOS) drops): the
  *    loader must return TimestampType with EXACT microsecond values via
  *    integer division — a double division would lose precision above
  *    2^53 ns (~104 days of epoch time), so the probe values sit far above
  *    that boundary.
  *  - native timestamp[us] (current driver drops): must pass through
  *    untouched.
  *
  * And pins the job-free open: the schema Tables.load reads from one footer
  * on the driver is, field for field (nullability and metadata included),
  * the schema Spark's own inference gives, on every fixture shape, and
  * opening the ten tables runs no Spark job.
  */
class TablesLoadSpec extends SparkSpecBase {
  import spark.implicits._

  // epoch-micros probes: all above 2^53 ns when scaled to nanos, plus an
  // odd-microsecond value whose last digit a lossy conversion would mangle
  private val micros = Seq(
    1704067200000000L, // 2024-01-01T00:00:00Z
    1704067200123456L, // sub-second precision preserved
    1893456000999999L) // 2030-01-01 minus 1us: odd tail digit

  private def tmp(): String =
    Files.createTempDirectory("tables-load-spec").toString

  test("int64-nanos events (GenScale wire format) load as exact micros") {
    val dir = tmp()
    micros.map(us => (us * 1000L, us)).toDF("ts", "expected_us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType,
      "nanos->micros branch must yield TimestampType")
    val rows = loaded
      .select(unix_micros(col("ts")).as("got_us"), col("expected_us"))
      .as[(Long, Long)].collect()
    rows.foreach { case (got, expect) =>
      assert(got == expect, s"nanos conversion drifted: $got != $expect")
    }
  }

  test("native timestamp[us] events pass through untouched") {
    val dir = tmp()
    micros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), col("us").as("expected_us"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    val rows = loaded
      .select(unix_micros(col("ts")).as("got_us"), col("expected_us"))
      .as[(Long, Long)].collect()
    rows.foreach { case (got, expect) =>
      assert(got == expect, s"micros passthrough altered values: $got != $expect")
    }
  }

  test("tz-naive timestamp[us] (current driver drop) normalizes to TIMESTAMP") {
    // the current driver drop writes isAdjustedToUTC=false timestamps,
    // which Spark 4 infers as TIMESTAMP_NTZ; the loader must map them to
    // TimestampType at the SAME instant (session is UTC)
    val dir = tmp()
    micros.toDF("us")
      .select(timestamp_micros(col("us"))
        .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
        col("us").as("expected_us"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // confirm the fixture really is NTZ on the wire
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)

    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    loaded.select(unix_micros(col("ts")).as("got_us"), col("expected_us"))
      .as[(Long, Long)].collect()
      .foreach { case (got, expect) => assert(got == expect) }
  }

  test("NTZ normalization covers non-events tables (o_orderdate-style)") {
    val dir = tmp()
    micros.toDF("us")
      .select(col("us").as("o_orderkey"), timestamp_micros(col("us"))
        .cast(org.apache.spark.sql.types.TimestampNTZType).as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val loaded = Tables.load(spark, dir, "orders")
    assert(loaded.schema("o_orderdate").dataType == TimestampType)
    loaded.select(unix_micros(col("o_orderdate")).as("got"), col("o_orderkey"))
      .as[(Long, Long)].collect()
      .foreach { case (got, expect) => assert(got == expect) }
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Runs `body` with the nanos conf unset, restoring it after. */
  private def withoutNanosConf[A](body: => A): A = {
    val old = spark.conf.getOption(nanosAsLong)
    spark.conf.unset(nanosAsLong)
    try body finally old.foreach(spark.conf.set(nanosAsLong, _))
  }

  test("a timestamp[us] events load leaves the session's conf as it was") {
    val dir = tmp()
    micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    withoutNanosConf {
      val before = spark.conf.get(nanosAsLong)
      assert(Tables.load(spark, dir, "events").schema("ts").dataType == TimestampType)
      assert(spark.conf.get(nanosAsLong) == before,
        "a micros events load set the nanos conf on the session")
    }
  }

  test("a TIMESTAMP(NANOS) events file loads and normalizes to exact micros") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Spark writes no NANOS timestamps; parquet's example writer does
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required int64 expected_us; }")
    val dir = tmp()
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.foreach(us =>
      w.write(groups.newGroup().append("ts", us * 1000L).append("expected_us", us)))
    finally w.close()
    withoutNanosConf {
      val loaded = Tables.load(spark, dir, "events")
      assert(loaded.schema("ts").dataType == TimestampType)
      loaded.select(unix_micros(col("ts")).as("got_us"), col("expected_us"))
        .as[(Long, Long)].collect()
        .foreach { case (got, expect) => assert(got == expect) }
      assert(spark.conf.get(nanosAsLong) == "true")
    }
  }

  test("non-events tables take the plain parquet path (no ts rewrite)") {
    val dir = tmp()
    Seq((1L, 42L)).toDF("doc_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val loaded = Tables.load(spark, dir, "documents")
    assert(loaded.schema("ts").dataType == LongType,
      "only the events loader interprets ts")
  }

  // ---------- the footer schema is the inferred schema ----------

  /** The driver-provided scale-factor tables (TESTDATA.md). */
  private val testdata = "/root/testdata"

  /** Table `name` under `dir`: the driver-read schema equals the inferred
    * one, raw and after the engine's normalization. */
  private def assertInferredSchema(dir: String, name: String): Unit = {
    val path = s"$dir/$name.parquet"
    val loaded = Tables.load(spark, dir, name) // sets the events conf first
    val inferred = spark.read.parquet(path)
    assert(Tables.readParquet(spark, path).schema == inferred.schema, s"$path raw schema")
    assert(loaded.schema == Tables.normalize(name, inferred).schema, s"$path loaded schema")
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"every $sf table opens with the schema Spark infers") {
      val dir = s"$testdata/$sf"
      assume(new java.io.File(dir).isDirectory, s"$dir is not present")
      Tables.all.foreach(assertInferredSchema(dir, _))
    }

  test("opening all ten tables runs no Spark job") {
    val dir = s"$testdata/sf0.01"
    val (schemas, jobs) = countingJobs(Tables.all.map(Tables.load(spark, dir, _).schema))
    assert(schemas.forall(_.nonEmpty))
    assert(jobs == 0, s"opening the tables ran $jobs Spark jobs")
    // the listener does see inference's job
    assert(countingJobs(spark.read.parquet(s"$dir/nation.parquet"))._2 >= 1)
  }

  /** The three events wire formats of the tests above. */
  private def wireFormats: Seq[(String, DataFrame)] = {
    val us = micros.toDF("us")
    Seq(
      "int64 nanos" -> us.select((col("us") * 1000L).as("ts"), col("us").as("expected_us")),
      "timestamp[us]" -> us.select(timestamp_micros(col("us")).as("ts"), col("us")),
      "tz-naive timestamp[us]" -> us.select(timestamp_micros(col("us"))
        .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"), col("us")))
  }

  test("the events wire formats open with the schema Spark infers") {
    for ((format, df) <- wireFormats) withClue(format) {
      val dir = tmp()
      df.write.parquet(s"$dir/events.parquet")
      assertInferredSchema(dir, "events")
    }
  }

  test("a GenScale-style multi-part directory with _SUCCESS and .crc files") {
    // GenScale writes events as int64 nanos, repartitioned, in appended chunks
    val dir = tmp()
    val path = s"$dir/events.parquet"
    val events = Tables.load(spark, s"$testdata/sf0.001", "events")
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    events.repartition(3).write.mode("overwrite").parquet(path)
    events.withColumn("event_id", col("event_id") + lit(1000000L))
      .repartition(2).write.mode("append").parquet(path)
    val names = new java.io.File(path).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(names.count(_.endsWith(".parquet")) == 5)
    assertInferredSchema(dir, "events")
    assert(Tables.load(spark, dir, "events").count() == 2 * events.count())
  }

  test("summary files come first: _common_metadata, then _metadata, then data") {
    val dir = tmp()
    val path = s"$dir/t.parquet"
    def single(df: DataFrame): java.nio.file.Path = {
      val d = tmp()
      df.coalesce(1).write.parquet(d + "/x")
      Files.list(Paths.get(d, "x")).filter(_.toString.endsWith(".parquet")).findFirst().get()
    }
    Seq(1L, 2L).toDF("a").write.parquet(path)
    val withB = single(Seq((3L, "x")).toDF("a", "b"))
    val withC = single(Seq((4L, "y", 1.5)).toDF("a", "b", "c"))
    def inferredNames = spark.read.parquet(path).schema.fieldNames.toSeq
    Files.copy(withB, Paths.get(path, "_metadata"))
    assert(inferredNames == Seq("a", "b"))
    assert(Tables.readParquet(spark, path).schema == spark.read.parquet(path).schema)
    Files.copy(withC, Paths.get(path, "_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    assert(inferredNames == Seq("a", "b", "c"))
    assert(Tables.readParquet(spark, path).schema == spark.read.parquet(path).schema)
  }

  test("mergeSchema and partitioned directories fall back to Spark's inference") {
    val dir = tmp()
    val merged = s"$dir/merged.parquet"
    Seq(1L).toDF("a").write.parquet(merged)
    Seq((2L, "x")).toDF("a", "b").write.mode("append").parquet(merged)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val (schema, jobs) = countingJobs(Tables.readParquet(spark, merged).schema)
      assert(schema == spark.read.parquet(merged).schema)
      assert(schema.fieldNames.toSeq == Seq("a", "b"))
      assert(jobs >= 1, "mergeSchema must take Spark's inference")
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")

    val parted = s"$dir/parted.parquet"
    Seq((1L, 0), (2L, 1)).toDF("a", "p").write.partitionBy("p").parquet(parted)
    val schema = Tables.readParquet(spark, parted).schema
    assert(schema == spark.read.parquet(parted).schema)
    assert(schema.fieldNames.toSeq == Seq("a", "p"))
  }

  test("an empty or missing directory fails with Spark's own error") {
    val empty = tmp()
    for (path <- Seq(empty, s"$empty/absent.parquet")) {
      def failure(read: => DataFrame) = Try(read).failed.map(e => (e.getClass, e.getMessage))
      val ours = failure(Tables.readParquet(spark, path))
      assert(ours.isSuccess, s"$path read without an error")
      assert(ours == failure(spark.read.parquet(path)))
    }
  }
}
