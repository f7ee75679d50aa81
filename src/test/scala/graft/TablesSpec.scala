package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events loader must normalize every physical `ts` form the driver's
  * testdata has shipped — TIMESTAMP(NANOS) (read as long under
  * nanosAsLong), TIMESTAMP_NTZ (pandas/pyarrow naive micros), and plain
  * TIMESTAMP — to identical (ts: TIMESTAMP, ts_ns: epoch-nanos long)
  * columns. Round 7's driver regen switched the files from NANOS to NTZ
  * and every events-reading query failed analysis; this pins all three.
  */
class TablesSpec extends SparkSpec {

  private val usA = 1700000000000000L // 2023-11-14T22:13:20Z
  private val usB = 1700000123456789L

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq((1L, usA, 10L, "view", 1.0, "{}"), (2L, usB, 11L, "purchase", 2.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def normalized(dir: String): Map[Long, Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType, s"ts type in $dir")
    assert(df.schema("ts_ns").dataType == LongType, s"ts_ns type in $dir")
    df.select("event_id", "ts_ns").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("events loader normalizes long-ns, TIMESTAMP_NTZ, and TIMESTAMP ts to the same ts/ts_ns") {
    val base = tempDir("graft_tables").toString

    writeEvents(s"$base/long", (col("us") * 1000L).cast(LongType))
    writeEvents(s"$base/ntz", timestamp_micros(col("us")).cast(TimestampNTZType))
    writeEvents(s"$base/ltz", timestamp_micros(col("us")))

    // sanity: the three files really carry three different physical types
    assert(spark.read.parquet(s"$base/long/events.parquet").schema("ts").dataType == LongType)
    assert(spark.read.parquet(s"$base/ntz/events.parquet").schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$base/ltz/events.parquet").schema("ts").dataType == TimestampType)

    val expected = Map(1L -> usA * 1000L, 2L -> usB * 1000L)
    assert(normalized(s"$base/long") == expected)
    assert(normalized(s"$base/ntz") == expected)
    assert(normalized(s"$base/ltz") == expected)
  }

  test("a table's inferred schema is cached until its files change") {
    import spark.implicits._
    val dir = tempDir("graft_tables_schema").toString
    def docs(df: org.apache.spark.sql.DataFrame, mode: String) =
      df.coalesce(1).write.mode(mode).parquet(s"$dir/documents.parquet")

    // an unchanged table: the second read runs no job
    docs(Seq((1L, "a")).toDF("doc_id", "text"), "overwrite")
    assert(Tables.documents(spark, dir).count() == 1)
    val again = jobsDuring { Tables.documents(spark, dir); () }
    assert(again.isEmpty, s"a read of an unchanged table ran jobs: $again")

    // a file appended to events.parquet is seen, and infers again once
    writeEvents(dir, timestamp_micros(col("us")))
    assert(normalized(dir).size == 2)
    Seq((3L, usB + 1L, 12L, "view", 3.0, "{}")).toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(s"$dir/events.parquet")
    assert(jobsDuring { Tables.events(spark, dir); () }.nonEmpty, "an appended table read a cached schema")
    assert(normalized(dir) == Map(1L -> usA * 1000L, 2L -> usB * 1000L, 3L -> (usB + 1L) * 1000L))
    assert(jobsDuring { Tables.events(spark, dir); () }.isEmpty)

    // a table rewritten under the same path with another schema
    docs(Seq((2L, "en", 7)).toDF("doc_id", "lang", "n_chars"), "overwrite")
    val rewritten = Tables.documents(spark, dir)
    assert(rewritten.columns.toSeq == Seq("doc_id", "lang", "n_chars"))
    assert(rewritten.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq == Seq((2L, "en", 7)))
  }

  test("driver events table loads with a timestamp ts and exact ts_ns") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType == TimestampType)
    val r = df.select(min(unix_micros(col("ts")) * 1000L - col("ts_ns"))
        .as("dmin"),
      max(unix_micros(col("ts")) * 1000L - col("ts_ns")).as("dmax"))
      .collect()(0)
    // ts is the us-truncation of ts_ns: difference confined to [-999, 0]
    assert(r.getLong(0) >= -999L && r.getLong(1) <= 0L, s"got $r")
  }
}
