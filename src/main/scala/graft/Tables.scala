package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.etl.ParquetRead

/** Loaders for the driver's read-only TESTDATA parquet tables
  * (see TESTDATA.md). Each is read through [[graft.etl.ParquetRead]]:
  * the schema comes from the table file's footer, read on the driver,
  * so loading a table submits no Spark job. Column pruning / predicate
  * pushdown happen at the scan because every query builds a declarative
  * plan on top.
  */
object Tables {
  /** The full TESTDATA table list (single source of truth for view
    * registration and tooling).
    */
  val testdataNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetRead(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has drifted across driver-generated datasets:
    * TIMESTAMP(NANOS) parquet (no native Spark type — sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` and the long nanos are
    * floor-divided to µs), then TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * which Spark reads as TIMESTAMP_NTZ. Normalize every variant to a
    * real TimestampType: sessions run with session.timeZone=UTC, so the
    * NTZ→TZ cast is value-preserving and matches DuckDB's naive
    * `cast(ts AS timestamp)`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
