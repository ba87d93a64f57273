package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided star-schema parquet tables
  * (TESTDATA.md). Schema comes from parquet footers; filters and
  * projections applied downstream push into the scan (checked via
  * `.explain` in GraftPlanSpec).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `query` over temp views of the sf dir's `tables`, named
    * after the tables. The views are dropped once the frame is
    * analyzed, so a later query in the session that names a table
    * never reads this sf dir's view of it. */
  def sqlOver(s: SparkSession, d: String, tables: String*)(query: String): DataFrame = {
    tables.foreach(t => table(s, d, t).createOrReplaceTempView(t))
    try s.sql(query)
    finally tables.foreach(s.catalog.dropTempView)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** events.parquet's `ts` physical type differs across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which the vectorized reader
    * rejects — read nanos as long via the legacy conf and divide) vs
    * TIMESTAMP(MICROS) (read natively, as NTZ by default). Normalize
    * to a microsecond session-TZ TimestampType either way so every
    * downstream query sees one schema. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: epoch-nanos (~1.7e18) exceeds double's
        // 2^53 exact range, so float division would corrupt the low bits
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        // sessions run with UTC session TZ, so the NTZ→LTZ cast is
        // value-preserving and keeps the output schema stable across
        // testdata generations
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Declared schema for STREAMING reads of events.parquet (the file
    * source requires an explicit schema), matching whichever physical
    * `ts` layout this testdata generation uses. Pair with
    * [[normalizeEventTs]] inside the stream transform. */
  def eventsStreamSchema(s: SparkSession, d: String):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = table(s, d, "events").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** Normalize a raw (batch or streaming) events frame's `ts` to
    * microsecond TimestampType regardless of the physical layout it
    * was read with. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
