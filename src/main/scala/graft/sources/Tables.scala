package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed accessors for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md). Reads are plain columnar parquet scans so Catalyst pushes
  * filters down and prunes columns at the file source — at 100 TB the scan
  * cost is dominated by `PushedFilters`/`ReadSchema`, so every query in
  * `graft.queries` selects only the columns it needs.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.parquet's `ts` physical type has varied across fixture
    * generations — TIMESTAMP(NANOS) (readable only as long via the legacy
    * conf, which [[graft.GraftSession.builder]] sets; truncated to micros with integer `div`, since double division
    * loses precision at 1e18 ns), TIMESTAMP_NTZ (micros, no zone), or a
    * plain zoned timestamp. Normalize all three to TimestampType micros;
    * the session runs UTC, so the NTZ cast is value-preserving.
    */
  def events: DataFrame = {
    val raw = t("events")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}
