package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV source/sink — parity with the reference CSV transport
  * (taskrabbit/forklift `lib/forklift/transports/csv.rb`):
  * header-aware, type-converting read (`converters: :all`, `csv.rb:12` —
  * here Spark's `inferSchema`), `append=false` truncates first
  * (`csv.rb:31-51`). A table is a directory of CSV files, each written
  * with the header (the reader drops it from each), so a conforming
  * append adds files, as in every [[FileConnector]].
  *
  * Scale note: CSV is an interchange edge, not an analytics format — the
  * expected pattern is CSV in → parquet tables for everything downstream.
  */
class CsvConnector(spark: SparkSession, dir: String) extends FileConnector(spark, dir, ".csv") {
  protected def format: String = "csv"

  override protected def writeOptions: Map[String, String] = Map("header" -> "true")

  override def read(table: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")   // converters: :all analog
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
      .csv(tablePath(table).toString)
}
