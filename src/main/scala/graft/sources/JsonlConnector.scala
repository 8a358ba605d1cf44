package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON-Lines source/sink — the de-facto distribution format of public
  * LLM corpora (C4, The Pile, Dolma all ship as one-JSON-object-per-
  * line shards). Spark's json reader/writer IS the jsonl codec, so
  * this connector is the CSV transport's sibling
  * (`lib/forklift/transports/csv.rb` parity shape): schema-inferring
  * read (or caller-pinned via `schemaFor` — inference re-scans the
  * data, so production ingest should pin), truncate-on-overwrite,
  * append with schema evolution through the [[SchemaInfer]] lattice.
  *
  * Scale note: like CSV, jsonl is the interchange edge, not the
  * analytics format — read once, land in parquet. Reads parallelize
  * per line-split (newline-delimited objects make byte-range splits
  * safe); compressed shards (.gz) split per FILE, so many medium
  * shards beat one giant one — the standard public-corpus layout.
  */
class JsonlConnector(spark: SparkSession, dir: String,
                     schemaFor: String => Option[StructType] = _ => None)
    extends FileConnector(spark, dir, ".jsonl") {
  protected def format: String = "json"

  override def read(table: String): DataFrame = {
    val r = spark.read
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
    schemaFor(table) match {
      case Some(s) => r.schema(s).json(tablePath(table).toString)
      case None => r.json(tablePath(table).toString)
    }
  }
}
