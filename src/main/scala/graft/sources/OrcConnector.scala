package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Path-addressed ORC "database": each table is `<dir>/<name>.orc`.
  * The [[ParquetConnector]]'s sibling for shops whose lake standard is
  * ORC (Hive-lineage warehouses) — same transport contract as the
  * reference's MySQL transport (`lib/forklift/transports/mysql.rb`),
  * same atomic tmp-dir + rename publish
  * (`patterns/mysql_patterns.rb:28-43`) so readers never observe
  * partial state.
  *
  * Spark's ORC support is built in (native vectorized reader), so the
  * connector is pure orchestration: no timestamp-shape normalization
  * is needed here because ORC's logical timestamp type has a single
  * Spark surface — the parquet NANOS/NTZ ambiguity this connector's
  * sibling handles does not exist for ORC tables we read or write.
  *
  * Scale: ORC dirs are file-additive like parquet dirs, so Append with
  * a conforming schema moves O(delta) new files in per-file atomic
  * renames (never a table rewrite); only genuine schema evolution pays
  * the union-rewrite. Predicate pushdown and column pruning reach the
  * ORC scan exactly as they do for parquet (OrcConnectorSpec pins
  * both on the physical plan).
  */
class OrcConnector(spark: SparkSession, dir: String) extends FileConnector(spark, dir, ".orc") {
  protected def format: String = "orc"

  override def read(table: String): DataFrame = spark.read.orc(tablePath(table).toString)
}
