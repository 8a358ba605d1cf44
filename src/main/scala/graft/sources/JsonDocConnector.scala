package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document-store connector — parity with the reference Elasticsearch
  * transport (taskrabbit/forklift `lib/forklift/transports/elasticsearch.rb`)
  * in a zero-egress environment: an "index" is a directory of JSON-lines
  * documents. The query surface mirrors the DSL subset the reference's
  * specs exercise (SURVEY.md §2.8): `match_all`, `term` equality, `sort`,
  * `from`/`size` paging.
  */
class JsonDocConnector(spark: SparkSession, dir: String) extends FileConnector(spark, dir, ".json") {
  protected def format: String = "json"

  override def read(index: String): DataFrame = spark.read.json(tablePath(index).toString)

  /** Query-DSL read: `search(index, Query(term=…, sort=…, from=…, size=…))`
    * ≙ `read(index, query, looping, from, size)` (`elasticsearch.rb:14-42`).
    * from/size paging maps to offset/limit — in the reference it is a
    * re-executed search per page (dup/skip under concurrent writes;
    * SURVEY §7.4#4) and here a single consistent scan. */
  def search(index: String, q: JsonDocConnector.Query): DataFrame = {
    var df = read(index)
    q.term.foreach { case (f, v) => df = df.filter(col(f) === lit(v)) }
    q.sort.foreach { case (f, asc) => df = df.orderBy(if (asc) col(f).asc else col(f).desc) }
    if (q.from > 0) df = df.offset(q.from)
    if (q.size > 0) df = df.limit(q.size)
    df
  }

  /** ES write with `update=true`: upsert by `_id`-analog pk
    * (`elasticsearch.rb:44-59`) — last writer wins per key, expressed as
    * a windowed dedup rather than per-document round-trips. It rewrites
    * the whole index, O(index): large corpora belong in parquet tables,
    * whose merges are partition-scoped ([[PartitionedParquetConnector]]). */
  override def upsert(df: DataFrame, index: String, primaryKey: String = "id"): Unit = {
    if (!exists(index)) { write(df, index); return }
    val all = read(index).withColumn("_gen", lit(0))
      .unionByName(df.withColumn("_gen", lit(1)), allowMissingColumns = true)
    val w = Window.partitionBy(col(primaryKey)).orderBy(col("_gen").desc)
    write(all.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_gen", "_rn"), index)
  }

  /** `delete_index` (`elasticsearch.rb:61-64`). */
  def deleteIndex(index: String): Unit = drop(index)
}

object JsonDocConnector {
  /** The query-DSL subset the reference exercises (SURVEY.md §2.8). */
  case class Query(
    term: Option[(String, Any)] = None,   // {"term": {field: value}}
    sort: Option[(String, Boolean)] = None, // [{field: {"order": "asc"}}]
    from: Int = 0,
    size: Int = 0)                        // 0 = unlimited
  val matchAll: Query = Query()
}
