package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Connector contract: catalog ops, atomic publish, additive append,
  * engine-issued aggregates (SURVEY §2.1-2.3 against the parquet store). */
class ParquetConnectorSpec extends SparkSpec {

  private def fresh() = new ParquetConnector(spark, tmpDir("graft_pq_"))

  test("write/read roundtrip + tables/exists/drop (D1/D4)") {
    val c = fresh()
    assert(c.tables.isEmpty && !c.exists("users"))
    c.write(usersDf, "users")
    assert(c.tables == Seq("users") && c.exists("users"))
    assert(c.read("users").count() == 5)
    c.drop("users")
    assert(!c.exists("users") && c.tables.isEmpty)
  }

  test("rename is the atomic-publish primitive (D5)") {
    val c = fresh()
    c.write(usersDf, "staging")
    c.write(usersDf.limit(2), "users")
    c.rename("staging", "users")
    assert(c.read("users").count() == 5)
    assert(!c.exists("staging"))
  }

  test("truncate keeps schema, empties rows (D6)") {
    val c = fresh()
    c.write(usersDf, "users")
    c.truncate("users")
    assert(c.exists("users") && c.count("users") == 0)
    assert(c.read("users").schema.fieldNames.toSeq == usersSchema.fieldNames.toSeq)
  }

  test("count and maxTimestamp with epoch fallbacks (A1/A2, mysql.rb:160-184)") {
    val c = fresh()
    assert(c.count("missing") == 0L)
    assert(c.maxTimestamp("missing", "updated_at").getTime == 0L)
    c.write(usersDf, "users")
    assert(c.count("users") == 5L)
    assert(c.maxTimestamp("users", "updated_at") == ts("2024-01-05 12:00:00"))
    assert(c.maxTimestamp("users", "no_such_col").getTime == 0L)
    c.truncate("users")
    assert(c.maxTimestamp("users", "updated_at").getTime == 0L) // no rows -> epoch
  }

  test("readSince filters matcher >= since and orders by matcher (S6)") {
    val c = fresh()
    c.write(usersDf, "users")
    val out = c.readSince("users", "updated_at", ts("2024-01-03 12:00:00")).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(3L, 4L, 5L))
  }

  test("append without schema change is file-additive: existing files untouched") {
    val c = fresh()
    val dir = {
      c.write(usersDf, "users")
      c.asInstanceOf[ParquetConnector]
      // find the table dir
      val base = c.read("users").inputFiles.head
      Paths.get(base.stripPrefix("file:")).getParent
    }
    val before = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    c.write(usersDf.limit(2), "users", SaveMode.Append)
    val after = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    assert(before.subsetOf(after), "additive append must not rewrite existing files")
    assert(after.size > before.size)
    assert(c.count("users") == 7)
  }

  test("append with a new column evolves the schema (union rewrite path)") {
    val c = fresh()
    c.write(usersDf, "users")
    val extra = usersDf.limit(1).withColumn("vip",
      org.apache.spark.sql.functions.lit(true))
    c.write(extra, "users", SaveMode.Append)
    val out = c.read("users")
    assert(out.columns.contains("vip"))
    assert(out.count() == 6)
    assert(out.filter(out("vip").isNull).count() == 5) // old rows null-filled
  }

  test("overwrite publishes atomically: failed write leaves old table intact") {
    val c = fresh()
    c.write(usersDf, "users")
    // a write that fails at action time (udf throwing) must not clobber
    val base = usersDf
    val bad = base.withColumn("boom",
      org.apache.spark.sql.functions.udf((_: Long) => {
        throw new RuntimeException("injected")
        0L
      }).apply(base("id")))
    intercept[Exception] { c.write(bad, "users") }
    assert(c.count("users") == 5, "failed overwrite must leave prior data")
  }

  test("FileTableOps.replace rolls back when the final move fails") {
    val dir = tmpDir("graft_swap_")
    val dst = Paths.get(dir, "t.parquet")
    Files.createDirectory(dst)
    Files.writeString(dst.resolve("data"), "original")
    val missingTmp = Paths.get(dir, "no_such_tmp")
    intercept[Exception] { FileTableOps.replace(dir, missingTmp, dst) }
    assert(Files.exists(dst) && Files.readString(dst.resolve("data")) == "original")
  }

  test("eachBatch streams in caller-sized batches with O(batch) driver memory") {
    val c = fresh()
    c.write(usersDf, "users")
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    c.eachBatch(c.read("users"), batchSize = 2)(b => sizes += b.size)
    assert(sizes.sum == 5)
    assert(sizes.forall(_ <= 2))
  }

  test("nanos-annotated timestamps read as proper timestamps (events table)") {
    val events = ParquetConnector.readTable(spark, "/root/testdata/sf0.001/events.parquet")
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.count() > 0)
  }

  /** `readTable` takes its schema from a footer it reads on the driver
    * instead of Spark's inference job: pins that this gives the inferred
    * relation's schema — nullability included — and its rows, and that
    * `readTable` reads the same through the footer as through its
    * inference fallback (forced here by `mergeSchema` on a directory).
    * `viaFooter`: whether the footer path applies to `path` at all. */
  private def assertFooterSchemaEquivalent(path: String, viaFooter: Boolean = true): Unit = {
    def rows(d: org.apache.spark.sql.DataFrame) = d.toJSON.collect().sorted.toSeq
    val table = ParquetConnector.readTable(spark, path) // sets the read flags
    val inferred = spark.read.parquet(path)
    val footer = ParquetConnector.footerSchema(spark, path)
    assert(footer.isDefined == viaFooter, path)
    footer.foreach { s =>
      val read = spark.read.schema(s).parquet(path)
      assert(read.schema == inferred.schema, path)
      assert(rows(read) == rows(inferred), path)
    }
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    val fallback = try {
      // a single file is one footer either way
      assert(ParquetConnector.footerSchema(spark, path).isEmpty ||
        Files.isRegularFile(Paths.get(path)), path)
      ParquetConnector.readTable(spark, path)
    } finally spark.conf.unset(key)
    assert(table.schema == fallback.schema, path)
    assert(rows(table) == rows(fallback), path)
  }

  test("footer schema equals the inferred schema on every sf0.001 table") {
    val sf = Paths.get("/root/testdata/sf0.001")
    val tables = Files.list(sf).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    assert(tables.exists(_.endsWith("/events.parquet")) && tables.size >= 10)
    tables.foreach(assertFooterSchemaEquivalent(_))
  }

  test("footer schema equals the inferred schema on written edge-case tables") {
    val c = fresh()
    def at(t: String) = c.tablePath(t).toString
    c.write(spark.sql("SELECT 1L AS id, TIMESTAMP_NTZ'2024-03-01 10:00:00' AS t " +
      "UNION ALL SELECT 2L, NULL"), "ntz")
    c.write(spark.sql("SELECT 1L AS id, NULL AS empty"), "promoted")
    c.write(spark.sql("SELECT 1L AS id, named_struct('a', 1, 'b', array('x', NULL)) AS s, " +
      "array(named_struct('k', 2L)) AS arr, map('m', array(1.5D)) AS mp, " +
      "CAST(NULL AS MAP<STRING, INT>) AS nm"), "nested")
    c.write(usersDf.limit(0), "empty")
    // several part files appended: the first in path order decides
    c.write(usersDf, "appended")
    c.write(usersDf.limit(2), "appended", SaveMode.Append)
    Seq("ntz", "promoted", "nested", "empty", "appended").foreach(t => assertFooterSchemaEquivalent(at(t)))
    assert(c.read("ntz").schema("t").dataType == TimestampType)
    assert(c.read("empty").count() == 0L)
  }

  test("a Hive-layout partitioned table takes the inference fallback") {
    val c = new PartitionedParquetConnector(spark, tmpDir("graft_pq_part_"))
    c.write(usersDf, "users")
    assertFooterSchemaEquivalent(c.tablePath("users").toString, viaFooter = false)
    assert(c.readWithPart("users").columns.contains(c.partCol) && c.count("users") == 5L)
  }
}
