package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Upsert parity with the reference MySQL write
  * (`transports/mysql.rb:55-103`; specs `spec/integration/mysql_spec.rb`). */
class UpsertWriterSpec extends SparkSpec {

  private def fresh() = new ParquetConnector(spark, tmpDir("graft_ups_"))

  test("upsert does not duplicate rows on re-write (mysql_spec.rb:69-73)") {
    val c = fresh()
    c.write(usersDf, "users")
    c.upsert(usersDf, "users", "id") // same batch again
    assert(c.count("users") == 5)
  }

  test("upsert replaces matched keys and inserts new ones") {
    val c = fresh()
    c.write(usersDf, "users")
    val updates = df(usersSchema, Seq(
      Row(3L, "CHANGED@example.com", "First3", "Last3",
        ts("2024-01-03 10:00:00"), ts("2024-02-01 00:00:00")),
      Row(9L, "new@example.com", "New", "User",
        ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))))
    c.upsert(updates, "users", "id")
    assert(c.count("users") == 6)
    val u3 = c.read("users").filter(col("id") === 3).head()
    assert(u3.getAs[String]("email") == "CHANGED@example.com")
  }

  test("in-batch duplicate pks ALL survive insertion — the reference quirk (mysql.rb:78-87)") {
    val c = fresh()
    c.write(usersDf, "users")
    val dupBatch = df(usersSchema, Seq(
      Row(2L, "a@x.com", "A", "A", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00")),
      Row(2L, "b@x.com", "B", "B", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))))
    c.upsert(dupBatch, "users", "id")
    // old id=2 deleted; BOTH incoming id=2 rows inserted
    assert(c.count("users") == 6)
    assert(c.read("users").filter(col("id") === 2).count() == 2)
  }

  test("missing pk column -> plain insert, no delete (mysql.rb:78 guard)") {
    val c = fresh()
    c.write(usersDf, "users")
    val noPk = usersDf.drop("id")
    c.upsert(noPk, "users", "id")
    assert(c.count("users") == 10)
  }

  test("lazy table create on first upsert (S4, mysql.rb:105-132)") {
    val c = fresh()
    c.upsert(usersDf, "brand_new", "id")
    assert(c.exists("brand_new") && c.count("brand_new") == 5)
  }

  test("upsert adds unseen columns to the target (mysql_spec.rb:145-164)") {
    val c = fresh()
    c.write(usersDf, "users")
    val withNew = usersDf.limit(1).withColumn("loyalty_points", lit(42L))
    c.upsert(withNew, "users", "id")
    val out = c.read("users")
    assert(out.columns.contains("loyalty_points"))
    assert(out.filter(col("id") === 1).head().getAs[Long]("loyalty_points") == 42L)
    assert(out.filter(col("loyalty_points").isNull).count() == 4)
  }

  test("all-null column is promoted when the first value arrives (mysql_spec.rb:198-251)") {
    val c = fresh()
    // first batch: note is all null -> NullType sentinel -> stored as string
    val rows1: Seq[Map[String, Any]] = Seq(Map("id" -> 1L, "note" -> null))
    c.write(SchemaInfer.createDataFrame(spark, rows1), "t")
    // second batch: note arrives as a number -> merged type must hold it
    val rows2: Seq[Map[String, Any]] = Seq(Map("id" -> 2L, "note" -> 7L))
    c.upsert(SchemaInfer.createDataFrame(spark, rows2), "t", "id")
    val out = c.read("t").orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(out(0).fieldIndex("note")))
    assert(out(1).get(out(1).fieldIndex("note")) != null)
  }

  test("mergeByKey is a pure declarative merge (no table IO)") {
    val target = usersDf
    val updates = df(usersSchema, Seq(
      Row(1L, "u@x.com", "U", "U", ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"))))
    val merged = UpsertWriter.mergeByKey(target, updates, "id")
    assert(merged.count() == 5)
    assert(merged.filter(col("id") === 1).head().getAs[String]("email") == "u@x.com")
  }

  test("scalacheck: upsert is idempotent for any keyed batch") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genBatch = Gen.nonEmptyListOf(Gen.choose(1L, 20L)).map(_.distinct)
    val prop = Prop.forAll(genBatch) { ids =>
      val c = fresh()
      val batch = df(usersSchema, ids.map(i =>
        Row(i, s"u$i@x.com", "F", "L", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))))
      c.upsert(batch, "t", "id")
      val once = c.count("t")
      c.upsert(batch, "t", "id")
      once == ids.size && c.count("t") == once
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("an int table upserted with a bigint batch stays numeric") {
    val c = fresh()
    val ints = StructType(Seq(StructField("id", IntegerType), StructField("v", IntegerType)))
    c.write(df(ints, Seq(Row(1, 10), Row(2, 20))), "t")
    val longs = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    c.upsert(df(longs, Seq(Row(2L, 21L), Row(3L, 30L))), "t", "id")
    val out = c.read("t")
    assert(out.schema("id").dataType == LongType && out.schema("v").dataType == LongType, out.schema)
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L)))
  }
}
