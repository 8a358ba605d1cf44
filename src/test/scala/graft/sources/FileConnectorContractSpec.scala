package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** The durable-write contract every file format shares through
  * [[FileConnector]] and [[FileTableOps]], one table-driven case per
  * format: a failed publish keeps the prior table, `tables` hides tmp
  * dirs, a conforming append only adds files, nested appends match
  * struct fields by name, truncate keeps the table
  * (and its columns, where the format stores them in an empty table),
  * and a failed rename keeps its destination. */
class FileConnectorContractSpec extends SparkSpec {

  /** `dataExt`: the extension of the format's data files; `emptyHasColumns`:
    * whether an empty table's files carry its columns (an empty JSON-lines
    * file carries none; JsonlConnector keeps them through a pinned
    * `schemaFor`); `nested`: whether the format stores struct columns
    * (CSV cannot). */
  private case class Format(name: String, dataExt: String, emptyHasColumns: Boolean,
                            nested: Boolean, make: String => FileConnector)

  private val formats = Seq(
    Format("parquet", ".parquet", emptyHasColumns = true, nested = true, new ParquetConnector(spark, _)),
    Format("orc", ".orc", emptyHasColumns = true, nested = true, new OrcConnector(spark, _)),
    Format("csv", ".csv", emptyHasColumns = true, nested = false, new CsvConnector(spark, _)),
    Format("jsonl", ".json", emptyHasColumns = false, nested = true, new JsonlConnector(spark, _)),
    Format("jsondoc", ".json", emptyHasColumns = false, nested = true, new JsonDocConnector(spark, _)))

  // types every format reads back as written, inference included
  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("score", DoubleType)))

  private def frame(rs: (String, Double)*): DataFrame =
    df(schema, rs.map { case (n, s) => Row(n, s) })

  private val seed = Seq("a" -> 0.5, "b" -> 1.5, "c" -> 2.5)

  private def rowsOf(c: FileConnector, t: String): Seq[(String, Double)] =
    c.read(t).select("name", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)

  /** Data files of table `t`, each with its bytes. */
  private def files(c: FileConnector, t: String, f: Format): Map[String, Seq[Byte]] =
    FileTableOps.dataFiles(c.tablePath(t), f.dataExt)
      .map((p: Path) => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  formats.foreach { f =>
    def fresh() = f.make(tmpDir(s"graft_contract_${f.name}_"))

    test(s"${f.name}: a write that throws mid-publish keeps the prior table") {
      val c = fresh()
      c.write(frame(seed: _*), "t")
      val bad = frame(seed: _*).withColumn("score",
        udf((_: Double) => { throw new RuntimeException("injected"); 0.0 }).apply(col("score")))
      intercept[Exception] { c.write(bad, "t") }
      assert(rowsOf(c, "t") == seed, "a failed overwrite must leave the prior rows")
      intercept[Exception] { c.write(bad, "t", SaveMode.Append) }
      assert(rowsOf(c, "t") == seed, "a failed append must leave the prior rows")
      intercept[Exception] { c.write(bad.withColumn("tag", lit("x")), "t", SaveMode.Append) }
      assert(rowsOf(c, "t") == seed, "a failed evolving append must leave the prior rows")
    }

    test(s"${f.name}: tables never lists a leftover tmp dir") {
      val c = fresh()
      c.write(frame(seed: _*), "t")
      // a publish that crashed after its write, before the swap
      intercept[RuntimeException] {
        FileTableOps.publish(c.tablePath("u")) { tmp =>
          Files.createDirectories(tmp); throw new RuntimeException("crash before the swap")
        }
      }
      // and a tmp dir named like a table of this format
      val ext = c.tablePath("t").getFileName.toString.stripPrefix("t")
      Files.createDirectories(c.tablePath("t").resolveSibling(s".tmp_v$ext"))
      val names = Files.list(c.tablePath("t").getParent).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(names.count(_.startsWith(".tmp_")) == 2, names)
      assert(c.tables == Seq("t"))
    }

    test(s"${f.name}: a conforming append adds files and leaves existing files untouched") {
      val c = fresh()
      c.write(frame(seed: _*), "t")
      val before = files(c, "t", f)
      c.write(frame("d" -> 3.5, "e" -> 4.5), "t", SaveMode.Append)
      val after = files(c, "t", f)
      assert(before.forall { case (n, bytes) => after.get(n).contains(bytes) },
        "additive append must not rewrite existing files")
      assert(after.size > before.size)
      assert(rowsOf(c, "t") == seed ++ Seq("d" -> 3.5, "e" -> 4.5))
    }

    test(s"${f.name}: an evolving append rewrites once under the merged schema") {
      val c = fresh()
      c.write(frame(seed: _*), "t")
      c.write(frame("d" -> 3.5).withColumn("tag", lit("x")), "t", SaveMode.Append)
      val out = c.read("t")
      assert(out.columns.toSet == Set("name", "score", "tag"))
      assert(out.filter(col("tag").isNull).count() == 3L)
      assert(rowsOf(c, "t") == seed :+ ("d" -> 3.5))
    }

    test(s"${f.name}: an int column appended to the table stays numeric") {
      val c = fresh()
      val ints = StructType(Seq(StructField("id", IntegerType), StructField("name", StringType)))
      c.write(df(ints, Seq(Row(1, "a"))), "t")
      c.write(df(ints, Seq(Row(2, "b"))), "t", SaveMode.Append)
      val out = c.read("t")
      assert(Seq(IntegerType, LongType).contains(out.schema("id").dataType), out.schema)
      assert(out.orderBy("id").collect().map(_.getAs[Number]("id").longValue).toSeq == Seq(1L, 2L))
    }

    if (f.nested) test(s"${f.name}: nested appends match struct fields by name") {
      val c = fresh()
      def meta(fields: (String, DataType)*) = StructType(Seq(StructField("id", LongType),
        StructField("meta", StructType(fields.map { case (n, t) => StructField(n, t) }))))
      c.write(df(meta("author" -> StringType, "title" -> StringType),
        Seq(Row(1L, Row("ann", "wiki")))), "t")
      val before = files(c, "t", f)
      // the same nested fields, listed in another order: conforming
      c.write(df(meta("title" -> StringType, "author" -> StringType),
        Seq(Row(2L, Row("news", "bob")))), "t", SaveMode.Append)
      val after = files(c, "t", f)
      assert(before.forall { case (n, bytes) => after.get(n).contains(bytes) },
        "a reordered nested object must not rewrite the table")
      // a nested field the table lacks: evolving
      c.write(df(meta("year" -> LongType, "title" -> StringType, "author" -> StringType),
        Seq(Row(3L, Row(2024L, "blog", "cat")))), "t", SaveMode.Append)
      val out = c.read("t")
      assert(out.schema("meta").dataType.isInstanceOf[StructType], out.schema)
      val got = out.select(col("id"), col("meta.author"), col("meta.title"), col("meta.year"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Number].longValue))).toSeq
      assert(got == Seq((1L, "ann", "wiki", None), (2L, "bob", "news", None),
        (3L, "cat", "blog", Some(2024L))))
    }

    test(s"${f.name}: truncate empties the table and keeps its schema where files carry it") {
      val c = fresh()
      c.write(frame(seed: _*), "t")
      val cols = c.read("t").schema.fieldNames.toSeq
      c.truncate("t")
      assert(c.exists("t") && c.count("t") == 0L)
      if (f.emptyHasColumns) assert(c.read("t").schema.fieldNames.toSeq == cols)
    }

    test(s"${f.name}: rename of a missing table throws and keeps the destination") {
      val c = fresh()
      c.write(frame(seed: _*), "t")
      intercept[Exception] { c.rename("missing", "t") }
      assert(rowsOf(c, "t") == seed)
      assert(c.tables == Seq("t"))
      c.write(frame("z" -> 9.5), "s")
      c.rename("s", "t")
      assert(rowsOf(c, "t") == Seq("z" -> 9.5) && c.tables == Seq("t"))
    }
  }
}
