package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.NullType

/** A path-addressed file "database": each table is the directory
  * `<dir>/<name><ext>` of Spark data files. Holds the catalog and the
  * write policy every file format shares; a format supplies its `read`
  * and its writer codec ([[format]], [[writeOptions]]).
  *
  * Durable actions all go through [[FileTableOps]]:
  *  - Overwrite publishes atomically (tmp dir + rename swap), so readers
  *    never observe partial state (`patterns/mysql_patterns.rb:28-43`);
  *  - Append of a schema that conforms to the table's is file-additive —
  *    the new files are written to a tmp dir and moved in, existing files
  *    untouched; only a genuine schema evolution (new column, type
  *    widening, `varchar(0)` promotion) pays one union rewrite under the
  *    [[SchemaInfer]] lattice. Deciding which needs the table's schema:
  *    parquet and ORC read it from file footers, but CSV (`inferSchema`)
  *    and JSON infer it by scanning every data file — an O(table) read
  *    per append, unless JsonlConnector's `schemaFor` pins the schema;
  *  - `rename` is the same rollback-safe swap as a publish.
  *
  * Scale: data files are written by all executors in parallel; publish,
  * append and rename move files on the driver, O(1)/O(delta). On
  * object stores the same contract is met by a metastore pointer swap —
  * the connector API is the stable seam.
  */
abstract class FileConnector(val spark: SparkSession, protected val dir: String, ext: String)
    extends Connector {
  Files.createDirectories(Paths.get(dir))

  /** The Spark data-source name of the writer codec; its data files end
    * in `.<format>`. */
  protected def format: String

  protected def writeOptions: Map[String, String] = Map.empty

  /** The table's directory path — also for driver-side metadata-table
    * access (e.g. the tick-state reader) that must share this connector's
    * naming and atomic-publish contract. */
  def tablePath(table: String): Path = Paths.get(dir, table + ext)

  private def writeFiles(df: DataFrame)(to: Path): Unit =
    df.write.mode(SaveMode.Overwrite).format(format).options(writeOptions).save(to.toString)

  override def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite): Unit = mode match {
    case SaveMode.Append if exists(table) =>
      val current = read(table)
      if (!SchemaInfer.evolves(current.schema, df.schema))
        FileTableOps.appendFiles(tablePath(table), "." + format)(
          writeFiles(SchemaInfer.evolve(df, current.schema)))
      else {
        val merged = SchemaInfer.merge(current.schema, df.schema)
        publish(SchemaInfer.evolve(current, merged)
          .unionByName(SchemaInfer.evolve(df, merged)), table)
      }
    case _ => publish(df, table)
  }

  /** Overwrite `table` with `df` atomically. NullType (the `varchar(0)`
    * sentinel) is unwritable in parquet and ORC — it is promoted to a
    * tagged string at the storage edge, so it stays promotable. */
  protected def publish(df: DataFrame, table: String): Unit = {
    val out = if (df.schema.fields.exists(_.dataType == NullType))
      SchemaInfer.evolve(df, df.schema) else df
    FileTableOps.publish(tablePath(table))(writeFiles(out))
  }

  override def tables: Seq[String] = FileTableOps.list(dir, ext)

  override def exists(table: String): Boolean = Files.exists(tablePath(table))

  override def drop(table: String): Unit =
    if (exists(table)) FileTableOps.deleteRecursively(tablePath(table))

  override def rename(from: String, to: String): Unit =
    FileTableOps.rename(tablePath(from), tablePath(to))

  override def truncate(table: String): Unit =
    if (exists(table)) publish(read(table).limit(0), table)
}
