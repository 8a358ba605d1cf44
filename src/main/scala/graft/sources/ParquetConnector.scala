package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Path-addressed parquet "database": each table is `<dir>/<name>.parquet`.
  * Plays the role the MySQL transport plays in the reference
  * (`lib/forklift/transports/mysql.rb`) for file-backed analytics tables;
  * catalog, atomic publish and additive append are [[FileConnector]]'s.
  */
object ParquetConnector {
  /** Parquet read that normalizes the timestamp shapes arrow-based
    * producers emit to ONE public type (session-zoned TimestampType):
    *
    *  - TIMESTAMP(NANOS) (Spark has no nanos type): with `nanosAsLong`
    *    the column surfaces as LongType nanos; convert to micros with
    *    integer `div` (NOT double division — 2024 epoch-nanos ≈ 1.7e18
    *    exceeds a double's 53-bit mantissa) and cast, matching how
    *    nanos-aware engines truncate ns→us. Keyed on the parquet
    *    footer's logical-type annotation — never on a column's name —
    *    so ordinary bigint columns (epoch counters, ids) are untouched.
    *  - TIMESTAMP(isAdjustedToUTC=false) (pandas naive timestamps):
    *    surfaces as TimestampNTZType; cast to TimestampType under the
    *    pinned-UTC session, which preserves every wall-clock value. */
  def readTable(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    // Without this flag Spark refuses TIMESTAMP(NANOS) files outright, so
    // it is an availability-only setting; with footer-keyed detection it
    // never changes the type of a non-nanos column.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read isAdjustedToUTC=false micros as session-zoned TimestampType AT
    // THE SCAN (not NTZ + a cast above it): the values are identical
    // under the pinned-UTC session, and a cast above the scan would block
    // parquet predicate pushdown on the timestamp — fatal for the
    // incremental readSince watermark at scale (PlanEvidenceSpec pins
    // pushdown on the naive-timestamp events table).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val footer = firstFooter(spark, path)
    val nanos = footer.fold(Set.empty[String])(f => nanosAnnotatedColumns(f._1))
    // the schema comes from the footer just read on the driver: Spark's
    // own inference would submit a job to read that same footer again
    val df = schemaOf(spark, footer)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    import org.apache.spark.sql.functions.{col, expr}
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (nanos.contains(f.name) && f.dataType == org.apache.spark.sql.types.LongType)
        d.withColumn(f.name, expr(s"timestamp_micros(`${f.name}` div 1000)"))
      // Defensive fallback only: with inferTimestampNTZ disabled above,
      // naive-timestamp columns already surface as TimestampType at the
      // scan. If an NTZ column still appears (schema evolution, an
      // upstream frame merged in), normalize it — value-preserving under
      // the pinned-UTC session — so the connector keeps ONE public
      // timestamp type.
      else if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }
  }

  /** The schema `spark.read.parquet(path)` infers, taken from the
    * footer of the table's first data file on the driver — or None
    * where Spark's inference would read more than one footer (a
    * Hive-layout or otherwise nested directory, summary files,
    * `mergeSchema` on) or no footer could be read. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    schemaOf(spark, firstFooter(spark, path))

  /** A [[firstFooter]] result's schema, when that footer alone decides
    * it, converted exactly as Spark's inference does (its own row
    * metadata first, else the parquet types under the session's
    * conversion flags); the relation then makes every field nullable. */
  private def schemaOf(spark: SparkSession, footer: Option[(Footer, Boolean)]): Option[StructType] =
    footer.collect { case (f, true) => ParquetFileFormat.readSchemaFromFooter(f,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)) }

  /** The footer of the first data file under `path`, and whether that
    * footer alone is what Spark's schema inference reads. In a flat
    * table directory Spark reads the first visible file in path order
    * (unless summary files or `mergeSchema` are on), so that is the
    * file taken here; in a nested (Hive-layout) one the first file of
    * the first subdirectory is taken, for the nanos detection only:
    * files of one table share a schema. Failures are logged, not
    * swallowed: a silent None would surface nanos columns as raw Long. */
  private def firstFooter(spark: SparkSession, path: String): Option[(Footer, Boolean)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new HPath(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      // Spark's listing rule: `_`/`.` names are hidden (so is the
      // partitioned connector's _graft_pkidx sidecar), except the
      // parquet summary files and `k=v` directory names
      def visible(n: String): Boolean =
        n.startsWith("_metadata") || n.startsWith("_common_metadata") ||
          !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
      def listing(dir: HPath) =
        fs.listStatus(dir).filter(s => visible(s.getPath.getName)).sortBy(_.getPath.toString)
      def first(dir: HPath): Option[HPath] = {
        val (files, dirs) = listing(dir).partition(_.isFile)
        files.headOption.map(_.getPath).orElse(dirs.iterator.flatMap(d => first(d.getPath)).nextOption())
      }
      val exact = listing(p).forall(s => s.isFile && !s.getPath.getName.startsWith("_")) &&
        !spark.sessionState.conf.isParquetSchemaMergingEnabled
      first(p).map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try (new Footer(f, reader.getFooter), exact) finally reader.close()
      }
    } catch {
      case e: Exception =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"parquet footer read failed for $path: ${e.getMessage}")
        None
    }
  }

  /** Columns annotated TIMESTAMP(unit=NANOS) in a parquet footer. */
  private def nanosAnnotatedColumns(f: Footer): Set[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    f.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.collect {
      case fld if fld.isPrimitive && (fld.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }) => fld.getName
    }.toSet
  }
}

class ParquetConnector(spark: SparkSession, dir: String)
    extends FileConnector(spark, dir, ".parquet") {
  protected def format: String = "parquet"

  override def read(table: String): DataFrame =
    ParquetConnector.readTable(spark, tablePath(table).toString)
}
