package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dynamic schema inference for untyped rows, reproducing the reference's
  * value→type lattice (taskrabbit/forklift `lib/forklift/transports/mysql.rb:134-147`):
  * integral → bigint, fractional/BigDecimal → float (the reference
  * deliberately narrows BigDecimal), Date → date, Time → datetime,
  * Boolean → tinyint(1), String/other → text, and `nil` → `varchar(0)` —
  * a sentinel "type unknown yet" column that is promoted in place when the
  * first non-null value arrives (`mysql.rb:258-279`).
  *
  * Spark mapping: `NullType` plays the `varchar(0)` role; [[merge]] is the
  * least-upper-bound over two inferred schemas; [[evolve]] widens a target
  * schema with unseen columns the way the reference `ALTER TABLE … ADD`s
  * them on write (`mysql.rb:64-73`).
  *
  * Scale note: inference runs on a bounded sample (the first batch in the
  * reference; the caller-provided rows here) — never on the full dataset.
  */
object SchemaInfer {

  /** Value class → Spark DataType (the `sql_type` lattice). */
  def typeOf(v: Any): DataType = v match {
    case null                                          => NullType
    case _: Boolean                                    => BooleanType
    case _: Byte | _: Short | _: Int | _: Long         => LongType
    case _: Float | _: Double                          => DoubleType
    case _: scala.math.BigDecimal                      => DoubleType // reference narrows BigDecimal → float
    case _: java.math.BigDecimal                       => DoubleType
    case _: java.time.LocalDate | _: java.sql.Date     => DateType
    case _: java.time.Instant | _: java.sql.Timestamp  => TimestampType
    case _: Array[Byte]                                => BinaryType
    case _                                             => StringType
  }

  /** Least upper bound: NullType is bottom; Spark's narrower numerics
    * meet as the lattice types them (every integral is bigint, every
    * fractional a double — an int table column and a bigint batch meet
    * at bigint); integral widens to fractional; date widens to
    * timestamp; anything else degrades to text — no silent narrowing,
    * matching the reference's promote-only `ensure_row_types`.
    *
    * Container types recurse, widening nullability flags: a freshly
    * computed `array<long> (containsNull = false)` and its parquet
    * read-back twin (`containsNull = true`) are the SAME logical type —
    * strict equality here used to drop both into the string catchall,
    * which silently rewrote e.g. an embeddings or sketch-index column to
    * strings on the connector's Append path. Structs meet field by field
    * BY NAME, as [[merge]] meets columns: left fields first, then the
    * right's extras, a field missing on one side typed by the other (JSON
    * inference sorts a document's fields, so field order says nothing). */
  def lub(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y                              => x
    case (NullType, x)                                 => x
    case (x, NullType)                                 => x
    case (x, y) if widened(x) != x || widened(y) != y  => lub(widened(x), widened(y))
    case (x: ArrayType, y: ArrayType) =>
      ArrayType(lub(x.elementType, y.elementType), x.containsNull || y.containsNull)
    case (x: MapType, y: MapType) =>
      MapType(lub(x.keyType, y.keyType), lub(x.valueType, y.valueType),
        x.valueContainsNull || y.valueContainsNull)
    case (x: StructType, y: StructType) =>
      val ys = y.fields.map(f => f.name -> f).toMap
      StructType(x.fields.map { fa => ys.get(fa.name) match {
        case Some(fb) => StructField(fa.name, lub(fa.dataType, fb.dataType), fa.nullable || fb.nullable)
        case None     => StructField(fa.name, fa.dataType, nullable = true)
      } } ++ y.fields.filterNot(f => x.fieldNames.contains(f.name))
        .map(f => StructField(f.name, f.dataType, nullable = true)))
    case (LongType, DoubleType) | (DoubleType, LongType)       => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _                                             => StringType
  }

  /** Spark's narrower numeric types, as the lattice types them: every
    * integral is bigint, every fractional a double. */
  private def widened(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType => LongType
    case FloatType                          => DoubleType
    case x                                  => x
  }

  /** Infer a StructType from untyped rows (the `Array<Hash>` analog).
    * Column order = first-seen order, as the reference builds DDL from the
    * first batch (`lazy_table_create`, `mysql.rb:105-132`). */
  def infer(rows: Seq[Map[String, Any]]): StructType = {
    val order  = scala.collection.mutable.LinkedHashSet[String]()
    val types  = scala.collection.mutable.Map[String, DataType]()
    rows.foreach { r =>
      r.foreach { case (k, v) =>
        order += k
        types(k) = lub(types.getOrElse(k, NullType), typeOf(v))
      }
    }
    StructType(order.toSeq.map(k => StructField(k, types(k), nullable = true)))
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                  => null
    case (x: Byte, LongType)        => x.toLong
    case (x: Short, LongType)       => x.toLong
    case (x: Int, LongType)         => x.toLong
    case (x: Long, LongType)        => x
    case (x: Float, DoubleType)     => x.toDouble
    case (x: Double, DoubleType)    => x
    case (x: scala.math.BigDecimal, DoubleType) => x.toDouble
    case (x: java.math.BigDecimal, DoubleType)  => x.doubleValue
    case (x: Long, DoubleType)      => x.toDouble
    case (x: Int, DoubleType)       => x.toDouble
    case (x: java.time.LocalDate, DateType)      => java.sql.Date.valueOf(x)
    case (x: java.sql.Date, DateType)            => x
    case (x: java.sql.Date, TimestampType)       => new java.sql.Timestamp(x.getTime)
    case (x: java.time.LocalDate, TimestampType) => java.sql.Timestamp.valueOf(x.atStartOfDay)
    case (x: java.time.Instant, TimestampType)   => java.sql.Timestamp.from(x)
    case (x: java.sql.Timestamp, TimestampType)  => x
    case (x, StringType)            => x.toString
    case (x, _)                     => x
  }

  /** Build a DataFrame from untyped rows under the inferred schema — the
    * Spark analog of the reference accepting raw `Array<Hash>` batches on
    * `write` (`lib/forklift/base/connection.rb:20-28`). All-null columns
    * come out as `NullType` and are promoted later via [[merge]]. */
  def createDataFrame(spark: SparkSession, rows: Seq[Map[String, Any]]): DataFrame = {
    val schema0 = infer(rows)
    // Spark cannot write NullType to parquet; keep it in-memory only.
    val data = rows.map { r =>
      Row.fromSeq(schema0.fields.map(f => coerce(r.getOrElse(f.name, null), f.dataType)).toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, math.max(1, rows.size / 1000)), schema0)
  }

  /** Field-metadata flag marking a storage column that is really the
    * `varchar(0)` "type unknown yet" sentinel. Spark persists field
    * metadata in the parquet footer, so the sentinel survives a storage
    * round-trip and the column is STILL promotable when the first real
    * value arrives — exact parity with the reference keeping the column
    * at `varchar(0)` until `ensure_row_types` ALTERs it
    * (`mysql.rb:258-279`). */
  val NullSentinelKey = "graft_null_sentinel"

  private def isSentinel(f: StructField): Boolean =
    f.metadata.contains(NullSentinelKey) && f.metadata.getBoolean(NullSentinelKey)

  /** The logical type of a field: sentinel-tagged storage strings are
    * really NullType. */
  def logicalType(f: StructField): DataType =
    if (isSentinel(f)) NullType else f.dataType

  /** Merge two schemas: union of columns (left order first), types LUBed —
    * the `varchar(0)` promotion + add-column evolution in one step.
    * Output is the LOGICAL schema (still-unknown columns stay NullType). */
  def merge(a: StructType, b: StructType): StructType = {
    val bMap = b.fields.map(f => f.name -> logicalType(f)).toMap
    val fromA = a.fields.map { f =>
      val lt = logicalType(f)
      StructField(f.name, lub(lt, bMap.getOrElse(f.name, lt)), nullable = true)
    }
    val extras = b.fields.filterNot(f => a.fieldNames.contains(f.name))
      .map(f => StructField(f.name, logicalType(f), nullable = true))
    StructType(fromA ++ extras)
  }

  /** Does writing `incoming` into a table of schema `existing` require a
    * schema change (new column, promotion)? Compared on storage
    * (name, type) pairs so sentinel metadata does not cause false
    * positives. */
  def evolves(existing: StructType, incoming: StructType): Boolean = {
    def physical(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    physical(writable(merge(existing, incoming))) != physical(existing)
  }

  /** Conform `df` to `target` schema: add missing columns as typed nulls,
    * cast promotable columns. Unseen columns in `df` are KEPT (the
    * reference defaults `crash_on_extral_col=false` and ALTERs them in,
    * `mysql.rb:64-73`); pass `strict=true` for the crash behavior.
    * Output columns carry storage types (+ sentinel metadata), safe to
    * write to any sink. */
  def evolve(df: DataFrame, target: StructType, strict: Boolean = false): DataFrame = {
    if (strict) {
      val extra = df.schema.fieldNames.toSet -- target.fieldNames.toSet
      require(extra.isEmpty, s"extra columns not in target schema: ${extra.mkString(", ")}")
    }
    val merged = merge(target, df.schema)
    val dfCols = df.schema.fieldNames.toSet
    df.select(merged.fields.map { lf =>
      val f = writableField(lf)
      if (dfCols.contains(f.name)) conform(col(f.name), df.schema(f.name).dataType, f.dataType)
        .as(f.name, f.metadata)
      else lit(null).cast(f.dataType).as(f.name, f.metadata)
    }.toIndexedSeq: _*)
  }

  /** `c`, of type `from`, as type `to`. Spark's cast lines struct fields
    * up by position, so a struct whose fields differ from `to`'s in name
    * or order is rebuilt by name — a field `from` lacks is a typed null
    * (arrays and maps of such structs rebuild per element). Everything
    * else is the plain cast. */
  private def conform(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case _ if positional(from, to) => c.cast(to)
    case (x: StructType, y: StructType) =>
      val have = x.fields.map(f => f.name -> f.dataType).toMap
      when(c.isNotNull, struct(y.fields.map(f => have.get(f.name)
        .fold(lit(null).cast(f.dataType))(t => conform(c.getField(f.name), t, f.dataType))
        .as(f.name)).toIndexedSeq: _*))
    case (x: ArrayType, y: ArrayType) => transform(c, conform(_, x.elementType, y.elementType))
    case (x: MapType, y: MapType) =>
      transform_values(c, (_, v) => conform(v, x.valueType, y.valueType)).cast(to)
    case _ => c.cast(to)
  }

  /** Do `a`'s struct fields, at every depth, have `b`'s names in `b`'s
    * order — so a positional cast matches them by name? */
  private def positional(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) => x.fieldNames.sameElements(y.fieldNames) &&
      x.fields.zip(y.fields).forall { case (p, q) => positional(p.dataType, q.dataType) }
    case (x: ArrayType, y: ArrayType) => positional(x.elementType, y.elementType)
    case (x: MapType, y: MapType) => positional(x.valueType, y.valueType)
    case _ => true
  }

  /** NullType is unwritable — promote to string at the storage edge (the
    * reference's catchall `text`), tagged so it stays promotable. */
  def promotedWritable(dt: DataType): DataType = dt match {
    case NullType => StringType
    case x        => x
  }

  private def writableField(f: StructField): StructField = f.dataType match {
    case NullType => StructField(f.name, StringType, nullable = true,
      new MetadataBuilder().withMetadata(f.metadata).putBoolean(NullSentinelKey, true).build())
    case _ => f
  }

  /** Writable version of a schema (no NullType columns; sentinels tagged). */
  def writable(s: StructType): StructType =
    StructType(s.fields.map(writableField))
}
