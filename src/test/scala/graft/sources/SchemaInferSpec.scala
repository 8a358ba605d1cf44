package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Type-inference lattice parity with the reference's `sql_type` +
  * `ensure_row_types` (taskrabbit/forklift `transports/mysql.rb:134-147`,
  * `:258-279`; tested `spec/integration/mysql_spec.rb:99-110,198-251`). */
class SchemaInferSpec extends SparkSpec {

  val concreteTypes: Seq[DataType] =
    Seq(BooleanType, LongType, DoubleType, DateType, TimestampType, StringType, BinaryType)

  test("typeOf maps value classes like the reference sql_type") {
    assert(SchemaInfer.typeOf(null) == NullType)
    assert(SchemaInfer.typeOf(true) == BooleanType)
    assert(SchemaInfer.typeOf(3) == LongType)
    assert(SchemaInfer.typeOf(3L) == LongType)
    assert(SchemaInfer.typeOf(3.5) == DoubleType)
    // the reference deliberately narrows BigDecimal -> float (mysql.rb:137)
    assert(SchemaInfer.typeOf(BigDecimal(3.5)) == DoubleType)
    assert(SchemaInfer.typeOf(java.math.BigDecimal.ONE) == DoubleType)
    assert(SchemaInfer.typeOf(java.time.LocalDate.of(2024, 1, 1)) == DateType)
    assert(SchemaInfer.typeOf(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) == TimestampType)
    assert(SchemaInfer.typeOf("x") == StringType)
    assert(SchemaInfer.typeOf(Array[Byte](1)) == BinaryType)
    assert(SchemaInfer.typeOf(Symbol("sym")) == StringType) // catchall -> text
  }

  test("lub: NullType is identity (the varchar(0) sentinel)") {
    (NullType +: concreteTypes).foreach { t =>
      assert(SchemaInfer.lub(NullType, t) == t)
      assert(SchemaInfer.lub(t, NullType) == t)
    }
  }

  test("lub: idempotent and commutative over the whole domain (exhaustive)") {
    val dom = NullType +: concreteTypes
    for (a <- dom) assert(SchemaInfer.lub(a, a) == a)
    for (a <- dom; b <- dom)
      assert(SchemaInfer.lub(a, b) == SchemaInfer.lub(b, a), s"lub($a,$b)")
  }

  test("lub: associative over the whole domain (exhaustive)") {
    val dom = NullType +: concreteTypes
    for (a <- dom; b <- dom; c <- dom)
      assert(SchemaInfer.lub(SchemaInfer.lub(a, b), c) == SchemaInfer.lub(a, SchemaInfer.lub(b, c)),
        s"assoc($a,$b,$c)")
  }

  test("lub: promote-only — result never narrows either input") {
    // ordering: NullType below everything, Long<=Double, Date<=Timestamp,
    // everything <= String for mixed combos
    def leq(a: DataType, b: DataType): Boolean =
      a == b || a == NullType || ((a, b) match {
        case (LongType, DoubleType) => true
        case (DateType, TimestampType) => true
        case (_, StringType) => true
        case _ => false
      })
    val dom = NullType +: concreteTypes
    for (a <- dom; b <- dom) {
      val l = SchemaInfer.lub(a, b)
      assert(leq(a, l) && leq(b, l), s"lub($a,$b)=$l narrowed an input")
    }
  }

  test("lub: Spark's narrower numerics meet as bigint/double, not text") {
    import SchemaInfer.lub
    assert(lub(IntegerType, IntegerType) == IntegerType)
    assert(lub(IntegerType, LongType) == LongType && lub(ShortType, IntegerType) == LongType)
    assert(lub(FloatType, DoubleType) == DoubleType && lub(IntegerType, DoubleType) == DoubleType)
    assert(lub(IntegerType, StringType) == StringType && lub(IntegerType, DateType) == StringType)
    val dom = Seq(NullType, ByteType, ShortType, IntegerType, FloatType) ++ concreteTypes
    for (a <- dom; b <- dom; c <- dom) {
      assert(lub(a, b) == lub(b, a), s"lub($a,$b)")
      assert(lub(lub(a, b), c) == lub(a, lub(b, c)), s"assoc($a,$b,$c)")
    }
  }

  test("lub: structs meet field by field by name, keeping every field") {
    import SchemaInfer.lub
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    val stored = st("author" -> StringType, "title" -> StringType)
    assert(lub(stored, st("title" -> StringType, "author" -> StringType)) == stored)
    // a field one side lacks keeps the other side's type
    assert(lub(stored, st("year" -> IntegerType, "author" -> StringType)) ==
      st("author" -> StringType, "title" -> StringType, "year" -> IntegerType))
    assert(lub(ArrayType(stored), ArrayType(st("title" -> StringType))) == ArrayType(stored))
    assert(lub(stored, StringType) == StringType)
  }

  test("evolve: conforms a struct column by field name, not position") {
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    val target = st("id" -> LongType, "meta" -> st("author" -> StringType, "title" -> StringType,
      "year" -> LongType))
    val in = df(st("id" -> LongType, "meta" -> st("title" -> StringType, "author" -> StringType)),
      Seq(Row(1L, Row("wiki", "ann")), Row(2L, null)))
    val out = SchemaInfer.evolve(in, target)
    assert(out.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("author", "title", "year"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getStruct(1) == Row("ann", "wiki", null))
    assert(rows(1).isNullAt(1), "a null struct stays null")
    // arrays of such structs conform per element
    val arr = df(st("xs" -> ArrayType(st("title" -> StringType, "author" -> StringType))),
      Seq(Row(Seq(Row("wiki", "ann")))))
    val arrOut = SchemaInfer.evolve(arr,
      st("xs" -> ArrayType(st("author" -> StringType, "title" -> StringType))))
    assert(arrOut.head().getSeq[Row](0) == Seq(Row("ann", "wiki")))
    // and map values likewise
    val map = df(st("m" -> MapType(StringType, st("title" -> StringType, "author" -> StringType))),
      Seq(Row(Map("k" -> Row("wiki", "ann")))))
    val mapOut = SchemaInfer.evolve(map,
      st("m" -> MapType(StringType, st("author" -> StringType, "title" -> StringType))))
    assert(mapOut.head().getMap[String, Row](0) == Map("k" -> Row("ann", "wiki")))
  }

  test("infer: first-seen column order, cross-row promotion, all-null sentinel") {
    val rows: Seq[Map[String, Any]] = Seq(
      Map("id" -> 1, "score" -> 2L, "note" -> null),
      Map("id" -> 2, "score" -> 2.5, "extra" -> "x", "note" -> null))
    val s = SchemaInfer.infer(rows)
    assert(s.fieldNames.toSeq == Seq("id", "score", "note", "extra"))
    assert(s("id").dataType == LongType)
    assert(s("score").dataType == DoubleType) // promoted across rows
    assert(s("note").dataType == NullType)    // varchar(0) analog
    assert(s("extra").dataType == StringType)
  }

  test("merge: promotes NullType on first value and appends unseen columns (D7/D8)") {
    val a = StructType(Seq(StructField("id", LongType), StructField("note", NullType)))
    val b = StructType(Seq(StructField("note", StringType), StructField("added", DoubleType)))
    val m = SchemaInfer.merge(a, b)
    assert(m.fieldNames.toSeq == Seq("id", "note", "added"))
    assert(m("note").dataType == StringType) // promoted in place
    assert(m("added").dataType == DoubleType)
  }

  test("evolve: adds missing columns as typed nulls, keeps extras by default") {
    val target = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val in = df(StructType(Seq(StructField("id", LongType), StructField("surprise", LongType))),
      Seq(Row(1L, 9L)))
    val out = SchemaInfer.evolve(in, target)
    // crash_on_extral_col=false default: extra column ALTERed in (mysql.rb:64-73)
    assert(out.columns.toSeq == Seq("id", "name", "surprise"))
    val r = out.head()
    assert(r.getLong(0) == 1L && r.isNullAt(1) && r.getLong(2) == 9L)
  }

  test("evolve strict: rejects extra columns (crash_on_extral_col=true)") {
    val target = StructType(Seq(StructField("id", LongType)))
    val in = df(StructType(Seq(StructField("id", LongType), StructField("x", LongType))),
      Seq(Row(1L, 2L)))
    intercept[IllegalArgumentException] {
      SchemaInfer.evolve(in, target, strict = true)
    }
  }

  test("evolve: widens Long column to Double target") {
    val target = StructType(Seq(StructField("v", DoubleType)))
    val in = df(StructType(Seq(StructField("v", LongType))), Seq(Row(3L)))
    val out = SchemaInfer.evolve(in, target)
    assert(out.schema("v").dataType == DoubleType)
    assert(out.head().getDouble(0) == 3.0)
  }

  test("createDataFrame: untyped rows round-trip under inferred schema") {
    val rows: Seq[Map[String, Any]] = Seq(
      Map("id" -> 1, "name" -> "a", "score" -> BigDecimal(1.5), "ok" -> true),
      Map("id" -> 2, "name" -> "b", "score" -> 2.0, "ok" -> false))
    val out = SchemaInfer.createDataFrame(spark, rows).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("id") == 1L)
    assert(out(0).getAs[Double]("score") == 1.5)
    assert(out(1).getAs[Boolean]("ok") == false)
  }

  test("scalacheck: lub monotone under promotion chains") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genT = Gen.oneOf[DataType](NullType, BooleanType, LongType, DoubleType,
      DateType, TimestampType, StringType, BinaryType)
    val prop = Prop.forAll(genT, genT, genT) { (a, b, c) =>
      // joining more can never undo a promotion: lub(lub(a,b),c) absorbs lub(a,b)
      val ab = SchemaInfer.lub(a, b)
      SchemaInfer.lub(SchemaInfer.lub(ab, c), ab) == SchemaInfer.lub(ab, c)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("lub treats container types as equal modulo nullability (no string degrade)") {
    val tight = ArrayType(LongType, containsNull = false)
    val loose = ArrayType(LongType, containsNull = true)
    assert(SchemaInfer.lub(tight, loose) == loose)
    assert(SchemaInfer.lub(loose, tight) == loose)
    // element types still widen through the lattice
    assert(SchemaInfer.lub(ArrayType(LongType, false), ArrayType(DoubleType, true)) ==
      ArrayType(DoubleType, true))
    // and genuinely different shapes still degrade to text
    assert(SchemaInfer.lub(ArrayType(LongType), MapType(StringType, LongType)) == StringType)
    assert(SchemaInfer.lub(
      StructType(Seq(StructField("a", LongType, nullable = false))),
      StructType(Seq(StructField("a", LongType, nullable = true)))) ==
      StructType(Seq(StructField("a", LongType, nullable = true))))
  }

  test("connector Append of an array column round-trips without schema evolution") {
    // the regression shape: write array<long> (containsNull=false), read
    // back (parquet widens to containsNull=true), append another batch —
    // the old strict lub degraded the column to string and rewrote the
    // whole table
    val spark0 = spark
    import spark0.implicits._
    val conn = new ParquetConnector(spark, tmpDir("graft_arr_append_"))
    conn.write(Seq((1L, Seq(1L, 2L))).toDF("id", "xs"), "t")
    conn.write(Seq((2L, Seq(3L, 4L))).toDF("id", "xs"), "t",
      org.apache.spark.sql.SaveMode.Append)
    val out = conn.read("t")
    assert(out.schema("xs").dataType.isInstanceOf[ArrayType],
      s"array column degraded to ${out.schema("xs").dataType}")
    assert(out.count() == 2)
  }
}
