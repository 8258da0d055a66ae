package graft.records

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.sources.TfRecordDataSource
import graft.types._
import graft.types.FeatureDType._

/** The spec-compiled codec against the Map/[[Feature]] reference:
  * [[ExampleEncoder]] must emit exactly `ExampleCodec.encode(toFeatures)`
  * bytes and raise the same errors, and [[ExampleDecoder]] must return
  * the rows `ExampleCodec.decode` + `featureValues` give, also for
  * Examples from writers other than this one.
  */
class CompiledCodecSpec extends SparkSpec {

  // every spec kind, each over the column types the rules accept
  private val columns: Seq[(StructField, Option[FeatureSpec])] = Seq(
    StructField("i64", LongType) -> Some(FixedLenFeature(Nil, Int64)),
    StructField("i32", IntegerType) -> Some(FixedLenFeature(Nil, Int32)),
    StructField("f32", DoubleType) -> Some(FixedLenFeature(Nil, Float32)),
    StructField("f64", FloatType) -> Some(FixedLenFeature(Nil, Float64)),
    StructField("f_from_long", LongType) -> Some(FixedLenFeature(Nil, Float32)),
    StructField("f_from_int", IntegerType) -> Some(FixedLenFeature(Nil, Float64)),
    StructField("s", StringType) -> Some(FixedLenFeature(Nil, TfString)),
    StructField("b", BinaryType) -> Some(FixedLenFeature(Nil, TfString)),
    StructField("s_default", StringType) -> Some(FixedLenFeature(Nil, TfString, Some("x"))),
    StructField("i_default", LongType) -> Some(FixedLenFeature(Seq(1), Int64, Some(7L))),
    StructField("vec", ArrayType(IntegerType)) -> Some(FixedLenFeature(Seq(3), Int64)),
    StructField("vec_default", ArrayType(FloatType)) ->
      Some(FixedLenFeature(Seq(2), Float32, Some(Seq(1.0f, 2.0f)))),
    StructField("svec", ArrayType(StringType)) -> Some(FixedLenFeature(Seq(2), TfString)),
    StructField("vl", ArrayType(LongType)) -> Some(VarLenFeature(Int64)),
    StructField("vf", ArrayType(DoubleType)) -> Some(VarLenFeature(Float64)),
    StructField("vs", ArrayType(StringType)) -> Some(VarLenFeature(TfString)),
    StructField("vb", ArrayType(BinaryType)) -> Some(VarLenFeature(TfString)),
    StructField("v_scalar", IntegerType) -> Some(VarLenFeature(Int32)),
    StructField("ünï", ArrayType(StringType)) -> Some(VarLenFeature(TfString)),
    StructField("short", ShortType) -> Some(FixedLenFeature(Nil, Int64)), // always null
    StructField("extra", StringType) -> None)
  private val schema = StructType(columns.map(_._1))
  private val specs: FeatureSpec.Specs =
    columns.collect { case (f, Some(s)) => f.name -> s }.toMap ++ Map(
      "absent" -> FixedLenFeature(Nil, Int64),
      "absent_default" -> FixedLenFeature(Nil, Float32, Some(0.5f)),
      "absent_varlen" -> VarLenFeature(TfString))
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)

  private def randomString(rng: Random): String = rng.nextInt(4) match {
    case 0 => ""
    case 1 => rng.alphanumeric.take(1 + rng.nextInt(8)).mkString
    case 2 => "ünïcödé-" + rng.nextInt(100) + "-😀" // 2, 3 and 4-byte UTF-8
    case _ => "x" * (100 + rng.nextInt(200)) // multi-byte length varints
  }

  private def randomValue(rng: Random, dt: DataType, fixed: Option[Int]): Any = dt match {
    case LongType => rng.nextInt(4) match {
      case 0 => rng.nextLong()
      case 1 => -rng.nextInt(1000).toLong
      case _ => rng.nextInt(1 << 20).toLong
    }
    case IntegerType => if (rng.nextBoolean()) rng.nextInt() else rng.nextInt(300)
    case DoubleType => (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(12))
    case FloatType => (rng.nextFloat() - 0.5f) * 1000f
    case StringType => randomString(rng)
    case BinaryType => Array.fill(rng.nextInt(5))(rng.nextInt(256).toByte)
    case ShortType => null
    case ArrayType(elem, _) =>
      val n = if (rng.nextInt(5) == 0) 0 else fixed.getOrElse(rng.nextInt(6))
      Seq.fill(n)(randomValue(rng, elem, None))
  }

  private def randomRow(rng: Random): Row = Row.fromSeq(columns.map { case (f, spec) =>
    val fixed = spec.collect { case FixedLenFeature(shape, _, _) => shape.headOption.getOrElse(1) }
    if (rng.nextInt(5) == 0) null else randomValue(rng, f.dataType, fixed)
  })

  private def writeAll(enc: ExampleEncoder, rows: Seq[InternalRow]): Seq[Array[Byte]] = {
    val buf = new ByteArrayOutputStream()
    val w = new TfRecordIO.Writer(buf, gzip = false)
    rows.foreach(enc.write(_, w))
    w.close()
    new TfRecordIO.Reader(new ByteArrayInputStream(buf.toByteArray), gzip = false).toSeq
  }

  /** The reference: Scala values of the schema's columns → toFeatures → encode. */
  private def reference(row: InternalRow): Array[Byte] = {
    val r = toScala(row).asInstanceOf[Row]
    ExampleCodec.encode(TfRecords.toFeatures(schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap, specs))
  }

  test("compiled encoder emits the reference bytes for every spec kind") {
    for (seed <- 1 to 4) {
      val rng = new Random(seed)
      val rows = Seq.fill(300)(toCatalyst(randomRow(rng)).asInstanceOf[InternalRow])
      val compiled = writeAll(ExampleEncoder(schema, specs), rows)
      compiled.size shouldBe rows.size
      rows.zip(compiled).foreach { case (row, bytes) =>
        val want = reference(row)
        bytes shouldBe want
        val r = toScala(row).asInstanceOf[Row]
        val values = schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap
        TfRecords.toExample(values, specs) shouldBe want
      }
    }
  }

  test("compiled encoder raises the reference's shape and dtype errors") {
    val rng = new Random(9)
    def bad(name: String, value: Any): InternalRow = {
      val base = randomRow(rng).toSeq.toArray
      base(schema.fieldIndex(name)) = value
      toCatalyst(Row.fromSeq(base.toSeq)).asInstanceOf[InternalRow]
    }
    val cases = Seq(
      bad("vec", Seq(1, 2)), // FixedLen(3) shape
      bad("i_default", 5L), // a valid control row
      bad("svec", Seq("a", null)), // null element
      bad("vl", Seq(1L, null, 3L)))
    cases.foreach { row =>
      val want = scala.util.Try(reference(row))
      val got = scala.util.Try(writeAll(ExampleEncoder(schema, specs), Seq(row)).head)
      got.isSuccess shouldBe want.isSuccess
      if (want.isFailure) {
        got.failed.get shouldBe an[IllegalArgumentException]
        got.failed.get.getMessage shouldBe want.failed.get.getMessage
      } else got.get shouldBe want.get
    }
    // a column type the rules reject fails on its first non-null value
    val shortSchema = StructType(Seq(StructField("n", ShortType)))
    val shortSpecs: FeatureSpec.Specs = Map("n" -> FixedLenFeature(Nil, Int64))
    val e = intercept[IllegalArgumentException] {
      writeAll(ExampleEncoder(shortSchema, shortSpecs), Seq(new GenericInternalRow(Array[Any](3.toShort))))
    }
    e.getMessage shouldBe intercept[IllegalArgumentException] {
      TfRecords.toExample(Map("n" -> 3.toShort), shortSpecs)
    }.getMessage
  }

  // malformed, overlong, surrogate, out-of-range and truncated sequences,
  // then valid 2/3/4-byte ones
  private val utf8Cases: Seq[Array[Byte]] = Seq(
    Array(0xff, 0x61), Array(0xc0, 0x80), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
    Array(0xe2, 0x82), Array(0x61, 0x80), Array.fill(9)(0x61) :+ 0xff, // past the 8-byte ASCII scan
    Array(0xc3, 0xa9), Array(0xe2, 0x82, 0xac),
    Array(0xf0, 0x9f, 0x98, 0x80)).map(_.map(_.toByte))

  test("strings are written as the reference writes their Java string, also for invalid UTF-8") {
    val strSchema = StructType(Seq(StructField("s", StringType), StructField("vs", ArrayType(StringType))))
    val strSpecs: FeatureSpec.Specs =
      Map("s" -> FixedLenFeature(Nil, TfString), "vs" -> VarLenFeature(TfString))
    val rows = utf8Cases.map { b =>
      val u = UTF8String.fromBytes(b)
      new GenericInternalRow(Array[Any](u, new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](u))))
    }
    val conv = CatalystTypeConverters.createToScalaConverter(strSchema)
    writeAll(ExampleEncoder(strSchema, strSpecs), rows).zip(rows).foreach { case (got, row) =>
      val r = conv(row).asInstanceOf[Row]
      got shouldBe ExampleCodec.encode(TfRecords.toFeatures(Map("s" -> r.get(0), "vs" -> r.get(1)), strSpecs))
    }
  }

  // ---- decoder ----

  /** Minimal protobuf writer for hand-built (foreign) Examples. */
  private def msg(fields: (Int, Any)*): Array[Byte] = {
    val b = new ByteSink(64)
    fields.foreach {
      case (f, v: Long) => b.varint((f << 3).toLong); b.varint(v)
      case (f, v: Float) => b.varint((f << 3 | 5).toLong); b.float(v)
      case (f, v: Array[Byte]) => b.varint((f << 3 | 2).toLong); b.varint(v.length.toLong); b.append(v, 0, v.length)
      case (f, v: String) =>
        val u = v.getBytes(StandardCharsets.UTF_8)
        b.varint((f << 3 | 2).toLong); b.varint(u.length.toLong); b.append(u, 0, u.length)
    }
    java.util.Arrays.copyOf(b.bytes, b.size)
  }
  private def packedLongs(vs: Long*): Array[Byte] = {
    val b = new ByteSink(16)
    vs.foreach(b.varint)
    java.util.Arrays.copyOf(b.bytes, b.size)
  }
  private def packedFloats(vs: Float*): Array[Byte] = {
    val b = new ByteSink(16)
    vs.foreach(b.float)
    java.util.Arrays.copyOf(b.bytes, b.size)
  }
  private def entry(name: String, feature: Array[Byte]): (Int, Any) = 1 -> msg(1 -> name, 2 -> feature)
  private def example(entries: (Int, Any)*): Array[Byte] = msg(1 -> msg(entries: _*))

  private val readSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("small", IntegerType),
    StructField("w", FloatType),
    StructField("d", DoubleType),
    StructField("name", StringType),
    StructField("ints", ArrayType(IntegerType)),
    StructField("longs", ArrayType(LongType)),
    StructField("floats", ArrayType(FloatType)),
    StructField("doubles", ArrayType(DoubleType)),
    StructField("tags", ArrayType(StringType))))
  private val readSpecs = TfRecordDataSource.specsFor(readSchema)

  /** The pre-compiled reader: decode → featureValues → Row → Catalyst. */
  private def referenceRow(bytes: Array[Byte], schema: StructType): Row = {
    val sp = TfRecordDataSource.specsFor(schema)
    val features = ExampleCodec.decode(bytes)
    val values = schema.fields.map { f =>
      features.get(f.name) match {
        case Some(feat) =>
          val vs = ExampleCodec.featureValues(feat, sp(f.name).dtype)
          if (f.dataType.isInstanceOf[ArrayType]) vs else vs.head
        case None =>
          if (f.nullable) null
          else throw new IllegalArgumentException(
            s"feature ${f.name} absent and column is not nullable")
      }
    }
    val internal = CatalystTypeConverters.createToCatalystConverter(schema)(Row.fromSeq(values.toSeq))
    CatalystTypeConverters.createToScalaConverter(schema)(internal).asInstanceOf[Row]
  }

  private def decoded(bytes: Array[Byte], schema: StructType): Row =
    CatalystTypeConverters.createToScalaConverter(schema)(
      new ExampleDecoder(schema, TfRecordDataSource.specsFor(schema)).decode(bytes)).asInstanceOf[Row]

  test("decoder returns the reference rows for Examples from a foreign writer") {
    val int64 = (vs: Array[Byte]) => msg(3 -> vs)
    val records = Seq(
      // unpacked int64 and float values, key after value, unknown fields
      msg(
        2 -> 99L, // unknown Example field
        1 -> msg(
          1 -> msg(2 -> msg(3 -> msg(1 -> 5L, 1 -> -3L)), 1 -> "ints"),
          1 -> msg(1 -> "floats", 3 -> "ignored", 2 -> msg(2 -> msg(1 -> 1.5f, 1 -> -2.25f))),
          entry("id", msg(3 -> msg(1 -> 7L))),
          entry("not_in_schema", msg(1 -> msg(1 -> "zzz"))),
          entry("tags", msg(1 -> msg(1 -> "a", 1 -> "ü", 1 -> ""))),
          entry("small", msg(3 -> msg(1 -> packedLongs(1L << 40 | 12L)))), // narrowed to Int
          entry("d", msg(2 -> msg(1 -> packedFloats(0.1f)))),
          entry("doubles", msg(2 -> msg(1 -> packedFloats(1f, 2f), 1 -> 3f, 1 -> packedFloats(4f)))),
          entry("longs", int64(msg(1 -> packedLongs(1L, -1L), 1 -> 2L, 1 -> packedLongs(Long.MaxValue))))),
        7 -> "trailing unknown"),
      // a repeated name: the later entry wins; a Feature with two lists
      // keeps the last; a Feature with no list is an empty list
      example(
        entry("id", int64(msg(1 -> packedLongs(1L)))),
        entry("name", msg(1 -> msg(1 -> "first"))),
        entry("id", int64(msg(1 -> packedLongs(2L)))),
        entry("name", msg(1 -> msg(1 -> "second"))),
        entry("w", msg(3 -> msg(1 -> packedLongs(9L)), 2 -> msg(1 -> packedFloats(0.75f)))),
        entry("tags", Array.emptyByteArray),
        entry("longs", msg(1 -> msg())), // an empty BytesList read as longs
        entry("floats", msg(2 -> msg()))),
      // only the non-nullable column: everything else reads as null
      example(entry("id", int64(msg(1 -> packedLongs(3L))))),
      // invalid UTF-8 is replaced as the Java decoder replaces it
      example(entry("id", int64(msg(1 -> packedLongs(4L)))),
        entry("name", msg(1 -> msg(1 -> utf8Cases.head))),
        entry("tags", msg(1 -> msg(utf8Cases.map(1 -> _): _*)))))
    records.foreach(r => decoded(r, readSchema) shouldBe referenceRow(r, readSchema))
    decoded(records(1), readSchema).getAs[Long]("id") shouldBe 2L
    decoded(records(1), readSchema).getAs[String]("name") shouldBe "second"
  }

  test("decoder reads back what the encoder writes") {
    val rng = new Random(5)
    val writeSchema = StructType(readSchema.fields.map(_.copy(nullable = false)))
    val conv = CatalystTypeConverters.createToCatalystConverter(writeSchema)
    val rows = Seq.fill(200)(Row(
      rng.nextLong(), rng.nextInt(), rng.nextFloat(), rng.nextDouble(), randomString(rng),
      Seq.fill(rng.nextInt(4))(rng.nextInt()), Seq.fill(rng.nextInt(4))(rng.nextLong()),
      Seq.fill(rng.nextInt(4))(rng.nextFloat()), Seq.fill(rng.nextInt(4))(rng.nextDouble()),
      Seq.fill(rng.nextInt(4))(randomString(rng))))
    val bytes = writeAll(ExampleEncoder(writeSchema, readSpecs), rows.map(conv(_).asInstanceOf[InternalRow]))
    bytes.foreach(b => decoded(b, readSchema) shouldBe referenceRow(b, readSchema))
  }

  test("decoder: absent non-nullable features fail, absent nullable ones are null") {
    val rec = example(entry("small", msg(3 -> msg(1 -> packedLongs(1L)))))
    intercept[IllegalArgumentException](decoded(rec, readSchema)).getMessage shouldBe
      "feature id absent and column is not nullable"
    val nullable = StructType(readSchema.fields.map(_.copy(nullable = true)))
    val row = decoded(rec, nullable)
    row shouldBe referenceRow(rec, nullable)
    row.getAs[Int]("small") shouldBe 1
    row.isNullAt(0) shouldBe true
    // a feature holding a list the column cannot read is an error
    an[IllegalArgumentException] should be thrownBy
      decoded(example(entry("id", msg(1 -> msg(1 -> "text")))), readSchema)
  }

  // ---- the three writers against the reference ----

  test("writeExamples and format(\"tfrecord\") write the reference payloads") {
    import sqlImplicits._
    val dir = Files.createTempDirectory("compiled").toString
    val df = (1L to 60L).map(i => (i, s"n$i-ü", if (i % 3 == 0) Seq.empty[Long] else Seq(i, -i), i * 0.25))
      .toDF("id", "name", "vals", "score").repartition(3)
    val rddSpecs: FeatureSpec.Specs = Map(
      "id" -> FixedLenFeature(Nil, Int64), "name" -> FixedLenFeature(Nil, TfString),
      "vals" -> VarLenFeature(Int64), "score" -> FixedLenFeature(Nil, Float32),
      "absent" -> FixedLenFeature(Seq(2), Float32))
    def refs(sp: FeatureSpec.Specs) = df.collect().map { r =>
      ExampleCodec.encode(TfRecords.toFeatures(r.getValuesMap[Any](r.schema.fieldNames.toSeq), sp)).toSeq
    }.sortBy(_.toString)
    def records(files: Seq[String], gzip: Boolean) =
      TfRecords.readSerialized(files, spark.sparkContext.hadoopConfiguration, gzip).map(_.toSeq).toSeq.sortBy(_.toString)

    val manifest = TfRecords.writeExamples(df, rddSpecs, s"$dir/rdd", requireHdfs = false)
    manifest.map(_._2).sum shouldBe 60L
    records(manifest.map(_._1), gzip = true) shouldBe refs(rddSpecs)

    df.write.format("tfrecord").option("codec", "none").mode("overwrite").save(s"$dir/dsv2")
    val parts = Files.list(Paths.get(s"$dir/dsv2")).toArray.map(_.toString)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("part-")).toSeq
    records(parts, gzip = false) shouldBe refs(TfRecordDataSource.specsFor(df.schema))
  }
}
