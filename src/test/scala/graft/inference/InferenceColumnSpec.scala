package graft.inference

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

object InferenceColumnSpecState {
  /** Values the inference fn saw, by the row's `id` (local mode: the
    * executor is this JVM).
    */
  val seen = new ConcurrentHashMap[Long, Seq[Any]]()
}

/** The scoring operator as Catalyst sees it: column pruning below it,
  * self-joins over it, the values its decoders hand the inference fn,
  * and the jobs a scored count starts.
  */
class InferenceColumnSpec extends SparkSpec {
  import sqlImplicits._

  private val model = Artifacts.broadcast(spark, 10.0)
  private val times: Inference.InferenceFn[Double] =
    (m, cols, _) => cols(0).map(_.asInstanceOf[Double] * m)

  test("a self-join of a scored frame gives each side its own score") {
    val s = Inference.withInferenceColumn(
      Seq((1L, 2.0), (2L, 5.0), (3L, 7.0)).toDF("id", "x"), model, Seq("x"), times,
      DoubleType, batchSize = 2, outputCol = "score", numThreads = 1)
    val j = s.as("l").join(s.as("r"), col("l.id") === col("r.id") + 1)
      .select(col("l.id"), col("l.score"), col("r.score"))
    j.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq shouldBe
      Seq((2L, 50.0, 20.0), (3L, 70.0, 50.0))
    s.as("l").join(s.as("r"), "id").count() shouldBe 3L
  }

  test("columns read by neither the model nor the consumer are not scanned") {
    val dir = Files.createTempDirectory("scored").resolve("t").toString
    Seq((1L, 2.0, "a", Seq(1.0f, 2.0f)), (2L, 5.0, "b", Seq(3.0f)))
      .toDF("id", "x", "tag", "emb").write.parquet(dir)
    val out = Inference.withInferenceColumn(
      spark.read.parquet(dir), model, Seq("x"), times,
      DoubleType, batchSize = 4, outputCol = "score", numThreads = 1)
      .select("id", "score")
    out.queryExecution.sparkPlan.collect {
      case scan: FileSourceScanExec => scan.requiredSchema.fieldNames.toSeq
    } shouldBe Seq(Seq("id", "x"))
    out.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq shouldBe
      Seq((1L, 20.0), (2L, 50.0))
  }

  test("the inference fn sees every column type as Row.get gives it") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("b", BooleanType), StructField("by", ByteType),
      StructField("sh", ShortType), StructField("i", IntegerType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("af", ArrayType(FloatType, containsNull = false)),
      StructField("ad", ArrayType(DoubleType, containsNull = true)),
      StructField("ai", ArrayType(IntegerType, containsNull = true)),
      StructField("al", ArrayType(LongType, containsNull = false)),
      StructField("as", ArrayType(StringType)),
      StructField("aa", ArrayType(ArrayType(IntegerType))),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("t", StringType)))),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("dec", DecimalType(10, 2)),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1L, true, 1.toByte, 2.toShort, 3, 1.5f, 2.5, "x", Array[Byte](1, 2),
        Seq(1.0f, -0.0f), Seq(1.0, 2.0), Seq(1, 2), Seq(5L), Seq("p", null), Seq(Seq(1), null),
        Row(4, "u"), Map("k" -> 1), new java.math.BigDecimal("12.34"),
        java.sql.Date.valueOf("2024-02-29"), java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")),
      Row(2L, false, -1.toByte, -2.toShort, -3, -1.5f, -2.5, "", Array.emptyByteArray,
        Seq.empty[Float], Seq(1.0, null), Seq(null, 7), Seq.empty[Long], Seq.empty[String], Seq.empty[Seq[Int]],
        Row(null, null), Map.empty[String, Int], new java.math.BigDecimal("-0.01"),
        java.sql.Date.valueOf("1970-01-01"), java.sql.Timestamp.valueOf("1970-01-01 00:00:00")),
      Row.fromSeq(3L +: Seq.fill(schema.size - 1)(null)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    InferenceColumnSpecState.seen.clear()
    val record: Inference.InferenceFn[Double] = (_, cols, _) =>
      cols(0).indices.map { r =>
        InferenceColumnSpecState.seen.put(
          cols(0)(r).asInstanceOf[Long], cols.map(_(r)).toSeq)
        0.0
      }
    Inference.withInferenceColumn(df, model, schema.fieldNames.toSeq, record,
      DoubleType, batchSize = 2, numThreads = 1).count() shouldBe 3L

    def family(v: Any): String = v match {
      case null => "null"
      case _: scala.collection.mutable.ArraySeq[_] => "mutable.ArraySeq"
      case _: Row => "Row"
      case _: scala.collection.Map[_, _] => "Map"
      case x => x.getClass.getName
    }
    def value(v: Any): Any = v match {
      case a: Array[Byte] => a.toSeq
      case x => x
    }
    for (want <- df.collect()) {
      val got = InferenceColumnSpecState.seen.get(want.getLong(0))
      got should not be null
      schema.fieldNames.indices.foreach { i =>
        withClue(s"id ${want.getLong(0)}, column ${schema(i).name}: ") {
          family(got(i)) shouldBe family(want.get(i))
          value(got(i)) shouldBe value(want.get(i))
        }
      }
    }
  }

  test("a scored count starts at most 3 jobs") {
    val df = (1L to 40L).map(i => (i, i.toDouble)).toDF("id", "x").repartition(3)
    // the repartition's map stage, the count's partial aggregate, its result
    jobsStartedBy {
      Inference.withInferenceColumn(df, model, Seq("x"), times,
        DoubleType, batchSize = 8, numThreads = 1).count()
    } should be <= 3
  }
}
