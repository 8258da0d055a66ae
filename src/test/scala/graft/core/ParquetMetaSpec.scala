package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[ParquetMeta]]: the round-18 hardening — a readPinned over roots
  * whose footers diverge must fail loud (the old unionByName behavior)
  * instead of null-filling through the pinned schema, and the
  * fingerprint cache must refresh when a directory's contents change.
  */
class ParquetMetaSpec extends SparkSpec {
  import sqlImplicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_pmeta_").toString

  test("readPinned unions same-schema roots and refreshes on rewrite") {
    val a = tmp(); val b = tmp()
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(a)
    Seq((2L, "y")).toDF("id", "s").write.mode("overwrite").parquet(b)
    val rows = ParquetMeta.readPinned(spark, Seq(a, b))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    rows shouldBe Array((1L, "x"), (2L, "y"))
    // rewrite root b: the content fingerprint must invalidate the
    // cached footer schema and the next read must see the new rows
    Seq((3L, "z")).toDF("id", "s").write.mode("overwrite").parquet(b)
    val rows2 = ParquetMeta.readPinned(spark, Seq(a, b))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    rows2 shouldBe Array((1L, "x"), (3L, "z"))
  }

  test("readPinned fails loud on a root with a divergent footer schema") {
    val a = tmp(); val b = tmp()
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(a)
    Seq((2L, 9L)).toDF("id", "other").write.mode("overwrite").parquet(b)
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.readPinned(spark, Seq(a, b))
    }
    e.getMessage should include("differs from the pinned")
  }

  test("readPinned fails loud on a same-name type-drifted root") {
    val a = tmp(); val b = tmp()
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(a)
    Seq((2, "y")).toDF("id", "s").write.mode("overwrite").parquet(b) // int id
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.readPinned(spark, Seq(a, b))
    }
    e.getMessage should include("differs from the pinned")
  }

  test("dataFiles depth guard: two partition levels fail loud") {
    val root = tmp()
    Seq((1L, "x")).toDF("id", "s")
      .withColumn("p", lit(1)).withColumn("q", lit(2))
      .write.partitionBy("p", "q").mode("overwrite").parquet(root)
    val e = intercept[IllegalArgumentException] {
      ParquetMeta.schemaOf(spark, root)
    }
    e.getMessage should include("more than one partition-directory level")
  }

  test("cachedRows refreshes when the table is rewritten") {
    val d = tmp()
    Seq((1L, 2L)).toDF("a", "b").write.mode("overwrite").parquet(d)
    ParquetMeta.cachedRows(spark, d).map(_.getLong(0)) shouldBe Seq(1L)
    Seq((7L, 8L)).toDF("a", "b").write.mode("overwrite").parquet(d)
    ParquetMeta.cachedRows(spark, d).map(_.getLong(0)) shouldBe Seq(7L)
  }

  test("cachedRows equals the inferred read and a cold read is one job") {
    val d = tmp()
    Seq((1, 2L, Seq(0.5f, -1f)), (3, 4L, Seq.empty[Float]))
      .toDF("cell", "n", "centroid").repartition(2)
      .write.mode("overwrite").parquet(d)
    val want = spark.read.parquet(d).collect().toSeq
    var got = Seq.empty[org.apache.spark.sql.Row]
    jobsStartedBy { got = ParquetMeta.cachedRows(spark, d) } shouldBe 1
    got shouldBe want
    got.head.schema shouldBe want.head.schema
    jobsStartedBy { ParquetMeta.cachedRows(spark, d) } shouldBe 0
  }

  test("footer row counts equal a scan, per partition directory, and " +
    "refresh when the table is rewritten in place") {
    val d = tmp()
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, i % 3)).toDF("id", "cell")
        .repartition(2).write.partitionBy("cell").mode("overwrite").parquet(d)
    def scan: Map[String, Long] = spark.read.parquet(d).groupBy("cell").count()
      .collect().map(r => s"cell=${r.getInt(0)}" -> r.getLong(1)).toMap
    write(10)
    ParquetMeta.footers(spark, Seq(d)).counts shouldBe Seq(scan)
    ParquetMeta.footers(spark, Seq(d, d)).rows shouldBe 20L
    write(7) // same directory, rewritten: the cached counts must not serve
    ParquetMeta.footers(spark, Seq(d)).counts shouldBe Seq(scan)
    ParquetMeta.footers(spark, Seq(d)).rows shouldBe 7L
    // files directly under the table directory count under ""
    val flat = tmp()
    Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(flat)
    ParquetMeta.footers(spark, Seq(flat)).counts shouldBe Seq(Map("" -> 3L))
  }
}
