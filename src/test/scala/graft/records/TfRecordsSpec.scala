package graft.records

import java.nio.file.Files

import graft.SparkSpec
import graft.core.Paths
import graft.types._
import graft.types.FeatureDType._

/** Sink/source/export tests: partition writer manifest (reference
  * `test_write_example_partition`), HDFS-path guard, the full export
  * pipeline (S3) round-tripped through the distributed reader, and
  * ragged→COO / row-batch→tensor converters
  * (`tests/tensorflow/test_numpy_to_sparse_tensors.py`,
  * `tests/tensorflow/test_pandas_to_tensors.py`).
  */
class TfRecordsSpec extends SparkSpec {
  import sqlImplicits._

  private val specs: FeatureSpec.Specs = Map(
    "id" -> FixedLenFeature(Nil, Int64),
    "name" -> FixedLenFeature(Nil, TfString),
    "vals" -> VarLenFeature(Int64))

  test("write_example_partition: part-NNNNN naming and record counts") {
    val dir = Files.createTempDirectory("tfr").toString
    val records = Seq(
      TfRecords.toExample(Map("id" -> 1L, "name" -> "a", "vals" -> Seq(1L)), specs),
      TfRecords.toExample(Map("id" -> 2L, "name" -> "b", "vals" -> Nil), specs))
    val manifest = TfRecords.writeExamplePartition(
      records.iterator, 1, dir, spark.sparkContext.hadoopConfiguration)
    manifest.size shouldBe 1
    manifest.head._1 should endWith("part-00001")
    manifest.head._2 shouldBe 2L
    val back = TfRecords.readSerialized(
      Seq(manifest.head._1), spark.sparkContext.hadoopConfiguration).toSeq
    back.size shouldBe 2
    ExampleCodec.parseWithSpecs(back.head, specs)("id") shouldBe Seq(1L)
  }

  test("write_example distributed sink requires a full hdfs path") {
    val df = Seq((1L, "a")).toDF("id", "name")
    an[IllegalArgumentException] should be thrownBy {
      TfRecords.writeExamples(df, specs, "/not/hdfs")
    }
    Paths.checkFullHdfsPath("hdfs://nn/data") shouldBe true
    Paths.checkFullHdfsPath("viewfs://root/data") shouldBe true
    Paths.checkFullHdfsPath("hdfs:///no-authority") shouldBe false
    Paths.checkFullHdfsPath("file:///local") shouldBe false
    Paths.checkFullHdfsPath("relative/path") shouldBe false
  }

  private def recordIds(files: Seq[String]): Seq[Seq[Long]] = files.map(f =>
    TfRecords.readParsedTfr(Seq(f), specs, spark.sparkContext.hadoopConfiguration)
      .map(_("id").asInstanceOf[Seq[Long]].head).toSeq)

  test("df_to_tf_record export pipeline round-trips through the distributed reader") {
    val dir = Files.createTempDirectory("export").toString
    // rows 101-105 are identical in every spec column
    val input = (1L to 100L).map(i => (i, s"name$i", Seq(i, i * 2), "dropped")) ++
      (1 to 5).map(i => (0L, "dup", Seq(0L), s"dropped$i"))
    val df = input.toDF("id", "name", "vals", "not_in_spec")
    val files = TfRecords.dfToTfRecord(
      df, specs, dir, vocabColumns = Seq("name"), threshold = 0,
      seed = Some(42L), requireHdfs = false)
    files should not be empty
    all(files.map(f => f.substring(f.lastIndexOf('/') + 1))) should startWith("part-")

    // vocab side output exists
    Files.exists(java.nio.file.Paths.get(dir, "col_cardinalities", "name.voc")) shouldBe true

    val back = TfRecords.readExamplesDf(spark, s"$dir/tf_records/part-*", specs)
    back.schema.fieldNames.toSeq shouldBe Seq("id", "name", "vals")
    back.count() shouldBe 105L
    val rows = back.collect().map(r =>
      (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name")),
        r.getSeq[Long](r.fieldIndex("vals")))).toSeq
    // the read-back multiset is the input's, duplicates included
    rows.sortBy(_._1) shouldBe input.map(r => (r._1, r._2, r._3)).sortBy(_._1)
    val r5 = rows.find(_._1 == 5L).get
    r5._2 shouldBe "name5"
    r5._3 shouldBe Seq(5L, 10L)
    // the export shuffled: output order differs from source order
    val order = recordIds(files)
    order.flatten should not be input.map(_._1)

    // the same seed over the same input partitioning writes the same
    // files, byte for byte; another seed writes another order
    def export(seed: Long): Seq[String] = TfRecords.dfToTfRecord(
      df, specs, Files.createTempDirectory("export").toString,
      seed = Some(seed), requireHdfs = false)
    def bytes(f: String) = Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(f)))
    val again = export(42L)
    again.map(f => f.substring(f.lastIndexOf('/') + 1)) shouldBe
      files.map(f => f.substring(f.lastIndexOf('/') + 1))
    files.zip(again).foreach { case (a, b) => bytes(a) shouldBe bytes(b) }
    recordIds(export(43L)).flatten should not be order.flatten
  }

  test("df_to_tf_record spreads rows identical in every spec column over part files") {
    // without coalescing, the tiny input keeps its 4 shuffle partitions;
    // a key that is a function of the row would put every row in one file
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, "false")
    try {
      val df = Seq.fill(200)((1L, "same", Seq(1L))).toDF("id", "name", "vals")
      val files = TfRecords.dfToTfRecord(df, specs,
        Files.createTempDirectory("export").toString, seed = Some(1L), requireHdfs = false)
      val perFile = recordIds(files).map(_.size)
      perFile.sum shouldBe 200
      perFile.count(_ > 0) should be > 1
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("df_to_tf_record fails before writing anything when tf_records exists") {
    val dir = Files.createTempDirectory("export")
    val stray = Files.createDirectories(dir.resolve("tf_records")).resolve("part-00099")
    Files.write(stray, Array[Byte](1, 2, 3))
    val df = Seq((1L, "a", Seq(1L))).toDF("id", "name", "vals")
    val e = the[IllegalArgumentException] thrownBy TfRecords.dfToTfRecord(
      df, specs, dir.toString, vocabColumns = Seq("name"), seed = Some(1L),
      requireHdfs = false)
    e.getMessage should include(dir.resolve("tf_records").toString)
    Files.exists(dir.resolve("col_cardinalities")) shouldBe false
    Files.list(dir.resolve("tf_records")).toArray.toSeq shouldBe Seq(stray)
    Files.readAllBytes(stray).toSeq shouldBe Seq[Byte](1, 2, 3)
  }

  test("df_to_tf_record rejects a non-hdfs path before writing vocabulary files") {
    val dir = Files.createTempDirectory("export")
    val df = Seq((1L, "a", Seq(1L))).toDF("id", "name", "vals")
    val e = the[IllegalArgumentException] thrownBy TfRecords.dfToTfRecord(
      df, specs, dir.toString, vocabColumns = Seq("name"), seed = Some(1L))
    e.getMessage should include("not a full hdfs path")
    Files.exists(dir.resolve("col_cardinalities").resolve("name.voc")) shouldBe false
    Files.list(dir).toArray.toSeq shouldBe empty
  }

  test("df_to_tf_record without vocabulary columns starts at most 2 jobs") {
    val df = (1L to 50L).map(i => (i, s"name$i", Seq(i))).toDF("id", "name", "vals")
    val dir = Files.createTempDirectory("export").toString
    // the shuffle map stage, then one job that sorts, encodes and writes
    jobsStartedBy {
      TfRecords.dfToTfRecord(df, specs, dir, seed = Some(1L), requireHdfs = false)
    } should be <= 2
  }

  // --- ragged → COO (`test_numpy_to_sparse_tensors.py:8-56`) ---

  test("generate_increments truth table") {
    RaggedToCoo.generateIncrements(Seq(2, 3)) shouldBe Seq(0L, 1L, 0L, 1L, 2L)
    RaggedToCoo.generateIncrements(Seq(2, 0, 3)) shouldBe Seq(0L, 1L, 0L, 1L, 2L)
    RaggedToCoo.generateIncrements(Seq(2, 1, 0)) shouldBe Seq(0L, 1L, 0L)
    RaggedToCoo.generateIncrements(Seq(0, 0, 0)) shouldBe Seq.empty
  }

  test("create_sparse_np_stacked over ints") {
    val (indices, values, shape) = RaggedToCoo.createSparseStacked(
      Seq(Seq(7, 8), Seq(10, 11, 12)))
    indices shouldBe Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L), (1L, 2L))
    values shouldBe Seq(7, 8, 10, 11, 12)
    shape shouldBe (2L, 3L)
  }

  test("create_sparse_np_stacked over strings and all-empty input") {
    val (indices, values, shape) = RaggedToCoo.createSparseStacked(
      Seq(Seq("a", "b"), Seq("c", "d", "e")))
    indices shouldBe Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L), (1L, 2L))
    values shouldBe Seq("a", "b", "c", "d", "e")
    shape shouldBe (2L, 3L)

    val (i2, v2, s2) = RaggedToCoo.createSparseStacked(Seq(Nil, Nil))
    i2 shouldBe empty
    v2 shouldBe empty
    s2 shouldBe (2L, 0L)
  }

  test("posexplode distributed COO matches the local converter") {
    import org.apache.spark.sql.functions.col
    val df = Seq((0L, Seq(7, 8)), (1L, Seq(10, 11, 12))).toDF("row_id", "arr")
    val coo = RaggedToCoo.posexplodeCoo(df, col("row_id"), col("arr"))
      .orderBy(col("row_id"), col("pos"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1).toLong), r.getInt(2)))
    val (indices, values, _) = RaggedToCoo.createSparseStacked(
      Seq(Seq(7, 8), Seq(10, 11, 12)))
    coo.map(_._1).toSeq shouldBe indices
    coo.map(_._2).toSeq shouldBe values
  }

  // --- row batch → named tensors (`test_pandas_to_tensors.py:9-93`) ---

  test("scalar converter fills defaults and casts") {
    val make = RowsToTensors.compile(
      Map("toto" -> FixedLenFeature(Nil, Int32, Some(3))))
    val out = make(Seq(IndexedSeq(1, 2, null, 4)))
    out("toto") shouldBe RowsToTensors.DenseVector(IndexedSeq(1, 2, 3, 4))

    val makeF = RowsToTensors.compile(
      Map("toto" -> FixedLenFeature(Nil, Float64, Some(3.5))))
    makeF(Seq(IndexedSeq(1.5, 2.5, null, 4.5)))("toto") shouldBe
      RowsToTensors.DenseVector(IndexedSeq(1.5, 2.5, 3.5, 4.5))

    val makeS = RowsToTensors.compile(
      Map("toto" -> FixedLenFeature(Nil, TfString, Some("c"))))
    makeS(Seq(IndexedSeq("a", "b", null, "d")))("toto") shouldBe
      RowsToTensors.DenseVector(IndexedSeq("a", "b", "c", "d"))
  }

  test("scalar converter without default rejects nulls") {
    val make = RowsToTensors.compile(Map("toto" -> FixedLenFeature(Nil, Int32)))
    an[IllegalArgumentException] should be thrownBy {
      make(Seq(IndexedSeq(1, 2, null, 4)))
    }
  }

  test("default value dtype mismatch fails at compile time") {
    an[IllegalArgumentException] should be thrownBy {
      RowsToTensors.compile(Map("toto" -> FixedLenFeature(Nil, Int32, Some("oops"))))
    }
  }

  test("varlen converter emits the shape/indices/values triple") {
    val make = RowsToTensors.compile(Map("toto" -> VarLenFeature(TfString)))
    val out = make(Seq(IndexedSeq(Seq("a", "b"), Seq("c", "d"), null, Seq("e"))))
    out("toto/shape") shouldBe RowsToTensors.SparseShape(4, 2)
    out("toto/indices") shouldBe RowsToTensors.SparseIndices(
      Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L), (3L, 0L)))
    out("toto/values") shouldBe RowsToTensors.SparseValues(Seq("a", "b", "c", "d", "e"))
  }

  test("varlen converter over all-empty input") {
    val make = RowsToTensors.compile(Map("toto" -> VarLenFeature(TfString)))
    val out = make(Seq(IndexedSeq(Nil, Nil)))
    out("toto/shape") shouldBe RowsToTensors.SparseShape(2, 0)
    out("toto/indices") shouldBe RowsToTensors.SparseIndices(Nil)
    out("toto/values") shouldBe RowsToTensors.SparseValues(Nil)
  }

  test("non-scalar FixedLen shapes are unsupported") {
    an[UnsupportedOperationException] should be thrownBy {
      RowsToTensors.compile(Map("m" -> FixedLenFeature(Seq(2), Int64)))
    }
  }

  test("placeholder layout: dense scalars and sparse triples, validation") {
    val layout = RowsToTensors.placeholderLayout(Map(
      "x" -> FixedLenFeature(Nil, Int64),
      "tags" -> VarLenFeature(TfString)))
    layout shouldBe Map(
      "x" -> Seq(-1),
      "tags/shape" -> Seq(2),
      "tags/indices" -> Seq(-1, 2),
      "tags/values" -> Seq(-1))
    an[IllegalArgumentException] should be thrownBy {
      RowsToTensors.placeholderLayout(Map("a/b" -> FixedLenFeature(Nil, Int64)))
    }
    an[IllegalArgumentException] should be thrownBy {
      RowsToTensors.placeholderLayout(Map("m" -> FixedLenFeature(Seq(2), Int64)))
    }
  }

  test("filtered_columns keeps only spec columns in DataFrame order") {
    val df = Seq((1L, "a", 2.0)).toDF("id", "name", "junk")
    TfRecords.filteredColumns(df, specs).map(_.toString) shouldBe Seq("id", "name")
  }

  test("generate_create_tensor_fn end-to-end") {
    val make = RowsToTensors.compile(Map("dim" -> FixedLenFeature(Nil, Int64)))
    make(Seq(IndexedSeq(1L, 2L)))("dim") shouldBe
      RowsToTensors.DenseVector(IndexedSeq(1L, 2L))
  }
}
