package graft.records

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.rand
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.core.Paths
import graft.types._

/** Row ↔ `tf.train.Example` conversion and TFRecord sinks/sources,
  * re-expressing `ml_hadoop_experiment/tensorflow/tfrecords.py:104-268`.
  *
  * Null/default encode semantics (pinned by
  * `tests/tensorflow/protobuf_examples.py:9-146`, implemented once in
  * [[ExampleEncoder]]):
  *   - an empty list is treated as null for FixedLen specs;
  *   - null + spec default → the feature is *omitted* from the record
  *     (the same spec fills the default back at read time);
  *   - null + no default → a type-derived zero/"" filling the shape;
  *   - VarLen: null → omitted; empty list → present and empty;
  *   - FixedLen values must match the declared shape, else error.
  *
  * 100 TB notes: the export pipeline is one global shuffle
  * (`orderBy(rand)`) + one write pass, with DISK_ONLY persistence between
  * them so the shuffle isn't recomputed by the write job; per-partition
  * writers stream records (no buffering of the partition) and return
  * (path, count) manifests collected driver-side — counts are
  * vocabulary-sized metadata, not data. The per-record codec is compiled
  * once per partition from (schema, specs): [[writeExamples]] and the
  * `tfrecord` source's flat-Example writer encode Spark's internal rows
  * with [[ExampleEncoder]], and the source's flat-Example reader decodes
  * straight into internal rows with [[ExampleDecoder]], so no record goes
  * through a `Row`, a feature map or [[Feature]] objects. The Map API
  * ([[toFeatures]], [[toExample]], [[ExampleCodec]]) stays for
  * driver-local use, SequenceExamples, [[readExamplesDf]] and
  * `TfShaped`, and is the reference the compiled codec is tested
  * against; [[toExample]] runs through the same compiled plan.
  */
object TfRecords {

  // ---- row → Example (reference `to_tf_proto`, tfrecords.py:184-207) ----

  /** Build the Example feature map for one record (reference `to_tf_proto`). */
  def toFeatures(x: Map[String, Any], specs: FeatureSpec.Specs): Map[String, Feature] =
    specs.flatMap { case (name, spec) =>
      ExampleEncoder.feature(x.getOrElse(name, null), spec).map(name -> _)
    }

  /** Serialize one record. Compiles the specs on every call; encode many
    * records with one [[ExampleEncoder]].
    */
  def toExample(x: Map[String, Any], specs: FeatureSpec.Specs): Array[Byte] =
    ExampleEncoder(specs).encode(x)

  /** Spec-driven column pruning (reference P1 `filtered_columns`,
    * `dataframe_prediction_helper.py:285-286`): the DataFrame columns
    * that appear in the feature spec, in DataFrame order. Catalyst would
    * prune through the write anyway; the explicit select keeps the
    * export plan self-documenting.
    */
  def filteredColumns(df: DataFrame, specs: FeatureSpec.Specs): Seq[org.apache.spark.sql.Column] =
    df.columns.filter(specs.contains).map(df(_)).toSeq

  // ---- sinks (reference S1/S2, tfrecords.py:210-236) ----

  /** Write one partition's serialized examples to `part-NNNNN` (gzip by
    * default), returning the (path, record count) manifest entry.
    */
  def writeExamplePartition(
      records: Iterator[Array[Byte]],
      index: Int,
      exportPath: String,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      gzip: Boolean = true): Seq[(String, Long)] =
    writePart(index, exportPath, hadoopConf, gzip)(w => records.foreach(w.write))

  private def writePart(
      index: Int,
      exportPath: String,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      gzip: Boolean)(body: TfRecordIO.Writer => Unit): Seq[(String, Long)] = {
    val remotePath = f"$exportPath/part-$index%05d"
    val fs = FileSystem.get(new URI(exportPath), hadoopConf)
    val writer = new TfRecordIO.Writer(fs.create(new HPath(remotePath), true), gzip)
    try body(writer)
    finally writer.close()
    Seq((remotePath, writer.count))
  }

  /** Distributed sink: every partition writes its own part file; the
    * driver collects the (path, count) manifest (reference
    * `write_example_rdd`). Rows are encoded from Spark's internal rows by
    * one [[ExampleEncoder]] per partition; spec features the DataFrame
    * has no column for are encoded as null. `requireHdfs` keeps the
    * reference's full-HDFS-path guard for production writes; disable it
    * for local filesystems.
    */
  def writeExamples(
      df: DataFrame,
      specs: FeatureSpec.Specs,
      exportPath: String,
      gzip: Boolean = true,
      requireHdfs: Boolean = true): Seq[(String, Long)] = {
    if (requireHdfs && !Paths.checkFullHdfsPath(exportPath))
      throw new IllegalArgumentException(s"$exportPath is not a full hdfs path")
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitionsWithIndex { (idx, rows) =>
      val encoder = ExampleEncoder(schema, specs)
      writePart(idx, exportPath, confSer.value, gzip)(w => rows.foreach(encoder.write(_, w))).iterator
    }.collect().toSeq
  }

  // ---- export pipeline (reference S3 `df_to_tf_record`, tfrecords.py:239-268) ----

  /** Project spec columns, globally shuffle rows (`orderBy(rand(seed))` —
    * training data should not be read in source order), persist DISK_ONLY
    * so the shuffle feeds the write exactly once, write gzip TFRecords,
    * and list the produced files (skipping `_SUCCESS`-style entries).
    * Optionally emits vocabulary files for `vocabColumns` first.
    */
  def dfToTfRecord(
      df: DataFrame,
      specs: FeatureSpec.Specs,
      baseDir: String,
      vocabColumns: Seq[String] = Nil,
      threshold: Int = 0,
      seed: Option[Long] = None,
      requireHdfs: Boolean = true): Seq[String] = {
    val tfRecordDir = s"$baseDir/tf_records"
    if (vocabColumns.nonEmpty)
      graft.vocab.Vocabulary.genVocabFiles(
        df, vocabColumns, s"$baseDir/col_cardinalities", threshold)

    val shuffled = df.select(filteredColumns(df, specs): _*)
      .orderBy(seed.map(rand).getOrElse(rand()))
      .persist(StorageLevel.DISK_ONLY)
    try {
      writeExamples(shuffled, specs, tfRecordDir, gzip = true, requireHdfs)
      val fs = FileSystem.get(
        new URI(tfRecordDir), df.sparkSession.sparkContext.hadoopConfiguration)
      fs.listStatus(new HPath(tfRecordDir))
        .map(_.getPath.toString)
        .filterNot(p => p.substring(p.lastIndexOf('/') + 1).startsWith("_"))
        .sorted
        .toSeq
    } finally shuffled.unpersist()
  }

  // ---- sources (reference S4/S5, tfrecords.py:52-72) ----

  /** Driver-local serialized-record iterator over a list of files. */
  def readSerialized(
      files: Seq[String],
      hadoopConf: org.apache.hadoop.conf.Configuration,
      gzip: Boolean = true): Iterator[Array[Byte]] =
    files.iterator.flatMap { f =>
      val fs = FileSystem.get(new URI(f), hadoopConf)
      new TfRecordIO.Reader(fs.open(new HPath(f)), gzip)
    }

  /** Driver-local parsed reader (reference `read_parsed_tfr`): each record
    * parsed against the spec, absent FixedLen features restored from
    * defaults.
    */
  def readParsedTfr(
      files: Seq[String],
      specs: FeatureSpec.Specs,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      gzip: Boolean = true): Iterator[Map[String, Any]] =
    readSerialized(files, hadoopConf, gzip).map(ExampleCodec.parseWithSpecs(_, specs))

  /** Driver-local SequenceExample reader (reference
    * `read_parsed_sequence_tfr`, tfrecords.py:60-72): each record parsed
    * into (context values, per-key sequence of feature values).
    */
  def readParsedSequenceTfr(
      files: Seq[String],
      contextSpecs: FeatureSpec.Specs,
      sequenceSpecs: FeatureSpec.Specs,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      gzip: Boolean = true): Iterator[(Map[String, Any], Map[String, Seq[Any]])] =
    readSerialized(files, hadoopConf, gzip).map { bytes =>
      val (context, lists) = ExampleCodec.decodeSequence(bytes)
      val ctx: Map[String, Any] = contextSpecs.map { case (name, spec) =>
        val value: Any = context.get(name) match {
          case Some(f) => ExampleCodec.featureValues(f, spec.dtype)
          case None => spec match {
            case FixedLenFeature(_, _, Some(d)) =>
              d match { case s: Seq[_] => s; case v => Seq(v) }
            case _: VarLenFeature => Seq.empty
            case FixedLenFeature(_, _, None) =>
              throw new IllegalArgumentException(
                s"context feature $name absent and spec has no default")
          }
        }
        name -> value
      }
      val seqs = sequenceSpecs.map { case (name, spec) =>
        name -> lists.getOrElse(name, Nil)
          .map(f => ExampleCodec.featureValues(f, spec.dtype): Any)
      }
      (ctx, seqs)
    }

  /** Serialize one (context, featureLists) record against specs. */
  def toSequenceExample(
      context: Map[String, Any],
      featureLists: Map[String, Seq[Any]],
      contextSpecs: FeatureSpec.Specs,
      sequenceSpecs: FeatureSpec.Specs): Array[Byte] = {
    val ctx = toFeatures(context, contextSpecs)
    val lists = sequenceSpecs.flatMap { case (name, spec) =>
      featureLists.get(name).map { steps =>
        name -> steps.map(step => ExampleEncoder.valueToFeature(ExampleEncoder.asList(step), spec))
      }
    }
    ExampleCodec.encodeSequence(ctx, lists)
  }

  /** Distributed TFRecord source: one task per file (gzip TFRecords are not
    * splittable), schema derived from the specs
    * ([[SchemaCompat.exactStructFieldFor]]). Scalar FixedLen specs surface
    * as scalar columns, everything else as arrays.
    */
  def readExamplesDf(
      spark: SparkSession,
      path: String,
      specs: FeatureSpec.Specs,
      gzip: Boolean = true): DataFrame = {
    val names = specs.keys.toSeq.sorted
    val fields = names.map(n => SchemaCompat.exactStructFieldFor(n, specs(n)))
    val schema = StructType(fields)
    val specsB = specs
    val rows = spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
      val in = pds.open()
      new TfRecordIO.Reader(in, gzip).map { bytes =>
        val parsed = ExampleCodec.parseWithSpecs(bytes, specsB)
        Row.fromSeq(names.map { n =>
          val values = parsed(n).asInstanceOf[Seq[Any]]
          specsB(n) match {
            case FixedLenFeature(shape, _, _) if shape.isEmpty => values.head
            case _ => values
          }
        })
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
