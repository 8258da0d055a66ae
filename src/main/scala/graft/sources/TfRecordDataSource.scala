package graft.sources

import java.net.URI
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.records.{ExampleCodec, ExampleDecoder, ExampleEncoder, TfRecordIO, TfRecords}
import graft.types._

/** DataSource V2 for the TFRecord/Example format — the one custom
  * Catalyst component SURVEY §7.3 calls for (the reference outsources
  * this to the external spark-tensorflow-connector,
  * `tfrecords.py:263`). Enables
  *
  *   spark.read.format("tfrecord").schema(s).load(path)
  *   df.write.format("tfrecord").option("codec", "gzip").save(path)
  *
  * Schema is user-provided (TFRecord files carry no schema); feature
  * specs derive from it: scalar fields ↔ scalar FixedLen, array fields ↔
  * VarLen, nullable scalar fields read absent features as null.
  *
  * Scale design: one input partition per file (gzip TFRecords are not
  * splittable); the write path streams per-task part files and reports
  * (path, count) through `WriterCommitMessage`s — the counting-sink
  * manifest (A4) — which `commit` persists as `_manifest` next to the
  * data plus an empty `_SUCCESS`.
  */
class TfRecordDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tfrecord"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "tfrecord requires an explicit read schema: spark.read.format(\"tfrecord\").schema(...)")

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TfRecordTable(schema, properties.asScala.toMap)
}

object TfRecordDataSource {

  /** Feature specs from a Spark schema (inverse of
    * [[SchemaCompat.exactStructFieldFor]]).
    */
  def specsFor(schema: StructType): FeatureSpec.Specs =
    schema.fields.map { f =>
      f.name -> (f.dataType match {
        case ArrayType(elem, _) => VarLenFeature(dtypeFor(elem, f.name))
        case other => FixedLenFeature(Nil, dtypeFor(other, f.name))
      })
    }.toMap

  private[sources] def dtypeFor(dt: DataType, name: String): FeatureDType = dt match {
    case IntegerType => FeatureDType.Int32
    case LongType => FeatureDType.Int64
    case FloatType => FeatureDType.Float32
    case DoubleType => FeatureDType.Float64
    case StringType => FeatureDType.TfString
    case other => throw new IllegalArgumentException(
      s"unsupported tfrecord field type $other for column $name")
  }

  /** SequenceExample schema mapping (SURVEY S5, reference
    * `tfrecords.py:60-72`): scalar fields are context features,
    * `ArrayType(atomic)` fields are feature lists with one value per
    * step, `ArrayType(ArrayType(atomic))` fields are feature lists with
    * variable-length steps. Returns (context specs, sequence specs).
    */
  def sequenceSpecsFor(schema: StructType): (FeatureSpec.Specs, FeatureSpec.Specs) = {
    val ctx = schema.fields.collect {
      case f if !f.dataType.isInstanceOf[ArrayType] =>
        f.name -> (FixedLenFeature(Nil, dtypeFor(f.dataType, f.name)): FeatureSpec)
    }
    val seqs = schema.fields.collect {
      case f @ StructField(_, ArrayType(et, _), _, _) =>
        val elem = et match {
          case ArrayType(inner, _) => inner
          case other => other
        }
        f.name -> (VarLenFeature(dtypeFor(elem, f.name)): FeatureSpec)
    }
    (ctx.toMap, seqs.toMap)
  }

  def isGzip(options: Map[String, String]): Boolean =
    options.get("codec").forall(c =>
      c.equalsIgnoreCase("gzip") || c.contains("GzipCodec"))

  /** `recordType=sequenceExample` switches both read and write paths to
    * `tf.train.SequenceExample` framing (default: flat `Example`).
    */
  def isSequence(options: Map[String, String]): Boolean =
    options.get("recordtype").orElse(options.get("recordType"))
      .exists(_.equalsIgnoreCase("sequenceexample"))
}

final class TfRecordTable(tableSchema: StructType, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  import TfRecordDataSource._

  private def pathOf(options: Map[String, String]): String =
    options.getOrElse("path", properties.getOrElse("path",
      throw new IllegalArgumentException("tfrecord requires a path")))

  override def name(): String = s"tfrecord:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap
    new TfRecordScan(tableSchema, pathOf(opts), isGzip(opts), isSequence(opts))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = info.options().asScala.toMap
    new WriteBuilder with SupportsTruncate {
      private var truncateFirst = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new TfRecordBatchWrite(info.schema(), pathOf(opts), isGzip(opts),
            truncateFirst, isSequence(opts))
      }
    }
  }
}

final case class TfRecordInputPartition(file: String) extends InputPartition

final class TfRecordScan(
    schema: StructType, path: String, gzip: Boolean, sequenceMode: Boolean = false)
    extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"TfRecordScan($path)"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI(path), conf)
    val status = fs.globStatus(new HPath(path)) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case s => s
    }
    // When a directory carries a `_manifest` (written by this source's
    // commit), trust it as the authoritative file list: files not listed
    // (orphans from failed/speculative attempts that escaped abort-cleanup)
    // must not be ingested. Directories without a manifest (externally
    // produced TFRecords) fall back to a listing.
    val files = status.flatMap { st =>
      if (st.isDirectory) {
        val manifestPath = new HPath(st.getPath, "_manifest")
        if (fs.exists(manifestPath)) {
          val in = fs.open(manifestPath)
          val text =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          text.linesIterator.filter(_.nonEmpty).map(_.split('\t')(0)).toArray
        } else fs.listStatus(st.getPath).map(_.getPath.toString)
      } else Array(st.getPath.toString)
    }.filterNot(p => p.substring(p.lastIndexOf('/') + 1).startsWith("_"))
      .sorted
    files.map(TfRecordInputPartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val confSer = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new TfRecordReaderFactory(schema, gzip, confSer, sequenceMode)
  }
}

final class TfRecordReaderFactory(
    schema: StructType, gzip: Boolean, conf: SerializableConfiguration,
    sequenceMode: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[TfRecordInputPartition].file
    // flat-Example specs reject sequence-only schemas (nested arrays);
    // compile the decoder only on the flat path, at the first record
    lazy val decoder = new ExampleDecoder(schema, TfRecordDataSource.specsFor(schema))
    val fields = schema.fields
    lazy val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val fs = FileSystem.get(new URI(file), conf.value)
    val reader = new TfRecordIO.Reader(fs.open(new HPath(file)), gzip)

    // SequenceExample rows (SURVEY S5, reference tfrecords.py:60-72):
    // scalar columns read the context, array columns read the feature
    // lists — one element per step, nested arrays for VarLen steps.
    def decodeSequenceRecord(bytes: Array[Byte]): Seq[Any] = {
      val (context, lists) = ExampleCodec.decodeSequence(bytes)
      fields.map { f =>
        // absent-vs-empty is distinguishable on the wire (the writer
        // emits an entry even for empty lists), so absence follows the
        // flat-Example contract: null when nullable, error otherwise
        def absent(): Any =
          if (f.nullable) null
          else throw new IllegalArgumentException(
            s"feature list ${f.name} absent and column is not nullable")
        f.dataType match {
          case ArrayType(ArrayType(inner, _), _) =>
            lists.get(f.name) match {
              case Some(fs0) => fs0.map(feat =>
                ExampleCodec.featureValues(feat, TfRecordDataSource.dtypeFor(inner, f.name)))
              case None => absent()
            }
          case ArrayType(elem, _) =>
            lists.get(f.name) match {
              case Some(fs0) => fs0.map(feat =>
                ExampleCodec.featureValues(feat, TfRecordDataSource.dtypeFor(elem, f.name)).head)
              case None => absent()
            }
          case dt =>
            context.get(f.name) match {
              case Some(feat) =>
                ExampleCodec.featureValues(feat, TfRecordDataSource.dtypeFor(dt, f.name)).head
              case None =>
                if (f.nullable) null
                else throw new IllegalArgumentException(
                  s"context feature ${f.name} absent and column is not nullable")
            }
        }
      }.toSeq
    }

    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (!reader.hasNext) false
        else {
          current =
            if (sequenceMode)
              toCatalyst(org.apache.spark.sql.Row.fromSeq(decodeSequenceRecord(reader.next())))
                .asInstanceOf[InternalRow]
            else decoder.decode(reader.next())
          true
        }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}

final case class TfRecordCommitMessage(path: String, count: Long)
    extends WriterCommitMessage

final class TfRecordBatchWrite(
    schema: StructType, path: String, gzip: Boolean, truncateFirst: Boolean,
    sequenceMode: Boolean = false)
    extends BatchWrite {

  private val confSer = new SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // Overwrite mode arrives as SupportsTruncate.truncate(): existing
    // data must actually be removed, or repeated overwrites accumulate
    // part files (distinct task ids → distinct names).
    if (truncateFirst) {
      val fs = FileSystem.get(new URI(path), confSer.value)
      val p = new HPath(path)
      if (fs.exists(p)) fs.delete(p, true)
    }
    new TfRecordWriterFactory(schema, path, gzip, confSer, sequenceMode)
  }

  /** The counting-sink manifest (reference A4, `tfrecords.py:223,236`):
    * commit messages carry (path, count); commit persists them as
    * `_manifest` and marks success.
    *
    * Concurrency contract: ONE writing job per destination path at a
    * time. Append commits merge the prior manifest via read-modify-write,
    * which is not atomic — two concurrent appends to the same path could
    * each read the old manifest and silently drop the other's files from
    * all subsequent reads. Spark's own file sinks share this
    * single-writer-per-path assumption (concurrent jobs also race on
    * `_SUCCESS` and temp dirs); serialize appends externally if multiple
    * pipelines target one directory.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = FileSystem.get(new URI(path), confSer.value)
    // The manifest is the scan's authoritative file list, so append-mode
    // commits must merge with the prior manifest or earlier jobs' files
    // would be silently dropped from reads.
    val manifestPath = new HPath(path, "_manifest")
    val prior: Seq[String] =
      if (!truncateFirst && fs.exists(manifestPath)) {
        val in = fs.open(manifestPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .linesIterator.filter(_.nonEmpty).toSeq
        finally in.close()
      } else Seq.empty
    val manifest = (prior ++ messages.collect {
      case TfRecordCommitMessage(p, c) => s"$p\t$c"
    }).distinct.sorted.mkString("\n")
    val out = fs.create(manifestPath, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    fs.create(new HPath(path, "_SUCCESS"), true).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = FileSystem.get(new URI(path), confSer.value)
    messages.foreach {
      case TfRecordCommitMessage(p, _) => fs.delete(new HPath(p), false)
      case _ =>
    }
  }
}

final class TfRecordWriterFactory(
    schema: StructType, path: String, gzip: Boolean, conf: SerializableConfiguration,
    sequenceMode: Boolean = false)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // each mode rejects the other's schemas (nested arrays are
    // sequence-only), so only compile the active mode, at the first record
    lazy val encoder = ExampleEncoder(schema, TfRecordDataSource.specsFor(schema))
    lazy val (ctxSpecs, seqSpecs) = TfRecordDataSource.sequenceSpecsFor(schema)
    val ctxNames = schema.fields.collect {
      case f if !f.dataType.isInstanceOf[ArrayType] => f.name
    }.toSet
    lazy val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    val filePath = f"$path/part-$partitionId%05d-$taskId"
    val fs = FileSystem.get(new URI(path), conf.value)
    fs.mkdirs(new HPath(path))
    val writer = new TfRecordIO.Writer(fs.create(new HPath(filePath), true), gzip)

    new DataWriter[InternalRow] {
      override def write(record: InternalRow): Unit =
        if (sequenceMode) {
          val row = toScala(record).asInstanceOf[org.apache.spark.sql.Row]
          val values = schema.fieldNames.zipWithIndex.map { case (n, i) =>
            n -> row.get(i)
          }.toMap
          val (ctx, lists) = values.partition { case (n, _) => ctxNames(n) }
          writer.write(TfRecords.toSequenceExample(
            ctx,
            lists.collect { case (n, v) if v != null =>
              n -> v.asInstanceOf[collection.Seq[Any]].toSeq
            },
            ctxSpecs, seqSpecs))
        } else encoder.write(record, writer)
      override def commit(): WriterCommitMessage = {
        writer.close()
        TfRecordCommitMessage(filePath, writer.count)
      }
      // A failed/speculative attempt must remove its partial file: the scan
      // lists the directory, so an orphan part would read back as
      // duplicate/truncated rows under routine task retry at scale. The
      // delete must run even if close() throws (e.g. a gzip flush onto a
      // broken stream) — external TFRecord readers of the directory don't
      // see the _manifest shield, only the files.
      override def abort(): Unit = {
        try writer.close()
        catch { case scala.util.control.NonFatal(_) => }
        finally fs.delete(new HPath(filePath), false)
      }
      override def close(): Unit = ()
    }
  }
}
