package graft.records

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import graft.types._

/** `tf.train.Example` encode/decode as a hand-rolled protobuf wire-format
  * codec — no TF or protobuf dependency. The message shapes are public
  * (tensorflow/core/example/{example,feature}.proto):
  *
  *   Example  { Features features = 1 }
  *   Features { map<string, Feature> feature = 1 }   // repeated entry{key=1,value=2}
  *   Feature  { oneof { BytesList bytes_list = 1; FloatList float_list = 2;
  *                      Int64List int64_list = 3 } }
  *   BytesList { repeated bytes value = 1 }
  *   FloatList { repeated float value = 1 [packed] }
  *   Int64List { repeated int64 value = 1 [packed] }
  *
  * Feature values are modeled by [[Feature]]; null/default semantics of
  * the row→Example path are in [[ExampleEncoder]], ported from
  * `ml_hadoop_experiment/tensorflow/tfrecords.py:104-207`. This
  * map-based codec is the driver-local API and the byte-level reference
  * for the spec-compiled [[ExampleEncoder]] / [[ExampleDecoder]] that
  * the distributed TFRecord paths use.
  *
  * Encoding detail: map entries are emitted in sorted key order so the
  * serialized form is deterministic (protobuf map order is unspecified;
  * determinism matters for golden tests and dedup on serialized records).
  */
sealed trait Feature
object Feature {
  final case class BytesList(values: Seq[Array[Byte]]) extends Feature {
    override def equals(o: Any): Boolean = o match {
      case BytesList(other) =>
        values.size == other.size &&
          values.zip(other).forall { case (a, b) => java.util.Arrays.equals(a, b) }
      case _ => false
    }
    override def hashCode(): Int = values.map(java.util.Arrays.hashCode).hashCode()
  }
  final case class FloatList(values: Seq[Float]) extends Feature
  final case class Int64List(values: Seq[Long]) extends Feature

  def bytes(vs: Seq[String]): BytesList =
    BytesList(vs.map(_.getBytes(StandardCharsets.UTF_8)))
}

object ExampleCodec {

  // ---- encoding ----

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write((v & 0x7f).toInt)
  }

  private def writeTag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    writeVarint(out, (field << 3) | wireType)

  private def writeLenDelimited(out: ByteArrayOutputStream, field: Int, payload: Array[Byte]): Unit = {
    writeTag(out, field, 2)
    writeVarint(out, payload.length.toLong)
    out.write(payload)
  }

  private def encodeFeature(f: Feature): Array[Byte] = {
    val inner = new ByteArrayOutputStream()
    f match {
      case Feature.BytesList(vs) =>
        // BytesList { repeated bytes value = 1 } — not packable
        vs.foreach(b => writeLenDelimited(inner, 1, b))
      case Feature.FloatList(vs) =>
        // packed: tag 1|LEN, then 4-byte LE floats
        if (vs.nonEmpty) {
          val buf = java.nio.ByteBuffer.allocate(4 * vs.size)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vs.foreach(buf.putFloat)
          writeLenDelimited(inner, 1, buf.array())
        }
      case Feature.Int64List(vs) =>
        if (vs.nonEmpty) {
          val packed = new ByteArrayOutputStream()
          vs.foreach(writeVarint(packed, _))
          writeLenDelimited(inner, 1, packed.toByteArray)
        }
    }
    val out = new ByteArrayOutputStream()
    val field = f match {
      case _: Feature.BytesList => 1
      case _: Feature.FloatList => 2
      case _: Feature.Int64List => 3
    }
    writeLenDelimited(out, field, inner.toByteArray)
    out.toByteArray
  }

  /** Serialize a feature map as a `tf.train.Example`. */
  def encode(features: Map[String, Feature]): Array[Byte] = {
    val featuresMsg = new ByteArrayOutputStream()
    features.toSeq.sortBy(_._1).foreach { case (name, f) =>
      val entry = new ByteArrayOutputStream()
      writeLenDelimited(entry, 1, name.getBytes(StandardCharsets.UTF_8))
      writeLenDelimited(entry, 2, encodeFeature(f))
      writeLenDelimited(featuresMsg, 1, entry.toByteArray)
    }
    val example = new ByteArrayOutputStream()
    writeLenDelimited(example, 1, featuresMsg.toByteArray)
    example.toByteArray
  }

  // ---- decoding ----

  private final class Reader(bytes: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (true) {
        val b = bytes(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      result
    }
    def readBytes(): (Int, Int) = {
      val len = readVarint().toInt
      val start = pos
      pos += len
      (start, start + len)
    }
    def slice(start: Int, stop: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, start, stop)
    def sub(start: Int, stop: Int): Reader = new Reader(bytes, start, stop)
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => pos += 8
      case 2 => val (_, stop) = readBytes(); pos = stop
      case 5 => pos += 4
      case other => throw new IllegalArgumentException(s"unsupported wire type $other")
    }
  }

  private def decodeFeature(r: Reader, bytes: Array[Byte]): Feature = {
    var result: Feature = Feature.Int64List(Nil)
    while (r.hasMore) {
      val tag = r.readVarint()
      val field = (tag >> 3).toInt
      val (start, stop) = r.readBytes()
      val inner = r.sub(start, stop)
      field match {
        case 1 =>
          val vs = Seq.newBuilder[Array[Byte]]
          while (inner.hasMore) {
            val t = inner.readVarint()
            require((t >> 3) == 1, "unexpected field in BytesList")
            val (s, e) = inner.readBytes()
            vs += inner.slice(s, e)
          }
          result = Feature.BytesList(vs.result())
        case 2 =>
          val vs = Seq.newBuilder[Float]
          while (inner.hasMore) {
            val t = inner.readVarint()
            if ((t & 7) == 2) { // packed
              val (s, e) = inner.readBytes()
              val buf = java.nio.ByteBuffer.wrap(bytes, s, e - s)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              while (buf.remaining() >= 4) vs += buf.getFloat
            } else { // unpacked fixed32
              val s = inner.pos
              val buf = java.nio.ByteBuffer.wrap(bytes, s, 4)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              vs += buf.getFloat
              inner.pos += 4
            }
          }
          result = Feature.FloatList(vs.result())
        case 3 =>
          val vs = Seq.newBuilder[Long]
          while (inner.hasMore) {
            val t = inner.readVarint()
            if ((t & 7) == 2) { // packed
              val (s, e) = inner.readBytes()
              val packed = inner.sub(s, e)
              while (packed.hasMore) vs += packed.readVarint()
            } else vs += inner.readVarint()
          }
          result = Feature.Int64List(vs.result())
        case other =>
          throw new IllegalArgumentException(s"unsupported Feature field $other")
      }
    }
    result
  }

  /** Parse a serialized `tf.train.Example` back into its feature map. */
  def decode(bytes: Array[Byte]): Map[String, Feature] = {
    val root = new Reader(bytes, 0, bytes.length)
    val features = Map.newBuilder[String, Feature]
    while (root.hasMore) {
      val tag = root.readVarint()
      if ((tag >> 3).toInt == 1 && (tag & 7) == 2) {
        val (fs, fe) = root.readBytes()
        val featuresMsg = root.sub(fs, fe)
        while (featuresMsg.hasMore) {
          val etag = featuresMsg.readVarint()
          require((etag >> 3).toInt == 1, "unexpected field in Features")
          val (es, ee) = featuresMsg.readBytes()
          val entry = featuresMsg.sub(es, ee)
          var name: String = null
          var feat: Feature = null
          while (entry.hasMore) {
            val t = entry.readVarint()
            (t >> 3).toInt match {
              case 1 =>
                val (s, e) = entry.readBytes()
                name = new String(entry.slice(s, e), StandardCharsets.UTF_8)
              case 2 =>
                val (s, e) = entry.readBytes()
                feat = decodeFeature(entry.sub(s, e), bytes)
              case _ => entry.skip((t & 7).toInt)
            }
          }
          if (name != null && feat != null) features += name -> feat
        }
      } else root.skip((tag & 7).toInt)
    }
    features.result()
  }

  /** Parse a serialized Example against a feature spec, applying reader-side
    * defaults for absent FixedLen features (the contract that lets the
    * writer omit null values when the spec carries a default —
    * `tfrecords.py:184-191` docstring).
    */
  def parseWithSpecs(bytes: Array[Byte], specs: FeatureSpec.Specs): Map[String, Any] = {
    val features = decode(bytes)
    specs.map { case (name, spec) =>
      val value: Any = (features.get(name), spec) match {
        case (Some(f), _) => featureValues(f, spec.dtype)
        case (None, FixedLenFeature(_, _, Some(default))) =>
          default match {
            case s: Seq[_] => s
            case v => Seq(v)
          }
        case (None, _: VarLenFeature) => Seq.empty
        case (None, FixedLenFeature(_, _, None)) =>
          throw new IllegalArgumentException(
            s"feature $name absent from record and spec has no default")
      }
      name -> value
    }
  }

  // ---- SequenceExample (public proto:
  //   SequenceExample { Features context = 1; FeatureLists feature_lists = 2 }
  //   FeatureLists { map<string, FeatureList> feature_list = 1 }
  //   FeatureList { repeated Feature feature = 1 } ) ----

  /** Serialize a `tf.train.SequenceExample`. */
  def encodeSequence(
      context: Map[String, Feature],
      featureLists: Map[String, Seq[Feature]]): Array[Byte] = {
    val contextMsg = new ByteArrayOutputStream()
    context.toSeq.sortBy(_._1).foreach { case (name, f) =>
      val entry = new ByteArrayOutputStream()
      writeLenDelimited(entry, 1, name.getBytes(StandardCharsets.UTF_8))
      writeLenDelimited(entry, 2, encodeFeature(f))
      writeLenDelimited(contextMsg, 1, entry.toByteArray)
    }
    val listsMsg = new ByteArrayOutputStream()
    featureLists.toSeq.sortBy(_._1).foreach { case (name, fs) =>
      val listMsg = new ByteArrayOutputStream()
      fs.foreach(f => writeLenDelimited(listMsg, 1, encodeFeature(f)))
      val entry = new ByteArrayOutputStream()
      writeLenDelimited(entry, 1, name.getBytes(StandardCharsets.UTF_8))
      writeLenDelimited(entry, 2, listMsg.toByteArray)
      writeLenDelimited(listsMsg, 1, entry.toByteArray)
    }
    val out = new ByteArrayOutputStream()
    writeLenDelimited(out, 1, contextMsg.toByteArray)
    writeLenDelimited(out, 2, listsMsg.toByteArray)
    out.toByteArray
  }

  /** Parse a serialized SequenceExample into (context, feature lists). */
  def decodeSequence(bytes: Array[Byte]): (Map[String, Feature], Map[String, Seq[Feature]]) = {
    val root = new Reader(bytes, 0, bytes.length)
    val context = Map.newBuilder[String, Feature]
    val lists = Map.newBuilder[String, Seq[Feature]]
    while (root.hasMore) {
      val tag = root.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) =>
          val (s, e) = root.readBytes()
          context ++= decodeFeatureMap(root.sub(s, e), bytes)
        case (2, 2) =>
          val (s, e) = root.readBytes()
          val listsMsg = root.sub(s, e)
          while (listsMsg.hasMore) {
            val etag = listsMsg.readVarint()
            require((etag >> 3).toInt == 1, "unexpected field in FeatureLists")
            val (es, ee) = listsMsg.readBytes()
            val entry = listsMsg.sub(es, ee)
            var name: String = null
            val fs = Seq.newBuilder[Feature]
            while (entry.hasMore) {
              val t = entry.readVarint()
              (t >> 3).toInt match {
                case 1 =>
                  val (ns, ne) = entry.readBytes()
                  name = new String(entry.slice(ns, ne), StandardCharsets.UTF_8)
                case 2 =>
                  val (ls, le) = entry.readBytes()
                  val listMsg = entry.sub(ls, le)
                  while (listMsg.hasMore) {
                    val ft = listMsg.readVarint()
                    require((ft >> 3).toInt == 1, "unexpected field in FeatureList")
                    val (fs0, fe0) = listMsg.readBytes()
                    fs += decodeFeature(listMsg.sub(fs0, fe0), bytes)
                  }
                case _ => entry.skip((t & 7).toInt)
              }
            }
            if (name != null) lists += name -> fs.result()
          }
        case (_, w) => root.skip(w)
      }
    }
    (context.result(), lists.result())
  }

  private def decodeFeatureMap(r: Reader, bytes: Array[Byte]): Map[String, Feature] = {
    val features = Map.newBuilder[String, Feature]
    while (r.hasMore) {
      val etag = r.readVarint()
      require((etag >> 3).toInt == 1, "unexpected field in Features")
      val (es, ee) = r.readBytes()
      val entry = r.sub(es, ee)
      var name: String = null
      var feat: Feature = null
      while (entry.hasMore) {
        val t = entry.readVarint()
        (t >> 3).toInt match {
          case 1 =>
            val (s, e) = entry.readBytes()
            name = new String(entry.slice(s, e), StandardCharsets.UTF_8)
          case 2 =>
            val (s, e) = entry.readBytes()
            feat = decodeFeature(entry.sub(s, e), bytes)
          case _ => entry.skip((t & 7).toInt)
        }
      }
      if (name != null && feat != null) features += name -> feat
    }
    features.result()
  }

  /** Feature payload as spec-typed values (int32/float64/string narrowing
    * per the dtype).
    */
  def featureValues(f: Feature, dtype: FeatureDType): Seq[Any] = f match {
    case Feature.Int64List(vs) =>
      if (dtype == FeatureDType.Int32) vs.map(_.toInt) else vs
    case Feature.FloatList(vs) =>
      if (dtype == FeatureDType.Float64) vs.map(_.toDouble) else vs
    case Feature.BytesList(vs) =>
      if (dtype.isString) vs.map(new String(_, StandardCharsets.UTF_8)) else vs
  }
}
