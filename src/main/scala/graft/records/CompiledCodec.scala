package graft.records

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.types._

/** Growable byte buffer with the protobuf wire primitives the compiled
  * Example codec writes. Reused across records: `size = 0` empties it.
  */
private[records] final class ByteSink(initial: Int) {
  var bytes: Array[Byte] = new Array[Byte](initial)
  var size: Int = 0

  def ensure(extra: Int): Unit =
    if (size + extra > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, size + extra))

  def byte(b: Int): Unit = {
    ensure(1)
    bytes(size) = b.toByte
    size += 1
  }

  def varint(v0: Long): Unit = {
    ensure(10)
    val b = bytes
    var i = size
    var v = v0
    while ((v & ~0x7fL) != 0) {
      b(i) = ((v & 0x7f) | 0x80).toByte
      i += 1
      v >>>= 7
    }
    b(i) = v.toByte
    size = i + 1
  }

  /** Little-endian IEEE bits, as `ByteBuffer.putFloat` writes them. */
  def float(f: Float): Unit = {
    ensure(4)
    val b = java.lang.Float.floatToRawIntBits(f)
    bytes(size) = b.toByte
    bytes(size + 1) = (b >>> 8).toByte
    bytes(size + 2) = (b >>> 16).toByte
    bytes(size + 3) = (b >>> 24).toByte
    size += 4
  }

  def append(src: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(src, off, bytes, size, len)
    size += len
  }

  def append(s: UTF8String): Unit = {
    val len = s.numBytes()
    ensure(len)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET.toLong + size)
    size += len
  }

  def zeros(n: Int): Unit = {
    ensure(n)
    java.util.Arrays.fill(bytes, size, size + n, 0.toByte)
    size += n
  }
}

private[records] object ByteSink {
  def varintSize(v: Long): Int =
    if (v == 0) 1 else (63 - java.lang.Long.numberOfLeadingZeros(v)) / 7 + 1

  /** Whether `b(from until until)` is all ASCII, so valid UTF-8 without
    * a full validation; eight bytes per step.
    */
  def isAscii(b: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i + 8 <= until) {
      if ((Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET.toLong + i) & 0x8080808080808080L) != 0)
        return false
      i += 8
    }
    while (i < until) {
      if (b(i) < 0) return false
      i += 1
    }
    true
  }
}

/** Row → `tf.train.Example` encoder compiled once from (schema, specs).
  *
  * Features are sorted by name (the order [[ExampleCodec.encode]] emits)
  * and each one's key bytes, column ordinal and value access are resolved
  * here, so a record is encoded with typed `InternalRow` accessors into
  * one reused buffer: no `Row`, no per-record map, no [[Feature]]
  * objects. The output is byte-identical to
  * `ExampleCodec.encode(TfRecords.toFeatures(...))`.
  *
  * The row→Example rules live in the companion ([[ExampleEncoder.feature]],
  * pinned by `tests/tensorflow/protobuf_examples.py:9-146`). The typed
  * path handles the cases that cannot fail (a null or empty value, a
  * shape-conforming list of a spec-compatible type); every other value,
  * and every column whose Spark type has no typed accessor, goes through
  * those rules on its Scala value, so shape and dtype errors keep their
  * messages.
  */
final class ExampleEncoder private (slots: Array[ExampleEncoder.Slot]) {
  import ExampleEncoder._

  // one record: HeaderRoom reserved bytes, then the Features entries;
  // `finish` writes the Example header right-aligned into the room
  private val out = new ByteSink(256)

  /** Encode `row` and append it to `writer` as one TFRecord. */
  def write(row: InternalRow, writer: TfRecordIO.Writer): Unit = {
    out.size = HeaderRoom
    var i = 0
    while (i < slots.length) {
      slots(i).encode(row, this)
      i += 1
    }
    val start = finish()
    writer.write(out.bytes, start, out.size - start)
  }

  /** Serialize one record given as Scala values by feature name (absent
    * names are null).
    */
  def encode(values: collection.Map[String, Any]): Array[Byte] = {
    out.size = HeaderRoom
    slots.foreach(s => feature(values.getOrElse(s.name, null), s.spec).foreach(entry(s, _)))
    val start = finish()
    java.util.Arrays.copyOfRange(out.bytes, start, out.size)
  }

  private def finish(): Int = {
    val len = out.size - HeaderRoom
    val start = HeaderRoom - 1 - ByteSink.varintSize(len)
    val end = out.size
    out.size = start
    out.byte(0x0a) // Example.features
    out.varint(len)
    out.size = end
    start
  }

  /** Start `slot`'s Features entry: leave room for its header, sized for
    * one-byte lengths, and return where the entry starts.
    */
  private def open(slot: Slot): Int = {
    val start = out.size
    out.ensure(slot.headerRoom)
    out.size += slot.headerRoom
    start
  }

  /** Finish the entry opened at `start`, whose `n` list values follow the
    * header room: write the header, moving the values when its lengths
    * take other than one byte each. Int64/Float lists are packed (one
    * length-prefixed field 1, omitted when empty); BytesList values are
    * fields already.
    */
  private def close(slot: Slot, start: Int, n: Int): Unit = {
    val from = start + slot.headerRoom
    val content = out.size - from
    val packed = slot.field != BytesField && n > 0
    val list = if (packed) 1 + ByteSink.varintSize(content) + content else content
    val feature = 1 + ByteSink.varintSize(list) + list
    val entry = slot.key.length + 1 + ByteSink.varintSize(feature) + feature
    val header = 1 + ByteSink.varintSize(entry) + entry - content
    if (header != slot.headerRoom) {
      out.ensure(header - slot.headerRoom)
      System.arraycopy(out.bytes, from, out.bytes, start + header, content)
    }
    out.size = start
    out.byte(0x0a) // Features.feature entry
    out.varint(entry)
    out.append(slot.key, 0, slot.key.length)
    out.byte(0x12) // entry value
    out.varint(feature)
    out.byte(slot.field << 3 | 2)
    out.varint(list)
    if (packed) {
      out.byte(0x0a)
      out.varint(content)
    }
    out.size = start + header + content
  }

  private def entry(slot: Slot, f: Feature): Unit = {
    val start = open(slot)
    val n = f match {
      case Feature.Int64List(vs) => vs.foreach(out.varint); vs.size
      case Feature.FloatList(vs) => vs.foreach(out.float); vs.size
      case Feature.BytesList(vs) => vs.foreach(bytesValue); vs.size
    }
    close(slot, start, n)
  }

  private def bytesValue(b: Array[Byte]): Unit = {
    out.byte(0x0a)
    out.varint(b.length)
    out.append(b, 0, b.length)
  }

  /** The null/empty rule: omit when the spec restores a default or is
    * VarLen, else fill the FixedLen shape with the type's zero value.
    */
  private def missing(slot: Slot): Unit =
    if (slot.fixedLen >= 0 && !slot.hasDefault) {
      val start = open(slot)
      val n = slot.fixedLen
      slot.field match {
        case Int64Field => out.zeros(n) // varint 0 is one zero byte
        case FloatField => out.zeros(4 * n) // 0.0f is four zero bytes
        case _ => for (_ <- 0 until n) { out.byte(0x0a); out.byte(0) } // "" values
      }
      close(slot, start, n)
    }

  private def generic(slot: Slot, row: InternalRow): Unit =
    feature(slot.toScala(row.get(slot.ordinal, slot.dataType)), slot.spec).foreach(entry(slot, _))

  /** Append value `i` of `g` (a row or an array); false when the value
    * needs the generic rules instead.
    */
  private def value(slot: Slot, g: SpecializedGetters, i: Int): Boolean = {
    slot.access match {
      case IntAsInt64 => out.varint(g.getInt(i).toLong)
      case LongAsInt64 => out.varint(g.getLong(i))
      case FloatAsFloat => out.float(g.getFloat(i))
      case DoubleAsFloat => out.float(g.getDouble(i).toFloat)
      case IntAsFloat => out.float(g.getInt(i).toFloat)
      case LongAsFloat => out.float(g.getLong(i).toFloat)
      case StringAsBytes =>
        val s = g.getUTF8String(i)
        out.byte(0x0a)
        out.varint(s.numBytes())
        val at = out.size
        out.append(s)
        // malformed UTF-8 is written as its Java string re-encodes it
        if (!ByteSink.isAscii(out.bytes, at, out.size) && !s.isValid) return false
      case BinaryAsBytes => bytesValue(g.getBinary(i))
    }
    true
  }

  private def encodeScalar(slot: Slot, row: InternalRow): Unit = {
    val start = open(slot)
    // a scalar fits VarLen and one-value FixedLen shapes; the rules
    // raise the shape error otherwise
    if ((slot.fixedLen == -1 || slot.fixedLen == 1) && value(slot, row, slot.ordinal))
      close(slot, start, 1)
    else {
      out.size = start
      generic(slot, row)
    }
  }

  private def encodeArray(slot: Slot, row: InternalRow): Unit = {
    val a = row.getArray(slot.ordinal)
    val n = a.numElements()
    if (n == 0 && slot.fixedLen >= 0) return missing(slot)
    if (slot.fixedLen >= 0 && n != slot.fixedLen) return generic(slot, row) // shape error
    val start = open(slot)
    var i = 0
    while (i < n) {
      // a null element is the rules' dtype error
      if (a.isNullAt(i) || !value(slot, a, i)) {
        out.size = start
        return generic(slot, row)
      }
      i += 1
    }
    close(slot, start, n)
  }
}

object ExampleEncoder {

  private final val HeaderRoom = 6 // Example tag + the longest varint of an Int length
  private final val BytesField = 1
  private final val FloatField = 2
  private final val Int64Field = 3

  // typed accessors: (column type, spec kind) pairs the rules accept
  private final val Generic = 0
  private final val IntAsInt64 = 1
  private final val LongAsInt64 = 2
  private final val FloatAsFloat = 3
  private final val DoubleAsFloat = 4
  private final val IntAsFloat = 5
  private final val LongAsFloat = 6
  private final val StringAsBytes = 7
  private final val BinaryAsBytes = 8

  private def accessFor(dt: DataType, dtype: FeatureDType): Int = (dt, dtype) match {
    case (IntegerType, d) if d.isInteger => IntAsInt64
    case (LongType, d) if d.isInteger => LongAsInt64
    case (FloatType, d) if d.isFloating => FloatAsFloat
    case (DoubleType, d) if d.isFloating => DoubleAsFloat
    case (IntegerType, d) if d.isFloating => IntAsFloat
    case (LongType, d) if d.isFloating => LongAsFloat
    case (_: StringType, d) if !d.isInteger && !d.isFloating => StringAsBytes
    case (BinaryType, d) if !d.isInteger && !d.isFloating => BinaryAsBytes
    case _ => Generic
  }

  /** One feature of the compiled plan. `ordinal` is -1 when the schema
    * has no such column (the value is then null).
    */
  private[records] final class Slot(
      val name: String, val spec: FeatureSpec, val ordinal: Int, val dataType: DataType) {
    val key: Array[Byte] = {
      val b = new ByteSink(name.length + 6)
      val utf8 = name.getBytes(StandardCharsets.UTF_8)
      b.byte(0x0a)
      b.varint(utf8.length)
      b.append(utf8, 0, utf8.length)
      java.util.Arrays.copyOf(b.bytes, b.size)
    }
    val field: Int =
      if (spec.dtype.isInteger) Int64Field else if (spec.dtype.isFloating) FloatField else BytesField
    /** Entry header bytes when every length fits one byte: entry tag and
      * length, key, value tag and length, list tag and length, and for
      * Int64/Float lists the packed field's tag and length.
      */
    val headerRoom: Int = key.length + (if (field == BytesField) 6 else 8)
    /** Expected value count of a FixedLen spec, -1 for VarLen. */
    val fixedLen: Int = spec match {
      case f: FixedLenFeature => f.shape.headOption.getOrElse(1)
      case _: VarLenFeature => -1
    }
    val hasDefault: Boolean = spec match {
      case f: FixedLenFeature => f.defaultValue.isDefined
      case _: VarLenFeature => false
    }
    private val isArray = dataType.isInstanceOf[ArrayType]
    val access: Int =
      if (dataType == null) Generic
      else accessFor(dataType match {
        case ArrayType(elem, _) => elem
        case other => other
      }, spec.dtype)
    lazy val toScala: Any => Any = CatalystTypeConverters.createToScalaConverter(dataType)

    def encode(row: InternalRow, enc: ExampleEncoder): Unit =
      if (ordinal < 0 || row.isNullAt(ordinal)) enc.missing(this)
      else if (access == Generic) enc.generic(this, row)
      else if (isArray) enc.encodeArray(this, row)
      else enc.encodeScalar(this, row)
  }

  /** Encoder for rows of `schema`; spec features without a column are
    * encoded as null.
    */
  def apply(schema: StructType, specs: FeatureSpec.Specs): ExampleEncoder =
    new ExampleEncoder(specs.toSeq.sortBy(_._1).map { case (name, spec) =>
      if (schema.fieldNames.contains(name)) {
        val i = schema.fieldIndex(name)
        new Slot(name, spec, i, schema(i).dataType)
      } else new Slot(name, spec, -1, null)
    }.toArray)

  /** Encoder for the name → value map API ([[encode]]). */
  def apply(specs: FeatureSpec.Specs): ExampleEncoder = apply(new StructType(), specs)

  // ---- the row → Example rules (reference `to_tf_proto`, tfrecords.py:135-207) ----

  private def typeDefault(spec: FixedLenFeature): Seq[Any] = {
    val value: Any =
      if (spec.dtype.isInteger) 0L
      else if (spec.dtype.isFloating) 0.0f
      else if (spec.dtype.isString) ""
      else throw new IllegalArgumentException(s"No default value for type ${spec.dtype}")
    Seq.fill(spec.shape.headOption.getOrElse(1))(value)
  }

  private[records] def asList(value: Any): Seq[Any] = value match {
    case s: collection.Seq[_] => s.toSeq
    case a: Array[Byte] => Seq(a)
    case a: Array[_] => a.toSeq
    case v => Seq(v)
  }

  /** Reference `_preprocess_feature_value` (tfrecords.py:135-159):
    *   - an empty list is treated as null for FixedLen specs;
    *   - null + spec default → None: the feature is omitted (the same
    *     spec fills the default back at read time);
    *   - null + no default → a type-derived zero/"" filling the shape;
    *   - VarLen: null → None; an empty list stays present and empty.
    */
  private def preprocessValue(value: Any, spec: FeatureSpec): Option[Seq[Any]] = {
    val v0 = spec match {
      case f: FixedLenFeature =>
        val emptied = value match {
          case s: collection.Seq[_] if s.isEmpty => null
          case a: Array[_] if a.isEmpty && !value.isInstanceOf[Array[Byte]] => null
          case other => other
        }
        if (emptied == null) {
          if (f.defaultValue.isDefined) null
          else typeDefault(f)
        } else emptied
      case _: VarLenFeature => value
    }
    Option(v0).map(asList)
  }

  /** Reference `_value_to_feature` (tfrecords.py:162-181): strict per-value
    * dtype validation.
    */
  private[records] def valueToFeature(values: Seq[Any], spec: FeatureSpec): Feature =
    if (spec.dtype.isInteger) {
      Feature.Int64List(values.map {
        case i: Int => i.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"$other in $values is not integer as required by $spec")
      })
    } else if (spec.dtype.isFloating) {
      Feature.FloatList(values.map {
        case f: Float => f
        case d: Double => d.toFloat
        case i: Int => i.toFloat
        case l: Long => l.toFloat
        case other => throw new IllegalArgumentException(
          s"$other in $values is not a number as required by $spec")
      })
    } else {
      Feature.BytesList(values.map {
        case s: String => s.getBytes("UTF-8")
        case b: Array[Byte] => b
        case other => throw new IllegalArgumentException(
          s"$other in $values is not str or bytes as required by $spec")
      })
    }

  /** The feature one value encodes to under `spec`, or None when it is
    * omitted; FixedLen values must match the declared shape.
    */
  private[records] def feature(value: Any, spec: FeatureSpec): Option[Feature] =
    preprocessValue(value, spec).map { values =>
      spec match {
        case f: FixedLenFeature =>
          val expected = f.shape.headOption.getOrElse(1)
          if (values.length != expected)
            throw new IllegalArgumentException(
              s"value $values does not correspond to expected shape in spec $spec")
        case _ =>
      }
      valueToFeature(values, spec)
    }
}

/** `tf.train.Example` → `InternalRow` decoder compiled once from a read
  * schema and its specs (the `tfrecord` source's mapping: FixedLen with
  * an empty shape is a scalar column, anything else an array column).
  *
  * Values land straight in the row: primitives, `UTF8String`s over the
  * record bytes, primitive `UnsafeArrayData` and `GenericArrayData` of
  * strings, with no [[Feature]], map or Scala row in between. Wire
  * handling follows [[ExampleCodec.decode]]: packed and unpacked
  * Int64/Float lists, unknown fields skipped, features the schema does
  * not read ignored, and the later of two entries with one name wins.
  * Int32/Float64 columns narrow/widen the wire values; an absent feature
  * is null in a nullable column and an error otherwise.
  */
final class ExampleDecoder(schema: StructType, specs: FeatureSpec.Specs) {
  import ExampleDecoder._

  private val fields = schema.fields
  private val dtypes = fields.map(f => specs(f.name).dtype)
  private val scalar = fields.map(f => specs(f.name) match {
    case FixedLenFeature(shape, _, _) => shape.isEmpty
    case _: VarLenFeature => false
  })
  // distinct names in sorted order (the order writers emit), each with
  // the columns it fills
  private val (names, columnsOf) = {
    val byName = fields.indices.groupBy(i => fields(i).name).toSeq.sortBy(_._1)
    (byName.map(_._1.getBytes(StandardCharsets.UTF_8)).toArray,
      byName.map(_._2.toArray).toArray)
  }
  private var hint = 0

  // the record being parsed, and the last parsed feature's values
  private var bytes: Array[Byte] = _
  private var pos = 0
  private var kind = 0
  private var count = 0
  private var longs = new Array[Long](16)
  private var floats = new Array[Float](16)
  private var spans = new Array[Int](32) // (start, end) of each bytes value

  /** One Example as a row of `schema`. */
  def decode(record: Array[Byte]): InternalRow = {
    bytes = record
    val values = new Array[Any](fields.length)
    java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], Absent)
    pos = 0
    while (pos < record.length) {
      val tag = varint()
      if ((tag >> 3).toInt == 1 && (tag & 7) == 2) {
        val len = varint().toInt
        val end = pos + len
        features(end, values)
        pos = end
      } else skip((tag & 7).toInt)
    }
    var c = 0
    while (c < values.length) {
      if (values(c).asInstanceOf[AnyRef] eq Absent) {
        if (fields(c).nullable) values(c) = null
        else throw new IllegalArgumentException(
          s"feature ${fields(c).name} absent and column is not nullable")
      }
      c += 1
    }
    bytes = null
    new GenericInternalRow(values)
  }

  private def features(end: Int, values: Array[Any]): Unit =
    while (pos < end) {
      val etag = varint()
      require((etag >> 3).toInt == 1, "unexpected field in Features")
      val len = varint().toInt
      val entryEnd = pos + len
      var nameStart, nameEnd, featStart, featEnd = -1
      while (pos < entryEnd) {
        val t = varint()
        (t >> 3).toInt match {
          case 1 =>
            val l = varint().toInt
            nameStart = pos; nameEnd = pos + l; pos = nameEnd
          case 2 =>
            val l = varint().toInt
            featStart = pos; featEnd = pos + l; pos = featEnd
          case _ => skip((t & 7).toInt)
        }
      }
      if (nameStart >= 0 && featStart >= 0) {
        val k = lookup(nameStart, nameEnd)
        if (k >= 0) {
          feature(featStart, featEnd)
          val cols = columnsOf(k)
          var i = 0
          while (i < cols.length) {
            values(cols(i)) = value(cols(i))
            i += 1
          }
        }
      }
      pos = entryEnd
    }

  private def lookup(start: Int, end: Int): Int = {
    var tried = 0
    var i = hint
    while (tried < names.length) {
      if (i == names.length) i = 0
      val n = names(i)
      if (java.util.Arrays.equals(bytes, start, end, n, 0, n.length)) {
        hint = i + 1
        return i
      }
      i += 1
      tried += 1
    }
    -1
  }

  /** Parse one Feature message into `kind`/`count` and the value buffers
    * (the last oneof field wins, as in [[ExampleCodec.decode]]).
    */
  private def feature(start: Int, end: Int): Unit = {
    kind = Int64Kind // a Feature with no list reads as an empty Int64List
    count = 0
    pos = start
    while (pos < end) {
      val field = (varint() >> 3).toInt
      val listEnd = varint().toInt + pos
      count = 0
      field match {
        case 1 =>
          kind = BytesKind
          while (pos < listEnd) {
            require((varint() >> 3) == 1, "unexpected field in BytesList")
            val l = varint().toInt
            if (2 * count + 2 > spans.length) spans = java.util.Arrays.copyOf(spans, spans.length * 2)
            spans(2 * count) = pos
            spans(2 * count + 1) = pos + l
            count += 1
            pos += l
          }
        case 2 =>
          kind = FloatKind
          while (pos < listEnd) {
            if ((varint() & 7) == 2) { // packed
              val l = varint().toInt
              var p = pos
              pos += l
              while (pos - p >= 4) { addFloat(p); p += 4 }
            } else { // unpacked fixed32
              addFloat(pos)
              pos += 4
            }
          }
        case 3 =>
          kind = Int64Kind
          while (pos < listEnd) {
            if ((varint() & 7) == 2) { // packed
              val packedEnd = varint().toInt + pos
              while (pos < packedEnd) addLong(varint())
              pos = packedEnd
            } else addLong(varint())
          }
        case other =>
          throw new IllegalArgumentException(s"unsupported Feature field $other")
      }
      pos = listEnd
    }
  }

  private def addLong(v: Long): Unit = {
    if (count == longs.length) longs = java.util.Arrays.copyOf(longs, count * 2)
    longs(count) = v
    count += 1
  }

  private def addFloat(at: Int): Unit = {
    if (count == floats.length) floats = java.util.Arrays.copyOf(floats, count * 2)
    floats(count) = java.lang.Float.intBitsToFloat(
      (bytes(at) & 0xff) | (bytes(at + 1) & 0xff) << 8 |
        (bytes(at + 2) & 0xff) << 16 | (bytes(at + 3) & 0xff) << 24)
    count += 1
  }

  private def utf8(i: Int): UTF8String = {
    val s = spans(2 * i)
    val len = spans(2 * i + 1) - s
    val u = UTF8String.fromBytes(bytes, s, len)
    // malformed UTF-8 is replaced as a Java String decode replaces it
    if (ByteSink.isAscii(bytes, s, s + len) || u.isValid) u
    else UTF8String.fromString(new String(bytes, s, len, StandardCharsets.UTF_8))
  }

  /** Column `c`'s value from the last parsed feature. */
  private def value(c: Int): Any = {
    val dtype = dtypes(c)
    val expected =
      if (dtype.isInteger) Int64Kind else if (dtype.isFloating) FloatKind else BytesKind
    val name = fields(c).name
    if (count > 0 && kind != expected)
      throw new IllegalArgumentException(
        s"feature $name holds ${KindNames(kind)} values but column $name reads $dtype")
    if (scalar(c)) {
      if (count == 0)
        throw new NoSuchElementException(s"feature $name has no value for scalar column $name")
      dtype match {
        case FeatureDType.Int64 => longs(0)
        case FeatureDType.Int32 => longs(0).toInt
        case FeatureDType.Float32 => floats(0)
        case FeatureDType.Float64 => floats(0).toDouble
        case FeatureDType.TfString => utf8(0)
      }
    } else {
      val n = count
      dtype match {
        case FeatureDType.Int64 =>
          UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(longs, n))
        case FeatureDType.Int32 =>
          UnsafeArrayData.fromPrimitiveArray(Array.tabulate(n)(i => longs(i).toInt))
        case FeatureDType.Float32 =>
          UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(floats, n))
        case FeatureDType.Float64 =>
          UnsafeArrayData.fromPrimitiveArray(Array.tabulate(n)(i => floats(i).toDouble))
        case FeatureDType.TfString =>
          new GenericArrayData(Array.tabulate[Any](n)(utf8)): ArrayData
      }
    }
  }

  private def varint(): Long = {
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

  private def skip(wireType: Int): Unit = wireType match {
    case 0 => varint()
    case 1 => pos += 8
    case 2 => val l = varint().toInt; pos += l
    case 5 => pos += 4
    case other => throw new IllegalArgumentException(s"unsupported wire type $other")
  }
}

object ExampleDecoder {
  private final val BytesKind = 1
  private final val FloatKind = 2
  private final val Int64Kind = 3
  private val KindNames = Array("", "bytes_list", "float_list", "int64_list")
  private val Absent = new Object
}
