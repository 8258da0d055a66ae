package graft.records

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.util.zip.{CRC32C, GZIPInputStream, GZIPOutputStream}

/** TFRecord container format (public spec, tensorflow/core/lib/io/
  * record_writer.h): each record is
  *
  *   uint64 length (LE) · uint32 masked-crc32c(length) ·
  *   bytes data[length] · uint32 masked-crc32c(data)
  *
  * with crc masking `((crc >> 15) | (crc << 17)) + 0xa282ead8`.
  * CRC32C comes from `java.util.zip.CRC32C`. GZIP compression wraps the
  * whole stream (the reference's `TFRecordCompressionType.GZIP`).
  */
object TfRecordIO {

  private val MaskDelta = 0xa282ead8L

  private def maskedCrc(crc: CRC32C, bytes: Array[Byte], off: Int, len: Int): Int = {
    crc.reset()
    crc.update(bytes, off, len)
    val v = crc.getValue
    ((((v >>> 15) | (v << 17)) + MaskDelta) & 0xffffffffL).toInt
  }

  private def putIntLE(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = v.toByte
    b(at + 1) = (v >>> 8).toByte
    b(at + 2) = (v >>> 16).toByte
    b(at + 3) = (v >>> 24).toByte
  }

  private def getIntLE(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | (b(at + 1) & 0xff) << 8 | (b(at + 2) & 0xff) << 16 | (b(at + 3) & 0xff) << 24

  private val BufferSize = 1 << 16

  // Writer and Reader reuse their framing arrays and CRC for every record
  final class Writer(raw: OutputStream, gzip: Boolean) extends AutoCloseable {
    private val out =
      if (gzip) new BufferedOutputStream(new GZIPOutputStream(raw, BufferSize), BufferSize)
      else new BufferedOutputStream(raw, BufferSize)
    private val header = new Array[Byte](12)
    private val footer = new Array[Byte](4)
    private val crc = new CRC32C()
    private var written = 0L

    /** Records written so far. */
    def count: Long = written

    def write(record: Array[Byte]): Unit = write(record, 0, record.length)

    def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
      putIntLE(header, 0, len)
      putIntLE(header, 4, 0)
      putIntLE(header, 8, maskedCrc(crc, header, 0, 8))
      out.write(header)
      out.write(bytes, off, len)
      putIntLE(footer, 0, maskedCrc(crc, bytes, off, len))
      out.write(footer)
      written += 1
    }

    override def close(): Unit = out.close()
  }

  final class Reader(raw: InputStream, gzip: Boolean) extends Iterator[Array[Byte]] with AutoCloseable {
    private val in =
      if (gzip) new BufferedInputStream(new GZIPInputStream(raw, BufferSize), BufferSize)
      else new BufferedInputStream(raw, BufferSize)
    private val header = new Array[Byte](12)
    private val crc = new CRC32C()
    private var nextRecord: Array[Byte] = _
    private var finished = false

    private def readFully(buf: Array[Byte], n: Int): Unit = {
      var off = 0
      while (off < n) {
        val read = in.read(buf, off, n - off)
        if (read < 0) {
          if (off == 0) throw new EOFException()
          else throw new EOFException(s"truncated record: $off of $n bytes")
        }
        off += read
      }
    }

    /** Reads the 12-byte header, or returns false on a clean EOF exactly
      * at a record boundary. EOF anywhere else is a torn record and must
      * fail the task (TF raises DataLossError here) — silently truncating
      * would shorten the dataset, compounding any orphan-partial-file
      * problem.
      */
    private def readHeaderOrEof(): Boolean = {
      val first = in.read(header, 0, 12)
      if (first < 0) return false
      var off = first
      while (off < 12) {
        val read = in.read(header, off, 12 - off)
        if (read < 0) throw new EOFException(s"truncated record header: $off of 12 bytes")
        off += read
      }
      true
    }

    private def advance(): Unit =
      if (!readHeaderOrEof()) {
        finished = true
        in.close()
      } else {
        val len = (getIntLE(header, 0) & 0xffffffffL) | (getIntLE(header, 4).toLong << 32)
        require(getIntLE(header, 8) == maskedCrc(crc, header, 0, 8),
          "corrupt TFRecord: length crc mismatch")
        val data = new Array[Byte](len.toInt)
        readFully(data, data.length)
        readFully(header, 4)
        require(getIntLE(header, 0) == maskedCrc(crc, data, 0, data.length),
          "corrupt TFRecord: data crc mismatch")
        nextRecord = data
      }

    advance()

    def hasNext: Boolean = !finished
    def next(): Array[Byte] = {
      val r = nextRecord
      advance()
      r
    }
    override def close(): Unit = in.close()
  }
}
