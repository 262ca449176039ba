package graft.scbf

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

/**
 * Decoded utf8 column in Arrow varchar layout: `offsets` has count+1
 * entries; value i is `blob[offsets(i) until offsets(i+1))`. Kept raw so
 * Spark can build `UTF8String.fromBytes(blob, a, b-a)` zero-copy slices.
 */
final case class Utf8Raw(offsets: Array[Int], blob: Array[Byte]) {
  def count: Int = offsets.length - 1
  def string(i: Int): String =
    new String(blob, offsets(i), offsets(i + 1) - offsets(i), StandardCharsets.UTF_8)
}

/**
 * SCBF reader over a random-access abstraction. Mirrors the reference
 * read path (reference: reader.py:17-133): parse header, parse metadata,
 * then seek straight to — and decompress — only the requested columns'
 * blocks. That selective read is the format's entire performance story
 * (reference: SPEC.md:101-108).
 *
 * All `*_uncomp_size` metadata fields are ignored: reference-written
 * files carry a clobbered utf8 `str_uncomp_size` (reference:
 * writer.py:208-209 patches the wrong field), so true sizes are always
 * derived from `count` or the offsets array, exactly as the reference
 * reader does (reference: reader.py:75-109).
 */
object ScbfReader {

  /** Minimal random-access input so the codec stays independent of the
   * filesystem (local NIO channel, Hadoop FSDataInputStream, byte array
   * for tests all adapt trivially). */
  trait RandomInput extends AutoCloseable {
    def readFully(offset: Long, length: Int): Array[Byte]
  }

  final class ByteArrayInput(bytes: Array[Byte]) extends RandomInput {
    def readFully(offset: Long, length: Int): Array[Byte] = {
      if (length < 0)
        throw new ScbfFormatException(s"negative read length $length")
      if (offset < 0 || offset + length > bytes.length)
        throw new ScbfFormatException(
          s"Truncated file: need bytes [$offset, ${offset + length}) of ${bytes.length}")
      val out = new Array[Byte](length)
      System.arraycopy(bytes, offset.toInt, out, 0, length)
      out
    }
    def close(): Unit = ()
  }

  final class ChannelInput(ch: java.nio.channels.SeekableByteChannel) extends RandomInput {
    def readFully(offset: Long, length: Int): Array[Byte] = {
      if (length < 0 || offset < 0)
        throw new ScbfFormatException(s"invalid read [$offset, +$length)")
      if (offset + length > ch.size())
        throw new ScbfFormatException(
          s"Truncated file: need bytes [$offset, ${offset + length}) of ${ch.size()}")
      val buf = ByteBuffer.allocate(length)
      ch.position(offset)
      while (buf.hasRemaining) {
        if (ch.read(buf) < 0)
          throw new ScbfFormatException(s"EOF at ${ch.position()} reading $length bytes @$offset")
      }
      buf.array()
    }
    def close(): Unit = ch.close()
  }

  def open(path: String): RandomInput =
    new ChannelInput(java.nio.file.Files.newByteChannel(java.nio.file.Paths.get(path)))

  /** Parse the fixed header + schema JSON (reference: reader.py:17-35). */
  def readHeader(in: RandomInput): ScbfHeader = {
    // magic(8) + schemaLen(4); then a second read once the length is known.
    val head = ByteBuffer.wrap(in.readFully(0, 12)).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](8)
    head.get(magic)
    if (!java.util.Arrays.equals(magic, Scbf.Magic))
      throw new ScbfFormatException("Invalid file format: bad magic") // reference: reader.py:24-25
    val schemaLen = head.getInt
    if (schemaLen < 0 || schemaLen > (1 << 26))
      throw new ScbfFormatException(s"Implausible schema_len $schemaLen")
    val rest = ByteBuffer.wrap(in.readFully(12, schemaLen + 4 + 8 + 8))
      .order(ByteOrder.LITTLE_ENDIAN)
    val schemaBytes = new Array[Byte](schemaLen)
    rest.get(schemaBytes)
    val schema = ScbfSchema.fromJson(new String(schemaBytes, StandardCharsets.UTF_8))
    val numColumns = rest.getInt
    val totalRows = rest.getLong
    val metaOffset = rest.getLong
    ScbfHeader(schema, numColumns, totalRows, metaOffset)
  }

  /** Parse the column metadata table (reference: reader.py:37-73).
   * Entries are variable-size, so reads proceed in bounded chunks grown
   * on demand — NEVER metadata-offset-to-EOF, which would drag every
   * data block through the input and defeat selective reads (caught by
   * SelectiveReadSpec's bytes-read counter). */
  def readMeta(in: RandomInput, header: ScbfHeader, fileLen: Long): Seq[ColumnMeta] = {
    if (header.metaTableOffset < 0 || header.metaTableOffset > fileLen)
      throw new ScbfFormatException(
        s"metadata offset ${header.metaTableOffset} outside file of $fileLen bytes")
    if (header.numColumns < 0)
      throw new ScbfFormatException(s"negative column count ${header.numColumns}")
    val available = fileLen - header.metaTableOffset
    var chunk = math.min(available, 16384L).toInt
    var buf = ByteBuffer.wrap(in.readFully(header.metaTableOffset, chunk))
      .order(ByteOrder.LITTLE_ENDIAN)
    def ensure(n: Int): Unit = {
      if (buf.remaining() < n) {
        val pos = buf.position()
        val needed = pos.toLong + n
        var newChunk = math.max(chunk.toLong * 2, needed)
        newChunk = math.min(newChunk, available)
        if (newChunk < needed)
          throw new ScbfFormatException("Truncated metadata table")
        chunk = newChunk.toInt
        buf = ByteBuffer.wrap(in.readFully(header.metaTableOffset, chunk))
          .order(ByteOrder.LITTLE_ENDIAN)
        buf.position(pos)
      }
    }
    (0 until header.numColumns).map { _ =>
      ensure(2)
      val nameLen = buf.getShort & 0xffff
      ensure(nameLen + 1 + 8)
      val nameBytes = new Array[Byte](nameLen)
      buf.get(nameBytes)
      val name = new String(nameBytes, StandardCharsets.UTF_8)
      val tpe = ScbfType.fromCode(buf.get & 0xff) // reference: reader.py:71-72 on unknown
      val count = buf.getLong
      tpe match {
        case ScbfType.Int32 | ScbfType.Float64 =>
          ensure(24)
          ColumnMeta(name, tpe, count,
            BlockMeta(buf.getLong, buf.getLong, buf.getLong), None)
        case ScbfType.Utf8 =>
          ensure(48)
          ColumnMeta(name, tpe, count,
            BlockMeta(buf.getLong, buf.getLong, buf.getLong),
            Some(BlockMeta(buf.getLong, buf.getLong, buf.getLong)))
      }
    }
  }

  def readIntColumn(in: RandomInput, meta: ColumnMeta): Array[Int] = {
    val raw = inflate(in.readFully(meta.data.offset, checkedInt(meta.data.compSize)),
      checkedInt(meta.count * 4))
    val buf = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Int](meta.count.toInt)
    buf.asIntBuffer().get(out)
    out
  }

  def readDoubleColumn(in: RandomInput, meta: ColumnMeta): Array[Double] = {
    val raw = inflate(in.readFully(meta.data.offset, checkedInt(meta.data.compSize)),
      checkedInt(meta.count * 8))
    val out = new Array[Double](meta.count.toInt)
    ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
    out
  }

  def readUtf8Column(in: RandomInput, meta: ColumnMeta): Utf8Raw = {
    val offRaw = inflate(in.readFully(meta.data.offset, checkedInt(meta.data.compSize)),
      checkedInt((meta.count + 1) * 4))
    val offsets = new Array[Int](meta.count.toInt + 1)
    ByteBuffer.wrap(offRaw).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer().get(offsets)
    // Offsets are u32 in the spec but live in a signed Int array here: a
    // blob ≥ 2 GiB (legal per SPEC.md, writable by the reference) would
    // wrap negative and slice garbage. Validate instead of misreading.
    var i = 0
    while (i < offsets.length) {
      if (offsets(i) < 0 || (i > 0 && offsets(i) < offsets(i - 1)))
        throw new ScbfFormatException(
          s"utf8 column '${meta.name}': offset ${offsets(i).toLong & 0xffffffffL} at " +
            s"index $i is ${if (offsets(i) < 0) "≥ 2 GiB (unsupported by this reader)"
            else "non-monotonic"}")
      i += 1
    }
    val strMeta = meta.strings.getOrElse(
      throw new ScbfFormatException(s"utf8 column '${meta.name}' missing strings block"))
    // True blob size = last offset; str_uncomp_size is untrustworthy (§ scaladoc).
    val blob = inflate(in.readFully(strMeta.offset, checkedInt(strMeta.compSize)),
      offsets.last)
    Utf8Raw(offsets, blob)
  }

  /** Generic decode used by non-Spark callers (CLI, tests). */
  def readColumn(in: RandomInput, meta: ColumnMeta): ColumnData = meta.tpe match {
    case ScbfType.Int32   => IntColumnData(readIntColumn(in, meta))
    case ScbfType.Float64 => DoubleColumnData(readDoubleColumn(in, meta))
    case ScbfType.Utf8 =>
      val raw = readUtf8Column(in, meta)
      Utf8ColumnData(Array.tabulate(raw.count) { i =>
        java.util.Arrays.copyOfRange(raw.blob, raw.offsets(i), raw.offsets(i + 1))
      })
  }

  /** Selective read of named columns (reference: reader.py:111-133).
   * Unknown column name throws, matching the reference's KeyError
   * (reference: reader.py:124-125). */
  def readColumns(path: String, cols: Seq[String]): Map[String, ColumnData] = {
    val in = open(path)
    try {
      val fileLen = java.nio.file.Files.size(java.nio.file.Paths.get(path))
      val header = readHeader(in)
      val metas = readMeta(in, header, fileLen)
      val byName = metas.map(m => m.name -> m).toMap
      cols.map { c =>
        val m = byName.getOrElse(c,
          throw new ScbfFormatException(s"Column not found: $c"))
        c -> readColumn(in, m)
      }.toMap
    } finally in.close()
  }

  /** Full scan (reference: reader.py:135-161). Columnar result; callers
   * wanting row-major pivot as they iterate. */
  def readAll(path: String): (Seq[String], Seq[ColumnData]) = {
    val in = open(path)
    try {
      val fileLen = java.nio.file.Files.size(java.nio.file.Paths.get(path))
      val header = readHeader(in)
      val metas = readMeta(in, header, fileLen)
      (metas.map(_.name), metas.map(m => readColumn(in, m)))
    } finally in.close()
  }

  private def checkedInt(v: Long): Int = {
    if (v < 0 || v > Int.MaxValue)
      throw new ScbfFormatException(s"block size $v out of range")
    v.toInt
  }

  /** zlib inflate with known output size. */
  private[scbf] def inflate(comp: Array[Byte], expectedSize: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(comp)
      val out = new Array[Byte](expectedSize)
      var done = 0
      while (done < expectedSize && !inf.finished()) {
        // a corrupted stream raises DataFormatException from the native
        // inflater — surface it as the format error it is, so a
        // bit-rotted file can't escape the ScbfFormatException contract
        val n =
          try inf.inflate(out, done, expectedSize - done)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new ScbfFormatException(s"Corrupt zlib block: ${e.getMessage}")
          }
        // any zero-progress state that isn't completion (truncated input,
        // FDICT preset-dictionary stream, ...) must fail, not spin
        if (n == 0 && !inf.finished())
          throw new ScbfFormatException(
            if (inf.needsDictionary()) "zlib block requires a preset dictionary (unsupported)"
            else "Truncated zlib block")
        done += n
      }
      if (done != expectedSize)
        throw new ScbfFormatException(s"zlib block inflated to $done bytes, expected $expectedSize")
      out
    } finally inf.end()
  }
}
