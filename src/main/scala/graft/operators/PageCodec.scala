package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.util.zip.{CRC32, Inflater}

import com.github.luben.zstd.{Zstd => ZstdJni, ZstdException,
  ZstdInputStreamNoFinalizer}
import net.jpountz.lz4.{LZ4Exception, LZ4Factory, LZ4FrameInputStream}
import net.jpountz.xxhash.XXHashFactory
import org.apache.commons.compress.compressors.bzip2
  .BZip2CompressorInputStream
import org.tukaani.xz.XZInputStream
import org.xerial.snappy.{Snappy => SnappyJni, SnappyError,
  SnappyFramedInputStream}

/** The one codec seam. Every block codec choice the engine makes — a
  * parquet page, an ORC chunk, an Avro block, a compressed text shard —
  * goes through here, and this is the only place that knows the parquet
  * CompressionCodec and ORC CompressionKind ids. Each codec is the
  * library Spark itself ships: zstd-jni, snappy-java, lz4-java (also
  * the XXH64 of parquet bloom filters), the JDK `Inflater`,
  * commons-compress (bzip2) and tukaani (xz).
  *
  * Contract kept from the decoders this seam replaced:
  *   - a jar failure surfaces as an IllegalArgumentException naming the
  *     codec and the jar's cause, so a torn page fails one record
  *     instead of an executor;
  *   - nothing is allocated from an untrusted size before it is
  *     checked: a parquet page's in-band size (snappy varint, zstd frame
  *     content size) must equal the page header's, an ORC chunk may not
  *     decode past the postscript's compression block size, and shard
  *     streams and Avro blocks stop at [[MaxOutput]];
  *   - checksums a format carries are verified by the jar that reads it
  *     (zstd XXH64 content checksums, LZ4 frame block/content xxHash32,
  *     snappy framed CRC-32C, bzip2 block/stream CRCs, xz block checks),
  *     gzip CRC-32/ISIZE and Avro's snappy CRC-32 here with the JDK.
  */
object PageCodec {

  /** Codec ids the writers emit. 0 is "no compression" in both the
    * parquet CompressionCodec and the ORC CompressionKind enums.
    */
  val Uncompressed = 0
  val ParquetSnappy = 1
  val ParquetZstd = 6
  val OrcZstd = 5

  /** Decoded-size ceiling (1 GiB) for shard streams and Avro blocks. */
  private val MaxOutput: Int = 1 << 30
  /** The ORC compression block size a postscript leaves unset. */
  private val OrcDefaultBlock = 1 << 18
  /** Decoder memory ceiling for xz streams, in KiB (the dictionary). */
  private val XzMemoryKiB = 1 << 18
  /** libzstd's default level, the one Spark's writers use. */
  private val ZstdLevel = 3
  /** `ZSTD_CONTENTSIZE_UNKNOWN`: a streamed frame without a size. */
  private val ZstdSizeUnknown = -1L

  private lazy val lz4 = LZ4Factory.fastestInstance()
  private lazy val xx64 = XXHashFactory.fastestJavaInstance().hash64()

  /** Run a jar call, turning its failure into a loud reject that names
    * the codec and the cause.
    */
  private def loud[T](codec: String)(body: => T): T =
    try body catch {
      case e @ (_: java.io.IOException | _: ZstdException |
          _: LZ4Exception | _: SnappyError |
          _: java.util.zip.DataFormatException) =>
        throw new IllegalArgumentException(
          s"$codec: ${e.getClass.getSimpleName}: ${e.getMessage}", e)
    }

  private def zstdError(r: Long): Long = {
    if (ZstdJni.isError(r))
      throw new IllegalArgumentException(s"zstd: ${ZstdJni.getErrorName(r)}")
    r
  }

  /** Drain `in`, refusing to hold more than `cap` bytes. */
  private def readAll(in: InputStream, cap: Long, what: String)
      : Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      require(out.size.toLong + n <= cap,
        s"$what decodes past the $cap-byte limit")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Raw RFC 1951 deflate from `p(off)` to at most `cap` bytes; returns
    * the content and the input bytes the stream used (the JDK
    * `Inflater`'s `getRemaining` marks where it ended).
    */
  private def inflateRaw(p: Array[Byte], off: Int, len: Int,
      cap: Long): (Array[Byte], Int) = {
    val inf = new Inflater(true)
    try {
      inf.setInput(p, off, len)
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        require(n > 0 || inf.finished ||
          !(inf.needsInput || inf.needsDictionary),
          "deflate: truncated stream")
        require(out.size.toLong + n <= cap,
          s"deflate decodes past the $cap-byte limit")
        out.write(buf, 0, n)
      }
      (out.toByteArray, len - inf.getRemaining)
    } finally inf.end()
  }

  /** zstd frame at `p(off)` to at most `cap` bytes (exactly `cap` when
    * `exact`): a declared content size is checked before the output is
    * allocated; a streamed frame without one decodes into a buffer that
    * may not grow past `cap`.
    */
  private def zstdUpTo(p: Array[Byte], off: Int, len: Int, cap: Long,
      exact: Boolean = false): Array[Byte] = {
    val declared = ZstdJni.getFrameContentSize(p, off, len)
    if (declared == ZstdSizeUnknown) {
      val in = new ZstdInputStreamNoFinalizer(
        new ByteArrayInputStream(p, off, len))
      val out = try readAll(in, cap, "zstd frame") finally in.close()
      require(!exact || out.length == cap,
        s"zstd frame decoded ${out.length} bytes, expected $cap")
      out
    } else {
      require(declared >= 0, "zstd: not a frame")
      require(if (exact) declared == cap else declared <= cap,
        s"zstd frame declares $declared bytes, " +
          (if (exact) s"expected $cap" else s"over the $cap-byte limit"))
      val out = new Array[Byte](declared.toInt)
      val n = zstdError(ZstdJni.decompressByteArray(out, 0, out.length,
        p, off, len))
      require(n == declared,
        s"zstd frame decoded $n bytes, declared $declared")
      out
    }
  }

  /** Raw snappy at `p(off)`; its varint length is checked against
    * `cap` (equal to it when `exact`) before the output is allocated.
    */
  private def snappyUpTo(p: Array[Byte], off: Int, len: Int, cap: Long,
      exact: Boolean = false): Array[Byte] = {
    val n = SnappyJni.uncompressedLength(p, off, len)
    require(n >= 0 && (if (exact) n == cap else n <= cap),
      s"snappy block declares $n bytes, " +
        (if (exact) s"expected $cap" else s"over the $cap-byte limit"))
    val out = new Array[Byte](n)
    require(SnappyJni.uncompress(p, off, len, out, 0) == n,
      s"snappy block decoded short of its declared $n bytes")
    out
  }

  /** `XXH64(b[off, off+len), seed)` — the parquet bloom-filter hash. */
  def xxh64(b: Array[Byte], off: Int, len: Int, seed: Long): Long =
    xx64.hash(b, off, len, seed)

  // -------------------------------------------------------------------
  // Parquet pages

  /** Decompress one parquet page body of `size` bytes (the page
    * header's uncompressed_page_size) under the chunk's codec id.
    */
  def parquetDecompress(p: Array[Byte], off: Int, len: Int, codec: Int,
      size: Int): Array[Byte] = {
    require(size >= 0, s"parquet page header size $size")
    codec match {
      case 0 => java.util.Arrays.copyOfRange(p, off, off + len)
      case 1 => loud("snappy page")(
        snappyUpTo(p, off, len, size, exact = true))
      case 2 => loud("gzip page") {
        val out = gunzip(java.util.Arrays.copyOfRange(p, off, off + len),
          size)
        require(out.length == size,
          s"gzip page inflated to ${out.length}, header said $size")
        out
      }
      case 6 => loud("zstd page")(
        zstdUpTo(p, off, len, size, exact = true))
      case 7 => loud("lz4 page") { // LZ4_RAW: one raw block, no frame
        // a raw LZ4 block expands at most ~255:1, so a header size past
        // that is torn and must not size an allocation
        require(size.toLong <= len.toLong * 255 + 16,
          s"lz4 page of $len bytes cannot inflate to $size")
        val out = new Array[Byte](size)
        val n = lz4.safeDecompressor().decompress(p, off, len, out, 0, size)
        require(n == size, s"lz4 page inflated to $n, header said $size")
        out
      }
      case 3 => throw new IllegalArgumentException(
        "parquet codec 3 (LZO) unsupported")
      case 4 => throw new IllegalArgumentException(
        "parquet codec 4 (BROTLI) unsupported")
      case 5 => throw new IllegalArgumentException(
        "parquet codec 5 (LZ4 hadoop-framed, deprecated) unsupported — " +
          "writers emit LZ4_RAW (7)")
      case c => throw new IllegalArgumentException(
        s"parquet codec $c unknown")
    }
  }

  /** Compress one parquet page body for the writer. */
  def parquetCompress(body: Array[Byte], codec: Int): Array[Byte] =
    codec match {
      case Uncompressed => body
      case ParquetSnappy => loud("snappy page")(SnappyJni.compress(body))
      case ParquetZstd =>
        loud("zstd page")(ZstdJni.compress(body, ZstdLevel))
      case c => throw new IllegalArgumentException(
        s"parquet writer codec $c unsupported (UNCOMPRESSED=0, SNAPPY=1, " +
          "ZSTD=6)")
    }

  // -------------------------------------------------------------------
  // ORC streams: chunks behind 3-byte LE headers `(len << 1) | isOriginal`

  /** Decompress one ORC stream (metadata or data) under the
    * postscript's compression kind; every chunk is capped at the
    * postscript's compression block size.
    */
  def orcDecompress(p: Array[Byte], off: Int, len: Int, kind: Int,
      blockSize: Int): Array[Byte] = kind match {
    case 0 => java.util.Arrays.copyOfRange(p, off, off + len)
    case 1 | 2 | 4 | 5 =>
      val cap = if (blockSize > 0) blockSize else OrcDefaultBlock
      val out = new ByteArrayOutputStream()
      var o = off
      val end = off + len
      while (o < end) {
        require(o + 3 <= end, "torn ORC: compressed chunk header")
        val h = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
          ((p(o + 2) & 0xff) << 16)
        o += 3
        val n = h >>> 1
        require(o + n <= end, s"torn ORC: $n-byte chunk overruns")
        if ((h & 1) != 0) out.write(p, o, n)
        else {
          val dec = kind match {
            case 1 => loud("ORC zlib chunk") { // raw deflate
              inflateRaw(p, o, n, cap)._1
            }
            case 2 => loud("ORC snappy chunk")(snappyUpTo(p, o, n, cap))
            case 5 => loud("ORC zstd chunk")(zstdUpTo(p, o, n, cap))
            case _ => loud("ORC lz4 chunk") {
              val buf = new Array[Byte](cap)
              val m = lz4.safeDecompressor().decompress(p, o, n, buf, 0, cap)
              java.util.Arrays.copyOf(buf, m)
            }
          }
          out.write(dec, 0, dec.length)
        }
        o += n
      }
      out.toByteArray
    case 3 => throw new IllegalArgumentException(
      "ORC compression kind 3 (LZO) unsupported")
    case c => throw new IllegalArgumentException(
      s"ORC compression kind $c unknown")
  }

  /** Frame one ORC section for the writer: NONE passes through; ZSTD
    * cuts it into chunks of at most `blockSize` bytes, each a zstd frame
    * unless the raw chunk is smaller.
    */
  def orcCompress(b: Array[Byte], kind: Int, blockSize: Int): Array[Byte] =
    kind match {
      case Uncompressed => b
      case OrcZstd =>
        val out = new ByteArrayOutputStream(b.length / 2 + 8)
        var off = 0
        while (off < b.length) {
          val n = math.min(blockSize, b.length - off)
          val packed = loud("ORC zstd chunk")(
            ZstdJni.compress(java.util.Arrays.copyOfRange(b, off, off + n),
              ZstdLevel))
          val orig = packed.length >= n
          val len = if (orig) n else packed.length
          val hdr = (len << 1) | (if (orig) 1 else 0)
          out.write(hdr & 0xff); out.write((hdr >>> 8) & 0xff)
          out.write((hdr >>> 16) & 0xff)
          if (orig) out.write(b, off, n) else out.write(packed, 0, len)
          off += n
        }
        out.toByteArray
      case c => throw new IllegalArgumentException(
        s"ORC writer compression $c unsupported (NONE=0, ZSTD=5)")
    }

  // -------------------------------------------------------------------
  // Avro OCF data blocks

  val AvroCodecs: Set[String] = Set("null", "deflate", "snappy")

  /** Decode one Avro data block: `deflate` is raw RFC 1951 with no
    * trailing bytes, `snappy` is raw snappy plus a BIG-endian CRC-32 of
    * the uncompressed bytes (verified).
    */
  def avroBlock(codec: String, raw: Array[Byte]): Array[Byte] =
    codec match {
      case "null" => raw
      case "deflate" => loud("avro deflate block") {
        val (out, used) = inflateRaw(raw, 0, raw.length, MaxOutput)
        require(used == raw.length,
          "torn avro: deflate block has trailing garbage")
        out
      }
      case "snappy" => loud("avro snappy block") {
        require(raw.length >= 4, "torn avro: snappy block under 4 bytes")
        val out = snappyUpTo(raw, 0, raw.length - 4, MaxOutput)
        val want = ((raw(raw.length - 4) & 0xffL) << 24) |
          ((raw(raw.length - 3) & 0xffL) << 16) |
          ((raw(raw.length - 2) & 0xffL) << 8) | (raw(raw.length - 1) & 0xffL)
        val crc = new CRC32()
        crc.update(out)
        require(crc.getValue == want, "avro snappy block CRC mismatch")
        out
      }
      case c => throw new IllegalArgumentException(
        s"avro codec '$c' unsupported (null/deflate/snappy)")
    }

  // -------------------------------------------------------------------
  // Compressed text shards (.lz4 / .sz / .gz / .bz2 / .xz / .zst)

  /** An LZ4 frame stream; lz4-java verifies the header, block and
    * content checksums.
    */
  def lz4Frames(p: Array[Byte]): Array[Byte] = loud("lz4 frame")(readAll(
    new LZ4FrameInputStream(new ByteArrayInputStream(p)), MaxOutput,
    "lz4 frame"))

  /** A snappy framed stream; snappy-java verifies every chunk's masked
    * CRC-32C and rejects reserved unskippable chunks.
    */
  def snappyFramed(p: Array[Byte]): Array[Byte] = loud("snappy framed")(
    readAll(new SnappyFramedInputStream(new ByteArrayInputStream(p), true),
      MaxOutput, "snappy framed"))

  /** One gzip member: its FNAME, if any, and its content. */
  final case class GzipMember(name: Option[String], content: Array[Byte])

  /** Every member of a (multi-member) gzip stream. The RFC 1952 header
    * is parsed here — FEXTRA/FNAME/FCOMMENT skipped or kept, FHCRC
    * verified — the body inflates through the JDK, and each member's
    * CRC-32 and ISIZE are verified.
    */
  def gzipMembers(p: Array[Byte]): Seq[GzipMember] = members(p, MaxOutput)

  /** [[gzipMembers]] holding at most `cap` content bytes in all. */
  private def members(p: Array[Byte], cap: Long): Seq[GzipMember] =
    loud("gzip") {
      require(p.length >= 18, "torn gzip: shorter than any member")
      val members = Vector.newBuilder[GzipMember]
      var total = 0L
      var o = 0
      while (o < p.length) {
        require(o + 10 <= p.length, "torn gzip: member header")
        require((p(o) & 0xff) == 0x1f && (p(o + 1) & 0xff) == 0x8b,
          f"not gzip: magic 0x${p(o) & 0xff}%02x${p(o + 1) & 0xff}%02x")
        require(p(o + 2) == 8, "gzip CM must be 8 (deflate)")
        val flg = p(o + 3) & 0xff
        require((flg & 0xe0) == 0, "reserved gzip FLG bits set")
        val start = o
        o += 10 // MTIME/XFL/OS: metadata, not framing
        if ((flg & 4) != 0) { // FEXTRA
          require(o + 2 <= p.length, "torn gzip: XLEN")
          o += 2 + ((p(o) & 0xff) | ((p(o + 1) & 0xff) << 8))
        }
        def zstr(): String = {
          val s = o
          while (o < p.length && p(o) != 0) o += 1
          require(o < p.length, "torn gzip: unterminated header string")
          o += 1
          new String(p, s, o - 1 - s, "ISO-8859-1")
        }
        val name = if ((flg & 8) != 0) Some(zstr()) else None
        if ((flg & 16) != 0) zstr() // FCOMMENT
        if ((flg & 2) != 0) { // FHCRC: low 16 bits of the header's CRC-32
          require(o + 2 <= p.length, "torn gzip: FHCRC")
          val c = new CRC32()
          c.update(p, start, o - start)
          require((c.getValue & 0xffff) ==
            ((p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)),
            "gzip header CRC (FHCRC) mismatch")
          o += 2
        }
        require(o <= p.length, "torn gzip: FEXTRA field")
        val (content, used) = inflateRaw(p, o, p.length - o, cap - total)
        o += used
        require(o + 8 <= p.length, "torn gzip: missing CRC-32/ISIZE")
        def le32(i: Int): Long = (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) |
          ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)
        val crc = new CRC32()
        crc.update(content)
        require(crc.getValue == le32(o), "gzip CRC-32 mismatch")
        require(le32(o + 4) == (content.length & 0xffffffffL),
          s"gzip ISIZE ${le32(o + 4)} != ${content.length}")
        o += 8
        total += content.length
        members += GzipMember(name, content)
      }
      members.result()
    }

  /** All members' content concatenated, at most `cap` bytes. */
  private def gunzip(p: Array[Byte], cap: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    members(p, cap).foreach(m => out.write(m.content, 0, m.content.length))
    out.toByteArray
  }

  /** A (multi-stream, pbzip2-shaped) bzip2 file: the content and the
    * stream count. Each stream decodes alone through commons-compress,
    * whose compressed count is the stream's exact byte length, so the
    * walk lands on the next stream's `BZh`; zero padding between
    * streams is skipped.
    */
  def bzip2Streams(p: Array[Byte]): (Array[Byte], Int) = loud("bzip2") {
    val out = new ByteArrayOutputStream()
    var streams = 0
    var o = 0
    while (o < p.length) {
      val in = new BZip2CompressorInputStream(
        new ByteArrayInputStream(p, o, p.length - o), false)
      val part = readAll(in, MaxOutput.toLong - out.size, "bzip2")
      val used = in.getCompressedCount
      require(used > 0, "torn bzip2: empty stream")
      out.write(part, 0, part.length)
      o += used.toInt
      streams += 1
      while (o < p.length && p(o) == 0) o += 1
    }
    require(streams > 0, "torn bzip2: no stream")
    (out.toByteArray, streams)
  }

  /** An xz file: the content and the stream's check type (the low
    * nibble of stream-header byte 7: 0 none, 1 CRC32, 4 CRC64,
    * 10 SHA-256). tukaani verifies the header, block checks, index and
    * footer.
    */
  def xz(p: Array[Byte]): (Array[Byte], Int) = loud("xz") {
    val content = readAll(new XZInputStream(new ByteArrayInputStream(p),
      XzMemoryKiB), MaxOutput, "xz")
    (content, p(7) & 0x0f)
  }

  /** A zstd shard of concatenated frames: the content and the number of
    * data frames. The walk steps frame by frame with libzstd's
    * `findFrameCompressedSize` and skips skippable frames (magic
    * `0x184D2A5?`); each data frame decodes alone, its XXH64 content
    * checksum verified when present.
    */
  def zstdFrames(p: Array[Byte]): (Array[Byte], Int) = loud("zstd") {
    val out = new ByteArrayOutputStream()
    var frames = 0
    var o = 0
    require(p.nonEmpty, "torn zstd: empty shard")
    while (o < p.length) {
      val size = zstdError(ZstdJni.findFrameCompressedSize(p, o))
      require(size > 0 && o + size <= p.length, "torn zstd: frame overruns")
      val magic = if (o + 4 <= p.length)
        (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
          ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)
      else 0
      if ((magic & 0xfffffff0) != 0x184d2a50) {
        val dec = zstdUpTo(p, o, size.toInt, MaxOutput.toLong - out.size)
        out.write(dec, 0, dec.length)
        frames += 1
      }
      o += size.toInt
    }
    (out.toByteArray, frames)
  }
}
