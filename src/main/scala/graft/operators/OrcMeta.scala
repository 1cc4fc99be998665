package graft.operators

/** ORC file-tail reader from scratch (pure JVM) — the second columnar
  * storage format's metadata next to [[ParquetFooter]], decoded without
  * orc-core: the one-byte postscript-length trailer, the PostScript
  * (PROTOBUF WIRE FORMAT from scratch — varint/64-bit/length-delimited/
  * 32-bit wire types, unknown fields skipped structurally — with the
  * field-8000 "ORC" magic), the compressed-stream chunk framing (3-byte
  * little-endian headers carrying (length << 1) | isOriginal) decoded
  * through [[PageCodec.orcDecompress]] — ZLIB chunks as raw RFC 1951
  * through the JDK `Inflater`, SNAPPY, LZ4 and ZSTD chunks through
  * snappy-java, lz4-java and zstd-jni — and the Footer message down to per-column IntegerStatistics (sint64
  * ZIGZAG minimum/maximum/sum), stripe row counts, the type tree and
  * hasNull flags.
  *
  * Footer-only reads are the planning lever at 100 TB, same as the
  * parquet tier: row counts and column ranges from KBs of tail per
  * multi-GB file. Cross-validated in OrcMetaSpec against the
  * INDEPENDENT orc-core implementation on Spark-written files (which
  * Spark compresses with snappy by default, so the chunk framing and
  * the snappy chunk path run against real foreign bytes). Formats are the
  * public ORC specification and the protobuf wire format.
  */
object OrcMeta {

  final case class OrcIntStats(min: Option[Long], max: Option[Long],
      sum: Option[Long])

  final case class OrcColumn(numValues: Long, hasNull: Boolean,
      intStats: Option[OrcIntStats])

  final case class OrcType(kind: Int, fieldNames: Seq[String])

  final case class OrcTail(compression: Int, numberOfRows: Long,
      nStripes: Int, stripeRows: Seq[Long], types: Seq[OrcType],
      columns: Seq[OrcColumn])

  // protobuf wire reader
  private[operators] final class PReader(p: Array[Byte], var pos: Int,
      val end: Int) {
    def u8(): Int = {
      require(pos < end, "torn ORC: protobuf read past end")
      val b = p(pos) & 0xff
      pos += 1
      b
    }
    def varint(): Long = {
      var n = 0L
      var shift = 0
      var b = 0
      do {
        require(shift <= 63, "torn ORC: runaway varint")
        b = u8()
        n |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      n
    }
    def zig(): Long = { val n = varint(); (n >>> 1) ^ -(n & 1L) }
    def fixed64(): Long = { // little-endian, the protobuf `double` carrier
      require(pos + 8 <= end, "torn ORC: truncated fixed64 field")
      var v = 0L
      var i = 0
      while (i < 8) { v |= (p(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      v
    }
    def bytes(): (Int, Int) = { // (offset, length) view, no copy
      val n = varint()
      require(n >= 0 && pos + n <= end, s"torn ORC: $n-byte field")
      val o = pos
      pos += n.toInt
      (o, n.toInt)
    }
    def str(): String = {
      val (o, n) = bytes()
      new String(p, o, n, "UTF-8")
    }
    def sub(): PReader = {
      val (o, n) = bytes()
      new PReader(p, o, o + n)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 =>
        // bounds-checked like the varint/bytes paths: overshooting end
        // would flip atEnd and make a tail truncated inside a fixed64
        // field parse as a complete message instead of rejecting
        require(pos + 8 <= end, "torn ORC: truncated fixed64 field")
        pos += 8
      case 2 => bytes()
      case 5 =>
        require(pos + 4 <= end, "torn ORC: truncated fixed32 field")
        pos += 4
      case w => throw new IllegalArgumentException(
        s"torn ORC: protobuf wire type $w")
    }
    def atEnd: Boolean = pos >= end
    /** Walk fields: handler gets (fieldNumber, wireType) and must
      * consume the payload (or call skip).
      */
    def message(field: (Int, Int) => Unit): Unit =
      while (!atEnd) {
        val tag = varint()
        field((tag >>> 3).toInt, (tag & 7).toInt)
      }
  }

  private def readIntStats(r: PReader): OrcIntStats = {
    var mn: Option[Long] = None
    var mx: Option[Long] = None
    var sm: Option[Long] = None
    r.message { (id, w) =>
      id match {
        case 1 => mn = Some(r.zig()) // sint64
        case 2 => mx = Some(r.zig())
        case 3 => sm = Some(r.zig())
        case _ => r.skip(w)
      }
    }
    OrcIntStats(mn, mx, sm)
  }

  private def readColumnStats(r: PReader): OrcColumn = {
    var nv = 0L
    var hasNull = false
    var ints: Option[OrcIntStats] = None
    r.message { (id, w) =>
      id match {
        case 1 => nv = r.varint()
        case 2 => ints = Some(readIntStats(r.sub()))
        case 10 => hasNull = r.varint() != 0
        case _ => r.skip(w)
      }
    }
    OrcColumn(nv, hasNull, ints)
  }

  private def readType(r: PReader): OrcType = {
    var kind = -1
    val names = Vector.newBuilder[String]
    r.message { (id, w) =>
      id match {
        case 1 => kind = r.varint().toInt
        case 3 => names += r.str()
        case _ => r.skip(w)
      }
    }
    OrcType(kind, names.result())
  }

  def read(p: Array[Byte]): OrcTail = {
    require(p.length > 16, "torn ORC: shorter than any tail")
    val psLen = p(p.length - 1) & 0xff
    require(psLen > 0 && psLen < p.length - 1,
      s"torn ORC: postscript length $psLen")
    val psStart = p.length - 1 - psLen
    var footerLen = -1L
    var compression = 0
    var blockSize = 0L
    var magic = ""
    val ps = new PReader(p, psStart, p.length - 1)
    ps.message { (id, w) =>
      id match {
        case 1 => footerLen = ps.varint()
        case 2 => compression = ps.varint().toInt
        case 3 => blockSize = ps.varint()
        case 8000 => magic = ps.str()
        case _ => ps.skip(w)
      }
    }
    require(magic == "ORC", s"not an ORC file (postscript magic '$magic')")
    require(footerLen > 0 && psStart - footerLen >= 0,
      s"torn ORC: footer length $footerLen")
    require(blockSize >= 0 && blockSize <= (1L << 26),
      s"torn ORC: compression block size $blockSize")
    val fb = PageCodec.orcDecompress(p, (psStart - footerLen).toInt,
      footerLen.toInt, compression, blockSize.toInt)
    val f = new PReader(fb, 0, fb.length)
    var numRows = -1L
    val stripeRows = Vector.newBuilder[Long]
    val types = Vector.newBuilder[OrcType]
    val cols = Vector.newBuilder[OrcColumn]
    f.message { (id, w) =>
      id match {
        case 3 => // StripeInformation
          val s = f.sub()
          var rows = -1L
          s.message { (sid, sw) =>
            sid match {
              case 5 => rows = s.varint()
              case _ => s.skip(sw)
            }
          }
          stripeRows += rows
        case 4 => types += readType(f.sub())
        case 6 => numRows = f.varint()
        case 7 => cols += readColumnStats(f.sub())
        case _ => f.skip(w)
      }
    }
    require(numRows >= 0 && types.result().nonEmpty,
      "torn ORC: footer without rows/types")
    val sr = stripeRows.result()
    OrcTail(compression, numRows, sr.length, sr, types.result(),
      cols.result())
  }

  def readFile(path: java.nio.file.Path): OrcTail =
    read(java.nio.file.Files.readAllBytes(path))
}
