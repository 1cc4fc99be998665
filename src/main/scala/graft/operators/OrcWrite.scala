package graft.operators

/** ORC WRITER from scratch (pure JVM) — the write-side twin of
  * [[OrcData]]/[[OrcMeta]], completing ownership of the second columnar
  * format in both directions (parquet already has
  * [[ParquetData]]/[[ParquetWrite]]). Emits the classic uncompressed
  * shape every ORC reader accepts:
  *
  *   - "ORC" 3-byte header, stripes of INDEX then DATA streams — one
  *     ROW_INDEX stream per column (a RowIndexEntry per
  *     `rowIndexStride` rows with seek positions and that row group's
  *     ColumnStatistics; every encoder restarts at group boundaries so
  *     the positions are exact by construction, and orc-core's
  *     SearchArgument reader seeks mid-stripe on them), opt-in
  *     BLOOM_FILTER_UTF8 streams per row group (`bloomColumns`;
  *     utf8bitset + numHashFunctions at 1% fpp, orc-core's hash
  *     scheme — its SearchArgument reader bloom-prunes row groups on
  *     our files, and `graftorc` plans zero stripes for proven-absent
  *     point lookups), per-stripe
  *     StripeFooter protobuf, a Metadata section with per-stripe
  *     ColumnStatistics (min/max/sum/hasNull per column — what
  *     [[graft.sources.GraftOrc]]'s stripe pruning and orc-core's
  *     stripe stats consume), file Footer (with merged file-level
  *     ColumnStatistics) + Postscript protobufs, trailing
  *     postscript-length byte — all protobuf wire format written by
  *     hand (varint keys, length-delimited messages), mirrored against
  *     [[OrcMeta.PReader]];
  *   - PRESENT streams as boolean RLE (bits MSB-first behind byte-RLE
  *     literal groups), only on columns that actually carry nulls;
  *   - integer columns (INT/LONG/DATE) as RLEv2 DIRECT runs of ≤ 512
  *     zigzagged values at the run's closest fixed bit width — one of
  *     the four spec sub-encodings, legal for any data;
  *   - DOUBLE as the IEEE little-endian stream, BOOLEAN as bit RLE,
  *     STRING as DIRECT_V2 (unsigned RLEv2 LENGTH + concatenated
  *     UTF-8 DATA) or DICTIONARY_V2 behind the 50%-distinct cutoff,
  *     DECIMAL/BINARY per spec, nested LIST/MAP/STRUCT shredded in
  *     type-tree pre-order (children record only present-parent
  *     slots), TIMESTAMP_INSTANT as the two-stream form (signed
  *     seconds since the 2015 base + packed trailing-zero nanos; the
  *     ORC convention's truncate-vs-floor seam makes the single second
  *     1969-12-31T23:59:59–1970-01-01T00:00:00 unrepresentable with
  *     sub-second precision — a format-level corner every ORC writer
  *     shares, noted rather than papered over);
  *   - compression NONE (postscript kind 0, raw streams) or ZSTD
  *     (kind 5): every stream, stripe footer and file footer framed in
  *     the ORC chunk format — 3-byte LE `(len << 1) | isOriginal`
  *     headers, bodies zstd-jni frames through
  *     [[PageCodec.orcCompress]], raw chunks where compression cannot
  *     shrink the block.
  *
  * Validated the strong way in OrcWriteSpec: Spark's own orc-core
  * reader — the independent implementation — must read written files
  * row-identically, and this repo's [[OrcData.readRows]] must
  * round-trip them. Formats per the public ORC v1 specification
  * (orc_proto.proto field ids, RLE sections).
  *
  * Scale shape: same contract as [[ParquetWrite]] — the distributed
  * surface writes one file per partition where the data is, stripes
  * split at a caller-set row count so multi-GB buffers can't
  * accumulate, and every stripe offset the footer records is absolute.
  */
object OrcWrite {

  /** One column of the schema tree; `kind` uses orc_proto Type.Kind
    * ids (0 BOOLEAN, 3 INT, 4 LONG, 6 DOUBLE, 7 STRING, 8 BINARY,
    * 10 LIST, 11 MAP, 12 STRUCT, 14 DECIMAL, 15 DATE, 18
    * TIMESTAMP_INSTANT); `precision`/`scale` only for DECIMAL,
    * `children` only for LIST (1: element) / MAP (2: key, value) /
    * STRUCT (its fields, names used).
    */
  final case class OwField(name: String, kind: Int,
      precision: Int = 0, scale: Int = 0,
      children: Seq[OwField] = Nil) {
    /** Type-tree nodes this field occupies (itself + descendants). */
    def span: Int = 1 + children.map(_.span).sum
  }

  object OwFields {
    def boolean(n: String): OwField = OwField(n, 0)
    def int(n: String): OwField = OwField(n, 3)
    def long(n: String): OwField = OwField(n, 4)
    def double(n: String): OwField = OwField(n, 6)
    def string(n: String): OwField = OwField(n, 7)
    def binary(n: String): OwField = OwField(n, 8)
    def decimal(n: String, precision: Int, scale: Int): OwField = {
      require(precision > 0 && precision <= 38 && scale >= 0 &&
        scale <= precision, s"DECIMAL($precision,$scale)")
      OwField(n, 14, precision, scale)
    }
    def date(n: String): OwField = OwField(n, 15)
    /** TIMESTAMP (kind 9) with `writerTimezone: UTC` in every stripe
      * footer — the exact shape Spark's own ORC writer produces.
      * (TIMESTAMP_INSTANT (18) would be semantically cleaner, but
      * Spark's OrcUtils cannot even parse its type name
      * "timestamp with local time zone" at schema inference.)
      */
    def timestamp(n: String): OwField = OwField(n, 9)
    def list(n: String, element: OwField): OwField =
      OwField(n, 10, children = Seq(element))
    def mapOf(n: String, key: OwField, value: OwField): OwField =
      OwField(n, 11, children = Seq(key, value))
    def struct(n: String, fields: Seq[OwField]): OwField = {
      require(fields.nonEmpty, s"STRUCT '$n' needs at least one field")
      OwField(n, 12, children = fields)
    }
  }

  // -------------------------------------------------------------------
  // protobuf wire writer (mirror of OrcMeta.PReader)

  private final class PB {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
    }
    def uint(field: Int, v: Long): Unit = {
      varint((field.toLong << 3) | 0); varint(v)
    }
    def bytes(field: Int, b: Array[Byte]): Unit = {
      varint((field.toLong << 3) | 2); varint(b.length.toLong)
      out.write(b, 0, b.length)
    }
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    /** sint64: zigzag sign fold, then varint (orc_proto statistics
      * min/max fields).
      */
    def sint(field: Int, v: Long): Unit = uint(field, (v << 1) ^ (v >> 63))
    /** double: wire type 1, IEEE bits little-endian. */
    def dbl(field: Int, v: Double): Unit = {
      varint((field.toLong << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var j = 0
      while (j < 8) { out.write(((bits >>> (8 * j)) & 0xff).toInt); j += 1 }
    }
    def msg(field: Int)(f: PB => Unit): Unit = {
      val inner = new PB
      f(inner)
      bytes(field, inner.out.toByteArray)
    }
    def toByteArray: Array[Byte] = out.toByteArray
  }

  // -------------------------------------------------------------------
  // run-length encoders (the encode direction of OrcData's decoders)

  /** Byte RLE, literal-group form: headers −n (n ≤ 128) then n raw
    * bytes — spec-legal for any content. Runs never cross a `breaks`
    * byte index (breaks(0) = 0, non-decreasing), so every break is a
    * clean seek point; returns the encoded offset at each break.
    */
  private def byteRleLiteralMarked(b: Array[Byte],
      breaks: Array[Int]): (Array[Byte], Array[Long]) = {
    val out = new java.io.ByteArrayOutputStream(
      b.length + b.length / 128 + 8)
    val offs = new Array[Long](breaks.length)
    var g = 0
    while (g < breaks.length) {
      offs(g) = out.size.toLong
      val from = breaks(g)
      val to = if (g + 1 < breaks.length) breaks(g + 1) else b.length
      var i = from
      while (i < to) {
        val n = math.min(128, to - i)
        out.write(-n)
        out.write(b, i, n)
        i += n
      }
      g += 1
    }
    (out.toByteArray, offs)
  }

  private def byteRleLiteral(b: Array[Byte]): Array[Byte] =
    byteRleLiteralMarked(b, Array(0))._1

  /** Boolean RLE: bits packed MSB-first into bytes, then byte RLE.
    * `valueBreaks` (first = 0) mark seek points: the byte RLE restarts
    * at each break's PACKED BYTE (the bit stream itself is continuous,
    * so a continuous read sees identical bytes), and each mark carries
    * [encoded byte offset, 0 literals consumed, bit index in byte] —
    * the three values a bit-RLE seek consumes.
    */
  private def boolRleMarked(bits: Array[Boolean], n: Int,
      valueBreaks: Array[Int]): (Array[Byte], Seq[Seq[Long]]) = {
    val packed = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      if (bits(i))
        packed(i >> 3) = (packed(i >> 3) | (1 << (7 - (i & 7)))).toByte
      i += 1
    }
    val (bytes, offs) =
      byteRleLiteralMarked(packed, valueBreaks.map(_ >> 3))
    (bytes, valueBreaks.indices.map(g =>
      Seq(offs(g), 0L, (valueBreaks(g) & 7).toLong)))
  }

  private def boolRleBits(bits: Array[Boolean], n: Int): Array[Byte] =
    boolRleMarked(bits, n, Array(0))._1

  private def width5Code(w: Int): Int = w match {
    case w if w >= 1 && w <= 24 => w - 1
    case 26 => 24
    case 28 => 25
    case 30 => 26
    case 32 => 27
    case 40 => 28
    case 48 => 29
    case 56 => 30
    case 64 => 31
    case _ => throw new IllegalArgumentException(s"unencodable width $w")
  }

  private def closestFixedBits(n: Int): Int =
    if (n <= 24) math.max(n, 1)
    else if (n <= 26) 26 else if (n <= 28) 28 else if (n <= 30) 30
    else if (n <= 32) 32 else if (n <= 40) 40 else if (n <= 48) 48
    else if (n <= 56) 56 else 64

  /** Integer RLEv2 as DIRECT runs of ≤ 512 values (zigzag when
    * `signed`), each at the run's closest fixed bit width, bits packed
    * big-endian — the general-purpose sub-encoding.
    */
  private def rleV2Direct(vals: Array[Long], n: Int,
      signed: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(n + 16)
    var i = 0
    while (i < n) {
      val len = math.min(512, n - i)
      var maxBits = 1
      var k = 0
      while (k < len) {
        val v = vals(i + k)
        val u = if (signed) (v << 1) ^ (v >> 63) else v
        val bits = 64 - java.lang.Long.numberOfLeadingZeros(u)
        if (bits > maxBits) maxBits = bits.toInt
        k += 1
      }
      val w = closestFixedBits(maxBits)
      val code = width5Code(w)
      out.write(0x40 | (code << 1) | ((len - 1) >>> 8))
      out.write((len - 1) & 0xff)
      var acc = 0L
      var nAcc = 0
      k = 0
      while (k < len) {
        val v = vals(i + k)
        val u = if (signed) (v << 1) ^ (v >> 63) else v
        // big-endian bit packing, possibly > 56 bits pending: flush first
        var left = w
        while (left > 0) {
          val take = math.min(left, 56 - nAcc)
          val chunk =
            if (left == 64 && take == 64) u
            else (u >>> (left - take)) & ((1L << take) - 1)
          acc = (acc << take) | chunk
          nAcc += take
          left -= take
          while (nAcc >= 8) {
            out.write(((acc >>> (nAcc - 8)) & 0xff).toInt)
            nAcc -= 8
          }
        }
        k += 1
      }
      if (nAcc > 0) { // pad the final partial byte with zero bits
        out.write(((acc << (8 - nAcc)) & 0xff).toInt)
        nAcc = 0
      }
      i += len
    }
    out.toByteArray
  }

  /** [[rleV2Direct]] with runs restarted at each `breaks` value index
    * (breaks(0) = 0, non-decreasing) — every break is a clean seek
    * point [encoded byte offset, 0 values into the run].
    */
  private def rleV2Marked(vals: Array[Long], n: Int, signed: Boolean,
      breaks: Array[Int]): (Array[Byte], Array[Long]) = {
    val out = new java.io.ByteArrayOutputStream(n + 16)
    val offs = new Array[Long](breaks.length)
    var g = 0
    while (g < breaks.length) {
      offs(g) = out.size.toLong
      val from = breaks(g)
      val to = if (g + 1 < breaks.length) breaks(g + 1) else n
      if (to > from) {
        val seg = rleV2Direct(
          java.util.Arrays.copyOfRange(vals, from, to), to - from,
          signed)
        out.write(seg, 0, seg.length)
      }
      g += 1
    }
    (out.toByteArray, offs)
  }

  // -------------------------------------------------------------------
  // stream building

  /** `marks`, when non-empty, holds one UNCOMPRESSED-domain seek
    * position per row group for this stream: head = encoded byte
    * offset of the group's first value (always the start of a fresh
    * run / zstd chunk), tail = the extra values the matching orc-core
    * reader consumes on seek (values-into-run, bit index). Streams a
    * seek never touches (DICTIONARY_DATA and its LENGTH) carry none.
    */
  private final case class BuiltStream(kind: Int, column: Int,
      bytes: Array[Byte], marks: Seq[Seq[Long]] = Nil)

  /** One column's stripe result: its streams plus the ColumnEncoding
    * to record (0 DIRECT, 2 DIRECT_V2, 3 DICTIONARY_V2 with
    * `dictSize`).
    */
  private final case class BuiltCol(streams: Seq[BuiltStream],
      encoding: Int, dictSize: Int = 0)

  private val K_PRESENT = 0
  private val K_DATA = 1
  private val K_LENGTH = 2
  private val K_DICT = 3 // DICTIONARY_DATA (4 is DICTIONARY_COUNT — an
  // INDEX-area stream whose misuse shifts every data-stream offset)
  private val K_SECONDARY = 5
  private val K_ROW_INDEX = 6 // INDEX-area stream (one per column)

  /** Unbounded base-128 zigzag varints — the DECIMAL DATA stream, the
    * encode inverse of OrcData.readBigVarints.
    */
  private def bigVarints(vals: Seq[java.math.BigInteger]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length * 3)
    for (v <- vals) {
      var u =
        if (v.signum() >= 0) v.shiftLeft(1)
        else v.not().shiftLeft(1).setBit(0)
      do {
        val low = u.intValue() & 0x7f
        u = u.shiftRight(7)
        out.write(if (u.signum() != 0) low | 0x80 else low)
      } while (u.signum() != 0)
    }
    out.toByteArray
  }

  /** ORC timestamps count seconds from 2015-01-01 00:00:00 UTC. */
  private val TsBaseSeconds = 1420070400L

  /** The SECONDARY-stream nanos packing: strip `z` trailing decimal
    * zeros (only ever 2..7) and record `z − 1` in the low 3 bits
    * (0 ⇒ none stripped; the decoder multiplies by 10^(code+1)) — the
    * exact inverse of [[OrcData]]'s parseNanos.
    */
  private def formatNanos(n: Long): Long =
    if (n == 0) 0L
    else if (n % 100 != 0) n << 3
    else {
      var v = n / 100
      var z = 2
      while (v % 10 == 0 && z < 7) { v /= 10; z += 1 }
      (v << 3) | (z - 1)
    }

  /** Build one column's streams for one stripe's buffered values. */
  private def buildColumn(f: OwField, colId: Int,
      vals: Array[Any], n: Int,
      groups: Array[Int] = Array(0)): BuiltCol = {
    var encoding = f.kind match {
      case 0 | 6 => 0 // DIRECT (boolean / double)
      case _ => 2 // DIRECT_V2
    }
    var dictSize = 0
    val streams = Seq.newBuilder[BuiltStream]
    var nulls = 0
    var i = 0
    while (i < n) { if (vals(i) == null) nulls += 1; i += 1 }
    val nonNull = n - nulls
    // non-null counts at each row-group start: where every group's
    // first value lands in the value-only data streams
    val nnAt = new Array[Int](groups.length)
    locally {
      var g = 0
      var nn = 0
      var i = 0
      while (i < n) {
        while (g < groups.length && groups(g) == i) { nnAt(g) = nn; g += 1 }
        if (vals(i) != null) nn += 1
        i += 1
      }
      while (g < groups.length) { nnAt(g) = nn; g += 1 }
    }
    if (nulls > 0) {
      val present = new Array[Boolean](n)
      i = 0
      while (i < n) { present(i) = vals(i) != null; i += 1 }
      val (pb, pm) = boolRleMarked(present, n, groups)
      streams += BuiltStream(K_PRESENT, colId, pb, pm)
    }
    f.kind match {
      case 0 => // BOOLEAN: bit RLE over non-null values
        val bits = new Array[Boolean](nonNull)
        var v = 0
        i = 0
        while (i < n) {
          if (vals(i) != null) {
            bits(v) = vals(i).asInstanceOf[Boolean]; v += 1
          }
          i += 1
        }
        val (bb, bm) = boolRleMarked(bits, nonNull, nnAt)
        streams += BuiltStream(K_DATA, colId, bb, bm)
      case 3 | 4 | 15 => // INT / LONG / DATE: signed RLEv2
        val longs = new Array[Long](nonNull)
        var v = 0
        i = 0
        while (i < n) {
          vals(i) match {
            case null => ()
            case x: Int => longs(v) = x.toLong; v += 1
            case x: Long => longs(v) = x; v += 1
            case x => throw new IllegalArgumentException(
              s"column '${f.name}' got ${x.getClass.getName}")
          }
          i += 1
        }
        val (db, dm) = rleV2Marked(longs, nonNull, signed = true, nnAt)
        streams += BuiltStream(K_DATA, colId, db,
          dm.map(o => Seq(o, 0L)).toSeq)
      case 6 => // DOUBLE: IEEE LE (a raw stream seeks by byte offset)
        val out = new java.io.ByteArrayOutputStream(8 * nonNull)
        i = 0
        while (i < n) {
          if (vals(i) != null) {
            val bits = java.lang.Double.doubleToRawLongBits(
              vals(i).asInstanceOf[Double])
            var j = 0
            while (j < 8) {
              out.write(((bits >>> (8 * j)) & 0xff).toInt); j += 1
            }
          }
          i += 1
        }
        streams += BuiltStream(K_DATA, colId, out.toByteArray,
          nnAt.map(v => Seq(8L * v)).toSeq)
      case 9 | 18 => // TIMESTAMP: signed seconds since the 2015
        // base (DATA) + packed nanos (SECONDARY). The reader re-floors
        // a negative second with nonzero nanos, so the writer stores
        // floor + 1 there — the exact inverse of OrcData's decode.
        val secs = new Array[Long](nonNull)
        val nanos = new Array[Long](nonNull)
        var v = 0
        i = 0
        while (i < n) {
          if (vals(i) != null) {
            val micros = vals(i).asInstanceOf[Long]
            val floored = Math.floorDiv(micros, 1000000L)
            val ns = Math.floorMod(micros, 1000000L) * 1000L
            val s = if (floored < 0 && ns != 0) floored + 1 else floored
            secs(v) = s - TsBaseSeconds
            nanos(v) = formatNanos(ns)
            v += 1
          }
          i += 1
        }
        val (sb, sm) = rleV2Marked(secs, nonNull, signed = true, nnAt)
        streams += BuiltStream(K_DATA, colId, sb,
          sm.map(o => Seq(o, 0L)).toSeq)
        val (nb, nm) = rleV2Marked(nanos, nonNull, signed = false, nnAt)
        streams += BuiltStream(K_SECONDARY, colId, nb,
          nm.map(o => Seq(o, 0L)).toSeq)
      case 7 => // STRING: DICTIONARY_V2 when the distinct set earns it
        // (the classic ≤ 50% cutoff), DIRECT_V2 otherwise
        val strs = new Array[String](nonNull)
        var v = 0
        i = 0
        while (i < n) {
          if (vals(i) != null) {
            strs(v) = vals(i) match {
              case s: String => s
              case x => throw new IllegalArgumentException(
                s"column '${f.name}' got ${x.getClass.getName}")
            }
            v += 1
          }
          i += 1
        }
        val distinct = strs.toSeq.distinct
        if (nonNull > 0 && distinct.size * 2 <= nonNull) {
          // sorted dictionary (the orc-core convention; readers don't
          // require it but sorted dicts compress and prune better)
          val dict = distinct.sorted
          val index = dict.zipWithIndex.toMap
          encoding = 3 // DICTIONARY_V2
          dictSize = dict.size
          val dictData = new java.io.ByteArrayOutputStream()
          val dictLens = new Array[Long](dict.size)
          for ((s, k) <- dict.zipWithIndex) {
            val b = s.getBytes("UTF-8")
            dictLens(k) = b.length.toLong
            dictData.write(b, 0, b.length)
          }
          val (ib, im) = rleV2Marked(
            strs.map(s => index(s).toLong), nonNull, signed = false,
            nnAt)
          streams += BuiltStream(K_DATA, colId, ib,
            im.map(o => Seq(o, 0L)).toSeq)
          // a seek never repositions the dictionary itself: no marks
          streams += BuiltStream(K_DICT, colId, dictData.toByteArray)
          streams += BuiltStream(K_LENGTH, colId,
            rleV2Direct(dictLens, dict.size, signed = false))
        } else {
          val lens = new Array[Long](nonNull)
          val data = new java.io.ByteArrayOutputStream()
          val dataOff = new Array[Long](nnAt.length)
          var g = 0
          var k = 0
          while (k < nonNull) {
            while (g < nnAt.length && nnAt(g) == k) {
              dataOff(g) = data.size.toLong; g += 1
            }
            val b = strs(k).getBytes("UTF-8")
            lens(k) = b.length.toLong
            data.write(b, 0, b.length)
            k += 1
          }
          while (g < nnAt.length) { dataOff(g) = data.size.toLong; g += 1 }
          streams += BuiltStream(K_DATA, colId, data.toByteArray,
            dataOff.map(Seq(_)).toSeq)
          val (lb, lm) = rleV2Marked(lens, nonNull, signed = false, nnAt)
          streams += BuiltStream(K_LENGTH, colId, lb,
            lm.map(o => Seq(o, 0L)).toSeq)
        }
      case 8 => // BINARY DIRECT_V2: unsigned LENGTH + raw DATA
        val lens = new Array[Long](nonNull)
        val data = new java.io.ByteArrayOutputStream()
        val dataOff = new Array[Long](nnAt.length)
        var g = 0
        var v = 0
        i = 0
        while (i < n) {
          if (vals(i) != null) {
            while (g < nnAt.length && nnAt(g) == v) {
              dataOff(g) = data.size.toLong; g += 1
            }
            val b = vals(i) match {
              case a: Array[Byte] => a
              case x => throw new IllegalArgumentException(
                s"column '${f.name}' got ${x.getClass.getName}")
            }
            lens(v) = b.length.toLong
            data.write(b, 0, b.length)
            v += 1
          }
          i += 1
        }
        while (g < nnAt.length) { dataOff(g) = data.size.toLong; g += 1 }
        streams += BuiltStream(K_DATA, colId, data.toByteArray,
          dataOff.map(Seq(_)).toSeq)
        val (lb, lm) = rleV2Marked(lens, nonNull, signed = false, nnAt)
        streams += BuiltStream(K_LENGTH, colId, lb,
          lm.map(o => Seq(o, 0L)).toSeq)
      case 14 => // DECIMAL: unbounded zigzag varints (DATA) + the
        // declared scale per value (SECONDARY, signed RLEv2)
        val unscaled = new Array[java.math.BigInteger](nonNull)
        val scales = new Array[Long](nonNull)
        var v = 0
        i = 0
        while (i < n) {
          if (vals(i) != null) {
            val bd = (vals(i) match {
              case d: java.math.BigDecimal => d
              case d: BigDecimal => d.bigDecimal
              case x => throw new IllegalArgumentException(
                s"column '${f.name}' got ${x.getClass.getName}")
            }).setScale(f.scale)
            require(bd.precision <= f.precision,
              s"column '${f.name}': $bd exceeds " +
                s"DECIMAL(${f.precision},${f.scale})")
            unscaled(v) = bd.unscaledValue()
            scales(v) = f.scale.toLong
            v += 1
          }
          i += 1
        }
        // raw varint DATA seeks by byte offset at value boundaries
        val data = new java.io.ByteArrayOutputStream()
        val dataOff = new Array[Long](nnAt.length)
        locally {
          var g = 0
          var k = 0
          while (k < nonNull) {
            while (g < nnAt.length && nnAt(g) == k) {
              dataOff(g) = data.size.toLong; g += 1
            }
            val b = bigVarints(Seq(unscaled(k)))
            data.write(b, 0, b.length)
            k += 1
          }
          while (g < nnAt.length) {
            dataOff(g) = data.size.toLong; g += 1
          }
        }
        streams += BuiltStream(K_DATA, colId, data.toByteArray,
          dataOff.map(Seq(_)).toSeq)
        val (scb, scm) = rleV2Marked(scales, nonNull, signed = true,
          nnAt)
        streams += BuiltStream(K_SECONDARY, colId, scb,
          scm.map(o => Seq(o, 0L)).toSeq)
      case k => throw new IllegalArgumentException(
        s"ORC writer kind $k unsupported " +
          "(BOOLEAN/INT/LONG/DOUBLE/STRING/BINARY/DECIMAL/DATE/" +
          "TIMESTAMP; LIST/MAP/STRUCT via buildColumnTree)")
    }
    BuiltCol(streams.result(), encoding, dictSize)
  }

  /** Build one column SUBTREE in type-tree pre-order (self first, then
    * children) — ORC's nested convention: a child column records
    * entries only for slots where the parent is present, so a STRUCT's
    * children carry its non-null slots, and a LIST/MAP's children
    * carry the concatenation of its non-null collections (LENGTH
    * stream, unsigned RLEv2). Values: LIST = Seq[Any], MAP =
    * Seq[(key, value)], STRUCT = Seq[Any] of field values — the same
    * shapes [[graft.operators.OrcData.readColumnTree]] yields.
    */
  private def buildColumnTree(f: OwField, colId: Int,
      vals: Array[Any], n: Int,
      groups: Array[Int] = Array(0)): Seq[BuiltCol] = f.kind match {
    case 10 | 11 | 12 =>
      val streams = Seq.newBuilder[BuiltStream]
      var nulls = 0
      var i = 0
      while (i < n) { if (vals(i) == null) nulls += 1; i += 1 }
      val nonNull = n - nulls
      val nnAt = new Array[Int](groups.length)
      locally {
        var g = 0
        var nn = 0
        var i = 0
        while (i < n) {
          while (g < groups.length && groups(g) == i) {
            nnAt(g) = nn; g += 1
          }
          if (vals(i) != null) nn += 1
          i += 1
        }
        while (g < groups.length) { nnAt(g) = nn; g += 1 }
      }
      if (nulls > 0) {
        val present = new Array[Boolean](n)
        i = 0
        while (i < n) { present(i) = vals(i) != null; i += 1 }
        val (pb, pm) = boolRleMarked(present, n, groups)
        streams += BuiltStream(K_PRESENT, colId, pb, pm)
      }
      def seqAt(i: Int): scala.collection.Seq[Any] = vals(i) match {
        case s: scala.collection.Seq[_] =>
          s.asInstanceOf[scala.collection.Seq[Any]]
        case x => throw new IllegalArgumentException(
          s"column '${f.name}' got ${x.getClass.getName}")
      }
      f.kind match {
        case 12 => // STRUCT: PRESENT only; children get non-null slots
          val kidVals = f.children.indices.map { ci =>
            val cv = new Array[Any](nonNull)
            var v = 0
            var i = 0
            while (i < n) {
              if (vals(i) != null) {
                val s = seqAt(i)
                require(s.length == f.children.length,
                  s"struct '${f.name}' row arity ${s.length} vs " +
                    s"${f.children.length} fields")
                cv(v) = s(ci)
                v += 1
              }
              i += 1
            }
            cv
          }
          var cid = colId + 1
          BuiltCol(streams.result(), 0, 0) +:
            f.children.zip(kidVals).flatMap { case (cf, cv) =>
              val b = buildColumnTree(cf, cid, cv, nonNull, nnAt)
              cid += cf.span
              b
            }
        case 10 => // LIST: PRESENT + LENGTH; one concatenated child
          val lens = new Array[Long](nonNull)
          val elems = scala.collection.mutable.ArrayBuffer[Any]()
          // a child's row groups start where the PARENT's do: at the
          // number of child values before each group boundary
          val childAt = new Array[Int](groups.length)
          var g = 0
          var v = 0
          i = 0
          while (i < n) {
            while (g < groups.length && groups(g) == i) {
              childAt(g) = elems.length; g += 1
            }
            if (vals(i) != null) {
              val s = seqAt(i)
              lens(v) = s.length.toLong
              elems ++= s
              v += 1
            }
            i += 1
          }
          while (g < groups.length) { childAt(g) = elems.length; g += 1 }
          val (lb, lm) = rleV2Marked(lens, nonNull, signed = false, nnAt)
          streams += BuiltStream(K_LENGTH, colId, lb,
            lm.map(o => Seq(o, 0L)).toSeq)
          BuiltCol(streams.result(), 2, 0) +: buildColumnTree(
            f.children.head, colId + 1, elems.toArray, elems.length,
            childAt)
        case _ => // MAP: PRESENT + LENGTH; key and value children
          val lens = new Array[Long](nonNull)
          val keys = scala.collection.mutable.ArrayBuffer[Any]()
          val mVals = scala.collection.mutable.ArrayBuffer[Any]()
          val childAt = new Array[Int](groups.length)
          var g = 0
          var v = 0
          i = 0
          while (i < n) {
            while (g < groups.length && groups(g) == i) {
              childAt(g) = keys.length; g += 1
            }
            if (vals(i) != null) {
              val s = seqAt(i)
              lens(v) = s.length.toLong
              for (kv <- s) kv match {
                case (k, value) =>
                  require(k != null, s"map '${f.name}' null key")
                  keys += k
                  mVals += value
                case x => throw new IllegalArgumentException(
                  s"map column '${f.name}' entry ${x.getClass.getName}")
              }
              v += 1
            }
            i += 1
          }
          while (g < groups.length) { childAt(g) = keys.length; g += 1 }
          val (lb, lm) = rleV2Marked(lens, nonNull, signed = false, nnAt)
          streams += BuiltStream(K_LENGTH, colId, lb,
            lm.map(o => Seq(o, 0L)).toSeq)
          val kCol = buildColumnTree(f.children.head, colId + 1,
            keys.toArray, keys.length, childAt)
          val vCol = buildColumnTree(f.children(1),
            colId + 1 + f.children.head.span, mVals.toArray,
            mVals.length, childAt)
          BuiltCol(streams.result(), 2, 0) +: (kCol ++ vCol)
      }
    case _ => Seq(buildColumn(f, colId, vals, n, groups))
  }

  // -------------------------------------------------------------------
  // column statistics (orc_proto ColumnStatistics and friends) — the
  // skip-side metadata that lets readers prune: written per stripe into
  // the Metadata section (graftorc's stripe pruning consumes exactly
  // that, OrcData.parseMetadata) and merged into the file footer's
  // `statistics` field (orc-core's Reader.getStatistics)

  /** UTF-8 byte order == Unicode code-point order, which differs from
    * Java String order exactly on supplementary characters (surrogate
    * pairs sort above U+E000..U+FFFF in byte order, below in UTF-16
    * order) — min/max written in the wrong order would mis-prune for a
    * byte-comparing reader.
    */
  private def cpLess(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    i >= a.length && j < b.length // equal prefix: the shorter is less
  }

  /** One column's accumulating statistics (a stripe's worth, or the
    * file-level merge). Typed min/max/sum per kind; sums drop out on
    * overflow (the spec marks IntegerStatistics.sum optional for
    * exactly that), double stats drop out entirely when a NaN is
    * present (no order), timestamp bounds round OUTWARD to millis so a
    * reader pruning at millis granularity can never wrongly exclude a
    * sub-millisecond value.
    */
  private final class StatAcc(val kind: Int) {
    var nonNull = 0L
    var hasNull = false
    var iMin = Long.MaxValue
    var iMax = Long.MinValue
    var iSum = 0L
    var iSumOk = true
    var dMin = Double.PositiveInfinity
    var dMax = Double.NegativeInfinity
    var dSum = 0.0
    var nan = false
    var sMin: String = null
    var sMax: String = null
    var sBytes = 0L
    var trues = 0L
    var bdMin: java.math.BigDecimal = null
    var bdMax: java.math.BigDecimal = null
    var bdSum: java.math.BigDecimal = java.math.BigDecimal.ZERO

    def addNull(): Unit = hasNull = true
    def addDecimal(v: java.math.BigDecimal): Unit = {
      nonNull += 1
      if (bdMin == null || v.compareTo(bdMin) < 0) bdMin = v
      if (bdMax == null || v.compareTo(bdMax) > 0) bdMax = v
      bdSum = bdSum.add(v)
    }
    def addBinary(len: Int): Unit = {
      nonNull += 1
      sBytes += len
    }
    def addLong(v: Long): Unit = {
      nonNull += 1
      if (v < iMin) iMin = v
      if (v > iMax) iMax = v
      if (iSumOk) try iSum = Math.addExact(iSum, v)
      catch { case _: ArithmeticException => iSumOk = false }
    }
    def addDouble(v: Double): Unit = {
      nonNull += 1
      if (java.lang.Double.isNaN(v)) nan = true
      else {
        if (v < dMin) dMin = v
        if (v > dMax) dMax = v
        dSum += v
      }
    }
    def addString(v: String, utf8Len: Int): Unit = {
      nonNull += 1
      sBytes += utf8Len
      if (sMin == null || cpLess(v, sMin)) sMin = v
      if (sMax == null || cpLess(sMax, v)) sMax = v
    }
    def addBoolean(v: Boolean): Unit = {
      nonNull += 1
      if (v) trues += 1
    }

    def merge(o: StatAcc): Unit = {
      nonNull += o.nonNull
      hasNull ||= o.hasNull
      if (o.iMin < iMin) iMin = o.iMin
      if (o.iMax > iMax) iMax = o.iMax
      if (iSumOk && o.iSumOk) try iSum = Math.addExact(iSum, o.iSum)
      catch { case _: ArithmeticException => iSumOk = false }
      else iSumOk = false
      if (o.dMin < dMin) dMin = o.dMin
      if (o.dMax > dMax) dMax = o.dMax
      dSum += o.dSum
      nan ||= o.nan
      if (o.sMin != null && (sMin == null || cpLess(o.sMin, sMin)))
        sMin = o.sMin
      if (o.sMax != null && (sMax == null || cpLess(sMax, o.sMax)))
        sMax = o.sMax
      sBytes += o.sBytes
      trues += o.trues
      if (o.bdMin != null && (bdMin == null ||
          o.bdMin.compareTo(bdMin) < 0)) bdMin = o.bdMin
      if (o.bdMax != null && (bdMax == null ||
          o.bdMax.compareTo(bdMax) > 0)) bdMax = o.bdMax
      bdSum = bdSum.add(o.bdSum)
    }

    /** Write this accumulator as one ColumnStatistics message body.
      * kind −1 = the root struct (counts only).
      */
    def emit(pb: PB): Unit = {
      pb.uint(1, nonNull) // numberOfValues
      if (nonNull > 0) kind match {
        case 0 => // BucketStatistics: packed repeated uint64 count
          pb.msg(5) { m =>
            val packed = new PB
            packed.varint(trues)
            m.bytes(1, packed.toByteArray)
          }
        case 3 | 4 => pb.msg(2) { m => // IntegerStatistics
          m.sint(1, iMin)
          m.sint(2, iMax)
          if (iSumOk) m.sint(3, iSum)
        }
        case 6 => if (!nan) pb.msg(3) { m => // DoubleStatistics
          m.dbl(1, dMin)
          m.dbl(2, dMax)
          m.dbl(3, dSum)
        }
        case 7 => pb.msg(4) { m => // StringStatistics
          m.str(1, sMin)
          m.str(2, sMax)
          m.sint(3, sBytes)
        }
        case 8 => pb.msg(8) { m => // BinaryStatistics: total bytes
          m.sint(1, sBytes)
        }
        case 14 => if (bdMin != null) pb.msg(6) { m =>
          // DecimalStatistics: decimal STRINGS per orc_proto
          m.str(1, bdMin.toPlainString)
          m.str(2, bdMax.toPlainString)
          m.str(3, bdSum.toPlainString)
        }
        case 15 => pb.msg(7) { m => // DateStatistics (days, sint32)
          m.sint(1, iMin)
          m.sint(2, iMax)
        }
        case 9 | 18 => pb.msg(9) { m => // TimestampStatistics: UTC
          // millis, bounds rounded outward from the stored micros
          m.sint(3, Math.floorDiv(iMin, 1000L))
          m.sint(4, -Math.floorDiv(-iMax, 1000L))
        }
        case _ => ()
      }
      pb.uint(10, if (hasNull) 1L else 0L) // hasNull
    }
  }

  /** One column SUBTREE's stats in type-tree pre-order — compound
    * nodes record value count + hasNull (what orc_proto requires of
    * them), their children accumulate over exactly the slots the
    * matching data streams carry (non-null parents only).
    */
  private def statsOf(f: OwField, vals: Array[Any], n: Int)
      : Seq[StatAcc] = {
    val a = new StatAcc(f.kind)
    f.kind match {
      case 10 | 11 | 12 =>
        var i = 0
        while (i < n) {
          if (vals(i) == null) a.addNull() else a.nonNull += 1
          i += 1
        }
        def seqs: Iterator[scala.collection.Seq[Any]] =
          vals.iterator.filter(_ != null).map {
            case s: scala.collection.Seq[_] =>
              s.asInstanceOf[scala.collection.Seq[Any]]
            case x => throw new IllegalArgumentException(
              s"column '${f.name}' got ${x.getClass.getName}")
          }
        val kidVals: Seq[Array[Any]] = f.kind match {
          case 12 => f.children.indices.map(ci =>
            seqs.map(_(ci)).toArray)
          case 10 => Seq(seqs.flatten.toArray)
          case _ => // MAP: (key, value) pairs
            val ks = scala.collection.mutable.ArrayBuffer[Any]()
            val vs = scala.collection.mutable.ArrayBuffer[Any]()
            for (s <- seqs; kv <- s) kv match {
              case (k, v) => ks += k; vs += v
              case x => throw new IllegalArgumentException(
                s"map column '${f.name}' entry ${x.getClass.getName}")
            }
            Seq(ks.toArray, vs.toArray)
        }
        a +: f.children.zip(kidVals).flatMap { case (cf, cv) =>
          statsOf(cf, cv, cv.length)
        }
      case _ =>
        var i = 0
        while (i < n) {
          vals(i) match {
            case null => a.addNull()
            case v => f.kind match {
              case 0 => a.addBoolean(v.asInstanceOf[Boolean])
              case 3 | 4 | 15 => a.addLong(v match {
                case x: Int => x.toLong
                case x: Long => x
                case x => throw new IllegalArgumentException(
                  s"column '${f.name}' got ${x.getClass.getName}")
              })
              case 6 => a.addDouble(v.asInstanceOf[Double])
              case 7 =>
                val s = v.asInstanceOf[String]
                a.addString(s, s.getBytes("UTF-8").length)
              case 8 => a.addBinary(v.asInstanceOf[Array[Byte]].length)
              case 14 => a.addDecimal(v match {
                case d: java.math.BigDecimal => d
                case d: BigDecimal => d.bigDecimal
                case x => throw new IllegalArgumentException(
                  s"column '${f.name}' got ${x.getClass.getName}")
              })
              case 9 | 18 => a.addLong(v.asInstanceOf[Long]) // micros
              case _ => a.nonNull += 1
            }
          }
          i += 1
        }
        Seq(a)
    }
  }

  /** Accumulate one stripe's per-column stats (index 0 = root struct,
    * then one per type-tree node in pre-order).
    */
  private def stripeStatsOf(fields: Seq[OwField],
      batch: scala.collection.IndexedSeq[Array[Any]], n: Int)
      : Array[StatAcc] = {
    val accs = Vector.newBuilder[StatAcc]
    val root = new StatAcc(-1)
    root.nonNull = n.toLong
    accs += root
    for ((f, c) <- fields.zipWithIndex) {
      val colVals = new Array[Any](n)
      var i = 0
      while (i < n) { colVals(i) = batch(i)(c); i += 1 }
      accs ++= statsOf(f, colVals, n)
    }
    accs.result().toArray
  }

  private final case class StripeInfo(offset: Long, indexLength: Long,
      dataLength: Long, footerLength: Long, rows: Long)

  /** The type tree flattened in column-id order (root excluded). */
  private def preorderFields(fs: Seq[OwField]): Seq[OwField] =
    fs.flatMap(f => f +: preorderFields(f.children))

  /** Write one complete ORC file; returns the row count. `rows` yields
    * one `Array[Any]` per row aligned with `fields` (nulls as null;
    * BOOLEAN/INT/LONG/DOUBLE/STRING/DATE carried as
    * Boolean/Int/Long/Double/String/Int-epoch-days). `compression` is
    * the orc_proto CompressionKind: 0 NONE or 5 ZSTD.
    */
  def writeFile(path: java.nio.file.Path, fields: Seq[OwField],
      rows: Iterator[Array[Any]], stripeRows: Int = 1 << 16,
      compression: Int = PageCodec.Uncompressed,
      rowIndexStride: Int = 10000,
      bloomColumns: Set[String] = Set.empty): Long = {
    require(fields.nonEmpty, "ORC writer needs at least one field")
    require(stripeRows > 0, s"bad stripe row count $stripeRows")
    require(rowIndexStride >= 0, s"bad row index stride $rowIndexStride")
    require(compression == PageCodec.Uncompressed ||
      compression == PageCodec.OrcZstd,
      s"ORC writer compression $compression unsupported (NONE=0, ZSTD=5)")
    val blockSize = 1 << 18
    def packed(b: Array[Byte]): Array[Byte] =
      PageCodec.orcCompress(b, compression, blockSize)
    val os = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path))
    var pos = 0L
    def emit(b: Array[Byte]): Unit = {
      os.write(b, 0, b.length); pos += b.length
    }
    try {
      emit("ORC".getBytes("US-ASCII"))
      val stripes = Vector.newBuilder[StripeInfo]
      val stripeStats = Vector.newBuilder[Array[StatAcc]]
      var total = 0L
      val batch = new scala.collection.mutable.ArrayBuffer[Array[Any]]()
      def flushStripe(): Unit = if (batch.nonEmpty) {
        val n = batch.length
        stripeStats += stripeStatsOf(fields, batch, n)
        val stripeStart = pos
        val groups: Array[Int] =
          if (rowIndexStride <= 0) Array(0)
          else Array.range(0, n, rowIndexStride)
        val colVals = fields.indices.map { c =>
          val cv = new Array[Any](n)
          var i = 0
          while (i < n) { cv(i) = batch(i)(c); i += 1 }
          cv
        }
        var cid = 1 // type-tree pre-order: each field spans a subtree
        val built = fields.zipWithIndex.flatMap { case (f, c) =>
          val b = buildColumnTree(f, cid, colVals(c), n, groups)
          cid += f.span
          b
        }
        // on-disk framing. A marked stream compresses SEGMENT-wise —
        // each row group's bytes start a fresh zstd chunk, so its seek
        // position is [compressed chunk offset, 0 into the chunk] and
        // a continuous read still sees one legal chunk chain.
        def framed(s: BuiltStream): BuiltStream =
          if (compression == PageCodec.Uncompressed || s.marks.isEmpty)
            s.copy(bytes = packed(s.bytes))
          else {
            val bounds = s.marks.map(_.head) :+ s.bytes.length.toLong
            val out = new java.io.ByteArrayOutputStream(
              s.bytes.length / 2 + 16)
            val newMarks = Seq.newBuilder[Seq[Long]]
            for (g <- s.marks.indices) {
              newMarks += Seq(out.size.toLong, 0L) ++ s.marks(g).tail
              val seg = packed(java.util.Arrays.copyOfRange(
                s.bytes, bounds(g).toInt, bounds(g + 1).toInt))
              out.write(seg, 0, seg.length)
            }
            BuiltStream(s.kind, s.column, out.toByteArray,
              newMarks.result())
          }
        val dataStreams = built.flatMap(_.streams).map(framed)
        // ROW_INDEX streams (INDEX area, one per column incl. the
        // root): per row group, the seek positions of the column's
        // seekable streams in reader order plus that group's stats
        val indexStreams: Seq[BuiltStream] =
          if (rowIndexStride <= 0) Nil
          else {
            val nodes = preorderFields(fields)
            val groupAccs: Seq[Seq[StatAcc]] = groups.indices.map { g =>
              val from = groups(g)
              val to = if (g + 1 < groups.length) groups(g + 1) else n
              fields.indices.flatMap { c =>
                statsOf(fields(c), colVals(c).slice(from, to), to - from)
              }
            }
            val byCol = dataStreams.groupBy(_.column)
            (0 to nodes.length).map { col =>
              val pb = new PB
              for (g <- groups.indices) pb.msg(1) { e =>
                val posns = byCol.getOrElse(col, Nil)
                  .filter(_.marks.nonEmpty).flatMap(_.marks(g))
                if (posns.nonEmpty) {
                  val inner = new PB
                  posns.foreach(inner.varint)
                  e.bytes(1, inner.toByteArray) // packed uint64
                }
                if (col == 0) {
                  val from = groups(g)
                  val to =
                    if (g + 1 < groups.length) groups(g + 1) else n
                  val root = new StatAcc(-1)
                  root.nonNull = (to - from).toLong
                  e.msg(2)(root.emit)
                } else e.msg(2)(groupAccs(g)(col - 1).emit)
              }
              BuiltStream(K_ROW_INDEX, col, packed(pb.toByteArray))
            }
          }
        // BLOOM_FILTER_UTF8 streams (INDEX area, selected columns):
        // one BloomFilter per row group, orc-core's exact shape —
        // numHashFunctions + utf8bitset (LE long words), values hashed
        // with Murmur3-64(seed 104729) over UTF-8 bytes for strings
        // and Thomas Wang's mix for the integer family, sized for the
        // group's rows at 0.01 fpp (tighter than orc-core's 0.05
        // default — ~10 bits/row buys whole-file point-lookup pruning)
        val bloomStreams: Seq[BuiltStream] =
          if (bloomColumns.isEmpty || rowIndexStride <= 0) Nil
          else {
            val rootIds = fields.scanLeft(1)((id, f) => id + f.span).init
            fields.indices.flatMap { c =>
              val f = fields(c)
              if (!bloomColumns(f.name)) None
              else {
                require(Set(1, 2, 3, 4, 7).contains(f.kind),
                  s"bloom filter on column '${f.name}': ORC kind " +
                    s"${f.kind} unsupported (int family and STRING only)")
                val pb = new PB
                for (g <- groups.indices) {
                  val from = groups(g)
                  val to = if (g + 1 < groups.length) groups(g + 1) else n
                  val entries = math.max(1, to - from)
                  val nBits = ((math.ceil(-entries * math.log(0.01) /
                    (math.log(2) * math.log(2))).toInt + 63) / 64) * 64
                  val k = math.max(1, math.round(
                    nBits.toDouble / entries * math.log(2)).toInt)
                  val words = new Array[Long](nBits / 64)
                  var i = from
                  while (i < to) {
                    val v = colVals(c)(i)
                    if (v != null) {
                      val h = f.kind match {
                        case 7 => OrcData.orcMurmur64(
                          v.asInstanceOf[String].getBytes(
                            java.nio.charset.StandardCharsets.UTF_8))
                        case _ => OrcData.orcLongHash(v match {
                          case x: java.lang.Integer => x.longValue
                          case x: java.lang.Long => x.longValue
                          case x: java.lang.Short => x.longValue
                          case x: java.lang.Byte => x.longValue
                          case x => throw new IllegalArgumentException(
                            s"bloom filter on column '${f.name}': " +
                              s"${x.getClass.getName} values unsupported")
                        })
                      }
                      OrcData.orcBloomSet(words, k, h)
                    }
                    i += 1
                  }
                  pb.msg(1) { m =>
                    m.uint(1, k.toLong)
                    val le = new Array[Byte](words.length * 8)
                    var wi = 0
                    while (wi < words.length) {
                      var j = 0
                      while (j < 8) {
                        le((wi << 3) + j) =
                          ((words(wi) >>> (8 * j)) & 0xff).toByte
                        j += 1
                      }
                      wi += 1
                    }
                    m.bytes(3, le) // utf8bitset
                  }
                }
                Some(BuiltStream(8, rootIds(c), // BLOOM_FILTER_UTF8
                  packed(pb.toByteArray)))
              }
            }
          }
        val allIndexStreams = indexStreams ++ bloomStreams
        for (s <- allIndexStreams) emit(s.bytes)
        val indexLength = pos - stripeStart
        for (s <- dataStreams) emit(s.bytes)
        val dataLength = pos - stripeStart - indexLength
        val sf = new PB
        for (s <- allIndexStreams ++ dataStreams) sf.msg(1) { m =>
          m.uint(1, s.kind.toLong)
          m.uint(2, s.column.toLong)
          m.uint(3, s.bytes.length.toLong)
        }
        sf.msg(2)(_.uint(1, 0L)) // root struct: DIRECT
        for (b <- built) sf.msg(2) { m =>
          m.uint(1, b.encoding.toLong)
          if (b.dictSize > 0) m.uint(2, b.dictSize.toLong)
        }
        sf.str(3, "UTC") // writerTimezone: kind-9 timestamps are UTC
        val sfb = packed(sf.toByteArray)
        emit(sfb)
        stripes += StripeInfo(stripeStart, indexLength, dataLength,
          sfb.length.toLong, n.toLong)
        total += n
        batch.clear()
      }
      while (rows.hasNext) {
        val r = rows.next()
        require(r.length == fields.length,
          s"row arity ${r.length} vs ${fields.length} fields")
        batch += r
        if (batch.length >= stripeRows) flushStripe()
      }
      flushStripe()
      val contentLength = pos
      val allStripeStats = stripeStats.result()
      // Metadata section (between the stripes and the footer): one
      // StripeStatistics per stripe, each one ColumnStatistics per
      // type-tree entry — what graftorc's stripe pruning reads
      val md = new PB
      for (ss <- allStripeStats) md.msg(1) { sm =>
        for (a <- ss) sm.msg(1)(a.emit)
      }
      val mdb = packed(md.toByteArray)
      emit(mdb)
      // file-level statistics: the per-stripe accumulators merged
      val fileStats: Array[StatAcc] =
        if (allStripeStats.isEmpty) {
          val nodes = preorderFields(fields)
          (new StatAcc(-1) +: nodes.map(f => new StatAcc(f.kind)))
            .toArray
        }
        else {
          val m = allStripeStats.head.map { a =>
            val c = new StatAcc(a.kind); c.merge(a); c
          }
          for (ss <- allStripeStats.tail; i <- m.indices) m(i).merge(ss(i))
          m
        }
      val fo = new PB
      fo.uint(1, 3L) // headerLength ("ORC")
      fo.uint(2, contentLength)
      for (s <- stripes.result()) fo.msg(3) { m =>
        m.uint(1, s.offset)
        m.uint(2, s.indexLength)
        m.uint(3, s.dataLength)
        m.uint(4, s.footerLength)
        m.uint(5, s.rows)
      }
      fo.msg(4) { m => // root struct type
        m.uint(1, 12L)
        var cid = 1L
        for (f <- fields) { m.uint(2, cid); cid += f.span }
        for (f <- fields) m.str(3, f.name)
      }
      // one Type message per tree node, PRE-ORDER (= column id order);
      // subtypes carry absolute ids
      def emitType(f: OwField, id: Int): Int = {
        fo.msg(4) { m =>
          m.uint(1, f.kind.toLong)
          var cid = id + 1
          for (c <- f.children) { m.uint(2, cid.toLong); cid += c.span }
          if (f.kind == 12) for (c <- f.children) m.str(3, c.name)
          if (f.kind == 14) { // DECIMAL carries precision/scale
            m.uint(5, f.precision.toLong)
            m.uint(6, f.scale.toLong)
          }
        }
        var cid = id + 1
        for (c <- f.children) cid = emitType(c, cid)
        cid
      }
      locally {
        var cid = 1
        for (f <- fields) cid = emitType(f, cid)
      }
      fo.uint(6, total) // numberOfRows
      for (a <- fileStats) fo.msg(7)(a.emit) // file ColumnStatistics
      fo.uint(8, rowIndexStride.toLong)
      val fob = packed(fo.toByteArray)
      emit(fob)
      val ps = new PB
      ps.uint(1, fob.length.toLong) // footerLength
      ps.uint(2, compression.toLong)
      if (compression != PageCodec.Uncompressed)
        ps.uint(3, blockSize.toLong)
      ps.msg(4) { m => // version [0, 12] — packed repeated uint32
        m.varint(0L); m.varint(12L)
      }
      ps.uint(5, mdb.length.toLong) // metadataLength
      ps.uint(6, 1L) // writerVersion
      ps.str(8000, "ORC")
      val psb = ps.toByteArray
      require(psb.length <= 255, "postscript too long")
      emit(psb)
      emit(Array(psb.length.toByte))
      total
    } finally os.close()
  }

  /** Map a Spark schema to writer fields; unsupported types reject
    * loudly by name.
    */
  def fieldsOf(schema: org.apache.spark.sql.types.StructType)
      : Seq[OwField] = {
    import org.apache.spark.sql.types._
    def fieldOf(name: String, dt: DataType): OwField = dt match {
      case BooleanType => OwFields.boolean(name)
      case IntegerType => OwFields.int(name)
      case LongType => OwFields.long(name)
      case DoubleType => OwFields.double(name)
      case StringType => OwFields.string(name)
      case BinaryType => OwFields.binary(name)
      case d: DecimalType =>
        OwFields.decimal(name, d.precision, d.scale)
      case DateType => OwFields.date(name)
      case TimestampType => OwFields.timestamp(name)
      case ArrayType(et, _) =>
        OwFields.list(name, fieldOf("_elem", et))
      case MapType(kt, vt, _) =>
        OwFields.mapOf(name, fieldOf("_key", kt), fieldOf("_value", vt))
      case st: StructType =>
        OwFields.struct(name,
          st.fields.toSeq.map(g => fieldOf(g.name, g.dataType)))
      case t => throw new IllegalArgumentException(
        s"ORC writer: column '$name' type ${t.sql} unsupported")
    }
    schema.fields.toSeq.map(f => fieldOf(f.name, f.dataType))
  }

  /** Distributed write: every partition writes its own
    * `part-NNNNN.orc` with [[writeFile]] — the writer runs WHERE THE
    * DATA IS, one task per partition, no driver collection — then
    * `_SUCCESS` commits the directory. Returns the row count.
    */
  def writeDataFrame(df: org.apache.spark.sql.DataFrame, dir: String,
      stripeRows: Int = 1 << 16,
      compression: Int = PageCodec.Uncompressed,
      rowIndexStride: Int = 10000,
      bloomColumns: Set[String] = Set.empty): Long = {
    import org.apache.spark.sql.types._
    val fields = fieldsOf(df.schema)
    val schema = df.schema
    val target = new java.io.File(dir)
    target.mkdirs()
    def valueAdapt(dt: DataType, name: String): Any => Any = dt match {
      case DateType => {
        case null => null
        case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
        case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
        case v => v
      }
      case TimestampType => {
        case null => null
        case t: java.sql.Timestamp =>
          Long.box(Math.addExact(Math.multiplyExact(
            Math.floorDiv(t.getTime, 1000L), 1000000L),
            t.getNanos / 1000L))
        case t: java.time.Instant =>
          Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000)
        case v => v
      }
      case ArrayType(et, _) =>
        val ad = valueAdapt(et, name)
        locally {
          case null => null
          case s: scala.collection.Seq[_] =>
            s.map[Any](v => if (v == null) null else ad(v))
          case x => throw new IllegalArgumentException(
            s"array column '$name' got ${x.getClass.getName}")
        }
      case MapType(kt, vt, _) =>
        val kad = valueAdapt(kt, name)
        val vad = valueAdapt(vt, name)
        locally {
          case null => null
          case m: scala.collection.Map[_, _] =>
            m.toSeq.map[(Any, Any)] { case (k, v) =>
              (kad(k), if (v == null) null else vad(v))
            }
          case x => throw new IllegalArgumentException(
            s"map column '$name' got ${x.getClass.getName}")
        }
      case st: StructType =>
        val ads = st.fields.toSeq.map(g =>
          valueAdapt(g.dataType, s"$name.${g.name}"))
        locally {
          case null => null
          case r: org.apache.spark.sql.Row =>
            Seq.tabulate[Any](ads.length)(i =>
              if (r.isNullAt(i)) null else ads(i)(r.get(i)))
          case x => throw new IllegalArgumentException(
            s"struct column '$name' got ${x.getClass.getName}")
        }
      case _ => identity
    }
    val adapt: Array[Any => Any] = schema.fields.map[Any => Any](f =>
      valueAdapt(f.dataType, f.name))
    val counts = df.rdd.mapPartitionsWithIndex { (i, it) =>
      val f = new java.io.File(target, f"part-$i%05d.orc")
      val rs = it.map { row =>
        Array.tabulate[Any](fields.length)(c =>
          if (row.isNullAt(c)) null else adapt(c)(row.get(c)))
      }
      val n = writeFile(f.toPath, fields, rs, stripeRows, compression,
        rowIndexStride, bloomColumns)
      if (n == 0) f.delete() // empty partitions leave no file
      Iterator.single(n)
    }.collect().sum
    new java.io.FileOutputStream(new java.io.File(target, "_SUCCESS"))
      .close()
    counts
  }
}
