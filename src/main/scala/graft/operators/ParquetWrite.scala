package graft.operators

/** Parquet WRITER from scratch (pure JVM) — the other half of owning
  * the engine's storage format: [[ParquetFooter]]/[[ParquetData]] read
  * foreign parquet without parquet-mr, this module writes parquet
  * without it. Emits the classic, maximally-interoperable shape every
  * reader accepts: PAR1 framing, v1 data pages behind
  * RLE/bit-packed-hybrid definition levels (bit width 1, flat optional
  * leaves), values either PLAIN or — when a row group's column repeats
  * enough to pay for it (parquet-mr's own policy shape: bounded
  * dictionary attempt, fall back to PLAIN past 64 Ki distinct or under
  * 2× repetition) — a PLAIN dictionary page + RLE_DICTIONARY index
  * pages, page compression through [[PageCodec.parquetCompress]]
  * (snappy-java, zstd-jni, or UNCOMPRESSED),
  * per-chunk Statistics (min_value/max_value/null_count, the modern
  * field ids), a PAGE-INDEX section (OffsetIndex per chunk,
  * ColumnIndex per stats-bearing chunk — parquet-mr's column-index
  * filter page-skips on our output), opt-in SPLIT-BLOCK BLOOM FILTERS
  * per chunk (`bloomColumns`; BLOCK/XXHASH/UNCOMPRESSED header +
  * bitset, locations in ColumnMetaData 14/15 — parquet-mr probes them
  * and `graftpq` plans zero partitions for proven-absent point
  * lookups), and a FileMetaData footer in the
  * THRIFT COMPACT PROTOCOL — short-form delta field headers, zigzag
  * varints, length-prefixed binaries, size+type list headers —
  * mirrored against the reader's TReader.
  *
  * Supported leaves: BOOLEAN, INT32 (+DATE days), INT64
  * (+TIMESTAMP_MICROS), FLOAT, DOUBLE, BYTE_ARRAY (UTF8 strings and
  * raw binary), and DECIMAL at the spec's storage thresholds (INT32 /
  * INT64 / FIXED_LEN_BYTE_ARRAY(16) by precision, the same choices
  * Spark's writer makes). Anything else rejects loudly by name. Row groups and pages split at
  * caller-set row counts, so multi-GB chunks can't accumulate in one
  * page; every offset the footer records is absolute, which is what
  * lets [[sources.GraftParquet]] (and any foreign reader) plan
  * byte-range tasks over files this module wrote.
  *
  * Validated three ways in ParquetWriteSpec: Spark's own parquet-mr
  * vectorized reader and this repo's [[ParquetData]] both decode
  * written files row-identically, and `graftpq` prunes row groups from
  * the written footer statistics. Formats per the public
  * parquet-format specification (parquet.thrift, Encodings.md) and the
  * Thrift compact protocol spec.
  */
object ParquetWrite {

  /** The footer's `created_by` — parseable under parquet-mr's
    * VersionParser (see the footer emitter). Also the EXACTNESS
    * SIGNATURE the agg planner keys on: this writer folds chunk
    * min/max over the full values with no truncation (spec-pinned in
    * ParquetWriteSpec), so a file carrying this created_by may answer
    * string MIN/MAX exactly from its chunk statistics — something no
    * flag in the format itself can promise for a foreign writer.
    */
  val createdBy: String = "graft version 1.0.0 (build graft)"

  /** One leaf of the flat schema being written. `physicalType` and
    * `convertedType` use the parquet-format enum ids ([[PwFields]] has
    * the common shapes).
    */
  final case class PwField(name: String, physicalType: Int,
      convertedType: Option[Int] = None, typeLength: Int = 0,
      precision: Int = 0, scale: Int = 0)

  object PwFields {
    def boolean(n: String): PwField = PwField(n, 0)
    def int32(n: String): PwField = PwField(n, 1)
    def int64(n: String): PwField = PwField(n, 2)
    def float(n: String): PwField = PwField(n, 4)
    def double(n: String): PwField = PwField(n, 5)
    def string(n: String): PwField = PwField(n, 6, Some(0)) // UTF8
    def binary(n: String): PwField = PwField(n, 6) // unannotated bytes
    def date(n: String): PwField = PwField(n, 1, Some(6)) // epoch days
    def timestampMicros(n: String): PwField =
      PwField(n, 2, Some(10)) // TIMESTAMP_MICROS
    /** DECIMAL at the spec's storage thresholds (LogicalTypes.md):
      * INT32 to precision 9, INT64 to 18, FIXED_LEN_BYTE_ARRAY(16)
      * beyond — the same choices Spark's writer makes, so files read
      * back with identical schemas. Values are carried as the UNSCALED
      * integer (Int / Long / 16-byte big-endian twos complement).
      */
    def decimal(n: String, precision: Int, scale: Int): PwField = {
      require(precision > 0 && precision <= 38 && scale >= 0 &&
        scale <= precision, s"DECIMAL($precision,$scale)")
      if (precision <= 9)
        PwField(n, 1, Some(5), precision = precision, scale = scale)
      else if (precision <= 18)
        PwField(n, 2, Some(5), precision = precision, scale = scale)
      else PwField(n, 7, Some(5), typeLength = 16,
        precision = precision, scale = scale)
    }
  }

  /** One TOP-LEVEL column being written: a flat leaf, a one-level
    * struct of leaves, the standard 3-level LIST of a leaf element, or
    * the standard 3-level MAP of leaf key/values — exactly the nested
    * shapes [[sources.GraftParquet]] reads back. Values are carried as:
    * struct → Array[Any] aligned with `fields`; list → Seq[Any]; map →
    * Seq[(Any, Any)] (entry order preserved). Nested chunks write
    * PLAIN pages with full Dremel repetition/definition level streams;
    * group nullability follows the house all-optional convention
    * (except map keys, REQUIRED per the spec).
    */
  sealed trait PwCol extends Serializable { def name: String }
  final case class PwLeafCol(field: PwField) extends PwCol {
    def name: String = field.name
  }
  final case class PwStructCol(name: String, fields: Seq[PwField])
    extends PwCol
  final case class PwListCol(name: String, element: PwField)
    extends PwCol
  final case class PwMapCol(name: String, key: PwField, value: PwField)
    extends PwCol

  /** ARBITRARY-DEPTH nested column (the general shape behind
    * [[PwTreeCol]]): any combination of struct / 3-level LIST /
    * 3-level MAP over leaves, shredded by the generic Dremel walker —
    * the write-side twin of the read path's
    * [[sources.GraftParquet]] TreePlan (and of [[OrcWrite]]'s
    * depth-unlimited tree shredder). Values carried as: struct →
    * Array[Any] aligned with fields; list → Seq[Any]; map →
    * Seq[(Any, Any)]; every node optional except map keys (REQUIRED
    * per the spec).
    */
  sealed trait PwNode extends Serializable { def name: String }
  final case class PwLeafNode(field: PwField) extends PwNode {
    def name: String = field.name
  }
  final case class PwStructNode(name: String, fields: Seq[PwNode])
    extends PwNode
  final case class PwListNode(name: String, element: PwNode)
    extends PwNode
  final case class PwMapNode(name: String, key: PwField, value: PwNode)
    extends PwNode
  final case class PwTreeCol(name: String, root: PwNode) extends PwCol

  private def renameNode(n: PwNode, nm: String): PwNode = n match {
    case PwLeafNode(f) => PwLeafNode(f.copy(name = nm))
    case s: PwStructNode => s.copy(name = nm)
    case l: PwListNode => l.copy(name = nm)
    case m: PwMapNode => m.copy(name = nm)
  }

  /** SchemaElement count of one node subtree (LIST adds its repeated
    * `list` group, MAP its `key_value` group + key leaf).
    */
  private def nodeCount(n: PwNode): Int = n match {
    case _: PwLeafNode => 1
    case s: PwStructNode => 1 + s.fields.map(nodeCount).sum
    case l: PwListNode => 2 + nodeCount(l.element)
    case m: PwMapNode => 3 + nodeCount(m.value)
  }

  // thrift compact element types (mirror of ParquetFooter's TReader)
  private val T_TRUE = 1
  private val T_I32 = 5
  private val T_I64 = 6
  private val T_BINARY = 8
  private val T_LIST = 9
  private val T_STRUCT = 12

  /** Thrift compact WRITER: tracks the per-struct last-field-id stack
    * the short-form delta headers need.
    */
  private final class TWriter(out: java.io.ByteArrayOutputStream) {
    private var last: List[Int] = List(0)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
    }
    private def zig(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    private def fieldHeader(id: Int, typ: Int): Unit = {
      val delta = id - last.head
      if (delta > 0 && delta <= 15) out.write((delta << 4) | typ)
      else { out.write(typ); zig(id.toLong) }
      last = id :: last.tail
    }
    def i32(id: Int, v: Int): Unit = { fieldHeader(id, T_I32); zig(v) }
    def i64(id: Int, v: Long): Unit = { fieldHeader(id, T_I64); zig(v) }
    def bool(id: Int, v: Boolean): Unit =
      fieldHeader(id, if (v) T_TRUE else 2)
    def binary(id: Int, b: Array[Byte]): Unit = {
      fieldHeader(id, T_BINARY)
      varint(b.length)
      out.write(b, 0, b.length)
    }
    def str(id: Int, s: String): Unit = binary(id, s.getBytes("UTF-8"))
    def listHeader(id: Int, elemType: Int, size: Int): Unit = {
      fieldHeader(id, T_LIST)
      if (size < 15) out.write((size << 4) | elemType)
      else { out.write(0xf0 | elemType); varint(size.toLong) }
    }
    // bare LIST ELEMENT writers (no field header): i64 elements are
    // zigzag varints, binary elements length-prefixed, bool elements
    // one byte (1 true / 2 false) per the compact protocol
    def elemI64(v: Long): Unit = zig(v)
    def elemBinary(b: Array[Byte]): Unit = {
      varint(b.length.toLong)
      out.write(b, 0, b.length)
    }
    def elemBool(v: Boolean): Unit = out.write(if (v) 1 else 2)
    /** Open a struct field; the caller writes its fields then calls
      * [[structEnd]]. List elements use [[structBegin]] directly (no
      * field header).
      */
    def structField(id: Int): Unit = { fieldHeader(id, T_STRUCT); structBegin() }
    def structBegin(): Unit = last = 0 :: last
    def structEnd(): Unit = { out.write(0); last = last.tail }
  }

  // -------------------------------------------------------------------
  // value encoding

  private final class Ba extends java.io.ByteArrayOutputStream {
    def le32(v: Int): Unit = {
      write(v & 0xff); write((v >>> 8) & 0xff)
      write((v >>> 16) & 0xff); write((v >>> 24) & 0xff)
    }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >>> 32).toInt) }
  }

  /** RLE/bit-packed hybrid definition levels for a flat optional leaf
    * (bit width 1): a single RLE run when nothing is null, bit-packed
    * groups of 8 otherwise — both shapes the spec's readers must
    * accept. Returns the 4-byte-length-prefixed region v1 data pages
    * carry.
    */
  private def defLevels(nulls: Array[Boolean], n: Int): Array[Byte] = {
    val body = new Ba
    val w = new TWriter(body)
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) { anyNull = nulls(i); i += 1 }
    if (!anyNull) {
      w.varint((n.toLong << 1)) // RLE run of n
      body.write(1) // value 1 in ceil(1/8) = 1 byte
    } else {
      val groups = (n + 7) / 8
      w.varint((groups.toLong << 1) | 1) // bit-packed header
      var g = 0
      while (g < groups) {
        var b = 0
        var k = 0
        while (k < 8) {
          val idx = g * 8 + k
          if (idx < n && !nulls(idx)) b |= 1 << k
          k += 1
        }
        body.write(b)
        g += 1
      }
    }
    val out = new Ba
    out.le32(body.size())
    body.writeTo(out)
    out.toByteArray
  }

  /** The general level region (nested columns: definition levels of
    * width > 1 and repetition levels): RLE single run when constant,
    * bit-packed groups of 8 otherwise, 4-byte length prefix — the same
    * hybrid [[ParquetData.readHybrid]] and every spec reader decode.
    * `levels[from, to)` is the page's slice; `width` ≥ 1.
    */
  private def levelRegion(levels: Array[Int], from: Int, to: Int,
      width: Int): Array[Byte] = {
    val n = to - from
    val body = new Ba
    val w = new TWriter(body)
    var allSame = true
    var i = from + 1
    while (i < to && allSame) { allSame = levels(i) == levels(from); i += 1 }
    if (n > 0 && allSame) {
      w.varint(n.toLong << 1) // RLE run
      val byteW = (width + 7) / 8
      var k = 0
      while (k < byteW) {
        body.write((levels(from) >>> (8 * k)) & 0xff); k += 1
      }
    } else if (n > 0) {
      val groups = (n + 7) / 8
      w.varint((groups.toLong << 1) | 1) // bit-packed header
      var g = 0
      while (g < groups) {
        val bits = new Array[Byte](width)
        var k = 0
        while (k < 8) {
          val idx = from + g * 8 + k
          val v = if (idx < to) levels(idx) else 0
          var j = 0
          while (j < width) {
            if (((v >>> j) & 1) != 0) {
              val bit = k * width + j
              bits(bit >> 3) = (bits(bit >> 3) | (1 << (bit & 7))).toByte
            }
            j += 1
          }
          k += 1
        }
        body.write(bits, 0, width)
        g += 1
      }
    }
    val out = new Ba
    out.le32(body.size())
    body.writeTo(out)
    out.toByteArray
  }

  /** PLAIN-encode the non-null values of one page. */
  private def plainValues(f: PwField, vals: Array[Any], n: Int)
      : Array[Byte] = {
    val out = new Ba
    f.physicalType match {
      case 0 => // BOOLEAN: bit-packed LSB-first
        var b = 0
        var fill = 0
        var i = 0
        while (i < n) {
          if (vals(i) != null) {
            if (vals(i).asInstanceOf[Boolean]) b |= 1 << fill
            fill += 1
            if (fill == 8) { out.write(b); b = 0; fill = 0 }
          }
          i += 1
        }
        if (fill > 0) out.write(b)
      case 1 =>
        var i = 0
        while (i < n) {
          if (vals(i) != null) out.le32(vals(i).asInstanceOf[Int])
          i += 1
        }
      case 2 =>
        var i = 0
        while (i < n) {
          if (vals(i) != null) out.le64(vals(i).asInstanceOf[Long])
          i += 1
        }
      case 4 =>
        var i = 0
        while (i < n) {
          if (vals(i) != null) out.le32(
            java.lang.Float.floatToRawIntBits(vals(i).asInstanceOf[Float]))
          i += 1
        }
      case 5 =>
        var i = 0
        while (i < n) {
          if (vals(i) != null) out.le64(java.lang.Double
            .doubleToRawLongBits(vals(i).asInstanceOf[Double]))
          i += 1
        }
      case 6 =>
        var i = 0
        while (i < n) {
          vals(i) match {
            case null => ()
            case s: String =>
              val b = s.getBytes("UTF-8")
              out.le32(b.length)
              out.write(b, 0, b.length)
            case b: Array[Byte] =>
              out.le32(b.length)
              out.write(b, 0, b.length)
            case v => throw new IllegalArgumentException(
              s"BYTE_ARRAY column '${f.name}' got ${v.getClass.getName}")
          }
          i += 1
        }
      case 7 => // FIXED_LEN_BYTE_ARRAY: typeLength raw bytes per value
        require(f.typeLength > 0,
          s"FLBA column '${f.name}' needs a type_length")
        var i = 0
        while (i < n) {
          vals(i) match {
            case null => ()
            case b: Array[Byte] =>
              require(b.length == f.typeLength,
                s"FLBA column '${f.name}': ${b.length}-byte value for " +
                  s"type_length ${f.typeLength}")
              out.write(b, 0, b.length)
            case v => throw new IllegalArgumentException(
              s"FLBA column '${f.name}' got ${v.getClass.getName}")
          }
          i += 1
        }
      case t => throw new IllegalArgumentException(
        s"parquet physical type $t unsupported by the writer " +
          "(INT96 rejects by name)")
    }
    out.toByteArray
  }

  /** Little-endian statistics encoding of one value (the same bytes
    * [[ParquetFooter.statDouble]] decodes).
    */
  private def statBytes(physicalType: Int, v: Any): Array[Byte] = {
    val out = new Ba
    physicalType match {
      case 1 => out.le32(v.asInstanceOf[Int])
      case 2 => out.le64(v.asInstanceOf[Long])
      case 4 => out.le32(
        java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float]))
      case 5 => out.le64(
        java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))
      case 6 => // UTF8 BYTE_ARRAY stats ARE the value bytes
        return v.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case t => throw new IllegalArgumentException(s"stats on type $t")
    }
    out.toByteArray
  }

  /** Unsigned lexicographic byte order — parquet's UTF8 stats order
    * (and Spark's string comparison: UTF-8 byte order = code points).
    */
  private def cmpU(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** RLE_DICTIONARY value region of one data page: the index bit width
    * byte, then the RLE / bit-packed hybrid of the page's non-null
    * dictionary indices — one RLE run when the page is constant, one
    * bit-packed run otherwise (trailing pad values in the final groups
    * are dropped by readers, which read exactly num_values).
    */
  private def dictIndexPage(idx: Array[Int], n: Int, width: Int)
      : Array[Byte] = {
    val out = new Ba
    out.write(width)
    val w = new TWriter(out)
    var allSame = true
    var i = 1
    while (i < n && allSame) { allSame = idx(i) == idx(0); i += 1 }
    if (n == 0) () // all-null page: empty index region
    else if (allSame) {
      w.varint(n.toLong << 1)
      val byteW = (width + 7) / 8
      var k = 0
      while (k < byteW) { out.write((idx(0) >>> (8 * k)) & 0xff); k += 1 }
    } else {
      val groups = (n + 7) / 8
      w.varint((groups.toLong << 1) | 1)
      var g = 0
      while (g < groups) {
        val bits = new Array[Byte](width)
        var k = 0
        while (k < 8) {
          val v = if (g * 8 + k < n) idx(g * 8 + k) else 0
          var j = 0
          while (j < width) {
            if (((v >>> j) & 1) != 0) {
              val bit = k * width + j
              bits(bit >> 3) = (bits(bit >> 3) | (1 << (bit & 7))).toByte
            }
            j += 1
          }
          k += 1
        }
        out.write(bits, 0, width)
        g += 1
      }
    }
    out.toByteArray
  }

  private def bitsFor(max: Int): Int =
    32 - Integer.numberOfLeadingZeros(max)

  /** One DATA page's location + stats — what the page-index section
    * (ColumnIndex/OffsetIndex) serializes. `firstRow` is row-group
    * relative per the spec; stats absent on pages of non-comparable
    * or level-bearing columns (those chunks get an OffsetIndex only).
    */
  private final case class PageInfo(offset: Long, compressedSize: Int,
      firstRow: Long, nullPage: Boolean, minV: Option[Array[Byte]],
      maxV: Option[Array[Byte]], nullCount: Long)

  private final case class ChunkInfo(field: PwField, numValues: Long,
      nullCount: Long, minV: Option[Array[Byte]],
      maxV: Option[Array[Byte]], dataPageOffset: Long,
      totalUncompressed: Long, totalCompressed: Long,
      dictPageOffset: Option[Long] = None, chunkStart: Long = -1L,
      pathParts: Seq[String] = Nil, pages: Seq[PageInfo] = Nil,
      // distinct xxHash64(plain encoding) of the chunk's non-null
      // values when the caller asked for a split-block bloom filter
      bloomHashes: Array[Long] = null) {
    def path: Seq[String] =
      if (pathParts.nonEmpty) pathParts else Seq(field.name)
  }

  private final case class GroupInfo(numRows: Long,
      chunks: Seq[ChunkInfo])

  /** Write one complete parquet file of FLAT leaves; returns the row
    * count. `rows` yields one `Array[Any]` per row aligned with
    * `fields` (nulls as null; BOOLEAN/INT32/INT64/FLOAT/DOUBLE/
    * BYTE_ARRAY carried as Boolean/Int/Long/Float/Double/
    * String-or-Array[Byte]).
    */
  def writeFile(path: java.nio.file.Path, fields: Seq[PwField],
      rows: Iterator[Array[Any]], codec: Int = PageCodec.ParquetSnappy,
      rowGroupRows: Int = 1 << 20, pageRows: Int = 1 << 16,
      bloomColumns: Set[String] = Set.empty): Long =
    writeColumns(path, fields.map(PwLeafCol.apply), rows, codec,
      rowGroupRows, pageRows, bloomColumns)

  /** The general write surface: flat leaves plus the nested [[PwCol]]
    * shapes — one-level struct, 3-level LIST, 3-level MAP, and the
    * arbitrary-depth [[PwTreeCol]] node trees — shredded into Dremel
    * level streams per the record-shredding model.
    */
  def writeColumns(path: java.nio.file.Path, cols: Seq[PwCol],
      rows: Iterator[Array[Any]], codec: Int = PageCodec.ParquetSnappy,
      rowGroupRows: Int = 1 << 20, pageRows: Int = 1 << 16,
      bloomColumns: Set[String] = Set.empty): Long = {
    val fields = cols
    require(fields.nonEmpty, "parquet writer needs at least one field")
    require(rowGroupRows > 0 && pageRows > 0 && pageRows <= rowGroupRows,
      s"bad page/row-group geometry $pageRows/$rowGroupRows")
    val os = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path))
    var pos = 0L
    def emit(b: Array[Byte]): Unit = { os.write(b, 0, b.length); pos += b.length }
    try {
      emit("PAR1".getBytes("US-ASCII"))
      val groups = Vector.newBuilder[GroupInfo]
      var total = 0L
      val batch = new scala.collection.mutable.ArrayBuffer[Array[Any]]()
      def flushGroup(): Unit = if (batch.nonEmpty) {
        val nRows = batch.length
        def flatChunk(f: PwField, c: Int, nRows: Int): ChunkInfo = {
          val chunkStart = pos
          var unc = 0L
          var comp = 0L
          var nulls = 0L
          // Integer stats compare in the long domain (a double ulp at
          // 2^53 would let a rounding tie record a wrong extremum that
          // spec-compliant pruners then trust); float stats skip NaN
          // entirely, matching parquet-mr — a NaN min/max makes every
          // pruner comparison false and silently drops row groups.
          var minL = 0L
          var maxL = 0L
          var minD = Double.NaN
          var maxD = Double.NaN
          var minB: Array[Byte] = null // string chunks: UTF-8 extremes
          var maxB: Array[Byte] = null
          var minV: Any = null
          var maxV: Any = null
          // Pass 1 over the whole row group: statistics + the bounded
          // dictionary attempt (parquet-mr's shape: try dictionary,
          // fall back to PLAIN when the value set is too large or not
          // repetitive enough to pay for the extra page).
          val dictIdx = new java.util.LinkedHashMap[Any, Integer]()
          var dictOk = f.physicalType != 0 // booleans: PLAIN is 1 bit
          var nonNullCount = 0L
          // distinct value hashes for the chunk's split-block bloom —
          // xxHash64 (seed 0) of the PLAIN encoding, parquet-mr's
          // exact input, so foreign probes transfer
          val bloomHs: java.util.HashSet[java.lang.Long] =
            if (bloomColumns(f.name)) {
              require(f.physicalType == 1 || f.physicalType == 2 ||
                f.physicalType == 6,
                s"bloom filter on column '${f.name}': physical type " +
                  s"${f.physicalType} unsupported (INT32/INT64/" +
                  "BYTE_ARRAY only)")
              new java.util.HashSet[java.lang.Long]()
            } else null
          def bloomHash(v: Any): Long = {
            def le(n: Long, w: Int): Array[Byte] =
              Array.tabulate[Byte](w)(i => ((n >>> (8 * i)) & 0xff).toByte)
            val bytes: Array[Byte] = v match {
              case x: Int => le(x.toLong, 4)
              case x: Long => le(x, 8)
              case s: String =>
                s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              case x => throw new IllegalArgumentException(
                s"bloom filter on column '${f.name}': " +
                  s"${x.getClass.getName} values unsupported")
            }
            PageCodec.xxh64(bytes, 0, bytes.length, 0L)
          }
          var r0 = 0
          while (r0 < nRows) {
            val v = batch(r0)(c)
            if (v == null) nulls += 1
            else {
              nonNullCount += 1
              if (bloomHs != null) bloomHs.add(bloomHash(v))
              if (f.physicalType >= 1 && f.physicalType <= 5) {
                v match {
                  case x: Int =>
                    val l = x.toLong
                    if (minV == null || l < minL) { minL = l; minV = v }
                    if (maxV == null || l > maxL) { maxL = l; maxV = v }
                  case x: Long =>
                    if (minV == null || x < minL) { minL = x; minV = v }
                    if (maxV == null || x > maxL) { maxL = x; maxV = v }
                  case x: Float => if (!x.isNaN) {
                    val d = x.toDouble
                    if (minV == null || d < minD) { minD = d; minV = v }
                    if (maxV == null || d > maxD) { maxD = d; maxV = v }
                  }
                  case x: Double => if (!x.isNaN) {
                    if (minV == null || x < minD) { minD = x; minV = v }
                    if (maxV == null || x > maxD) { maxD = x; maxV = v }
                  }
                  case x => throw new IllegalArgumentException(
                    s"column '${f.name}' got ${x.getClass.getName}")
                }
              } else if (f.physicalType == 6) v match {
                case x: String => // code-point order via UTF-8 bytes
                  val xb = x.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)
                  if (minV == null || cmpU(xb, minB) < 0) {
                    minB = xb; minV = x
                  }
                  if (maxV == null || cmpU(xb, maxB) > 0) {
                    maxB = xb; maxV = x
                  }
                case _ => () // raw binary: no comparable stats
              }
              if (dictOk) v match {
                case _: Array[Byte] => // no stable equality: PLAIN
                  dictOk = false; dictIdx.clear()
                case key => if (!dictIdx.containsKey(key)) {
                  if (dictIdx.size >= 65536) {
                    dictOk = false; dictIdx.clear()
                  } else dictIdx.put(key, Integer.valueOf(dictIdx.size))
                }
              }
            }
            r0 += 1
          }
          val useDict = dictOk && dictIdx.size > 0 &&
            dictIdx.size.toLong * 2 <= nonNullCount
          val dictWidth =
            math.max(1, bitsFor(math.max(dictIdx.size - 1, 0)))
          var dictOffset: Option[Long] = None
          if (useDict) { // dictionary page first, PLAIN entries in
            // first-seen order (ids are assigned by first appearance)
            val entries = new Array[Any](dictIdx.size)
            val it = dictIdx.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next(); entries(e.getValue.intValue) = e.getKey
            }
            val raw = plainValues(f, entries, entries.length)
            val packed = PageCodec.parquetCompress(raw, codec)
            val hdr = new Ba
            val w = new TWriter(hdr)
            w.structBegin()
            w.i32(1, 2) // type: DICTIONARY_PAGE
            w.i32(2, raw.length)
            w.i32(3, packed.length)
            w.structField(7) // DictionaryPageHeader
            w.i32(1, entries.length) // num_values
            w.i32(2, 0) // encoding: PLAIN
            w.structEnd()
            w.structEnd()
            val hb = hdr.toByteArray
            dictOffset = Some(pos)
            emit(hb)
            emit(packed)
            unc += hb.length + raw.length
            comp += hb.length + packed.length
          }
          val firstDataPage = pos
          val pages = Seq.newBuilder[PageInfo]
          var row = 0
          while (row < nRows) {
            val n = math.min(pageRows, nRows - row)
            val pageNulls = new Array[Boolean](n)
            val pageVals = new Array[Any](n)
            var i = 0
            while (i < n) {
              val v = batch(row + i)(c)
              pageVals(i) = v
              pageNulls(i) = v == null
              i += 1
            }
            val body = new Ba
            val dl = defLevels(pageNulls, n)
            body.write(dl, 0, dl.length)
            val pv =
              if (useDict) {
                val idx = new Array[Int](n)
                var nn = 0
                var k = 0
                while (k < n) {
                  if (pageVals(k) != null) {
                    idx(nn) = dictIdx.get(pageVals(k)).intValue
                    nn += 1
                  }
                  k += 1
                }
                dictIndexPage(idx, nn, dictWidth)
              } else plainValues(f, pageVals, n)
            body.write(pv, 0, pv.length)
            val raw = body.toByteArray
            val packed = PageCodec.parquetCompress(raw, codec)
            val hdr = new Ba
            val w = new TWriter(hdr)
            w.structBegin()
            w.i32(1, 0) // type: DATA_PAGE
            w.i32(2, raw.length)
            w.i32(3, packed.length)
            w.structField(5) // DataPageHeader
            w.i32(1, n) // num_values
            w.i32(2, if (useDict) 8 else 0) // RLE_DICTIONARY / PLAIN
            w.i32(3, 3) // definition_level_encoding: RLE
            w.i32(4, 3) // repetition_level_encoding: RLE
            w.structEnd()
            w.structEnd()
            val hb = hdr.toByteArray
            // page-index record: location + THIS page's stats (same
            // comparison domains as the chunk stats above)
            val pageStart = pos
            var pMinL = 0L; var pMaxL = 0L
            var pMinD = Double.NaN; var pMaxD = Double.NaN
            var pMinB: Array[Byte] = null; var pMaxB: Array[Byte] = null
            var pMinV: Any = null; var pMaxV: Any = null
            var pNulls = 0L
            if (f.physicalType == 6) {
              var k = 0
              while (k < n) {
                pageVals(k) match {
                  case null => pNulls += 1
                  case x: String =>
                    val xb = x.getBytes(
                      java.nio.charset.StandardCharsets.UTF_8)
                    if (pMinV == null || cmpU(xb, pMinB) < 0) {
                      pMinB = xb; pMinV = x
                    }
                    if (pMaxV == null || cmpU(xb, pMaxB) > 0) {
                      pMaxB = xb; pMaxV = x
                    }
                  case _ => () // raw binary: location only
                }
                k += 1
              }
            } else if (f.physicalType >= 1 && f.physicalType <= 5) {
              var k = 0
              while (k < n) {
                pageVals(k) match {
                  case null => pNulls += 1
                  case x: Int =>
                    val l = x.toLong
                    if (pMinV == null || l < pMinL) { pMinL = l; pMinV = x }
                    if (pMaxV == null || l > pMaxL) { pMaxL = l; pMaxV = x }
                  case x: Long =>
                    if (pMinV == null || x < pMinL) { pMinL = x; pMinV = x }
                    if (pMaxV == null || x > pMaxL) { pMaxL = x; pMaxV = x }
                  case x: Float => if (!x.isNaN) {
                    val d = x.toDouble
                    if (pMinV == null || d < pMinD) { pMinD = d; pMinV = x }
                    if (pMaxV == null || d > pMaxD) { pMaxD = d; pMaxV = x }
                  }
                  case x: Double => if (!x.isNaN) {
                    if (pMinV == null || x < pMinD) { pMinD = x; pMinV = x }
                    if (pMaxV == null || x > pMaxD) { pMaxD = x; pMaxV = x }
                  }
                  case _ => ()
                }
                k += 1
              }
            } else {
              var k = 0
              while (k < n) { if (pageVals(k) == null) pNulls += 1; k += 1 }
            }
            pages += PageInfo(pageStart, hb.length + packed.length,
              row.toLong, nullPage = pNulls == n,
              Option(pMinV).map(statBytes(f.physicalType, _)),
              Option(pMaxV).map(statBytes(f.physicalType, _)), pNulls)
            emit(hb)
            emit(packed)
            unc += hb.length + raw.length
            comp += hb.length + packed.length
            row += n
          }
          ChunkInfo(f, nRows.toLong, nulls,
            Option(minV).map(statBytes(f.physicalType, _)),
            Option(maxV).map(statBytes(f.physicalType, _)),
            firstDataPage, unc, comp, dictOffset, chunkStart,
            pages = pages.result(),
            bloomHashes =
              if (bloomHs == null) null
              else {
                val a = new Array[Long](bloomHs.size)
                val it = bloomHs.iterator()
                var i = 0
                while (it.hasNext) { a(i) = it.next(); i += 1 }
                a
              })
        }
        // one leaf chunk from Dremel level streams (nested columns):
        // PLAIN pages split at row boundaries, full rep/def regions,
        // statistics omitted (nullCount −1 — min/max of a repeated
        // leaf is not a row-level pruning domain)
        def levelChunk(pathParts: Seq[String], f: PwField, maxDef: Int,
            maxRep: Int, defs: Array[Int], reps: Array[Int],
            dense: scala.collection.IndexedSeq[Any],
            rowCounts: Array[Int]): ChunkInfo = {
          val chunkStart = pos
          var unc = 0L
          var comp = 0L
          val firstDataPage = pos
          val pages = Seq.newBuilder[PageInfo]
          var row = 0
          var entry = 0
          var valIdx = 0
          while (row < nRows) {
            val rEnd = math.min(row + pageRows, nRows)
            var entries = 0
            var r = row
            while (r < rEnd) { entries += rowCounts(r); r += 1 }
            val eEnd = entry + entries
            var nn = 0
            var e = entry
            while (e < eEnd) { if (defs(e) == maxDef) nn += 1; e += 1 }
            val body = new Ba
            if (maxRep > 0) {
              val rr = levelRegion(reps, entry, eEnd, bitsFor(maxRep))
              body.write(rr, 0, rr.length)
            }
            val dr = levelRegion(defs, entry, eEnd, bitsFor(maxDef))
            body.write(dr, 0, dr.length)
            val pageVals = new Array[Any](nn)
            var k = 0
            while (k < nn) { pageVals(k) = dense(valIdx + k); k += 1 }
            val pv = plainValues(f, pageVals, nn)
            body.write(pv, 0, pv.length)
            val raw = body.toByteArray
            val packed = PageCodec.parquetCompress(raw, codec)
            val hdr = new Ba
            val w = new TWriter(hdr)
            w.structBegin()
            w.i32(1, 0) // type: DATA_PAGE
            w.i32(2, raw.length)
            w.i32(3, packed.length)
            w.structField(5) // DataPageHeader
            w.i32(1, entries) // num_values = level entries
            w.i32(2, 0) // PLAIN
            w.i32(3, 3) // definition levels: RLE
            w.i32(4, 3) // repetition levels: RLE
            w.structEnd()
            w.structEnd()
            val hb = hdr.toByteArray
            // level-bearing chunk: page LOCATION only (no per-page
            // stats — same reasoning as the omitted chunk Statistics)
            pages += PageInfo(pos, hb.length + packed.length,
              row.toLong, nullPage = false, None, None, -1L)
            emit(hb)
            emit(packed)
            unc += hb.length + raw.length
            comp += hb.length + packed.length
            row = rEnd
            entry = eEnd
            valIdx += nn
          }
          ChunkInfo(f, defs.length.toLong, -1L, None, None,
            firstDataPage, unc, comp, None, chunkStart, pathParts,
            pages = pages.result())
        }
        def shredStruct(st: PwStructCol, c: Int, nRows: Int)
            : Seq[ChunkInfo] =
          st.fields.zipWithIndex.map { case (f, k) =>
            val defs = new Array[Int](nRows)
            val dense = new scala.collection.mutable.ArrayBuffer[Any]()
            val rowCounts = Array.fill(nRows)(1)
            var r = 0
            while (r < nRows) {
              batch(r)(c) match {
                case null => defs(r) = 0
                case arr: Array[Any] =>
                  require(arr.length == st.fields.length,
                    s"struct '${st.name}' arity ${arr.length}")
                  if (arr(k) == null) defs(r) = 1
                  else { defs(r) = 2; dense += arr(k) }
                case x => throw new IllegalArgumentException(
                  s"struct column '${st.name}' got ${x.getClass.getName}")
              }
              r += 1
            }
            levelChunk(Seq(st.name, f.name), f, 2, 0, defs, null,
              dense, rowCounts)
          }
        def shredList(ls: PwListCol, c: Int, nRows: Int): ChunkInfo = {
          val defs = new scala.collection.mutable.ArrayBuffer[Int]()
          val reps = new scala.collection.mutable.ArrayBuffer[Int]()
          val dense = new scala.collection.mutable.ArrayBuffer[Any]()
          val rowCounts = new Array[Int](nRows)
          var r = 0
          while (r < nRows) {
            batch(r)(c) match {
              case null => defs += 0; reps += 0; rowCounts(r) = 1
              case s: scala.collection.Seq[_] =>
                if (s.isEmpty) { defs += 1; reps += 0; rowCounts(r) = 1 }
                else {
                  var i = 0
                  for (v <- s) {
                    reps += (if (i == 0) 0 else 1)
                    if (v == null) defs += 2
                    else { defs += 3; dense += v }
                    i += 1
                  }
                  rowCounts(r) = s.length
                }
              case x => throw new IllegalArgumentException(
                s"list column '${ls.name}' got ${x.getClass.getName}")
            }
            r += 1
          }
          levelChunk(Seq(ls.name, "list", "element"), ls.element, 3, 1,
            defs.toArray, reps.toArray, dense, rowCounts)
        }
        def shredMap(mp: PwMapCol, c: Int, nRows: Int): Seq[ChunkInfo] = {
          val kDefs = new scala.collection.mutable.ArrayBuffer[Int]()
          val vDefs = new scala.collection.mutable.ArrayBuffer[Int]()
          val reps = new scala.collection.mutable.ArrayBuffer[Int]()
          val kDense = new scala.collection.mutable.ArrayBuffer[Any]()
          val vDense = new scala.collection.mutable.ArrayBuffer[Any]()
          val rowCounts = new Array[Int](nRows)
          var r = 0
          while (r < nRows) {
            batch(r)(c) match {
              case null =>
                kDefs += 0; vDefs += 0; reps += 0; rowCounts(r) = 1
              case s: scala.collection.Seq[_] =>
                if (s.isEmpty) {
                  kDefs += 1; vDefs += 1; reps += 0; rowCounts(r) = 1
                } else {
                  var i = 0
                  for (kv <- s) {
                    val (k, v) = kv match {
                      case p: (_, _) => (p._1, p._2)
                      case x => throw new IllegalArgumentException(
                        s"map column '${mp.name}' entry " +
                          s"${x.getClass.getName}")
                    }
                    require(k != null, s"map '${mp.name}' null key")
                    reps += (if (i == 0) 0 else 1)
                    kDefs += 2
                    kDense += k
                    if (v == null) vDefs += 2
                    else { vDefs += 3; vDense += v }
                    i += 1
                  }
                  rowCounts(r) = s.length
                }
              case x => throw new IllegalArgumentException(
                s"map column '${mp.name}' got ${x.getClass.getName}")
            }
            r += 1
          }
          val repArr = reps.toArray
          Seq(
            levelChunk(Seq(mp.name, "key_value", "key"), mp.key, 2, 1,
              kDefs.toArray, repArr, kDense, rowCounts),
            levelChunk(Seq(mp.name, "key_value", "value"), mp.value, 3,
              1, vDefs.toArray, repArr, vDense, rowCounts))
        }
        // the GENERAL tree shredder: one pass per row walks the value
        // against the node tree, emitting (rep, def) entries — and
        // dense values at the leaves — into per-leaf accumulators; a
        // null/empty at any node emits ONE entry carrying that node's
        // def level to EVERY leaf beneath it (the Dremel record
        // shredding model at arbitrary depth)
        def shredTree(tc: PwTreeCol, c: Int, nRows: Int)
            : Seq[ChunkInfo] = {
          final class LeafAcc(val path: Seq[String], val field: PwField,
              val maxDef: Int, val maxRep: Int) {
            val defs = new scala.collection.mutable.ArrayBuffer[Int]()
            val reps = new scala.collection.mutable.ArrayBuffer[Int]()
            val dense = new scala.collection.mutable.ArrayBuffer[Any]()
            val rowCounts = new Array[Int](nRows)
          }
          val accs = new scala.collection.mutable.ArrayBuffer[LeafAcc]()
          // compile the node tree into emitters; `defBase` = def level
          // with every ancestor present, `repLevel` = the node's own
          // 1-based repeated depth (lists/maps), `rep` at emit time =
          // the level this entry continues at
          sealed trait Em {
            def lo: Int
            def hi: Int
            def emitValue(v: Any, rep: Int): Unit
          }
          def emitNullRange(lo: Int, hi: Int, rep: Int, d: Int): Unit = {
            var i = lo
            while (i < hi) {
              accs(i).defs += d
              accs(i).reps += rep
              i += 1
            }
          }
          def compile(n: PwNode, prefix: Seq[String], defBase: Int,
              repBase: Int): Em = n match {
            case PwLeafNode(f) =>
              val acc = new LeafAcc(prefix :+ f.name, f, defBase + 1,
                repBase)
              val idx = accs.length
              accs += acc
              new Em {
                val lo = idx
                val hi = idx + 1
                def emitValue(v: Any, rep: Int): Unit = {
                  acc.reps += rep
                  if (v == null) acc.defs += defBase
                  else { acc.defs += defBase + 1; acc.dense += v }
                }
              }
            case PwStructNode(nm, fs) =>
              val l0 = accs.length
              val kids = fs.map(k =>
                compile(k, prefix :+ nm, defBase + 1, repBase))
              new Em {
                val lo = l0
                val hi = accs.length
                def emitValue(v: Any, rep: Int): Unit = v match {
                  case null => emitNullRange(lo, hi, rep, defBase)
                  case arr: Array[Any] =>
                    require(arr.length == kids.length,
                      s"struct '$nm' arity ${arr.length}")
                    var i = 0
                    while (i < kids.length) {
                      kids(i).emitValue(arr(i), rep); i += 1
                    }
                  case x => throw new IllegalArgumentException(
                    s"struct '$nm' got ${x.getClass.getName}")
                }
              }
            case PwListNode(nm, e) =>
              val l0 = accs.length
              val myRep = repBase + 1
              val elem = compile(renameNode(e, "element"),
                prefix :+ nm :+ "list", defBase + 2, myRep)
              new Em {
                val lo = l0
                val hi = accs.length
                def emitValue(v: Any, rep: Int): Unit = v match {
                  case null => emitNullRange(lo, hi, rep, defBase)
                  case s: scala.collection.Seq[_] =>
                    if (s.isEmpty)
                      emitNullRange(lo, hi, rep, defBase + 1)
                    else {
                      var first = true
                      for (x <- s) {
                        elem.emitValue(x, if (first) rep else myRep)
                        first = false
                      }
                    }
                  case x => throw new IllegalArgumentException(
                    s"list '$nm' got ${x.getClass.getName}")
                }
              }
            case PwMapNode(nm, k, v) =>
              val l0 = accs.length
              val myRep = repBase + 1
              val kAcc = new LeafAcc(
                prefix :+ nm :+ "key_value" :+ "key",
                k.copy(name = "key"), defBase + 2, myRep)
              accs += kAcc
              val valueEm = compile(renameNode(v, "value"),
                prefix :+ nm :+ "key_value", defBase + 2, myRep)
              new Em {
                val lo = l0
                val hi = accs.length
                def emitValue(x: Any, rep: Int): Unit = x match {
                  case null => emitNullRange(lo, hi, rep, defBase)
                  case s: scala.collection.Seq[_] =>
                    if (s.isEmpty)
                      emitNullRange(lo, hi, rep, defBase + 1)
                    else {
                      var first = true
                      for (kv <- s) {
                        val (key, value) = kv match {
                          case p: (_, _) => (p._1, p._2)
                          case y => throw new IllegalArgumentException(
                            s"map '$nm' entry ${y.getClass.getName}")
                        }
                        require(key != null, s"map '$nm' null key")
                        val r = if (first) rep else myRep
                        kAcc.reps += r
                        kAcc.defs += defBase + 2 // REQUIRED key
                        kAcc.dense += key
                        valueEm.emitValue(value, r)
                        first = false
                      }
                    }
                  case y => throw new IllegalArgumentException(
                    s"map '$nm' got ${y.getClass.getName}")
                }
              }
          }
          val root = compile(tc.root, Nil, 0, 0)
          var r = 0
          while (r < nRows) {
            val before = accs.map(_.defs.length)
            root.emitValue(batch(r)(c), 0)
            var i = 0
            while (i < accs.length) {
              accs(i).rowCounts(r) = accs(i).defs.length - before(i)
              i += 1
            }
            r += 1
          }
          accs.toSeq.map { a =>
            levelChunk(a.path, a.field, a.maxDef, a.maxRep,
              a.defs.toArray,
              if (a.maxRep > 0) a.reps.toArray else null,
              a.dense, a.rowCounts)
          }
        }
        val chunks: Seq[ChunkInfo] =
          fields.zipWithIndex.flatMap { case (colDef, c) =>
            colDef match {
              case PwLeafCol(f) => Seq(flatChunk(f, c, nRows))
              case st: PwStructCol => shredStruct(st, c, nRows)
              case ls: PwListCol => Seq(shredList(ls, c, nRows))
              case mp: PwMapCol => shredMap(mp, c, nRows)
              case tc: PwTreeCol => shredTree(tc, c, nRows)
            }
          }
        groups += GroupInfo(nRows.toLong, chunks)
        total += nRows
        batch.clear()
      }
      while (rows.hasNext) {
        val r = rows.next()
        require(r.length == fields.length,
          s"row arity ${r.length} vs ${fields.length} fields")
        batch += r
        if (batch.length >= rowGroupRows) flushGroup()
      }
      flushGroup()
      val gs = groups.result()
      // SPLIT-BLOCK BLOOM section (after the row groups, before the
      // page indexes — parquet-mr's own layout): per requested chunk a
      // BloomFilterHeader (BLOCK/XXHASH/UNCOMPRESSED) + the bitset,
      // sized for ~1% fpp at the chunk's observed NDV (power-of-two
      // bytes, 32 B floor / 1 MiB cap, parquet-mr's policy shape);
      // locations land in ColumnMetaData fields 14/15
      val bloomLocs: Seq[Seq[Option[(Long, Int)]]] =
        gs.map(_.chunks.map { ch =>
          Option(ch.bloomHashes).filter(_.nonEmpty).map { hs =>
            val bitsNeeded = math.ceil(-8.0 * hs.length /
              math.log(1 - math.pow(0.01, 1.0 / 8))).toLong
            var nbytes = 32
            while (nbytes.toLong * 8 < bitsNeeded && nbytes < (1 << 20))
              nbytes <<= 1
            val bits = new Array[Byte](nbytes)
            hs.foreach(ParquetFooter.bloomInsert(bits, _))
            val hdr = new Ba
            val w = new TWriter(hdr)
            w.structBegin()
            w.i32(1, nbytes) // numBytes
            w.structField(2) // algorithm union: 1 = BLOCK
            w.structField(1); w.structEnd()
            w.structEnd()
            w.structField(3) // hash union: 1 = XXHASH
            w.structField(1); w.structEnd()
            w.structEnd()
            w.structField(4) // compression union: 1 = UNCOMPRESSED
            w.structField(1); w.structEnd()
            w.structEnd()
            w.structEnd()
            val hb = hdr.toByteArray
            val at = pos
            emit(hb)
            emit(bits)
            (at, hb.length + nbytes)
          }
        })
      // PAGE INDEX section (after the row groups, before the footer —
      // parquet-mr's own layout): a ColumnIndex per stats-bearing
      // chunk (per-page null_pages/min/max/null_counts, what lets a
      // reader skip PAGES the way footer stats skip row groups) and an
      // OffsetIndex per chunk (page locations + row-group-relative
      // first row indexes). Readers find both through the ColumnChunk
      // offset fields; readers that predate the page index ignore it.
      val indexLocs: Seq[Seq[(Option[(Long, Int)], Option[(Long, Int)])]] =
        gs.map(_.chunks.map { ch =>
          val ci: Option[(Long, Int)] =
            if (ch.pages.isEmpty || !ch.pages.forall(p =>
                p.nullPage || (p.minV.isDefined && p.maxV.isDefined)))
              None // no comparable per-page stats: OffsetIndex only
            else {
              val b = new Ba
              val iw = new TWriter(b)
              iw.structBegin()
              iw.listHeader(1, T_TRUE, ch.pages.length) // null_pages
              for (p <- ch.pages) iw.elemBool(p.nullPage)
              iw.listHeader(2, T_BINARY, ch.pages.length) // min_values
              for (p <- ch.pages)
                iw.elemBinary(p.minV.getOrElse(Array.emptyByteArray))
              iw.listHeader(3, T_BINARY, ch.pages.length) // max_values
              for (p <- ch.pages)
                iw.elemBinary(p.maxV.getOrElse(Array.emptyByteArray))
              iw.i32(4, 0) // boundary_order: UNORDERED
              iw.listHeader(5, T_I64, ch.pages.length) // null_counts
              for (p <- ch.pages) iw.elemI64(p.nullCount)
              iw.structEnd()
              val bytes = b.toByteArray
              val at = pos
              emit(bytes)
              Some((at, bytes.length))
            }
          val oi: Option[(Long, Int)] =
            if (ch.pages.isEmpty) None
            else {
              val b = new Ba
              val iw = new TWriter(b)
              iw.structBegin()
              iw.listHeader(1, T_STRUCT, ch.pages.length)
              for (p <- ch.pages) { // PageLocation
                iw.structBegin()
                iw.i64(1, p.offset)
                iw.i32(2, p.compressedSize)
                iw.i64(3, p.firstRow)
                iw.structEnd()
              }
              iw.structEnd()
              val bytes = b.toByteArray
              val at = pos
              emit(bytes)
              Some((at, bytes.length))
            }
          (ci, oi)
        })
      // footer: FileMetaData in thrift compact
      val fb = new Ba
      val w = new TWriter(fb)
      w.structBegin()
      w.i32(1, 1) // version
      val schemaCount = 1 + fields.map {
        case _: PwLeafCol => 1
        case s: PwStructCol => 1 + s.fields.length
        case _: PwListCol => 3
        case _: PwMapCol => 4
        case t: PwTreeCol => nodeCount(t.root)
      }.sum
      w.listHeader(2, T_STRUCT, schemaCount) // schema
      w.structBegin() // root SchemaElement
      w.i32(3, 0) // repetition: REQUIRED
      w.str(4, "schema")
      w.i32(5, fields.length) // num_children
      w.structEnd()
      def leafElement(f: PwField, repetition: Int): Unit = {
        w.structBegin()
        w.i32(1, f.physicalType)
        if (f.typeLength > 0) w.i32(2, f.typeLength)
        w.i32(3, repetition)
        w.str(4, f.name)
        f.convertedType.foreach(ct => w.i32(6, ct))
        if (f.convertedType.contains(5)) { // DECIMAL annotation
          w.i32(7, f.scale)
          w.i32(8, f.precision)
        }
        w.structEnd()
      }
      def groupElement(name: String, repetition: Int, children: Int,
          converted: Option[Int]): Unit = {
        w.structBegin() // no type field: a group
        w.i32(3, repetition)
        w.str(4, name)
        w.i32(5, children)
        converted.foreach(ct => w.i32(6, ct))
        w.structEnd()
      }
      def emitNode(n: PwNode, repetition: Int): Unit = n match {
        case PwLeafNode(f) => leafElement(f, repetition)
        case PwStructNode(nm, fs) =>
          groupElement(nm, repetition, fs.length, None)
          for (k <- fs) emitNode(k, 1)
        case PwListNode(nm, e) => // 3-level LIST (LogicalTypes.md)
          groupElement(nm, repetition, 1, Some(3))
          groupElement("list", 2, 1, None) // REPEATED
          emitNode(renameNode(e, "element"), 1)
        case PwMapNode(nm, k, v) => // 3-level MAP
          groupElement(nm, repetition, 1, Some(1))
          groupElement("key_value", 2, 2, None) // REPEATED
          leafElement(k.copy(name = "key"), 0) // REQUIRED
          emitNode(renameNode(v, "value"), 1)
      }
      for (colDef <- fields) colDef match {
        case PwLeafCol(f) => leafElement(f, 1) // OPTIONAL
        case st: PwStructCol =>
          groupElement(st.name, 1, st.fields.length, None)
          for (f <- st.fields) leafElement(f, 1)
        case ls: PwListCol => // 3-level LIST (LogicalTypes.md)
          groupElement(ls.name, 1, 1, Some(3))
          groupElement("list", 2, 1, None) // REPEATED
          leafElement(ls.element.copy(name = "element"), 1)
        case mp: PwMapCol => // 3-level MAP
          groupElement(mp.name, 1, 1, Some(1))
          groupElement("key_value", 2, 2, None) // REPEATED
          leafElement(mp.key.copy(name = "key"), 0) // REQUIRED
          leafElement(mp.value.copy(name = "value"), 1)
        case tc: PwTreeCol => emitNode(tc.root, 1)
      }
      w.i64(3, total) // num_rows
      w.listHeader(4, T_STRUCT, gs.length) // row_groups
      for ((g, gi) <- gs.zipWithIndex) {
        w.structBegin()
        w.listHeader(1, T_STRUCT, g.chunks.length)
        for ((ch, cxi) <- g.chunks.zipWithIndex) {
          val (ciLoc, oiLoc) = indexLocs(gi)(cxi)
          w.structBegin() // ColumnChunk
          w.i64(2, if (ch.chunkStart >= 0) ch.chunkStart
            else ch.dataPageOffset) // file_offset
          w.structField(3) // ColumnMetaData
          w.i32(1, ch.field.physicalType)
          if (ch.dictPageOffset.isDefined) {
            w.listHeader(2, T_I32, 3)
            w.varint((0L << 1)) // PLAIN (dictionary page; zigzag 0)
            w.varint((3L << 1)) // RLE (levels; zigzag 3)
            w.varint((8L << 1)) // RLE_DICTIONARY (zigzag 8)
          } else {
            w.listHeader(2, T_I32, 2)
            w.varint((0L << 1)) // PLAIN (zigzag 0)
            w.varint((3L << 1)) // RLE (zigzag 3)
          }
          val parts = ch.path
          w.listHeader(3, T_BINARY, parts.length)
          for (part <- parts) {
            val nb = part.getBytes("UTF-8")
            w.varint(nb.length.toLong)
            fb.write(nb, 0, nb.length)
          }
          w.i32(4, codec)
          w.i64(5, ch.numValues)
          w.i64(6, ch.totalUncompressed)
          w.i64(7, ch.totalCompressed)
          w.i64(9, ch.dataPageOffset)
          ch.dictPageOffset.foreach(w.i64(11, _))
          if (ch.nullCount >= 0) { // nested chunks (-1) omit Statistics
            w.structField(12) // Statistics
            w.i64(3, ch.nullCount)
            ch.maxV.foreach(w.binary(5, _)) // max_value
            ch.minV.foreach(w.binary(6, _)) // min_value
            w.structEnd()
          }
          bloomLocs(gi)(cxi).foreach { case (o, l) =>
            w.i64(14, o) // bloom_filter_offset
            w.i32(15, l) // bloom_filter_length (header + bitset)
          }
          w.structEnd() // ColumnMetaData
          oiLoc.foreach { case (o, l) =>
            w.i64(4, o) // offset_index_offset
            w.i32(5, l) // offset_index_length
          }
          ciLoc.foreach { case (o, l) =>
            w.i64(6, o) // column_index_offset
            w.i32(7, l) // column_index_length
          }
          w.structEnd() // ColumnChunk
        }
        w.i64(2, g.chunks.map(_.totalUncompressed).sum)
        w.i64(3, g.numRows)
        w.structEnd()
      }
      // created_by must parse under parquet-mr's VersionParser
      // ("<app> version <ver> (build <hash>)") — an unparseable string
      // trips the PARQUET-251 corrupt-statistics guard and makes
      // foreign readers IGNORE the written min/max (observed: orc-mr
      // logged "Ignoring statistics because created_by could not be
      // parsed: graft" and lost pruning on our files)
      w.str(6, createdBy)
      w.structEnd()
      val footer = fb.toByteArray
      emit(footer)
      val tail = new Ba
      tail.le32(footer.length)
      emit(tail.toByteArray)
      emit("PAR1".getBytes("US-ASCII"))
      total
    } finally os.close()
  }

  // -------------------------------------------------------------------
  // Spark surface

  private def leafFieldOf(name: String,
      dt: org.apache.spark.sql.types.DataType): PwField = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => PwFields.boolean(name)
      case IntegerType => PwFields.int32(name)
      case LongType => PwFields.int64(name)
      case FloatType => PwFields.float(name)
      case DoubleType => PwFields.double(name)
      case StringType => PwFields.string(name)
      case BinaryType => PwFields.binary(name)
      case d: DecimalType => PwFields.decimal(name, d.precision, d.scale)
      case DateType => PwFields.date(name)
      case TimestampType => PwFields.timestampMicros(name)
      case t => throw new IllegalArgumentException(
        s"parquet writer: column '$name' type ${t.sql} unsupported")
    }
  }

  /** Map a FLAT Spark schema to writer fields; nested and unsupported
    * Spark types reject loudly by name.
    */
  def fieldsOf(schema: org.apache.spark.sql.types.StructType)
      : Seq[PwField] =
    schema.fields.toSeq.map(f => leafFieldOf(f.name, f.dataType))

  private def isLeafSparkType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    }
  }

  /** Map one Spark type (any nesting) to a writer node tree. */
  private def nodeOf(name: String,
      dt: org.apache.spark.sql.types.DataType): PwNode = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => PwStructNode(name,
        st.fields.toSeq.map(g => nodeOf(g.name, g.dataType)))
      case ArrayType(et, _) => PwListNode(name, nodeOf("element", et))
      case MapType(kt, vt, _) =>
        require(isLeafSparkType(kt),
          s"parquet writer: map '$name' non-leaf key unsupported")
        PwMapNode(name, leafFieldOf("key", kt), nodeOf("value", vt))
      case t => PwLeafNode(leafFieldOf(name, t))
    }
  }

  /** Map a Spark schema to writer columns: the one-level shapes keep
    * their specialized columns, everything deeper (list-of-list,
    * list-of-map, lists/maps inside structs, nested map values…)
    * routes to the generic [[PwTreeCol]] tree shredder.
    */
  def columnsOf(schema: org.apache.spark.sql.types.StructType)
      : Seq[PwCol] = {
    import org.apache.spark.sql.types._
    schema.fields.toSeq.map { f =>
      f.dataType match {
        case st: StructType
            if st.fields.forall(g => isLeafSparkType(g.dataType)) =>
          PwStructCol(f.name,
            st.fields.toSeq.map(g => leafFieldOf(g.name, g.dataType)))
        case ArrayType(et, _) if isLeafSparkType(et) =>
          PwListCol(f.name, leafFieldOf("element", et))
        case MapType(kt, vt, _)
            if isLeafSparkType(kt) && isLeafSparkType(vt) =>
          PwMapCol(f.name,
            leafFieldOf("key", kt), leafFieldOf("value", vt))
        case dt if isLeafSparkType(dt) =>
          PwLeafCol(leafFieldOf(f.name, dt))
        case dt => PwTreeCol(f.name, nodeOf(f.name, dt))
      }
    }
  }

  /** Distributed write: every partition writes its own
    * `part-NNNNN.parquet` with [[writeFile]] — the writer runs WHERE
    * THE DATA IS, one task per partition, no driver collection —
    * then `_SUCCESS` commits the directory. Returns the row count.
    */
  /** One leaf value Spark → writer representation (dates to epoch
    * days, timestamps to micros, decimals to their unscaled storage).
    * `private[graft]`: the DSv2 write path adapts internal rows
    * through the same packing.
    */
  private[graft] def valueAdapt(dt: org.apache.spark.sql.types.DataType,
      name: String): Any => Any = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => {
        case null => null
        case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
        case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
        case v => v
      }
      case TimestampType => {
        case null => null
        case t: java.sql.Timestamp =>
          Long.box(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
        case t: java.time.Instant =>
          Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000)
        case v => v
      }
      case d: DecimalType => {
        // storage carries the UNSCALED integer at the declared scale
        case null => null
        case v: java.math.BigDecimal =>
          val u = v.setScale(d.scale).unscaledValue()
          if (d.precision <= 9) Int.box(u.intValueExact())
          else if (d.precision <= 18) Long.box(u.longValueExact())
          else { // 16-byte big-endian twos complement, sign-extended
            val raw = u.toByteArray
            require(raw.length <= 16,
              s"decimal '$name': $v exceeds 16-byte storage")
            val out = new Array[Byte](16)
            if (u.signum() < 0)
              java.util.Arrays.fill(out, 0, 16 - raw.length, -1: Byte)
            System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
            out
          }
        case v => v
      }
      case _ => identity
    }
  }

  def writeDataFrame(df: org.apache.spark.sql.DataFrame, dir: String,
      codec: Int = PageCodec.ParquetSnappy, rowGroupRows: Int = 1 << 20,
      pageRows: Int = 1 << 16,
      bloomColumns: Set[String] = Set.empty): Long = {
    import org.apache.spark.sql.types._
    val cols = columnsOf(df.schema)
    val schema = df.schema
    val target = new java.io.File(dir)
    target.mkdirs()
    // recursive Spark-value → writer-representation adapter (struct →
    // Array[Any], list → Seq, map → Seq[(k,v)], to ANY depth)
    def deepAdapt(dt: DataType, name: String): Any => Any = dt match {
      case st: StructType =>
        val ads = st.fields.map(g => deepAdapt(g.dataType, g.name))
        locally {
          case null => null
          case r: org.apache.spark.sql.Row =>
            Array.tabulate[Any](ads.length)(i =>
              if (r.isNullAt(i)) null else ads(i)(r.get(i)))
          case x => throw new IllegalArgumentException(
            s"struct column '$name' got ${x.getClass.getName}")
        }
      case ArrayType(et, _) =>
        val ad = deepAdapt(et, name)
        locally {
          case null => null
          case s: scala.collection.Seq[_] =>
            s.map[Any](v => if (v == null) null else ad(v))
          case x => throw new IllegalArgumentException(
            s"array column '$name' got ${x.getClass.getName}")
        }
      case MapType(kt, vt, _) =>
        val kad = deepAdapt(kt, name)
        val vad = deepAdapt(vt, name)
        locally {
          case null => null
          case m: scala.collection.Map[_, _] =>
            m.toSeq.map[(Any, Any)] { case (k, v) =>
              (kad(k), if (v == null) null else vad(v))
            }
          case x => throw new IllegalArgumentException(
            s"map column '$name' got ${x.getClass.getName}")
        }
      case t => valueAdapt(t, name)
    }
    val adapt: Array[Any => Any] =
      schema.fields.map[Any => Any](f => deepAdapt(f.dataType, f.name))
    val counts = df.rdd.mapPartitionsWithIndex { (i, it) =>
      val f = new java.io.File(target, f"part-$i%05d.parquet")
      val rows = it.map { row =>
        Array.tabulate[Any](cols.length)(c =>
          if (row.isNullAt(c)) null else adapt(c)(row.get(c)))
      }
      val n = writeColumns(f.toPath, cols, rows, codec, rowGroupRows,
        pageRows, bloomColumns)
      if (n == 0) f.delete() // empty partitions leave no file
      Iterator.single(n)
    }.collect().sum
    new java.io.FileOutputStream(new java.io.File(target, "_SUCCESS"))
      .close()
    counts
  }
}
