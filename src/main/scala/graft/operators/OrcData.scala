package graft.operators

/** ORC STRIPE-DATA decoding from scratch — the second half of reading
  * the second columnar format (the [[OrcMeta]] protobuf file-tail walk
  * is the first): stripe directory from the footer (offsets, index /
  * data / footer section lengths), per-stripe StripeFooter protobuf
  * (stream directory + column encodings), and the ORC run-length
  * encodings decoded value-by-value — BYTE RLE (the boolean/present
  * substrate: run headers 0..127 = repeat, negative = literal count,
  * bits emitted MSB-first), INTEGER RLEv2 in all four sub-encodings
  * (SHORT_REPEAT's big-endian value bytes, DIRECT's 5-bit-coded widths
  * and zigzag signatures, PATCHED_BASE's sign-magnitude base +
  * gap/patch list with 255-gap continuation entries, DELTA's
  * fixed-and-packed forms with direction from the delta base's sign),
  * IEEE-754 little-endian FLOAT/DOUBLE streams, and both string
  * shapes — DIRECT_V2 (LENGTH + concatenated DATA) and DICTIONARY_V2
  * (sorted dictionary + RLEv2 index stream), TIMESTAMP's two-stream
  * form (signed seconds since the 2015 base + packed trailing-zero
  * nanos, negative-second floor per the public orc-core convention),
  * DECIMAL's unbounded zigzag varints + SECONDARY scale stream, and
  * BINARY. PRESENT streams reassemble nulls row-aligned; every
  * stream's chunk framing decompresses through
  * [[PageCodec.orcDecompress]] (the JDK inflater, snappy-java, lz4-java
  * and zstd-jni). Legacy RLEv1 column encodings
  * (DIRECT/DICTIONARY without _V2) and nested types reject loudly by
  * name.
  *
  * Formats per the public ORC v1 specification (run-length sections and
  * orc_proto.proto). Cross-validated in OrcDataSpec against orc-core
  * (the independent implementation Spark itself uses) on Spark-written
  * files across every supported codec, dictionary AND direct strings,
  * real nulls, and multi-stripe files.
  *
  * Scale shape: same contract as [[ParquetData]] — one file image per
  * task at fixture scale, and by construction every stripe decodes from
  * its own footer-recorded offset, so a cluster-scale scan hands each
  * task a stripe byte range.
  */
object OrcData {

  import OrcMeta.PReader

  final case class OrcStripe(offset: Long, indexLength: Long,
      dataLength: Long, footerLength: Long, rows: Long)

  final case class OrcTypeNode(kind: Int, subtypes: Seq[Int],
      fieldNames: Seq[String], precision: Int = 0, scale: Int = 0)

  /** `writerVersion` is the PostScript field-6 writer fence (0 =
    * pre-HIVE-8732 ORIGINAL): string statistics below 1 were compared
    * as UTF-16 code units by the old Java writer and must never feed a
    * byte-ordered proof — see the strip in [[readPlan]] and the
    * row-group twin in [[graft.sources.GraftOrc]]. The default is the
    * UNTRUSTED 0, matching the protobuf absent-field decoding: a
    * construction site that forgets to thread the real value falls to
    * the slow-but-sound side of the fence, never the unsound one.
    */
  final case class OrcFileMeta(compression: Int, blockSize: Int,
      numberOfRows: Long, types: Seq[OrcTypeNode],
      stripes: Seq[OrcStripe], rowIndexStride: Int = 0,
      writerVersion: Int = 0)

  /** The fence's action, in ONE place for both statistic tiers (the
    * stripe tier in [[readPlan]], the row-group tier in
    * [[graft.sources.GraftOrc]]): drop every string bound a
    * pre-HIVE-8732 writer recorded, leave all other fields untouched.
    */
  private[graft] def stripStringStats(s: OrcColStat): OrcColStat =
    if (s.minS.isDefined || s.maxS.isDefined || s.exactS)
      s.copy(minS = None, maxS = None, exactS = false)
    else s

  private final case class OrcStream(kind: Int, column: Int,
      length: Long)

  private final case class OrcEncoding(kind: Int, dictSize: Int)

  /** One stripe's one column's min/max from the file-tail Metadata
    * section: numeric bounds widened to doubles (the pruning
    * comparisons are double-valued, mirroring
    * [[ParquetFooter.statDouble]]), string bounds verbatim (post
    * HIVE-8732 ORC string stats order BY CODE POINT, which is UTF-8
    * byte order — the same order Spark compares strings in, so
    * disjointness proofs transfer; files below that writer fence get
    * their string bounds STRIPPED at parse, see [[readPlan]]). `None`
    * means the writer recorded no usable bound of that kind — never
    * prune on it.
    */
  final case class OrcColStat(min: Option[Double], max: Option[Double],
      minS: Option[String] = None, maxS: Option[String] = None,
      // numberOfValues counts NON-NULL values; hasNull is the
      // explicit flag — together they let IsNull/IsNotNull prune
      nonNull: Option[Long] = None, hasNull: Option[Boolean] = None,
      // the EXACT IntegerStatistics values (min/max sint64, sum —
      // absent when the writer detected overflow), which the aggregate
      // pushdown needs where the widened doubles above round past 2^53
      minL: Option[Long] = None, maxL: Option[Long] = None,
      sumL: Option[Long] = None,
      // true only when the string bounds came from the EXACT
      // minimum/maximum fields (1/2), not the truncated
      // lowerBound/upperBound stand-ins (4/5) — exact bounds answer
      // MIN/MAX, truncated ones only prune
      exactS: Boolean = false)

  /** Everything scan PLANNING needs, from tail bytes only: the stripe
    * directory + type tree, plus per-stripe per-column min/max ranges
    * from the Metadata section (StripeStatistics protobufs).
    * `stripeStats(i)(c)` aligns with `meta.stripes(i)` and column id
    * `c` in the type tree; empty when the writer skipped the section.
    */
  final case class OrcPlan(meta: OrcFileMeta,
      stripeStats: Seq[Seq[OrcColStat]])

  private final case class OrcPostscript(footerLen: Long,
      metadataLen: Long, compression: Int, blockSize: Int,
      writerVersion: Int)

  /** `fileLen` (when >= 0) is the real file size: [[readPlan]] probes
    * only the last few KB, so footer/metadata lengths must be budgeted
    * against the file, not the probe buffer — a wide-schema or
    * many-stripe file legitimately carries a tail longer than the probe.
    */
  private def parsePostscript(p: Array[Byte],
      fileLen: Long = -1L): OrcPostscript = {
    require(p.length > 16, "torn ORC: shorter than any tail")
    val psLen = p(p.length - 1) & 0xff
    require(psLen > 0 && psLen < p.length - 1,
      s"torn ORC: postscript length $psLen")
    val psStart = p.length - 1 - psLen
    var footerLen = -1L
    var metadataLen = 0L
    var compression = 0
    var blockSize = 0L
    var writerVersion = 0
    var magic = ""
    val ps = new PReader(p, psStart, p.length - 1)
    ps.message { (id, w) =>
      id match {
        case 1 => footerLen = ps.varint()
        case 2 => compression = ps.varint().toInt
        case 3 => blockSize = ps.varint()
        case 5 => metadataLen = ps.varint()
        case 6 => writerVersion = ps.varint().toInt
        case 8000 => magic = ps.str()
        case _ => ps.skip(w)
      }
    }
    require(magic == "ORC", s"not an ORC file (postscript magic '$magic')")
    val budget = if (fileLen >= 0) fileLen - 1 - psLen else psStart.toLong
    require(footerLen > 0 && footerLen <= budget,
      s"torn ORC: footer length $footerLen")
    require(metadataLen >= 0 && metadataLen <= budget - footerLen,
      s"torn ORC: metadata length $metadataLen")
    require(blockSize >= 0 && blockSize <= (1L << 26),
      s"torn ORC: compression block size $blockSize")
    OrcPostscript(footerLen, metadataLen, compression, blockSize.toInt,
      writerVersion)
  }

  /** Postscript + footer walk, keeping the stripe directory and type
    * tree [[OrcMeta.read]] drops (it only needs stats).
    */
  def readMeta(p: Array[Byte]): OrcFileMeta = {
    val psr = parsePostscript(p)
    val psStart = p.length - 1 - (p(p.length - 1) & 0xff)
    val compression = psr.compression
    val fb = PageCodec.orcDecompress(p, (psStart - psr.footerLen).toInt,
      psr.footerLen.toInt, compression, psr.blockSize)
    parseFooter(fb, compression, psr.blockSize, psr.writerVersion)
  }

  private def parseFooter(fb: Array[Byte], compression: Int,
      blockSize: Int, writerVersion: Int): OrcFileMeta = {
    val f = new PReader(fb, 0, fb.length)
    var numRows = -1L
    var stride = 0
    val stripes = Vector.newBuilder[OrcStripe]
    val types = Vector.newBuilder[OrcTypeNode]
    f.message { (id, w) =>
      id match {
        case 3 =>
          val s = f.sub()
          var off = -1L; var il = 0L; var dl = 0L; var fl = -1L
          var rows = -1L
          s.message { (sid, sw) =>
            sid match {
              case 1 => off = s.varint()
              case 2 => il = s.varint()
              case 3 => dl = s.varint()
              case 4 => fl = s.varint()
              case 5 => rows = s.varint()
              case _ => s.skip(sw)
            }
          }
          require(off >= 0 && fl >= 0 && rows >= 0,
            "torn ORC: stripe directory entry missing fields")
          require(rows <= (1L << 28) && il <= (1L << 40) &&
            dl <= (1L << 40) && fl <= (1L << 30),
            s"torn ORC: stripe geometry $rows/$il/$dl/$fl")
          stripes += OrcStripe(off, il, dl, fl, rows)
        case 4 =>
          val t = f.sub()
          var kind = -1
          var precision = 0
          var scale = 0
          val subs = Vector.newBuilder[Int]
          val names = Vector.newBuilder[String]
          t.message { (tid, tw) =>
            (tid, tw) match {
              case (1, _) => kind = t.varint().toInt
              case (2, 2) => // packed repeated uint32
                val s = t.sub()
                while (!s.atEnd) subs += s.varint().toInt
              case (2, _) => subs += t.varint().toInt
              case (3, _) => names += t.str()
              case (5, _) => precision = t.varint().toInt
              case (6, _) => scale = t.varint().toInt
              case _ => t.skip(tw)
            }
          }
          types += OrcTypeNode(kind, subs.result(), names.result(),
            precision, scale)
        case 6 => numRows = f.varint()
        case 8 => stride = f.varint().toInt
        case _ => f.skip(w)
      }
    }
    val ts = types.result()
    require(numRows >= 0 && ts.nonEmpty, "torn ORC: footer without types")
    require(stride >= 0 && stride <= (1 << 28),
      s"torn ORC: row index stride $stride")
    OrcFileMeta(compression, blockSize, numRows, ts,
      stripes.result(), stride, writerVersion)
  }

  /** Tail-only planning read: positional IO of the postscript, footer
    * and Metadata sections — O(KB per multi-GB file), never a data
    * byte, the same planning shape [[ParquetFooter.readTail]] gives the
    * parquet tier. Two reads: a bounded probe for the postscript, then
    * exactly the metadata+footer span it declares.
    */
  def readPlan(path: java.nio.file.Path): OrcPlan = {
    val ch = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.READ)
    try {
      val fileLen = ch.size()
      def readAt(pos: Long, n: Int): Array[Byte] = {
        require(pos >= 0 && pos + n <= fileLen,
          s"torn ORC: $n-byte tail read at $pos outside $fileLen bytes")
        val bb = java.nio.ByteBuffer.allocate(n)
        var p = pos
        while (bb.hasRemaining) {
          val r = ch.read(bb, p)
          require(r > 0, "torn ORC: short tail read")
          p += r
        }
        bb.array()
      }
      val probeLen = math.min(fileLen, 4096L).toInt
      val probe = readAt(fileLen - probeLen, probeLen)
      val psr = parsePostscript(probe, fileLen)
      val psLen = probe(probe.length - 1) & 0xff
      val tailLen = 1L + psLen + psr.footerLen + psr.metadataLen
      require(tailLen <= fileLen, s"torn ORC: $tailLen-byte tail " +
        s"declared in a $fileLen-byte file")
      val tail = readAt(fileLen - tailLen, tailLen.toInt)
      val fb = PageCodec.orcDecompress(tail, psr.metadataLen.toInt,
        psr.footerLen.toInt, psr.compression, psr.blockSize)
      val meta = parseFooter(fb, psr.compression, psr.blockSize,
        psr.writerVersion)
      val stats = if (psr.metadataLen == 0) Nil else {
        val mb = PageCodec.orcDecompress(tail, 0, psr.metadataLen.toInt,
          psr.compression, psr.blockSize)
        parseMetadata(mb)
      }
      require(stats.isEmpty || stats.length == meta.stripes.length,
        s"torn ORC: ${stats.length} stripe-stat entries for " +
          s"${meta.stripes.length} stripes")
      // STRING-STAT WRITER FENCE: pre-HIVE-8732 ORC writers
      // (PostScript writerVersion 0 — the public WriterVersion enum's
      // ORIGINAL) compared string min/max as UTF-16 code units, which
      // misorders supplementary-plane strings against UTF-8 byte order
      // (= UTF8String order, the order every downstream proof — stripe
      // pruning, MIN/MAX answering, TOP-N dominance — compares in). A
      // misordered extreme is not conservative: an overstated max can
      // unsoundly dominate a stripe that holds true top-k rows, and an
      // overstated min can prune an equality match. writerVersion >= 1
      // (HIVE_8732, 2014) is the public fence after which string stats
      // are byte-ordered; below it, string stats are DROPPED here —
      // the one choke point every planner-side consumer reads through
      // — so string queries over such files fall back to row data
      // (slower, never wrong). Numeric stats are unaffected (ordering
      // of sint64/double stats never depended on collation). The
      // engine's own writer stamps writerVersion 1 (OrcWrite).
      val trusted =
        if (psr.writerVersion >= 1) stats
        else stats.map(_.map(stripStringStats))
      OrcPlan(meta, trusted)
    } finally ch.close()
  }

  /** Metadata section: `Metadata { repeated StripeStatistics = 1 }`,
    * each `StripeStatistics { repeated ColumnStatistics = 1 }` aligned
    * with the type tree. Integer stats (sint64 zigzag min=1/max=2) and
    * double stats (fixed64 min=1/max=2) both widen to doubles; any
    * other statistics shape yields None (never prune on it).
    */
  /** One ColumnStatistics message body → the numeric range pruning
    * acts on (IntegerStatistics / DoubleStatistics only; other kinds
    * yield None = never prune).
    */
  private def parseColStat(cs: PReader): OrcColStat = {
    var mn: Option[Double] = None
    var mx: Option[Double] = None
    var mnS: Option[String] = None
    var mxS: Option[String] = None
    var nonNull: Option[Long] = None
    var hasNull: Option[Boolean] = None
    var mnL: Option[Long] = None
    var mxL: Option[Long] = None
    var smL: Option[Long] = None
    var exactS = false
    cs.message { (cid, cw) =>
      cid match {
        case 1 => nonNull = Some(cs.varint()) // numberOfValues
        case 10 => hasNull = Some(cs.varint() != 0)
        case 2 => // IntegerStatistics
          val is = cs.sub()
          is.message { (iid, iw) =>
            iid match {
              case 1 =>
                val v = is.zig()
                mnL = Some(v)
                mn = Some(v.toDouble)
              case 2 =>
                val v = is.zig()
                mxL = Some(v)
                mx = Some(v.toDouble)
              case 3 => smL = Some(is.zig()) // sum (absent on overflow)
              case _ => is.skip(iw)
            }
          }
        case 3 => // DoubleStatistics
          val ds = cs.sub()
          ds.message { (did, dw) =>
            did match {
              case 1 => mn = Some(
                java.lang.Double.longBitsToDouble(ds.fixed64()))
              case 2 => mx = Some(
                java.lang.Double.longBitsToDouble(ds.fixed64()))
              case _ => ds.skip(dw)
            }
          }
        case 7 => // DateStatistics: sint32 epoch days — lands in the
          // numeric range so normalized date literals (days) prune;
          // the exact values also feed DATE MIN/MAX aggregate pushdown
          val ds = cs.sub()
          ds.message { (did, dw) =>
            did match {
              case 1 =>
                val v = ds.zig()
                mnL = Some(v)
                mn = Some(v.toDouble)
              case 2 =>
                val v = ds.zig()
                mxL = Some(v)
                mx = Some(v.toDouble)
              case _ => ds.skip(dw)
            }
          }
        case 9 => // TimestampStatistics: UTC millis (fields 3/4 — the
          // writer-timezone-free pair) widened to the micro domain
          // conservatively: a stat-millisecond truncates up to 999
          // micros, so the max bound gains them back
          val ts = cs.sub()
          ts.message { (tid, tw) =>
            tid match {
              case 3 => mn = Some(ts.zig().toDouble * 1000.0)
              case 4 => mx = Some(ts.zig().toDouble * 1000.0 + 999.0)
              case _ => ts.skip(tw)
            }
          }
        case 4 => // StringStatistics: exact minimum/maximum, or the
          // lowerBound/upperBound TRUNCATED stand-ins long values get
          // (a truncated lower bound is still ≤ the true min and the
          // upper ≥ the true max, so pruning on them stays
          // conservative)
          val ss = cs.sub()
          var lo: Option[String] = None
          var hi: Option[String] = None
          var lob: Option[String] = None
          var hib: Option[String] = None
          ss.message { (sid, sw) =>
            sid match {
              case 1 => lo = Some(ss.str())
              case 2 => hi = Some(ss.str())
              case 4 => lob = Some(ss.str())
              case 5 => hib = Some(ss.str())
              case _ => ss.skip(sw)
            }
          }
          mnS = lo.orElse(lob)
          mxS = hi.orElse(hib)
          exactS = lo.isDefined && hi.isDefined
        case _ => cs.skip(cw)
      }
    }
    OrcColStat(mn, mx, mnS, mxS, nonNull, hasNull,
      mnL, mxL, smL, exactS)
  }

  /** One column's decoded ROW_INDEX stream: per row group, the seek
    * positions of the column's streams (reader order) and that group's
    * statistics range.
    */
  final case class OrcRowGroupIx(positions: Array[Long],
      stat: OrcColStat)

  /** Parse one decompressed ROW_INDEX stream (orc_proto RowIndex). */
  def parseRowIndex(b: Array[Byte]): Seq[OrcRowGroupIx] = {
    val out = Vector.newBuilder[OrcRowGroupIx]
    val r = new PReader(b, 0, b.length)
    r.message { (id, w) =>
      id match {
        case 1 =>
          val e = r.sub()
          val posns = Vector.newBuilder[Long]
          var stat = OrcColStat(None, None)
          e.message { (eid, ew) =>
            (eid, ew) match {
              case (1, 2) => // packed repeated uint64
                val s = e.sub()
                while (!s.atEnd) posns += s.varint()
              case (1, _) => posns += e.varint()
              case (2, _) => stat = parseColStat(e.sub())
              case _ => e.skip(ew)
            }
          }
          out += OrcRowGroupIx(posns.result().toArray, stat)
        case _ => r.skip(w)
      }
    }
    out.result()
  }

  /** The ROW_INDEX entries of the requested columns in one stripe,
    * from a buffer holding (at least) the stripe's index area AND its
    * footer — pass the whole stripe span, or for planning IO the
    * concatenation read of `[offset, offset+indexLength)` +
    * `[offset+indexLength+dataLength, +footerLength)` with `base`
    * arithmetic intact. Returns column id → per-group index entries;
    * columns without a ROW_INDEX stream are absent.
    */
  def readRowIndexes(buf: Array[Byte], base: Long, stripe: OrcStripe,
      compression: Int, blockSize: Int, colIds: Seq[Int])
      : Map[Int, Seq[OrcRowGroupIx]] = {
    val (streams, _) = readStripeFooter(buf, base, stripe,
      compression, blockSize)
    val offsets =
      streams.scanLeft(stripe.offset - base)(_ + _.length).init
    streams.zip(offsets).collect {
      case (s, o) if s.kind == K_ROW_INDEX && colIds.contains(s.column) =>
        require(o >= 0 && o + s.length <= buf.length,
          "torn ORC: index stream overruns the buffer")
        s.column -> parseRowIndex(PageCodec.orcDecompress(buf,
          o.toInt, s.length.toInt, compression, blockSize))
    }.toMap
  }

  /** Planning-time row-group stat ranges from two SMALL positional
    * reads — the stripe's index area `[offset, offset+indexLength)`
    * and its footer `[offset+indexLength+dataLength, +footerLength)`
    * (O(KB) each, never a data byte): per requested column id, each
    * row group's min/max. Empty map when the file carries no indexes.
    */
  def rowGroupStats(indexBytes: Array[Byte], footerBytes: Array[Byte],
      compression: Int, blockSize: Int, colIds: Seq[Int])
      : Map[Int, Seq[OrcColStat]] = {
    val (streams, _) = parseStripeFooter(PageCodec.orcDecompress(
      footerBytes, 0, footerBytes.length, compression, blockSize))
    // index streams lead the footer's list and the stripe's bytes, so
    // their offsets accumulate from 0 within the index area
    val offsets = streams.scanLeft(0L)(_ + _.length).init
    streams.zip(offsets).collect {
      case (s, o) if s.kind == K_ROW_INDEX && colIds.contains(s.column) =>
        require(o >= 0 && o + s.length <= indexBytes.length,
          "torn ORC: index stream overruns the index area")
        s.column -> parseRowIndex(PageCodec.orcDecompress(indexBytes,
          o.toInt, s.length.toInt, compression, blockSize)).map(_.stat)
    }.toMap
  }

  /** One row group's bloom filter from a BLOOM_FILTER_UTF8 stream:
    * `numHashes` probes over a long-word bitset (orc_proto
    * BloomFilter: numHashFunctions=1, legacy repeated-fixed64
    * bitset=2, modern utf8bitset=3 as little-endian long bytes).
    */
  final case class OrcBloom(numHashes: Int, bits: Array[Long])

  /** Parse one decompressed BLOOM_FILTER_UTF8 stream (orc_proto
    * BloomFilterIndex: one BloomFilter per row group).
    */
  def parseBloomIndex(b: Array[Byte]): Seq[OrcBloom] = {
    val out = Vector.newBuilder[OrcBloom]
    val r = new PReader(b, 0, b.length)
    r.message { (id, w) =>
      id match {
        case 1 =>
          val e = r.sub()
          var k = 0
          val words = Vector.newBuilder[Long]
          e.message { (eid, ew) =>
            (eid, ew) match {
              case (1, _) => k = e.varint().toInt
              case (2, 1) => words += e.fixed64() // unpacked fixed64
              case (2, 2) => // packed repeated fixed64
                val s = e.sub()
                while (!s.atEnd) words += s.fixed64()
              case (3, _) => // utf8bitset: LE long bytes
                val (o, n) = e.bytes()
                require(n % 8 == 0, s"torn ORC: bloom bitset $n bytes")
                var i = 0
                while (i < n) {
                  var v = 0L
                  var j = 0
                  while (j < 8) {
                    v |= (b(o + i + j) & 0xffL) << (8 * j); j += 1
                  }
                  words += v
                  i += 8
                }
              case _ => e.skip(ew)
            }
          }
          out += OrcBloom(k, words.result().toArray)
        case _ => r.skip(w)
      }
    }
    out.result()
  }

  /** The BLOOM_FILTER_UTF8 entries of the requested columns in one
    * stripe, from the same two planning reads [[rowGroupStats]] uses.
    * Column id → one bloom per row group; columns without the stream
    * are absent (never prune on them).
    */
  def rowGroupBlooms(indexBytes: Array[Byte], footerBytes: Array[Byte],
      compression: Int, blockSize: Int, colIds: Seq[Int])
      : Map[Int, Seq[OrcBloom]] = {
    val (streams, _) = parseStripeFooter(PageCodec.orcDecompress(
      footerBytes, 0, footerBytes.length, compression, blockSize))
    val offsets = streams.scanLeft(0L)(_ + _.length).init
    streams.zip(offsets).collect {
      case (s, o) if s.kind == 8 && colIds.contains(s.column) =>
        require(o >= 0 && o + s.length <= indexBytes.length,
          "torn ORC: bloom stream overruns the index area")
        s.column -> parseBloomIndex(PageCodec.orcDecompress(indexBytes,
          o.toInt, s.length.toInt, compression, blockSize))
    }.toMap
  }

  /** Murmur3 64-bit (the x64_128 h1 lane, orc-core's Murmur3.hash64
    * shape with its DEFAULT_SEED 104729) — what ORC blooms hash
    * string/binary values with (UTF-8 bytes in).
    */
  def orcMurmur64(data: Array[Byte]): Long = {
    val C1 = 0x87c37b91114253d5L
    val C2 = 0x4cf5ad432745937fL
    val seed = 104729L
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    var h = seed
    val nblocks = data.length >> 3
    var i = 0
    while (i < nblocks) {
      val o = i << 3
      var k = 0L
      var j = 0
      while (j < 8) { k |= (data(o + j) & 0xffL) << (8 * j); j += 1 }
      k *= C1; k = rotl(k, 31); k *= C2
      h ^= k
      h = rotl(h, 27) * 5 + 0x52dce729L
      i += 1
    }
    var k1 = 0L
    val tail = nblocks << 3
    var t = data.length - 1
    while (t >= tail) {
      k1 = (k1 << 8) | (data(t) & 0xffL)
      t -= 1
    }
    if (data.length != tail) {
      k1 *= C1; k1 = rotl(k1, 31); k1 *= C2
      h ^= k1
    }
    h ^= data.length.toLong
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Thomas Wang's 64-bit integer mix — what ORC blooms hash
    * long-valued columns with (orc-core BloomFilter.getLongHash).
    */
  def orcLongHash(key0: Long): Long = {
    var key = key0
    key = (~key) + (key << 21)
    key = key ^ (key >>> 24)
    key = (key + (key << 3)) + (key << 8)
    key = key ^ (key >>> 14)
    key = (key + (key << 2)) + (key << 4)
    key = key ^ (key >>> 28)
    key = key + (key << 31)
    key
  }

  /** ORC bloom membership probe (orc-core's combined-hash scheme):
    * k rounds of hash1 + i·hash2 (bit-flipped when negative) mod the
    * bit count. False = DEFINITELY absent; true = maybe.
    */
  /** Set the k combined-hash bits `hash64` maps to — the exact mirror
    * of [[orcBloomMightContain]], used by the WRITER ([[OrcWrite]]).
    */
  def orcBloomSet(bits: Array[Long], numHashes: Int,
      hash64: Long): Unit = {
    val nbits = bits.length << 6
    require(nbits > 0 && numHashes > 0, "empty ORC bloom")
    val h1 = hash64.toInt
    val h2 = (hash64 >>> 32).toInt
    var i = 1
    while (i <= numHashes) {
      var combined = h1 + i * h2
      if (combined < 0) combined = ~combined
      val pos = combined % nbits
      bits(pos >>> 6) |= (1L << (pos & 63))
      i += 1
    }
  }

  def orcBloomMightContain(bloom: OrcBloom, hash64: Long): Boolean = {
    val nbits = bloom.bits.length << 6
    if (nbits == 0 || bloom.numHashes <= 0) return true
    val h1 = hash64.toInt
    val h2 = (hash64 >>> 32).toInt
    var i = 1
    while (i <= bloom.numHashes) {
      var combined = h1 + i * h2
      if (combined < 0) combined = ~combined
      val pos = combined % nbits
      if (((bloom.bits(pos >>> 6) >>> (pos & 63)) & 1L) == 0L)
        return false
      i += 1
    }
    true
  }

  private def parseMetadata(mb: Array[Byte]): Seq[Seq[OrcColStat]] = {
    val out = Vector.newBuilder[Seq[OrcColStat]]
    val m = new PReader(mb, 0, mb.length)
    m.message { (id, w) =>
      id match {
        case 1 =>
          val ss = m.sub()
          val cols = Vector.newBuilder[OrcColStat]
          ss.message { (sid, sw) =>
            sid match {
              case 1 =>
                cols += parseColStat(ss.sub())
              case _ => ss.skip(sw)
            }
          }
          out += cols.result()
        case _ => m.skip(w)
      }
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // run-length decoders

  /** BYTE RLE: header 0..127 = the next byte repeated header+3 times,
    * -1..-128 = that many literal bytes. Returns exactly `n` bytes.
    */
  private def byteRle(b: Array[Byte], n: Int): Array[Byte] =
    byteRleFlex(b, n, exact = true)

  /** [[byteRle]] with `exact = false` letting the FINAL run carry more
    * bytes than requested (discarded) — decoding from a row-index seek
    * point, where orc-core's runs don't end at group boundaries.
    */
  private def byteRleFlex(b: Array[Byte], n: Int,
      exact: Boolean): Array[Byte] = {
    var out = new Array[Byte](n)
    def ensure(k: Int, len: Int, what: String): Unit =
      if (k + len > out.length) {
        require(!exact, s"torn ORC: byte-RLE $what $len overruns $n")
        out = java.util.Arrays.copyOf(out, k + len)
      }
    var pos = 0
    var k = 0
    while (k < n) {
      require(pos < b.length, "torn ORC: byte-RLE header")
      val h = b(pos)
      pos += 1
      if (h >= 0) {
        val run = h + 3
        require(pos < b.length, "torn ORC: byte-RLE run value")
        ensure(k, run, "run")
        val v = b(pos)
        pos += 1
        var i = 0
        while (i < run) { out(k) = v; k += 1; i += 1 }
      } else {
        val lit = -h
        require(pos + lit <= b.length, "torn ORC: byte-RLE literal cut")
        ensure(k, lit, "literal")
        System.arraycopy(b, pos, out, k, lit)
        pos += lit
        k += lit
      }
    }
    if (out.length > n) java.util.Arrays.copyOf(out, n) else out
  }

  /** Boolean RLE = byte RLE with bits emitted MSB-first. */
  private def boolRle(b: Array[Byte], n: Int): Array[Boolean] = {
    val bytes = byteRle(b, (n + 7) / 8)
    Array.tabulate(n)(i => ((bytes(i >> 3) >> (7 - (i & 7))) & 1) == 1)
  }

  /** The RLEv2 5-bit width code: 0..23 → 1..24, then
    * 26/28/30/32/40/48/56/64.
    */
  private def width5(c: Int): Int = c match {
    case c if c < 24 => c + 1
    case 24 => 26
    case 25 => 28
    case 26 => 30
    case 27 => 32
    case 28 => 40
    case 29 => 48
    case 30 => 56
    case 31 => 64
    case c => throw new IllegalArgumentException(
      s"torn ORC: RLEv2 width code $c")
  }

  /** Round a bit count up to the nearest encodable fixed width (the
    * patch-list entry width rule).
    */
  private def closestFixedBits(n: Int): Int =
    if (n <= 24) math.max(n, 1)
    else if (n <= 26) 26 else if (n <= 28) 28 else if (n <= 30) 30
    else if (n <= 32) 32 else if (n <= 40) 40 else if (n <= 48) 48
    else if (n <= 56) 56 else 64

  private final class Bits(b: Array[Byte], var pos: Int) {
    def u8(): Int = {
      require(pos < b.length, "torn ORC: RLEv2 read past end")
      val v = b(pos) & 0xff
      pos += 1
      v
    }
    def varint(): Long = {
      var n = 0L
      var shift = 0
      var by = 0
      do {
        require(shift <= 63, "torn ORC: runaway varint")
        by = u8()
        n |= (by & 0x7fL) << shift
        shift += 7
      } while ((by & 0x80) != 0)
      n
    }
    def zigzag(): Long = { val u = varint(); (u >>> 1) ^ -(u & 1L) }
    /** `count` big-endian bit-packed values of `width` bits. */
    def packed(count: Int, width: Int, out: Array[Long],
        at: Int): Unit = {
      var bitBuf = 0L
      var bitCnt = 0
      var i = 0
      while (i < count) {
        while (bitCnt < width) {
          bitBuf = (bitBuf << 8) | u8()
          bitCnt += 8
        }
        bitCnt -= width
        out(at + i) =
          if (width == 64) bitBuf
          else (bitBuf >>> bitCnt) & ((1L << width) - 1)
        i += 1
      }
    }
  }

  /** Integer RLEv2: decode exactly `n` values. `signed` applies the
    * zigzag convention of SHORT_REPEAT/DIRECT/DELTA (PATCHED_BASE
    * carries its sign in the base's top bit instead).
    */
  private def rleV2(b: Array[Byte], n: Int,
      signed: Boolean): Array[Long] =
    rleV2Flex(b, n, signed, exact = true)

  /** [[rleV2]] with `exact = false` allowing the FINAL run to carry
    * more values than requested (discarded) — what decoding from a
    * mid-stream row-index seek point needs, since orc-core's runs
    * don't end at row-group boundaries.
    */
  private def rleV2Flex(b: Array[Byte], n: Int,
      signed: Boolean, exact: Boolean): Array[Long] = {
    var out = new Array[Long](n)
    def ensure(k: Int, len: Int, what: String): Unit =
      if (k + len > out.length) {
        require(!exact, s"torn ORC: $what $len overruns")
        out = java.util.Arrays.copyOf(out, k + len)
      }
    val r = new Bits(b, 0)
    var k = 0
    while (k < n) {
      val h = r.u8()
      (h >>> 6) match {
        case 0 => // SHORT_REPEAT
          val bytes = ((h >>> 3) & 7) + 1
          val run = (h & 7) + 3
          ensure(k, run, "short repeat")
          var v = 0L
          var i = 0
          while (i < bytes) { v = (v << 8) | r.u8(); i += 1 }
          val sv = if (signed) (v >>> 1) ^ -(v & 1L) else v
          i = 0
          while (i < run) { out(k) = sv; k += 1; i += 1 }
        case 1 => // DIRECT
          val w = width5((h >>> 1) & 0x1f)
          val len = (((h & 1) << 8) | r.u8()) + 1
          ensure(k, len, "direct run")
          r.packed(len, w, out, k)
          if (signed) {
            var i = k
            while (i < k + len) {
              out(i) = (out(i) >>> 1) ^ -(out(i) & 1L)
              i += 1
            }
          }
          k += len
        case 2 => // PATCHED_BASE
          val w = width5((h >>> 1) & 0x1f)
          val len = (((h & 1) << 8) | r.u8()) + 1
          ensure(k, len, "patched run")
          val third = r.u8()
          val bw = ((third >>> 5) & 7) + 1
          val pw = width5(third & 0x1f)
          val fourth = r.u8()
          val pgw = ((fourth >>> 5) & 7) + 1
          val pll = fourth & 0x1f
          var base = 0L
          var i = 0
          while (i < bw) { base = (base << 8) | r.u8(); i += 1 }
          val signMask = 1L << (bw * 8 - 1)
          if ((base & signMask) != 0) base = -(base & (signMask - 1))
          r.packed(len, w, out, k)
          val entryW = closestFixedBits(pgw + pw)
          val patches = new Array[Long](pll)
          r.packed(pll, entryW, patches, 0)
          // gaps are cumulative offsets from position 0 (the first
          // entry's gap IS the first patched index); (255, 0) entries
          // only extend the gap
          var idx = 0L
          var pi = 0
          while (pi < pll) {
            val gap = patches(pi) >>> pw
            val patch = patches(pi) &
              (if (pw == 64) -1L else (1L << pw) - 1)
            idx += gap
            if (!(gap == 255 && patch == 0)) { // 255-gap continuation
              require(idx >= 0 && idx < len,
                s"torn ORC: patch index $idx of run $len")
              out(k + idx.toInt) |= patch << w
            }
            pi += 1
          }
          i = k
          while (i < k + len) { out(i) += base; i += 1 }
          k += len
        case _ => // DELTA
          val wc = (h >>> 1) & 0x1f
          val w = if (wc == 0) 0 else width5(wc)
          val len = (((h & 1) << 8) | r.u8()) + 1
          ensure(k, len, "delta run")
          val base = if (signed) r.zigzag() else r.varint()
          out(k) = base
          if (len > 1) {
            val db = r.zigzag()
            out(k + 1) = base + db
            if (w == 0) { // fixed delta
              var i = 2
              while (i < len) {
                out(k + i) = out(k + i - 1) + db
                i += 1
              }
            } else {
              val ds = new Array[Long](len - 2)
              r.packed(len - 2, w, ds, 0)
              var i = 2
              while (i < len) {
                val d = ds(i - 2)
                out(k + i) =
                  if (db < 0) out(k + i - 1) - d
                  else out(k + i - 1) + d
                i += 1
              }
            }
          }
          k += len
      }
    }
    if (out.length > n) java.util.Arrays.copyOf(out, n) else out
  }

  // ------------------------------------------------------------------
  // stripe decoding

  // stream kinds (orc_proto Stream.Kind)
  private val K_ROW_INDEX = 6 // INDEX-area stream, one per column
  private val K_PRESENT = 0
  private val K_DATA = 1
  private val K_LENGTH = 2
  private val K_DICT = 3
  private val K_SECONDARY = 5

  /** ORC timestamps count seconds from 2015-01-01 00:00:00 UTC. */
  private val TsBaseSeconds = 1420070400L

  /** SECONDARY-stream nanos: the writer strips trailing decimal zeros
    * and records their count minus 2 in the low 3 bits (0 ⇒ none
    * stripped) — orc spec §Timestamp, mirrored from the public
    * TimestampTreeWriter convention.
    */
  private def parseNanos(serialized: Long): Long = {
    val zeros = (serialized & 7).toInt
    var result = serialized >>> 3
    if (zeros != 0) {
      var i = 0
      while (i <= zeros) { result *= 10; i += 1 }
    }
    require(result >= 0 && result <= 999999999L,
      s"torn ORC: $result nanoseconds")
    result
  }

  /** Unbounded base-128 zigzag varints (the classic DECIMAL DATA
    * stream): little-endian 7-bit groups into a BigInteger, zigzag
    * sign-folded.
    */
  private def readBigVarints(b: Array[Byte], n: Int)
      : Array[java.math.BigInteger] = {
    val out = new Array[java.math.BigInteger](n)
    var pos = 0
    var k = 0
    while (k < n) {
      var u = java.math.BigInteger.ZERO
      var shift = 0
      var by = 0
      do {
        require(pos < b.length, "torn ORC: decimal varint")
        // decimal(38) zigzag unscaled values span up to 128 bits ≈ 19
        // varint bytes (shift 18·7 on the final group) — the guard only
        // rejects streams no valid decimal can produce
        require(shift <= 19 * 7, "torn ORC: runaway decimal varint")
        by = b(pos) & 0xff
        pos += 1
        if ((by & 0x7f) != 0)
          u = u.or(java.math.BigInteger.valueOf(by & 0x7fL)
            .shiftLeft(shift))
        shift += 7
      } while ((by & 0x80) != 0)
      out(k) =
        if (u.testBit(0)) u.shiftRight(1).not()
        else u.shiftRight(1)
      k += 1
    }
    out
  }

  // type kinds (orc_proto Type.Kind)
  private val primitiveNames = Map(0 -> "BOOLEAN", 1 -> "BYTE",
    2 -> "SHORT", 3 -> "INT", 4 -> "LONG", 5 -> "FLOAT", 6 -> "DOUBLE",
    7 -> "STRING", 8 -> "BINARY", 9 -> "TIMESTAMP", 10 -> "LIST",
    11 -> "MAP", 12 -> "STRUCT", 13 -> "UNION", 14 -> "DECIMAL",
    15 -> "DATE", 16 -> "VARCHAR", 17 -> "CHAR",
    18 -> "TIMESTAMP_INSTANT")

  /** `base` is the file offset `p(0)` corresponds to: 0 when `p` is a
    * whole file image, `stripe.offset` when a task fetched only its
    * stripe's byte range (the cluster-scale shape).
    */
  private def readStripeFooter(p: Array[Byte], base: Long,
      stripe: OrcStripe, compression: Int, blockSize: Int)
      : (Seq[OrcStream], Map[Int, OrcEncoding]) = {
    val off = stripe.offset - base + stripe.indexLength +
      stripe.dataLength
    require(off >= 0 && off + stripe.footerLength <= p.length,
      "torn ORC: stripe footer overruns the buffer")
    parseStripeFooter(PageCodec.orcDecompress(p, off.toInt,
      stripe.footerLength.toInt, compression, blockSize))
  }

  private def parseStripeFooter(fb: Array[Byte])
      : (Seq[OrcStream], Map[Int, OrcEncoding]) = {
    val r = new PReader(fb, 0, fb.length)
    val streams = Vector.newBuilder[OrcStream]
    val encodings = Vector.newBuilder[OrcEncoding]
    r.message { (id, w) =>
      id match {
        case 1 =>
          val s = r.sub()
          var kind = 0; var col = 0; var len = 0L
          s.message { (sid, sw) =>
            sid match {
              case 1 => kind = s.varint().toInt
              case 2 => col = s.varint().toInt
              case 3 => len = s.varint()
              case _ => s.skip(sw)
            }
          }
          streams += OrcStream(kind, col, len)
        case 2 =>
          val e = r.sub()
          var kind = 0; var dict = 0
          e.message { (eid, ew) =>
            eid match {
              case 1 => kind = e.varint().toInt
              case 2 => dict = e.varint().toInt
              case _ => e.skip(ew)
            }
          }
          encodings += OrcEncoding(kind, dict)
        case _ => r.skip(w)
      }
    }
    val encs = encodings.result().zipWithIndex
      .map { case (e, i) => i -> e }.toMap
    (streams.result(), encs)
  }

  /** Decode one column of one stripe into row-aligned values with
    * nulls (`rows` entries). TIMESTAMP values come back as micros since
    * the unix epoch (Spark's physical representation), DECIMAL as
    * java.math.BigDecimal at the declared scale, BINARY as raw bytes.
    */
  private def readColumn(p: Array[Byte], colId: Int, tpe: OrcTypeNode,
      rows: Int, streams: Seq[OrcStream], streamOffsets: Seq[Long],
      enc: OrcEncoding, compression: Int, blockSize: Int)
      : Array[Any] = {
    val kind = tpe.kind
    def streamBytes(k: Int): Option[Array[Byte]] =
      streams.zip(streamOffsets).collectFirst {
        case (s, o) if s.column == colId && s.kind == k =>
          require(o >= 0 && o + s.length <= p.length,
            "torn ORC: stream overruns the buffer")
          PageCodec.orcDecompress(p, o.toInt, s.length.toInt,
            compression, blockSize)
      }
    val present = streamBytes(K_PRESENT).map(boolRle(_, rows))
    val nonNull = present.map(_.count(identity)).getOrElse(rows)
    def data(): Array[Byte] = streamBytes(K_DATA).getOrElse(
      throw new IllegalArgumentException(
        s"torn ORC: column $colId has no DATA stream"))
    val vals: Array[Any] = kind match {
      case 0 => // BOOLEAN: bit RLE over the non-null values
        require(enc.kind == 0, s"BOOLEAN encoding ${enc.kind}")
        boolRle(data(), nonNull).map(v => v: Any)
      case 1 => // BYTE: byte RLE
        require(enc.kind == 0, s"BYTE encoding ${enc.kind}")
        byteRle(data(), nonNull).map(v => v: Any)
      case 2 | 3 | 4 | 15 => // SHORT/INT/LONG/DATE: signed RLEv2
        requireV2(enc, colId)
        val longs = rleV2(data(), nonNull, signed = true)
        kind match {
          case 2 => longs.map(v => v.toShort: Any)
          case 3 => longs.map(v => v.toInt: Any)
          case 15 => longs.map(v => v.toInt: Any) // DATE: epoch days
          case _ => longs.map(v => v: Any)
        }
      case 5 => // FLOAT: IEEE LE 4-byte stream
        val d = data()
        require(d.length >= 4 * nonNull, "torn ORC: float stream short")
        Array.tabulate[Any](nonNull) { i =>
          java.lang.Float.intBitsToFloat(
            (d(4 * i) & 0xff) | ((d(4 * i + 1) & 0xff) << 8) |
              ((d(4 * i + 2) & 0xff) << 16) | (d(4 * i + 3) << 24))
        }
      case 6 => // DOUBLE: IEEE LE 8-byte stream
        val d = data()
        require(d.length >= 8 * nonNull, "torn ORC: double stream short")
        Array.tabulate[Any](nonNull) { i =>
          var v = 0L
          var j = 0
          while (j < 8) { v |= (d(8 * i + j) & 0xffL) << (8 * j); j += 1 }
          java.lang.Double.longBitsToDouble(v)
        }
      case 7 | 16 | 17 => // STRING/VARCHAR/CHAR
        enc.kind match {
          case 2 => // DIRECT_V2: LENGTH + concatenated DATA
            val lens = rleV2(streamBytes(K_LENGTH).getOrElse(
              throw new IllegalArgumentException(
                s"torn ORC: string column $colId has no LENGTH")),
              nonNull, signed = false)
            val d = data()
            var off = 0
            Array.tabulate[Any](nonNull) { i =>
              val len = lens(i).toInt
              require(len >= 0 && off + len <= d.length,
                s"torn ORC: $len-byte string overruns")
              val s = new String(d, off, len, "UTF-8")
              off += len
              s
            }
          case 3 => // DICTIONARY_V2: sorted dict + index stream
            require(enc.dictSize >= 0 && enc.dictSize <= (1 << 26),
              s"torn ORC: dictionary claims ${enc.dictSize} entries")
            val dictLens = rleV2(streamBytes(K_LENGTH).getOrElse(
              throw new IllegalArgumentException(
                s"torn ORC: dict column $colId has no LENGTH")),
              enc.dictSize, signed = false)
            val db = streamBytes(K_DICT).getOrElse(
              throw new IllegalArgumentException(
                s"torn ORC: dict column $colId has no DICTIONARY_DATA"))
            var off = 0
            val dict = Array.tabulate(enc.dictSize) { i =>
              val len = dictLens(i).toInt
              require(len >= 0 && off + len <= db.length,
                s"torn ORC: $len-byte dict entry overruns")
              val s = new String(db, off, len, "UTF-8")
              off += len
              s
            }
            rleV2(data(), nonNull, signed = false).map { ix =>
              require(ix >= 0 && ix < dict.length,
                s"torn ORC: dictionary index $ix of ${dict.length}")
              dict(ix.toInt): Any
            }
          case e => throw new IllegalArgumentException(
            s"ORC string encoding $e unsupported (legacy RLEv1 " +
              "DIRECT/DICTIONARY reject by name)")
        }
      case 8 => // BINARY: DIRECT_V2 — LENGTH run + concatenated bytes
        requireV2(enc, colId)
        val lens = rleV2(streamBytes(K_LENGTH).getOrElse(
          throw new IllegalArgumentException(
            s"torn ORC: binary column $colId has no LENGTH")),
          nonNull, signed = false)
        val d = data()
        var off = 0
        Array.tabulate[Any](nonNull) { i =>
          val len = lens(i).toInt
          require(len >= 0 && off + len <= d.length,
            s"torn ORC: $len-byte binary overruns")
          val bytes = java.util.Arrays.copyOfRange(d, off, off + len)
          off += len
          bytes
        }
      case 9 | 18 => // TIMESTAMP / TIMESTAMP_INSTANT: seconds since the
        // 2015 base (DATA, signed) + packed nanos (SECONDARY, unsigned).
        // The writer derives seconds by truncate-toward-zero division,
        // so a negative second with nonzero nanos is one too high — the
        // reader re-floors (public orc-core convention).
        requireV2(enc, colId)
        val secs = rleV2(data(), nonNull, signed = true)
        val nanos = rleV2(streamBytes(K_SECONDARY).getOrElse(
          throw new IllegalArgumentException(
            s"torn ORC: timestamp column $colId has no SECONDARY")),
          nonNull, signed = false)
        Array.tabulate[Any](nonNull) { i =>
          val s = secs(i) + TsBaseSeconds
          val ns = parseNanos(nanos(i))
          val floored = if (s < 0 && ns != 0) s - 1 else s
          java.lang.Math.addExact(
            java.lang.Math.multiplyExact(floored, 1000000L), ns / 1000)
        }
      case 14 => // DECIMAL: unbounded zigzag varints (DATA) + per-value
        // scale (SECONDARY, signed RLEv2), rescaled to the declared type
        requireV2(enc, colId)
        require(tpe.scale >= 0 && tpe.precision > 0 &&
          tpe.precision <= 38 && tpe.scale <= tpe.precision,
          s"torn ORC: DECIMAL(${tpe.precision},${tpe.scale})")
        val unscaled = readBigVarints(data(), nonNull)
        val scales = rleV2(streamBytes(K_SECONDARY).getOrElse(
          throw new IllegalArgumentException(
            s"torn ORC: decimal column $colId has no SECONDARY")),
          nonNull, signed = true)
        Array.tabulate[Any](nonNull) { i =>
          require(scales(i) >= -38 && scales(i) <= 38,
            s"torn ORC: decimal value scale ${scales(i)}")
          new java.math.BigDecimal(unscaled(i), scales(i).toInt)
            .setScale(tpe.scale)
        }
      case k => throw new IllegalArgumentException(
        s"ORC column kind ${primitiveNames.getOrElse(k, k.toString)} " +
          "unsupported (nested/UNION reject by name)")
    }
    require(vals.length == nonNull,
      s"torn ORC: column $colId decoded ${vals.length} of $nonNull")
    present match {
      case None => vals
      case Some(bits) =>
        val out = new Array[Any](rows)
        var v = 0
        var i = 0
        while (i < rows) {
          if (bits(i)) { out(i) = vals(v); v += 1 } else out(i) = null
          i += 1
        }
        out
    }
  }

  private def requireV2(enc: OrcEncoding, colId: Int): Unit =
    require(enc.kind == 2 || enc.kind == 3,
      s"ORC column $colId encoding ${enc.kind} unsupported (legacy " +
        "RLEv1 DIRECT rejects by name; writers emit DIRECT_V2)")

  /** Row iterator over the named top-level columns of a complete ORC
    * file image — every stripe, stream and run decoded by this module,
    * nulls row-aligned. Column order per row matches `names`.
    */
  def readRows(file: Array[Byte], names: Seq[String])
      : Iterator[Array[Any]] = {
    val meta = readMeta(file)
    val colIds = resolveColumns(meta.types, names)
    meta.stripes.iterator.flatMap(stripe =>
      readStripeRows(file, 0L, stripe, meta.compression, meta.blockSize,
        meta.types, colIds))
  }

  /** Map top-level field names to type-tree column ids (each id may
    * root a nested subtree); unknown names reject loudly.
    */
  def resolveColumns(types: Seq[OrcTypeNode], names: Seq[String])
      : Seq[Int] = {
    require(types.nonEmpty && types.head.kind == 12,
      "ORC root type is not a struct")
    val root = types.head
    require(root.subtypes.length == root.fieldNames.length,
      "torn ORC: root field/subtype arity mismatch")
    names.map { n =>
      val i = root.fieldNames.indexOf(n)
      require(i >= 0, s"column '$n' not present in the ORC schema")
      root.subtypes(i)
    }
  }

  /** Decode ONE stripe's rows from a buffer that starts at file offset
    * `base` — `base = 0` for a whole-file image, `base = stripe.offset`
    * when the caller fetched just `[offset, offset + indexLength +
    * dataLength + footerLength)` (the per-task byte-range shape a
    * cluster scan plans). Column order per row matches `colIds`.
    */
  def readStripeRows(buf: Array[Byte], base: Long, stripe: OrcStripe,
      compression: Int, blockSize: Int, types: Seq[OrcTypeNode],
      colIds: Seq[Int]): Iterator[Array[Any]] = {
    val (streams, encodings) = readStripeFooter(buf, base, stripe,
      compression, blockSize)
    // index streams precede data streams at stripe.offset, in
    // footer order; accumulate to place each stream
    val offsets =
      streams.scanLeft(stripe.offset - base)(_ + _.length).init
    val rows = stripe.rows.toInt
    val cols: Seq[Array[Any]] = colIds.map { id =>
      require(id >= 0 && id < types.length,
        s"torn ORC: column id $id outside the type tree")
      readColumnTree(buf, id, types, rows, streams, offsets,
        encodings, compression, blockSize)
    }
    (0 until rows).iterator.map(i =>
      Array.tabulate[Any](cols.size)(c => cols(c)(i)))
  }

  /** All type-tree ids of a column subtree (the root id first). */
  def subtreeIds(types: Seq[OrcTypeNode], id: Int): Seq[Int] = {
    require(id >= 0 && id < types.length,
      s"torn ORC: column id $id outside the type tree")
    id +: types(id).subtypes.flatMap(subtreeIds(types, _))
  }

  /** Sequential cursor over one RowIndexEntry's positions — each
    * stream seek consumes exactly the values the matching orc-core
    * reader would (1 byte offset uncompressed / 2 chunk+inner
    * compressed, then the encoder drops).
    */
  private final class PosCur(a: Array[Long]) {
    private var i = 0
    def next(): Long = {
      require(i < a.length, "torn ORC: row-index positions exhausted")
      val v = a(i); i += 1; v
    }
  }

  /** Decode ONE CONTIGUOUS ROW-GROUP RANGE `[g0, g1)` of a stripe —
    * the sub-stripe skip the ROW_INDEX streams exist for. Every stream
    * is entered at its recorded seek position (fresh run / fresh
    * compression chunk in this repo's own files; mid-run with value
    * drops in orc-core's), so the work is O(selected groups), not
    * O(stripe). Falls back to [[readStripeRows]] when the range covers
    * the whole stripe or the stripe carries no indexes.
    */
  def readStripeRowsRange(buf: Array[Byte], base: Long,
      stripe: OrcStripe, compression: Int, blockSize: Int,
      types: Seq[OrcTypeNode], colIds: Seq[Int], stride: Int,
      g0: Int, g1: Int): Iterator[Array[Any]] = {
    val nGroups =
      if (stride <= 0) 1
      else ((stripe.rows + stride - 1) / stride).toInt
    if (stride <= 0 || (g0 == 0 && g1 >= nGroups))
      return readStripeRows(buf, base, stripe, compression, blockSize,
        types, colIds)
    require(g0 >= 0 && g0 < g1 && g1 <= nGroups,
      s"bad row-group range [$g0,$g1) of $nGroups")
    val rowStart = g0.toLong * stride
    val rows = (math.min(g1.toLong * stride, stripe.rows) - rowStart)
      .toInt
    val (streams, encodings) = readStripeFooter(buf, base, stripe,
      compression, blockSize)
    val offsets =
      streams.scanLeft(stripe.offset - base)(_ + _.length).init
    val needed = colIds.flatMap(subtreeIds(types, _)).distinct
    val ix = readRowIndexes(buf, base, stripe, compression, blockSize,
      needed)
    val cols: Seq[Array[Any]] = colIds.map { id =>
      readColumnTreeAt(buf, id, types, rows, streams, offsets,
        encodings, compression, blockSize, ix, g0)
    }
    (0 until rows).iterator.map(i =>
      Array.tabulate[Any](cols.size)(c => cols(c)(i)))
  }

  /** [[readColumnTree]] entered at row group `g0` via the column's own
    * RowIndexEntry: reads each stream from its seek position, dropping
    * the recorded run/bit prefix. Children enter at THEIR OWN entries
    * (a child's group boundary is wherever its parent's lengths put
    * it), which is exactly why every column carries its own index.
    */
  private def readColumnTreeAt(p: Array[Byte], colId: Int,
      types: Seq[OrcTypeNode], rows: Int, streams: Seq[OrcStream],
      streamOffsets: Seq[Long], encodings: Map[Int, OrcEncoding],
      compression: Int, blockSize: Int,
      ix: Map[Int, Seq[OrcRowGroupIx]], g0: Int): Array[Any] = {
    val tpe = types(colId)
    val enc = encodings.getOrElse(colId, OrcEncoding(0, 0))
    val entries = ix.getOrElse(colId, throw new IllegalArgumentException(
      s"torn ORC: column $colId has no ROW_INDEX stream"))
    require(g0 < entries.length,
      s"torn ORC: column $colId has ${entries.length} index entries, " +
        s"group $g0 requested")
    val cur = new PosCur(entries(g0).positions)
    def findStream(k: Int): Option[(OrcStream, Long)] =
      streams.zip(streamOffsets).collectFirst {
        case (s, o) if s.column == colId && s.kind == k => (s, o)
      }
    /** Stream bytes FROM the cursor's seek point (consumes 1 or 2
      * position values); None (cursor untouched) when absent.
      */
    def seekBytes(k: Int): Option[Array[Byte]] =
      findStream(k).map { case (s, o) =>
        require(o >= 0 && o + s.length <= p.length,
          "torn ORC: stream overruns the buffer")
        if (compression == 0) {
          val off = cur.next()
          require(off >= 0 && off <= s.length,
            s"torn ORC: seek $off past a ${s.length}-byte stream")
          java.util.Arrays.copyOfRange(p, (o + off).toInt,
            (o + s.length).toInt)
        } else {
          val chunk = cur.next()
          val inner = cur.next()
          require(chunk >= 0 && chunk <= s.length,
            s"torn ORC: seek chunk $chunk past ${s.length}")
          val d = PageCodec.orcDecompress(p, (o + chunk).toInt,
            (s.length - chunk).toInt, compression, blockSize)
          require(inner >= 0 && inner <= d.length,
            s"torn ORC: seek $inner into a ${d.length}-byte chunk")
          java.util.Arrays.copyOfRange(d, inner.toInt, d.length)
        }
      }
    /** Whole-stream bytes, no cursor use — dictionary content, which
      * a seek never repositions. */
    def wholeBytes(k: Int): Option[Array[Byte]] =
      findStream(k).map { case (s, o) =>
        require(o >= 0 && o + s.length <= p.length,
          "torn ORC: stream overruns the buffer")
        PageCodec.orcDecompress(p, o.toInt, s.length.toInt,
          compression, blockSize)
      }
    def rleV2At(b: Array[Byte], n: Int, signed: Boolean): Array[Long] = {
      val drop = cur.next()
      require(drop >= 0 && drop <= (1 << 20), s"torn ORC: run drop $drop")
      val all = rleV2Flex(b, drop.toInt + n, signed, exact = false)
      java.util.Arrays.copyOfRange(all, drop.toInt, drop.toInt + n)
    }
    def boolAt(b: Array[Byte], n: Int): Array[Boolean] = {
      val byteDrop = cur.next()
      val bitDrop = cur.next()
      require(byteDrop >= 0 && bitDrop >= 0 && bitDrop < 8,
        s"torn ORC: bit seek $byteDrop+$bitDrop")
      val first = byteDrop * 8 + bitDrop
      val raw = byteRleFlex(b, ((first + n + 7) >> 3).toInt,
        exact = false)
      Array.tabulate(n) { i =>
        val bit = first + i
        ((raw((bit >> 3).toInt) >> (7 - (bit & 7))) & 1) != 0
      }
    }
    def missing(what: String): Nothing =
      throw new IllegalArgumentException(
        s"torn ORC: column $colId has no $what stream")
    val present = seekBytes(K_PRESENT).map(boolAt(_, rows))
    val nonNull = present.map(_.count(identity)).getOrElse(rows)
    def expand(vals: Array[Any]): Array[Any] = present match {
      case None => vals
      case Some(bits) =>
        val out = new Array[Any](rows)
        var v = 0
        var i = 0
        while (i < rows) {
          if (bits(i)) { out(i) = vals(v); v += 1 } else out(i) = null
          i += 1
        }
        out
    }
    def kid(id: Int, n: Int): Array[Any] =
      readColumnTreeAt(p, id, types, n, streams, streamOffsets,
        encodings, compression, blockSize, ix, g0)
    tpe.kind match {
      case 12 => // STRUCT
        val kids = tpe.subtypes.map(kid(_, nonNull))
        expand(Array.tabulate[Any](nonNull)(i => kids.map(_(i))))
      case 10 | 11 => // LIST / MAP: LENGTH here, children at their own
        // entries — the child value counts the range needs come from
        // THIS range's lengths
        requireV2(enc, colId)
        val lens = rleV2At(seekBytes(K_LENGTH).getOrElse(
          missing("LENGTH")), nonNull, signed = false)
        lens.foreach(l => require(l >= 0 && l <= Int.MaxValue,
          s"torn ORC: compound length $l"))
        val total = lens.sum
        require(total <= Int.MaxValue,
          s"torn ORC: column $colId claims $total child values")
        if (tpe.kind == 10) {
          require(tpe.subtypes.length == 1,
            s"torn ORC: LIST column $colId arity ${tpe.subtypes.length}")
          val elems = kid(tpe.subtypes.head, total.toInt)
          var off = 0
          expand(lens.map[Any] { l =>
            val s = elems.slice(off, off + l.toInt).toSeq
            off += l.toInt
            s
          })
        } else {
          require(tpe.subtypes.length == 2,
            s"torn ORC: MAP column $colId arity ${tpe.subtypes.length}")
          val keys = kid(tpe.subtypes.head, total.toInt)
          val vals = kid(tpe.subtypes(1), total.toInt)
          var off = 0
          expand(lens.map[Any] { l =>
            val s = (off until off + l.toInt).map(i =>
              (keys(i), vals(i)))
            off += l.toInt
            s
          })
        }
      case 13 => throw new IllegalArgumentException(
        s"ORC UNION column $colId unsupported (rejects by name)")
      case 0 => // BOOLEAN
        require(enc.kind == 0, s"BOOLEAN encoding ${enc.kind}")
        expand(boolAt(seekBytes(K_DATA).getOrElse(missing("DATA")),
          nonNull).map(v => v: Any))
      case 1 => // BYTE: byte RLE with a literal drop
        require(enc.kind == 0, s"BYTE encoding ${enc.kind}")
        val b = seekBytes(K_DATA).getOrElse(missing("DATA"))
        val drop = cur.next()
        require(drop >= 0 && drop <= (1 << 20),
          s"torn ORC: byte drop $drop")
        expand(byteRleFlex(b, drop.toInt + nonNull, exact = false)
          .drop(drop.toInt).map(v => v: Any))
      case 2 | 3 | 4 | 15 => // SHORT/INT/LONG/DATE
        requireV2(enc, colId)
        val longs = rleV2At(seekBytes(K_DATA).getOrElse(
          missing("DATA")), nonNull, signed = true)
        expand(tpe.kind match {
          case 2 => longs.map(v => v.toShort: Any)
          case 3 | 15 => longs.map(v => v.toInt: Any)
          case _ => longs.map(v => v: Any)
        })
      case 5 => // FLOAT
        val d = seekBytes(K_DATA).getOrElse(missing("DATA"))
        require(d.length >= 4 * nonNull, "torn ORC: float stream short")
        expand(Array.tabulate[Any](nonNull) { i =>
          java.lang.Float.intBitsToFloat(
            (d(4 * i) & 0xff) | ((d(4 * i + 1) & 0xff) << 8) |
              ((d(4 * i + 2) & 0xff) << 16) | (d(4 * i + 3) << 24))
        })
      case 6 => // DOUBLE
        val d = seekBytes(K_DATA).getOrElse(missing("DATA"))
        require(d.length >= 8 * nonNull, "torn ORC: double stream short")
        expand(Array.tabulate[Any](nonNull) { i =>
          var v = 0L
          var j = 0
          while (j < 8) { v |= (d(8 * i + j) & 0xffL) << (8 * j); j += 1 }
          java.lang.Double.longBitsToDouble(v)
        })
      case 7 | 16 | 17 => // STRING / VARCHAR / CHAR
        enc.kind match {
          case 2 => // DIRECT_V2: seek order is data bytes, then lengths
            val d = seekBytes(K_DATA).getOrElse(missing("DATA"))
            val lens = rleV2At(seekBytes(K_LENGTH).getOrElse(
              missing("LENGTH")), nonNull, signed = false)
            var off = 0
            expand(Array.tabulate[Any](nonNull) { i =>
              val len = lens(i).toInt
              require(len >= 0 && off + len <= d.length,
                s"torn ORC: $len-byte string overruns")
              val s = new String(d, off, len, "UTF-8")
              off += len
              s
            })
          case 3 => // DICTIONARY_V2: only the index stream seeks
            require(enc.dictSize >= 0 && enc.dictSize <= (1 << 26),
              s"torn ORC: dictionary claims ${enc.dictSize} entries")
            val idxs = rleV2At(seekBytes(K_DATA).getOrElse(
              missing("DATA")), nonNull, signed = false)
            val dictLens = rleV2(wholeBytes(K_LENGTH).getOrElse(
              missing("dict LENGTH")), enc.dictSize, signed = false)
            val db = wholeBytes(K_DICT).getOrElse(
              missing("DICTIONARY_DATA"))
            var off = 0
            val dict = Array.tabulate(enc.dictSize) { i =>
              val len = dictLens(i).toInt
              require(len >= 0 && off + len <= db.length,
                s"torn ORC: $len-byte dict entry overruns")
              val s = new String(db, off, len, "UTF-8")
              off += len
              s
            }
            expand(idxs.map { ixv =>
              require(ixv >= 0 && ixv < dict.length,
                s"torn ORC: dictionary index $ixv of ${dict.length}")
              dict(ixv.toInt): Any
            })
          case e => throw new IllegalArgumentException(
            s"ORC string encoding $e unsupported")
        }
      case 8 => // BINARY: data bytes, then lengths
        requireV2(enc, colId)
        val d = seekBytes(K_DATA).getOrElse(missing("DATA"))
        val lens = rleV2At(seekBytes(K_LENGTH).getOrElse(
          missing("LENGTH")), nonNull, signed = false)
        var off = 0
        expand(Array.tabulate[Any](nonNull) { i =>
          val len = lens(i).toInt
          require(len >= 0 && off + len <= d.length,
            s"torn ORC: $len-byte binary overruns")
          val bytes = java.util.Arrays.copyOfRange(d, off, off + len)
          off += len
          bytes
        })
      case 9 | 18 => // TIMESTAMP: seconds, then nanos
        requireV2(enc, colId)
        val secs = rleV2At(seekBytes(K_DATA).getOrElse(
          missing("DATA")), nonNull, signed = true)
        val nanos = rleV2At(seekBytes(K_SECONDARY).getOrElse(
          missing("SECONDARY")), nonNull, signed = false)
        expand(Array.tabulate[Any](nonNull) { i =>
          val s = secs(i) + TsBaseSeconds
          val ns = parseNanos(nanos(i))
          val floored = if (s < 0 && ns != 0) s - 1 else s
          java.lang.Math.addExact(
            java.lang.Math.multiplyExact(floored, 1000000L), ns / 1000)
        })
      case 14 => // DECIMAL: raw varints (byte seek only), then scales
        requireV2(enc, colId)
        require(tpe.scale >= 0 && tpe.precision > 0 &&
          tpe.precision <= 38 && tpe.scale <= tpe.precision,
          s"torn ORC: DECIMAL(${tpe.precision},${tpe.scale})")
        val unscaled = readBigVarints(
          seekBytes(K_DATA).getOrElse(missing("DATA")), nonNull)
        val scales = rleV2At(seekBytes(K_SECONDARY).getOrElse(
          missing("SECONDARY")), nonNull, signed = true)
        expand(Array.tabulate[Any](nonNull) { i =>
          require(scales(i) >= -38 && scales(i) <= 38,
            s"torn ORC: decimal value scale ${scales(i)}")
          new java.math.BigDecimal(unscaled(i), scales(i).toInt)
            .setScale(tpe.scale)
        })
      case k => throw new IllegalArgumentException(
        s"ORC column kind ${primitiveNames.getOrElse(k, k.toString)} " +
          "unsupported at a row-group seek")
    }
  }

  /** Recursive decode of one column SUBTREE — ORC's nested convention
    * is that a child column records entries only for slots where the
    * parent is present, so each level's row count is the parent's
    * non-null count (structs) or its summed LENGTH run (lists/maps).
    * Representations: LIST → Seq[Any], MAP → Seq[(key, value)] in file
    * order, STRUCT → Seq[Any] of field values; primitives delegate to
    * [[readColumn]]. Cross-validated against orc-core (Spark-written
    * fixtures) in GraftOrcSpec.
    */
  def readColumnTree(p: Array[Byte], colId: Int,
      types: Seq[OrcTypeNode], rows: Int, streams: Seq[OrcStream],
      streamOffsets: Seq[Long], encodings: Map[Int, OrcEncoding],
      compression: Int, blockSize: Int): Array[Any] = {
    val tpe = types(colId)
    def child(id: Int, n: Int): Array[Any] = {
      require(id >= 0 && id < types.length,
        s"torn ORC: column id $id outside the type tree")
      readColumnTree(p, id, types, n, streams, streamOffsets,
        encodings, compression, blockSize)
    }
    def streamBytes(k: Int): Option[Array[Byte]] =
      streams.zip(streamOffsets).collectFirst {
        case (s, o) if s.column == colId && s.kind == k =>
          require(o >= 0 && o + s.length <= p.length,
            "torn ORC: stream overruns the buffer")
          PageCodec.orcDecompress(p, o.toInt, s.length.toInt,
            compression, blockSize)
      }
    def expand(present: Option[Array[Boolean]], vals: Array[Any])
        : Array[Any] = present match {
      case None => vals
      case Some(bits) =>
        val out = new Array[Any](rows)
        var v = 0
        var i = 0
        while (i < rows) {
          if (bits(i)) { out(i) = vals(v); v += 1 } else out(i) = null
          i += 1
        }
        out
    }
    def lengthsOf(nonNull: Int): Array[Long] = {
      requireV2(encodings.getOrElse(colId, OrcEncoding(0, 0)), colId)
      val lens = rleV2(streamBytes(K_LENGTH).getOrElse(
        throw new IllegalArgumentException(
          s"torn ORC: compound column $colId has no LENGTH")),
        nonNull, signed = false)
      lens.foreach(l => require(l >= 0 && l <= Int.MaxValue,
        s"torn ORC: compound length $l"))
      require(lens.sum <= Int.MaxValue,
        s"torn ORC: column $colId claims ${lens.sum} child values")
      lens
    }
    def slice(vals: Array[Any], lens: Array[Long])
        : Array[Any] = {
      val total = lens.sum
      require(vals.length == total,
        s"torn ORC: column $colId has ${vals.length} child values " +
          s"for $total length slots")
      var off = 0
      lens.map[Any] { l =>
        val n = l.toInt
        val s = vals.slice(off, off + n).toSeq
        off += n
        s
      }
    }
    tpe.kind match {
      case 12 => // STRUCT: PRESENT only; children hold non-null slots
        val present = streamBytes(K_PRESENT).map(boolRle(_, rows))
        val nonNull = present.map(_.count(identity)).getOrElse(rows)
        val kids = tpe.subtypes.map(child(_, nonNull))
        expand(present,
          Array.tabulate[Any](nonNull)(i => kids.map(_(i))))
      case 10 => // LIST: PRESENT + LENGTH; one child of summed length
        val present = streamBytes(K_PRESENT).map(boolRle(_, rows))
        val nonNull = present.map(_.count(identity)).getOrElse(rows)
        val lens = lengthsOf(nonNull)
        require(tpe.subtypes.length == 1,
          s"torn ORC: LIST column $colId has ${tpe.subtypes.length} " +
            "children")
        val elems = child(tpe.subtypes.head, lens.sum.toInt)
        expand(present, slice(elems, lens))
      case 11 => // MAP: PRESENT + LENGTH; key and value children
        val present = streamBytes(K_PRESENT).map(boolRle(_, rows))
        val nonNull = present.map(_.count(identity)).getOrElse(rows)
        val lens = lengthsOf(nonNull)
        require(tpe.subtypes.length == 2,
          s"torn ORC: MAP column $colId has ${tpe.subtypes.length} " +
            "children")
        val total = lens.sum.toInt
        val keys = child(tpe.subtypes.head, total)
        val vals = child(tpe.subtypes(1), total)
        var off = 0
        val perRow = lens.map[Any] { l =>
          val n = l.toInt
          val s = (off until off + n).map(i => (keys(i), vals(i)))
          off += n
          s
        }
        expand(present, perRow)
      case 13 => throw new IllegalArgumentException(
        s"ORC UNION column $colId unsupported (rejects by name)")
      case _ =>
        readColumn(p, colId, tpe, rows, streams, streamOffsets,
          encodings.getOrElse(colId, OrcEncoding(0, 0)),
          compression, blockSize)
    }
  }
}
