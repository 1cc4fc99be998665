package graft.operators

import java.util.zip.{CRC32, Deflater, GZIPInputStream}

/** WARC (ISO 28500) ingestion — the Common Crawl shape: a `.warc.gz`
  * file is a CONCATENATION of gzip members, one per WARC record; each
  * record is a version line + CRLF-terminated named headers + blank line
  * + a Content-Length-framed block, and a `response` record's block is a
  * full HTTP response whose payload starts after the HTTP header CRLFCRLF.
  * This is the canonical web-crawl ingestion step of an LLM data
  * pipeline: archive bytes in, one row per document out.
  *
  * The gzip layer uses the JDK inflater; multi-member concatenation is
  * handled natively (GZIPInputStream continues across member boundaries),
  * and WarcSpec pins that a member-per-record file and a single-member
  * file of the same records parse identically. The record walk itself is
  * pure framing arithmetic — Content-Length bytes, never a regex over the
  * payload — so a malformed length fails loudly instead of resyncing.
  *
  * Reference context: beyond-reference surface (the reference ingests
  * ticks, not crawls); format is the public ISO 28500 / Common Crawl
  * layout.
  */
object Warc {

  /** One parsed record. `status`/`payload` are filled for `response`
    * records (the HTTP block is parsed); other types carry the raw block.
    */
  final case class WarcRecord(warcType: String, targetUri: String,
      status: Int, payload: Array[Byte])

  private val Crlf = "\r\n"

  /** Decompress (multi-member) gzip if the magic matches, else pass
    * through — mirroring how a crawler handles both .warc and .warc.gz.
    */
  def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 2 || (bytes(0) & 0xff) != 0x1f ||
      (bytes(1) & 0xff) != 0x8b) return bytes
    val in = new GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 1 << 16)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  def parse(fileBytes: Array[Byte]): Vector[WarcRecord] = {
    val b = gunzipAll(fileBytes)
    val out = Vector.newBuilder[WarcRecord]
    var o = 0
    while (o < b.length) {
      // skip inter-record CRLFs
      while (o + 1 < b.length && b(o) == '\r' && b(o + 1) == '\n') o += 2
      if (o >= b.length) return out.result()
      val headEnd = indexOfDoubleCrlf(b, o)
      require(headEnd >= 0, s"WARC record at $o without a header block")
      val head = new String(b, o, headEnd - o, "UTF-8")
      val lines = head.split(Crlf)
      require(lines.head.startsWith("WARC/"),
        s"expected a WARC version line at $o, got '${lines.head.take(20)}'")
      var typ = ""; var uri = ""; var len = -1L
      lines.tail.foreach { l =>
        val i = l.indexOf(':')
        if (i > 0) {
          val (k, v) = (l.substring(0, i).trim, l.substring(i + 1).trim)
          k.toLowerCase match {
            case "warc-type" => typ = v
            case "warc-target-uri" => uri = v
            case "content-length" => len = v.toLong
            case _ =>
          }
        }
      }
      require(len >= 0, s"WARC record at $o without Content-Length")
      val blockStart = headEnd + 4
      require(blockStart + len <= b.length,
        s"WARC Content-Length $len overruns the file at $o")
      val block = java.util.Arrays.copyOfRange(
        b, blockStart, blockStart + len.toInt)
      if (typ == "response") {
        val he = indexOfDoubleCrlf(block, 0)
        require(he >= 0, "HTTP response block without header terminator")
        val statusLine = new String(block, 0,
          block.indexWhere(_ == '\r'.toByte), "UTF-8")
        val status = statusLine.split(' ')(1).toInt
        out += WarcRecord(typ, uri, status,
          java.util.Arrays.copyOfRange(block, he + 4, block.length))
      } else out += WarcRecord(typ, uri, 0, block)
      o = blockStart + len.toInt
    }
    out.result()
  }

  private def indexOfDoubleCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
        b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  // -------------------------------------------------------------------
  // Deterministic fixture: a warcinfo record + N response records, ONE
  // GZIP MEMBER PER RECORD (the Common Crawl .warc.gz layout)

  /** One gzip member: the 10-byte header (zero mtime, OS=255), FNAME
    * when `name` is given, the JDK `Deflater` body, CRC-32 and ISIZE.
    */
  private[operators] def gzipMember(data: Array[Byte],
      name: Option[String] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x1f, 0x8b, 8, if (name.isDefined) 8 else 0, 0, 0, 0,
      0, 0, 255).map(_.toByte), 0, 10)
    name.foreach { n => out.write(n.getBytes("ISO-8859-1")); out.write(0) }
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new CRC32(); crc.update(data)
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    le32(crc.getValue); le32(data.length.toLong)
    out.toByteArray
  }

  private def record(typ: String, uri: String,
      block: Array[Byte]): Array[Byte] = {
    val uriLine = if (uri.isEmpty) "" else s"WARC-Target-URI: $uri$Crlf"
    (s"WARC/1.0${Crlf}WARC-Type: $typ$Crlf$uriLine" +
      s"Content-Length: ${block.length}$Crlf$Crlf").getBytes("UTF-8") ++
      block ++ (Crlf + Crlf).getBytes("UTF-8")
  }

  private def httpResponse(status: Int, payload: String): Array[Byte] = {
    val reason = status match {
      case 200 => "OK"; case 301 => "Moved"; case _ => "NotFound"
    }
    (s"HTTP/1.1 $status $reason${Crlf}Content-Type: text/plain$Crlf$Crlf" +
      payload).getBytes("UTF-8")
  }

  /** Closed-form fixture mirrored by the DuckDB oracle: 1 + id % 3
    * response records behind a warcinfo, statuses cycling 200/301/404 by
    * (id + i) % 3, payload `payload-<id>-<i>-` plus (id·7 + i) % 64 'x's.
    */
  def fixturePayload(id: Long): Array[Byte] = {
    val n = 1 + (id % 3).toInt
    val members = Vector.newBuilder[Array[Byte]]
    members += gzipMember(record("warcinfo", "",
      s"software: graft-fixture$Crlf".getBytes("UTF-8")))
    (0 until n).foreach { i =>
      val status = Array(200, 301, 404)(((id + i) % 3).toInt)
      val payload = s"payload-$id-$i-" + "x" * ((id * 7 + i) % 64).toInt
      members += gzipMember(record("response",
        s"https://example.com/doc/$id/$i", httpResponse(status, payload)))
    }
    members.result().reduce(_ ++ _)
  }
}

/** Closed-form compressed text shards, one per doc id, for the
  * compressed-shard queries (s17–s20, s24, s26) and their specs. Each
  * shard is written by the library Spark ships for its codec (lz4-java,
  * snappy-java, the JDK `Deflater` through [[Warc.gzipMember]],
  * commons-compress, tukaani, zstd-jni), so the decoders in
  * [[PageCodec]] read foreign-origin bytes. The shapes rotate with the
  * id; the DuckDB oracles rebuild every line from the same formulas.
  */
object ShardFixtures {

  private def lines(ks: Range)(line: Int => String): Array[Byte] =
    ks.map(line).mkString("", "\n", "\n").getBytes("UTF-8")

  private def written(f: java.io.OutputStream => java.io.OutputStream)(
      content: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val os = f(bos)
    os.write(content)
    os.close()
    bos.toByteArray
  }

  /** .jsonl.lz4: block sizes 64 KiB..4 MiB rotating, block checksums on
    * odd ids, the content size declared on id%3==0.
    */
  def lz4Content(id: Long): Array[Byte] =
    lines(0 until 40 + (id % 30).toInt)(k =>
      s"""{"doc":$id,"seq":$k,"host":"h${k % 7}.example.com","bytes":${
        (k * 37 + id % 11) % 1000}}""")

  def lz4(id: Long): Array[Byte] = {
    import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    val content = lz4Content(id)
    val bits = Seq(FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_CHECKSUM) ++
      (if (id % 2 == 1) Seq(FLG.Bits.BLOCK_CHECKSUM) else Nil) ++
      (if (id % 3 == 0) Seq(FLG.Bits.CONTENT_SIZE) else Nil)
    written(new net.jpountz.lz4.LZ4FrameOutputStream(_,
      BLOCKSIZE.valueOf(4 + (id % 4).toInt),
      if (id % 3 == 0) content.length.toLong else -1L, bits: _*))(content)
  }

  /** .tsv.sz: 512-byte chunks on id%3==2 (multi-chunk streams). */
  def snappyContent(id: Long): Array[Byte] =
    lines(0 until 50 + (id % 40).toInt)(k =>
      s"$id\t$k\tlang${k % 5}\t${(k * 53 + id % 13) % 2000}")

  def snappy(id: Long): Array[Byte] =
    written(new org.xerial.snappy.SnappyFramedOutputStream(_,
      if (id % 3 == 2) 512 else 65536, 0.85))(snappyContent(id))

  /** .jsonl.gz: 2 + id%3 members (the pigz / .warc.gz shape), FNAME
    * `shard-<id>-<m>.jsonl` on even members.
    */
  def gzipMemberCount(id: Long): Int = 2 + (id % 3).toInt

  def gzipMemberContent(id: Long, m: Int): Array[Byte] =
    lines(0 until 20 + ((id + m * 7) % 15).toInt)(k =>
      s"""{"doc":$id,"member":$m,"seq":$k,"score":${
        (k * 41 + m * 17 + id % 19) % 500}}""")

  def gzip(id: Long): Array[Byte] =
    (0 until gzipMemberCount(id)).map(m => Warc.gzipMember(
      gzipMemberContent(id, m),
      if (m % 2 == 0) Some(s"shard-$id-$m.jsonl") else None)).reduce(_ ++ _)

  /** .jsonl.bz2 at the 100k block size; id%4==3 shards are two
    * concatenated streams splitting the lines (the pbzip2 shape).
    */
  private def bzip2Line(id: Long)(k: Int): String =
    s"""{"doc":$id,"seq":$k,"cat":"c${k % 6}","w":${
      (k * 29 + id % 17) % 800}}"""

  def bzip2Content(id: Long): Array[Byte] =
    lines(0 until 60 + (id % 50).toInt)(bzip2Line(id))

  def bzip2(id: Long): Array[Byte] = {
    val one = written(new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(_, 1)) _
    val n = 60 + (id % 50).toInt
    if (id % 4 == 3)
      one(lines(0 until n / 2)(bzip2Line(id))) ++
        one(lines(n / 2 until n)(bzip2Line(id)))
    else one(bzip2Content(id))
  }

  /** .jsonl.xz: presets 0/3/6/9 rotating (hash-chain to BT4 match
    * finders), check type CRC64 / CRC32 / SHA-256 by id%3, a 64 KiB
    * dictionary (the payload is ~4 KiB).
    */
  def xzContent(id: Long): Array[Byte] =
    lines(0 until 45 + (id % 40).toInt)(k =>
      s"""{"doc":$id,"seq":$k,"tag":"t${k % 8}","v":${
        (k * 43 + id % 23) % 900}}""")

  def xz(id: Long): Array[Byte] = {
    val opts =
      new org.tukaani.xz.LZMA2Options(Array(0, 3, 6, 9)((id % 4).toInt))
    opts.setDictSize(1 << 16)
    val check = Array(org.tukaani.xz.XZ.CHECK_CRC64,
      org.tukaani.xz.XZ.CHECK_CRC32, org.tukaani.xz.XZ.CHECK_SHA256)(
      (id % 3).toInt)
    written(new org.tukaani.xz.XZOutputStream(_, opts, check))(xzContent(id))
  }

  /** .jsonl.zst: levels 1/3/6/12/19 rotating through the match-finder
    * classes, content checksums on even ids; id%4==3 shards are a
    * skippable-frame leader plus two frames splitting the lines (the
    * pzstd / seekable shape).
    */
  private def zstdLine(id: Long)(k: Int): String =
    s"""{"doc":$id,"seq":$k,"lab":"z${k % 9}","x":${
      (k * 47 + id % 21) % 1200}}"""

  def zstdContent(id: Long): Array[Byte] =
    lines(0 until 70 + (id % 60).toInt)(zstdLine(id))

  def zstd(id: Long): Array[Byte] = {
    def one(content: Array[Byte]): Array[Byte] = {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      try {
        ctx.setLevel(Array(1, 3, 6, 12, 19)((id % 5).toInt))
        ctx.setChecksum(id % 2 == 0)
        ctx.compress(content)
      } finally ctx.close()
    }
    val n = 70 + (id % 60).toInt
    if (id % 4 == 3) {
      val meta = s"shard-$id".getBytes("UTF-8")
      Array[Byte](0x50, 0x2a, 0x4d, 0x18, meta.length.toByte, 0, 0, 0) ++
        meta ++ one(lines(0 until n / 2)(zstdLine(id))) ++
        one(lines(n / 2 until n)(zstdLine(id)))
    } else one(zstdContent(id))
  }
}
