package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageCodec, ShardFixtures}

/** DEFLATE and gzip through the [[PageCodec]] seam (the JDK `Inflater`
  * underneath): raw deflate at every level as Avro blocks and ORC ZLIB
  * chunks, the gzip member parser over JDK-written and full-header
  * members, the multi-member fixture contract, loud torn-stream rejects
  * and the output ceilings.
  */
class InflateSpec extends AnyFunSuite {

  private def jdkDeflate(src: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level, true)
    d.setInput(src); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def orcChunk(body: Array[Byte]): Array[Byte] = {
    val h = body.length << 1
    Array(h, h >>> 8, h >>> 16).map(_.toByte) ++ body
  }

  private def gunzip(p: Array[Byte]): Array[Byte] =
    PageCodec.gzipMembers(p).flatMap(_.content.toSeq).toArray

  /** A gzip member with every optional header field: FEXTRA, FNAME,
    * FCOMMENT and the FHCRC over the header.
    */
  private def fullHeaderMember(content: Array[Byte]): Array[Byte] = {
    val h = new java.io.ByteArrayOutputStream()
    h.write(Array[Byte](0x1f, 0x8b.toByte, 8, (4 | 8 | 16 | 2).toByte,
      0, 0, 0, 0, 0, 0xff.toByte))
    h.write(Array[Byte](2, 0, 9, 9)) // XLEN 2 + FEXTRA bytes
    h.write("a.jsonl".getBytes("ISO-8859-1")); h.write(0)
    h.write("hello".getBytes("ISO-8859-1")); h.write(0)
    val crc = new java.util.zip.CRC32()
    crc.update(h.toByteArray)
    h.write((crc.getValue & 0xff).toInt)
    h.write(((crc.getValue >> 8) & 0xff).toInt)
    val body = new java.util.zip.CRC32()
    body.update(content)
    def le32(v: Long): Array[Byte] = Array.tabulate[Byte](4)(i =>
      ((v >>> (8 * i)) & 0xff).toByte)
    h.toByteArray ++ jdkDeflate(content, 9) ++ le32(body.getValue) ++
      le32(content.length.toLong)
  }

  test("our inflater decodes JDK Deflater output at every level " +
      "(stored, fixed and dynamic blocks) bit-exactly") {
    val rnd = new scala.util.Random(23)
    for (level <- 0 to 9; shape <- Seq("rep", "rand", "mix")) {
      val n = 40000 + rnd.nextInt(5000)
      val src = shape match {
        case "rep" => Array.tabulate[Byte](n)(i => ((i / 10) % 17).toByte)
        case "rand" => Array.fill[Byte](n)(rnd.nextInt().toByte)
        case _ => Array.tabulate[Byte](n)(i =>
          if ((i / 1000) % 2 == 0) ((i / 3) % 11).toByte
          else rnd.nextInt().toByte)
      }
      val packed = jdkDeflate(src, level)
      // an Avro deflate block must end exactly where the stream does
      assert(PageCodec.avroBlock("deflate", packed).sameElements(src),
        s"level=$level shape=$shape")
      assert(PageCodec.orcDecompress(orcChunk(packed), 0,
        packed.length + 3, 1, 1 << 16).sameElements(src),
        s"level=$level shape=$shape ORC chunk")
    }
    // empty and tiny inputs
    for (n <- Seq(0, 1, 5); level <- Seq(0, 6)) {
      val src = Array.tabulate[Byte](n)(_.toByte)
      assert(PageCodec.avroBlock("deflate", jdkDeflate(src, level))
        .sameElements(src), s"n=$n level=$level")
    }
  }

  test("gzip: JDK-written streams decode; our full-header members " +
      "decode in the JDK; fields recovered") {
    val content = Array.tabulate[Byte](90000)(i => ((i / 11) % 31).toByte)
    // JDK writer -> our member parser, and as a parquet GZIP page
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(content); gz.close()
    val jdk = bos.toByteArray
    assert(gunzip(jdk).sameElements(content))
    assert(PageCodec.parquetDecompress(jdk, 0, jdk.length, 2,
      content.length).sameElements(content))
    // a member with every optional field -> JDK reader and our parser
    val ours = fullHeaderMember(content)
    val gis = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(ours))
    assert(gis.readAllBytes().sameElements(content), "ours -> JDK gzip")
    gis.close()
    val m = PageCodec.gzipMembers(ours)
    assert(m.length == 1 && m.head.name.contains("a.jsonl") &&
      m.head.content.sameElements(content))
    // the fixture writer's FNAME members read back in the JDK
    val fixture = ShardFixtures.gzip(4L)
    val all = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(fixture))
    assert(all.readAllBytes().sameElements(gunzip(fixture)))
    all.close()
  }

  test("multi-member fixture decodes to the closed form") {
    for (id <- 0L until 24L) {
      val members = PageCodec.gzipMembers(ShardFixtures.gzip(id))
      assert(members.length == ShardFixtures.gzipMemberCount(id), s"id=$id")
      members.zipWithIndex.foreach { case (m, i) =>
        assert(m.content.sameElements(ShardFixtures.gzipMemberContent(id, i)),
          s"id=$id member $i content")
        assert(m.name == (if (i % 2 == 0) Some(s"shard-$id-$i.jsonl")
          else None), s"id=$id member $i name")
      }
      // whole-shard concatenation equals member concatenation
      val whole = gunzip(ShardFixtures.gzip(id))
      val want = (0 until ShardFixtures.gzipMemberCount(id))
        .flatMap(i => ShardFixtures.gzipMemberContent(id, i).toSeq).toArray
      assert(whole.sameElements(want), s"id=$id gunzip concat")
    }
  }

  test("torn streams reject loudly by name") {
    // reserved block type 3
    val e0 = intercept[IllegalArgumentException](
      PageCodec.avroBlock("deflate", Array[Byte](0x07, 0, 0)))
    assert(e0.getMessage.contains("avro deflate block"), e0.getMessage)
    // LEN/NLEN mismatch in a stored block
    val stored = jdkDeflate("hello world".getBytes("US-ASCII"), 0)
    val badLen = stored.clone()
    badLen(3) = (badLen(3) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](
      PageCodec.avroBlock("deflate", badLen))
    assert(e1.getMessage.contains("stored block lengths"), e1.getMessage)
    // trailing bytes after the deflate stream
    intercept[IllegalArgumentException](
      PageCodec.avroBlock("deflate", stored ++ Array[Byte](1, 2)))
    // gzip payload corruption -> CRC-32 (or the inflater) catches it
    val good = ShardFixtures.gzip(2L)
    var caught = false
    var i = good.length / 2
    while (!caught && i < good.length - 9) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x20).toByte
      try {
        PageCodec.gzipMembers(bad)
        i += 1 // flip landed in slack (e.g. another member's name)
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("gzip"), e.getMessage)
          caught = true
      }
    }
    assert(caught, "no mid-payload corruption was ever detected")
    // truncation
    intercept[IllegalArgumentException](
      PageCodec.gzipMembers(good.take(good.length - 4)))
    // wrong FHCRC
    val badH = fullHeaderMember("x".getBytes)
    badH(4) = 99 // MTIME byte participates in the header CRC
    val e2 = intercept[IllegalArgumentException](
      PageCodec.gzipMembers(badH))
    assert(e2.getMessage.contains("FHCRC"), e2.getMessage)
  }

  test("decompression-bomb guard: output past the ceiling rejects " +
      "instead of inflating unbounded") {
    // a 1000:1 deflate stream must stop at the size the caller can
    // vouch for: a parquet page's header size, an ORC chunk's block size
    val src = Array.fill[Byte](100000)('A')
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(src); gz.close()
    val page = bos.toByteArray
    val e = intercept[IllegalArgumentException](
      PageCodec.parquetDecompress(page, 0, page.length, 2, 100))
    assert(e.getMessage.contains("limit"), e.getMessage)
    val chunk = orcChunk(jdkDeflate(src, 9))
    val e2 = intercept[IllegalArgumentException](
      PageCodec.orcDecompress(chunk, 0, chunk.length, 1, 1000))
    assert(e2.getMessage.contains("limit"), e2.getMessage)
    // at exactly the output size the stream still decodes
    assert(PageCodec.parquetDecompress(page, 0, page.length, 2,
      src.length).sameElements(src))
  }
}
