package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageCodec, ShardFixtures}

/** Snappy raw pages and framed shards through the [[PageCodec]] seam
  * (snappy-java underneath): the page entry point over snappy-java's
  * raw output and the page size contract, the writer's page compressor,
  * framed streams with their CRC-32C, the closed-form fixture contract
  * and loud torn-stream rejects.
  */
class SnappySpec extends AnyFunSuite {

  test("our raw decoder decodes snappy-java's compressor bit-exactly") {
    val rnd = new scala.util.Random(17)
    for (n <- Seq(0, 1, 15, 16, 100, 5000, 70000, 200000)) {
      val rep = Array.tabulate[Byte](n)(i => ((i / 9) % 29).toByte)
      val rawr = Array.fill[Byte](n)(rnd.nextInt(6).toByte)
      for (src <- Seq(rep, rawr)) {
        val packed = org.xerial.snappy.Snappy.compress(src)
        val dec = PageCodec.parquetDecompress(packed, 0, packed.length, 1,
          n)
        assert(dec.sameElements(src), s"n=$n")
        // the same block inside an Avro snappy block (+ BE CRC-32)
        val crc = new java.util.zip.CRC32()
        crc.update(src)
        val c = crc.getValue
        val avro = packed ++ Array(c >>> 24, c >>> 16, c >>> 8, c)
          .map(_.toByte)
        assert(PageCodec.avroBlock("snappy", avro).sameElements(src))
      }
    }
  }

  test("snappy-java accepts our raw compressor; self-roundtrip agrees") {
    val rnd = new scala.util.Random(19)
    for (n <- Seq(0, 1, 5, 15, 16, 64, 70, 1000, 30000, 100000)) {
      val src = Array.tabulate[Byte](n)(i =>
        (((i / 6) * 17 + rnd.nextInt(3)) % 37).toByte)
      val packed = PageCodec.parquetCompress(src, PageCodec.ParquetSnappy)
      assert(org.xerial.snappy.Snappy.uncompress(packed).sameElements(src),
        s"n=$n")
      assert(PageCodec.parquetDecompress(packed, 0, packed.length, 1, n)
        .sameElements(src))
    }
  }

  test("framed streams interop with snappy-java both directions") {
    val content = Array.tabulate[Byte](180000)(i => ((i / 13) % 53).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    val sfo = new org.xerial.snappy.SnappyFramedOutputStream(bos)
    sfo.write(content)
    sfo.close()
    assert(PageCodec.snappyFramed(bos.toByteArray).sameElements(content))
    // a stream with padding and reserved-skippable chunks between its
    // data chunks still decodes: both are ignored by the framing spec
    val framed = bos.toByteArray
    val padded = framed.take(10) ++ Array[Byte](0xfe.toByte, 3, 0, 0,
      0, 0, 0) ++ Array[Byte](0x80.toByte, 1, 0, 0, 9) ++ framed.drop(10)
    assert(PageCodec.snappyFramed(padded).sameElements(content))
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 30L) {
      val content = PageCodec.snappyFramed(ShardFixtures.snappy(id))
      assert(content.sameElements(ShardFixtures.snappyContent(id)),
        s"id=$id content")
      val rows = new String(content, "UTF-8").split("\n")
      assert(rows.length == 50 + id % 40)
      assert(rows(0) == s"$id\t0\tlang0\t${id % 13}")
    }
  }

  test("torn streams reject loudly by name") {
    val good = ShardFixtures.snappy(1L)
    val notSz = intercept[IllegalArgumentException](PageCodec.snappyFramed(
      "definitely not snappy".getBytes("US-ASCII")))
    assert(notSz.getMessage.contains("snappy framed"), notSz.getMessage)
    // flip a payload byte: the chunk CRC must catch it
    val bad = good.clone()
    bad(bad.length - 3) = (bad(bad.length - 3) ^ 0x11).toByte
    val e1 = intercept[IllegalArgumentException](PageCodec.snappyFramed(bad))
    assert(e1.getMessage.contains("snappy framed"), e1.getMessage)
    // truncation
    intercept[IllegalArgumentException](
      PageCodec.snappyFramed(good.take(good.length - 5)))
    // reserved unskippable chunk
    val resv = good.clone()
    resv(10) = 0x40
    intercept[IllegalArgumentException](PageCodec.snappyFramed(resv))
    // raw: a copy reaching before the start of output — varint 4, a
    // 1-byte literal 'A', then a 1-byte-offset copy with offset 9 > 1
    val raw = Array[Byte](4, 0, 65, 1, 9)
    val e3 = intercept[IllegalArgumentException](
      PageCodec.parquetDecompress(raw, 0, raw.length, 1, 4))
    assert(e3.getMessage.contains("snappy page"), e3.getMessage)
    // a page whose in-band length disagrees with its header rejects
    // before anything is allocated from it
    val page = org.xerial.snappy.Snappy.compress(Array.fill[Byte](100)(7))
    val e4 = intercept[IllegalArgumentException](
      PageCodec.parquetDecompress(page, 0, page.length, 1, 1 << 30))
    assert(e4.getMessage.contains("declares 100 bytes"), e4.getMessage)
  }
}
