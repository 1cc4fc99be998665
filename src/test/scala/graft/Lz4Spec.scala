package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageCodec, ShardFixtures}

/** LZ4 raw pages and framed shards through the [[PageCodec]] seam
  * (lz4-java underneath): LZ4_RAW pages and ORC LZ4 chunks over
  * lz4-java's block compressor, frames across every flag combination
  * and block size, the closed-form fixture contract and loud torn-frame
  * rejects.
  */
class Lz4Spec extends AnyFunSuite {

  private val factory = net.jpountz.lz4.LZ4Factory.safeInstance()

  private def frame(content: Array[Byte], bs: Int, blockChecksum: Boolean,
      contentChecksum: Boolean, withSize: Boolean): Array[Byte] = {
    import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    val bits = Seq(FLG.Bits.BLOCK_INDEPENDENCE) ++
      (if (blockChecksum) Seq(FLG.Bits.BLOCK_CHECKSUM) else Nil) ++
      (if (contentChecksum) Seq(FLG.Bits.CONTENT_CHECKSUM) else Nil) ++
      (if (withSize) Seq(FLG.Bits.CONTENT_SIZE) else Nil)
    val bos = new java.io.ByteArrayOutputStream()
    val fos = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
      BLOCKSIZE.valueOf(bs), if (withSize) content.length.toLong else -1L,
      bits: _*)
    fos.write(content)
    fos.close()
    bos.toByteArray
  }

  test("our block decoder decodes lz4-java's compressor output " +
      "bit-exactly") {
    val rnd = new scala.util.Random(5)
    val comp = factory.fastCompressor()
    for (n <- Seq(0, 1, 12, 13, 100, 5000, 70000)) {
      // compressible (repetitive) and raw-random inputs
      val rep = Array.tabulate[Byte](n)(i => ((i / 7) % 23).toByte)
      val rawr = Array.fill[Byte](n)(rnd.nextInt(8).toByte)
      for (src <- Seq(rep, rawr)) {
        val packed = comp.compress(src)
        val dec = PageCodec.parquetDecompress(packed, 0, packed.length, 7, n)
        assert(dec.sameElements(src), s"n=$n LZ4_RAW page")
        // the same block as one ORC LZ4 chunk behind its 3-byte header
        val h = packed.length << 1
        val chunk = Array(h, h >>> 8, h >>> 16).map(_.toByte) ++ packed
        assert(PageCodec.orcDecompress(chunk, 0, chunk.length, 4, 1 << 18)
          .sameElements(src), s"n=$n ORC chunk")
      }
    }
  }

  test("frame roundtrip across every flag combination and block size " +
      "code") {
    val rnd = new scala.util.Random(8)
    val content = Array.tabulate[Byte](200000)(i =>
      (((i / 11) * 7 + rnd.nextInt(2)) % 61).toByte)
    for (bs <- 4 to 7; bc <- Seq(false, true); cc <- Seq(false, true);
        sz <- Seq(false, true)) {
      assert(PageCodec.lz4Frames(frame(content, bs, bc, cc, sz))
        .sameElements(content), s"bs=$bs bc=$bc cc=$cc sz=$sz")
    }
  }

  test("our frame decoder reads lz4-java's frame writer; lz4-java's " +
      "frame reader reads ours") {
    val content = Array.tabulate[Byte](150000)(i => ((i / 9) % 47).toByte)
    // lz4-java's default frame writer -> the shard decoder
    val bos = new java.io.ByteArrayOutputStream()
    val fos = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    fos.write(content)
    fos.close()
    assert(PageCodec.lz4Frames(bos.toByteArray).sameElements(content))
    // the fixture writer -> lz4-java's own frame reader
    val fis = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(ShardFixtures.lz4(9L)))
    val back = fis.readAllBytes()
    fis.close()
    assert(back.sameElements(ShardFixtures.lz4Content(9L)))
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 24L) {
      val content = PageCodec.lz4Frames(ShardFixtures.lz4(id))
      assert(content.sameElements(ShardFixtures.lz4Content(id)),
        s"id=$id content")
      val lines = new String(content, "UTF-8").split("\n")
      assert(lines.length == 40 + id % 30, s"id=$id lines")
      assert(lines(0) ==
        s"""{"doc":$id,"seq":0,"host":"h0.example.com","bytes":${id % 11}}""")
    }
  }

  test("torn frames reject loudly by name") {
    val good = ShardFixtures.lz4(1L) // block checksums on
    def reject(b: Array[Byte]): String =
      intercept[IllegalArgumentException](PageCodec.lz4Frames(b)).getMessage
    assert(reject("not an lz4 frame....".getBytes("US-ASCII"))
      .contains("lz4 frame"))
    // flip a header flag: the header checksum must catch it
    val badHdr = good.clone()
    badHdr(4) = (badHdr(4) ^ 0x08).toByte
    assert(reject(badHdr).contains("lz4 frame"))
    // flip a payload byte: the block checksum must catch it
    val badBlock = good.clone()
    badBlock(badBlock.length / 2) =
      (badBlock(badBlock.length / 2) ^ 0x40).toByte
    assert(reject(badBlock).contains("lz4 frame"))
    // truncation
    reject(good.take(good.length - 6))
    // a zero match offset inside a hand-built LZ4_RAW page
    val bad = Array[Byte](0x10, 65, 0, 0, 0x50) // lit 'A', offset 0
    val e3 = intercept[IllegalArgumentException](
      PageCodec.parquetDecompress(bad, 0, bad.length, 7, 10))
    assert(e3.getMessage.contains("lz4 page"), e3.getMessage)
    // a page header size past the block format's maximum expansion
    // rejects before it sizes an allocation
    val e4 = intercept[IllegalArgumentException](
      PageCodec.parquetDecompress(bad, 0, bad.length, 7, 1 << 30))
    assert(e4.getMessage.contains("cannot inflate"), e4.getMessage)
  }
}
