package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageCodec, ShardFixtures}

/** bzip2 shards through [[PageCodec.bzip2Streams]] (commons-compress
  * underneath, one stream at a time): content bit-exact across block
  * sizes, data shapes (zero-run-heavy, random, text), multi-block and
  * multi-stream files, the stream count the walk reports, and loud
  * torn-stream rejects.
  */
class Bzip2Spec extends AnyFunSuite {

  private def ccCompress(src: Array[Byte], level: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val bz = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos, level)
    bz.write(src)
    bz.close()
    bos.toByteArray
  }

  test("decodes commons-compress output bit-exactly across levels, " +
      "shapes and block boundaries") {
    val rnd = new scala.util.Random(37)
    val shapes = Seq(
      ("empty", Array.emptyByteArray),
      ("tiny", "hello bzip2".getBytes("US-ASCII")),
      // 4+ runs force the RLE1 escape byte; zeros force RUNA/RUNB runs
      ("runs", Array.tabulate[Byte](50000)(i =>
        if ((i / 200) % 3 == 0) 0 else (i / 100 % 7).toByte)),
      ("rand", Array.fill[Byte](30000)(rnd.nextInt().toByte)),
      ("text", (0 until 3000).map(i =>
        s"line $i of some repetitive text corpus")
        .mkString("\n").getBytes("UTF-8")),
      // > 100000 bytes at level 1 -> MULTI-BLOCK stream
      ("multiblock", Array.tabulate[Byte](350000)(i =>
        ((i / 13) % 251).toByte)))
    for ((name, src) <- shapes; level <- Seq(1, 9)) {
      val (content, streams) = PageCodec.bzip2Streams(ccCompress(src, level))
      assert(content.sameElements(src), s"$name level=$level")
      assert(streams == 1)
    }
  }

  test("multi-stream concatenation decodes like pbzip2 output") {
    val a = "first stream\n".getBytes("UTF-8")
    val b = "second stream\n".getBytes("UTF-8")
    // zero padding between streams (tar-style) is skipped
    val cat = ccCompress(a, 1) ++ ccCompress(b, 9) ++ Array[Byte](0, 0) ++
      ccCompress(a, 5)
    val (content, streams) = PageCodec.bzip2Streams(cat)
    assert(content.sameElements(a ++ b ++ a))
    assert(streams == 3)
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 24L) {
      val (content, streams) = PageCodec.bzip2Streams(ShardFixtures.bzip2(id))
      assert(content.sameElements(ShardFixtures.bzip2Content(id)),
        s"id=$id content")
      assert(streams == (if (id % 4 == 3) 2 else 1), s"id=$id streams")
      val lines = new String(content, "UTF-8").split("\n")
      assert(lines.length == 60 + id % 50)
      assert(lines(0) == s"""{"doc":$id,"seq":0,"cat":"c0","w":${id % 17}}""")
    }
  }

  test("torn streams reject loudly by name") {
    val good = ShardFixtures.bzip2(1L)
    val notBz = intercept[IllegalArgumentException](PageCodec.bzip2Streams(
      "BZx1 not actually bzip2 data".getBytes("US-ASCII")))
    assert(notBz.getMessage.contains("bzip2"), notBz.getMessage)
    val badLevel = good.clone()
    badLevel(3) = '0'
    val e0 = intercept[IllegalArgumentException](
      PageCodec.bzip2Streams(badLevel))
    assert(e0.getMessage.contains("bzip2"), e0.getMessage)
    // flip a payload bit mid-block: the block CRC (or an upstream
    // structural check) must catch it
    var caught = 0
    for (i <- good.length / 3 until good.length / 3 + 20) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x10).toByte
      try { PageCodec.bzip2Streams(bad) } catch {
        case _: IllegalArgumentException => caught += 1
      }
    }
    assert(caught > 0, "no mid-block corruption was ever detected")
    // truncation
    intercept[IllegalArgumentException](
      PageCodec.bzip2Streams(good.take(good.length / 2)))
  }
}
