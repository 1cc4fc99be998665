package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageCodec, ShardFixtures}

/** xz shards through [[PageCodec.xz]] (tukaani underneath): every
  * preset (0..9, hash-chain AND BT4 match finders), all three check
  * types and the check type the decoder reports, multi-block streams,
  * the closed-form fixture contract and loud torn-stream rejects.
  */
class XzSpec extends AnyFunSuite {

  private def tukaani(src: Array[Byte], preset: Int,
      check: Int = org.tukaani.xz.XZ.CHECK_CRC64): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val xz = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(preset), check)
    xz.write(src)
    xz.close()
    bos.toByteArray
  }

  test("decodes tukaani output bit-exactly at every preset and shape") {
    val rnd = new scala.util.Random(43)
    val shapes = Seq(
      ("empty", Array.emptyByteArray),
      ("tiny", "hello xz".getBytes("US-ASCII")),
      ("runs", Array.tabulate[Byte](60000)(i =>
        if ((i / 300) % 2 == 0) 0 else ((i / 50) % 9).toByte)),
      ("rand", Array.fill[Byte](40000)(rnd.nextInt().toByte)),
      ("text", (0 until 4000).map(i =>
        s"the quick brown fox $i jumps over the lazy dog")
        .mkString("\n").getBytes("UTF-8")))
    for ((name, src) <- shapes; preset <- 0 to 9) {
      val (content, checkType) = PageCodec.xz(tukaani(src, preset))
      assert(content.sameElements(src), s"$name preset=$preset")
      assert(checkType == 4) // CRC64 default
    }
  }

  test("all three check types verify; multi-block streams decode") {
    val src = Array.tabulate[Byte](50000)(i => ((i / 17) % 61).toByte)
    for (check <- Seq(org.tukaani.xz.XZ.CHECK_CRC32,
        org.tukaani.xz.XZ.CHECK_CRC64, org.tukaani.xz.XZ.CHECK_SHA256)) {
      val (content, checkType) = PageCodec.xz(tukaani(src, 4, check))
      assert(content.sameElements(src), s"check=$check")
      assert(checkType == check)
    }
    // explicit flush() closes a block and opens another
    val bos = new java.io.ByteArrayOutputStream()
    val xz = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(3))
    xz.write(src, 0, 20000)
    xz.endBlock()
    xz.write(src, 20000, 30000)
    xz.close()
    assert(PageCodec.xz(bos.toByteArray)._1.sameElements(src), "multi-block")
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L until 24L) {
      val (content, checkType) = PageCodec.xz(ShardFixtures.xz(id))
      assert(content.sameElements(ShardFixtures.xzContent(id)),
        s"id=$id content")
      assert(checkType == Seq(4, 1, 10)((id % 3).toInt), s"id=$id check")
      val lines = new String(content, "UTF-8").split("\n")
      assert(lines.length == 45 + id % 40)
      assert(lines(0) == s"""{"doc":$id,"seq":0,"tag":"t0","v":${id % 23}}""")
    }
  }

  test("torn streams reject loudly by name") {
    val good = ShardFixtures.xz(0L) // CRC64 check
    val notXz = intercept[IllegalArgumentException](PageCodec.xz(
      "certainly not an xz stream at all".getBytes("US-ASCII")))
    assert(notXz.getMessage.contains("xz"), notXz.getMessage)
    // corrupt a payload byte mid-block: CRC64 (or structure) catches it
    var caught = 0
    for (i <- 20 until 40) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x08).toByte
      try { PageCodec.xz(bad) } catch {
        case _: IllegalArgumentException => caught += 1
      }
    }
    assert(caught > 0, "no mid-block corruption detected")
    // truncation
    intercept[IllegalArgumentException](
      PageCodec.xz(good.take(good.length - 6)))
    // footer magic
    val badFt = good.clone()
    badFt(badFt.length - 1) = 'Q'
    val e = intercept[IllegalArgumentException](PageCodec.xz(badFt))
    assert(e.getMessage.contains("xz"), e.getMessage)
  }
}
