package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageCodec, ShardFixtures}

/** zstd through the [[PageCodec]] seam, which hands every frame to
  * zstd-jni (libzstd): jni-compressed frames across the level classes
  * (fast/default/lazy/btopt/btultra2), with and without content
  * checksums, streamed frames without a declared content size,
  * multi-block inputs, multi-frame shards with skippable leaders, the
  * parquet page entry point's size contract, and loud torn-stream
  * rejects that name the codec and libzstd's cause.
  */
class ZstdSpec extends AnyFunSuite {

  private def jni(src: Array[Byte], level: Int,
      checksum: Boolean = false): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(src)
    } finally ctx.close()
  }

  private val rnd = new scala.util.Random(47)
  private def shapes: Seq[(String, Array[Byte])] = Seq(
    ("empty", Array.emptyByteArray),
    ("tiny", "hello zstd".getBytes("US-ASCII")),
    ("runs", Array.tabulate[Byte](60000)(i =>
      if ((i / 300) % 2 == 0) 0 else ((i / 50) % 9).toByte)),
    ("rand", Array.fill[Byte](40000)(rnd.nextInt().toByte)),
    ("text", (0 until 4000).map(i =>
      s"the quick brown fox $i jumps over the lazy dog")
      .mkString("\n").getBytes("UTF-8")),
    ("big", (0 until 20000).map(i =>
      s"""{"k":$i,"v":"${"ab" * (i % 13)}","s":${i % 97}}""")
      .mkString("\n").getBytes("UTF-8"))) // > 128 KiB: multi-block

  test("decodes zstd-jni output bit-exactly across the level classes " +
      "and shapes (foreign-origin bytes)") {
    for ((name, src) <- shapes; level <- Seq(1, 3, 6, 9, 12, 17, 19, 22)) {
      val packed = jni(src, level)
      val (content, frames) = PageCodec.zstdFrames(packed)
      assert(content.sameElements(src), s"$name level=$level")
      assert(frames == 1)
      assert(PageCodec.parquetDecompress(packed, 0, packed.length, 6,
        src.length).sameElements(src), s"$name level=$level page")
    }
  }

  test("the page compressor round-trips through the page decoder on " +
      "every shape and shrinks repetitive input") {
    for ((name, src) <- shapes) {
      val packed = PageCodec.parquetCompress(src, PageCodec.ParquetZstd)
      assert(PageCodec.parquetDecompress(packed, 0, packed.length, 6,
        src.length).sameElements(src), s"[$name] page round trip")
    }
    val text = shapes(4)._2
    val ratio = PageCodec.parquetCompress(text, PageCodec.ParquetZstd)
      .length.toDouble / text.length
    assert(ratio < 0.5, s"compressed to ${ratio * 100}% of input")
  }

  test("content checksums verify when present; corruption under the " +
      "checksum rejects loudly") {
    val src = (0 until 90).map(i =>
      s"checksum line $i with some repeated payload payload")
      .mkString("\n").getBytes("UTF-8")
    val packed = jni(src, 3, checksum = true)
    assert(PageCodec.zstdFrames(packed)._1.sameElements(src))
    // flip one payload byte mid-frame: either a structural check or
    // the XXH64 content checksum must catch it — silence is the bug
    var caught = 0
    for (i <- 20 until (packed.length - 5) by 7) {
      val bad = packed.clone()
      bad(i) = (bad(i) ^ 0x10).toByte
      try {
        PageCodec.zstdFrames(bad)
        ()
      } catch { case _: IllegalArgumentException => caught += 1 }
    }
    assert(caught >= (packed.length - 25) / 7 - 2,
      s"only $caught corruptions of ~${(packed.length - 25) / 7} were " +
        "detected under a content checksum")
  }

  test("streamed frames (no declared content size, window descriptor " +
      "path) decode bit-exactly") {
    val src = shapes(5)._2
    for (level <- Seq(1, 3, 9, 19)) {
      val bos = new java.io.ByteArrayOutputStream()
      val zs = new com.github.luben.zstd.ZstdOutputStream(bos, level)
      // chunked writes so the encoder cannot know the final size
      var o = 0
      while (o < src.length) {
        val n = math.min(50000, src.length - o)
        zs.write(src, o, n)
        o += n
      }
      zs.close()
      val frame = bos.toByteArray
      assert(com.github.luben.zstd.Zstd.getFrameContentSize(frame) == -1L,
        "the frame must not declare its size")
      assert(PageCodec.zstdFrames(frame)._1.sameElements(src),
        s"streamed level=$level")
      assert(PageCodec.parquetDecompress(frame, 0, frame.length, 6,
        src.length).sameElements(src), s"streamed page level=$level")
      // the page header's size bounds the streamed decode
      val e = intercept[IllegalArgumentException](PageCodec
        .parquetDecompress(frame, 0, frame.length, 6, src.length - 1))
      assert(e.getMessage.contains("zstd"), e.getMessage)
    }
  }

  test("multi-frame concatenation with a skippable leader decodes; " +
      "frame counts reported") {
    val a = "first frame\n".getBytes("UTF-8")
    val b = "second frame\n".getBytes("UTF-8")
    val skip = Array[Byte](0x50, 0x2a, 0x4d.toByte, 0x18, 4, 0, 0, 0,
      'm', 'e', 't', 'a')
    val payload = skip ++ jni(a, 3, checksum = true) ++ jni(b, 19)
    val (content, frames) = PageCodec.zstdFrames(payload)
    assert(content.sameElements(a ++ b))
    assert(frames == 2)
  }

  test("fixture family decodes to the closed form") {
    for (id <- 0L to 11L) {
      val (content, frames) = PageCodec.zstdFrames(ShardFixtures.zstd(id))
      assert(content.sameElements(ShardFixtures.zstdContent(id)),
        s"id=$id content")
      assert(frames == (if (id % 4 == 3) 2 else 1), s"id=$id frames")
      val lines = new String(content, "UTF-8").split("\n")
      assert(lines.length == 70 + id % 60)
      assert(lines(0) == s"""{"doc":$id,"seq":0,"lab":"z0","x":${id % 21}}""")
    }
  }

  test("torn streams reject loudly by name") {
    def reject(b: Array[Byte]): String = intercept[IllegalArgumentException](
      PageCodec.zstdFrames(b)).getMessage
    val notZstd = reject("definitely not a zstd frame".getBytes("US-ASCII"))
    assert(notZstd.contains("zstd"), notZstd)
    val good = jni(shapes(4)._2, 3, checksum = true)
    // truncation at several depths
    for (cut <- Seq(3, good.length / 2, good.length - 1))
      assert(reject(good.take(cut)).contains("zstd"))
    // trailing garbage after a complete frame
    reject(good ++ Array[Byte](1, 2, 3))
    // reserved frame-descriptor bit
    val badDesc = good.clone()
    badDesc(4) = (badDesc(4) | 0x08).toByte
    reject(badDesc)
    // a frame that names a dictionary rejects without it
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      1 << 20, 16 * 1024)
    for (i <- 0 until 800) trainer.addSample(
      (s"""{"user":"u${i % 17}","event":"evt_${i % 5}","payload":""" +
        s""""${"x" * (i % 23)}","seq":$i}""").getBytes("UTF-8"))
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    val needsDict = try {
      ctx.setLevel(9)
      ctx.loadDict(trainer.trainSamples())
      ctx.compress("""{"user":"u3","event":"evt_1","seq":7}""".getBytes)
    } finally ctx.close()
    val e2 = reject(needsDict)
    assert(e2.toLowerCase.contains("dictionary"), e2)
    // wrong checksum: flip the stored checksum itself
    val badSum = good.clone()
    badSum(badSum.length - 1) = (badSum(badSum.length - 1) ^ 0x55).toByte
    val e3 = reject(badSum)
    assert(e3.toLowerCase.contains("checksum"), e3)
    // the page entry point checks the declared size before allocating
    val e4 = intercept[IllegalArgumentException](PageCodec
      .parquetDecompress(good, 0, good.length, 6, 123))
    assert(e4.getMessage.contains("expected 123"), e4.getMessage)
  }
}
