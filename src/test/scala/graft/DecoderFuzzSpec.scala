package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corruption-robustness contract across every decoder entry point —
  * the engine's own format readers and the [[graft.operators.PageCodec]]
  * seam over the codec jars: a seeded mutation of a valid fixture
  * (single-byte XORs, truncations, double flips) must either decode or
  * reject LOUDLY — an IllegalArgument/IllegalState exception from our
  * guards (PageCodec maps every jar failure to one), or an
  * IOException/DataFormatException from a JDK-backed inner layer. What
  * is FORBIDDEN is the quiet-crash class: index/size/NPE/arithmetic
  * errors, stack overflows, or giant allocations (the scale guards cap
  * raster dims and codec output sizes), any of which would take down an
  * executor instead of failing one record. Parquet and ORC files the
  * engine itself wrote (snappy pages, zstd chunks) are fuzzed next to
  * the Spark-written ones. 170 mutations per format, deterministic seed.
  */
class DecoderFuzzSpec extends AnyFunSuite {

  import graft.{multimodal => mm}
  import graft.{operators => op}

  private val cases: Seq[(String, Seq[Array[Byte]], Array[Byte] => Any)] =
    Seq(
      ("tiff", (0L until 6L).map(mm.Tiff.fixturePayload),
        b => mm.Tiff.decode(b)),
      ("png", (0L until 6L).map(mm.Png.fixturePayload),
        b => mm.Png.decode(b)),
      ("gif", (0L until 6L).map(mm.Gif.fixturePayload),
        b => mm.Gif.decode(b)),
      ("jpeg", (0L until 6L).map(mm.Jpeg.fixturePayload),
        b => mm.Jpeg.decode(b)),
      ("vp8l", (0L until 6L).map(mm.Vp8l.fixtureLosslessPayload),
        b => mm.Vp8l.decode(b)),
      ("flac", (0L until 6L).map(mm.Flac.fixtureAudioPayload),
        b => mm.Flac.decodeAudio(b)),
      ("webp-meta", (0L until 6L).map(mm.Webp.fixturePayload),
        b => mm.Webp.parse(b)),
      ("mp4", (0L until 6L).map(mm.Mp4.fixturePayload),
        b => mm.Mp4.parse(b)),
      ("avi", (0L until 4L).map(mm.Avi.fixturePayload),
        b => mm.Avi.parse(b)),
      ("exif", (0L until 4L).map(mm.Exif.fixturePayload),
        b => mm.Exif.parse(b)),
      ("id3", (0L until 6L).map(mm.Id3.fixturePayload),
        b => mm.Id3.parse(b)),
      ("lz4", (0L until 6L).map(op.ShardFixtures.lz4),
        b => op.PageCodec.lz4Frames(b)),
      ("snappy", (0L until 6L).map(op.ShardFixtures.snappy),
        b => op.PageCodec.snappyFramed(b)),
      ("gzip", (0L until 6L).map(op.ShardFixtures.gzip),
        b => op.PageCodec.gzipMembers(b)),
      ("bzip2", (0L until 4L).map(op.ShardFixtures.bzip2),
        b => op.PageCodec.bzip2Streams(b)),
      ("tar", (0L until 6L).map(op.Tar.fixturePayload),
        b => op.Tar.parse(b)),
      ("zip", (0L until 6L).map(op.Zip.fixturePayload),
        b => op.Zip.parse(b)),
      ("warc", (0L until 6L).map(op.Warc.fixturePayload),
        b => op.Warc.parse(b)),
      ("avro", (0L until 6L).map(op.Avro.fixturePayload),
        b => op.Avro.decode(b)),
      ("xz", (0L until 6L).map(op.ShardFixtures.xz),
        b => op.PageCodec.xz(b)),
      ("zstd", (0L until 6L).map(op.ShardFixtures.zstd),
        b => op.PageCodec.zstdFrames(b)),
      ("arrow", (0L until 4L).map(op.ArrowIpc.fixturePayload),
        b => op.ArrowIpc.decode(b)),
      ("parquet-footer", Seq(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          s"${SparkTestSession.sfSmoke}/region.parquet"))),
        b => op.ParquetFooter.read(b)),
      ("orc-meta", {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-orc").toString
        val s = SparkTestSession.spark
        import s.implicits._
        (0 until 200).map(i => (i.toLong, s"x$i")).toDF("a", "b")
          .coalesce(1).write.mode("overwrite")
          .option("compression", "snappy").orc(dir)
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".orc")).head
        Seq(java.nio.file.Files.readAllBytes(f.toPath))
      }, b => op.OrcMeta.read(b)),
      ("parquet-data", {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-pqdata").toString
        val s = SparkTestSession.spark
        import s.implicits._
        (0 until 300).map(i =>
          (i.toLong, s"y${i % 9}", i * 0.5, i % 2 == 0))
          .toDF("a", "b", "c", "d")
          .coalesce(1).write.mode("overwrite")
          .option("compression", "zstd").parquet(dir)
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Seq(java.nio.file.Files.readAllBytes(f.toPath))
      }, b => op.ParquetData.readRows(b, Seq("a", "b", "c", "d")).length),
      ("orc-data", {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-orcdata").toString
        val s = SparkTestSession.spark
        import s.implicits._
        (0 until 300).map(i =>
          (i.toLong, s"y${i % 9}", i * 0.5, i % 2 == 0))
          .toDF("a", "b", "c", "d")
          .coalesce(1).write.mode("overwrite")
          .option("compression", "zstd").orc(dir)
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".orc")).head
        Seq(java.nio.file.Files.readAllBytes(f.toPath))
      }, b => op.OrcData.readRows(b, Seq("a", "b", "c", "d")).length),
      ("graftpq-write", {
        val f = java.nio.file.Files.createTempFile("graft-fuzz-pqw", ".parquet")
        op.ParquetWrite.writeFile(f, Seq(op.ParquetWrite.PwFields.int64("a"),
          op.ParquetWrite.PwFields.string("b")),
          (0 until 300).iterator.map(i => Array[Any](Long.box(i.toLong),
            if (i % 7 == 0) null else s"y${i % 9}")),
          codec = op.PageCodec.ParquetSnappy, rowGroupRows = 200,
          pageRows = 50)
        Seq(java.nio.file.Files.readAllBytes(f))
      }, b => op.ParquetData.readRows(b, Seq("a", "b")).length),
      ("graftorc-write", {
        val f = java.nio.file.Files.createTempFile("graft-fuzz-orcw", ".orc")
        op.OrcWrite.writeFile(f, Seq(op.OrcWrite.OwFields.long("a"),
          op.OrcWrite.OwFields.string("b")),
          (0 until 300).iterator.map(i => Array[Any](Long.box(i.toLong),
            if (i % 7 == 0) null else s"y${i % 9}")),
          stripeRows = 200, compression = op.PageCodec.OrcZstd)
        Seq(java.nio.file.Files.readAllBytes(f))
      }, b => op.OrcData.readRows(b, Seq("a", "b")).length))

  private def loud(t: Throwable): Boolean = t match {
    case _: IllegalArgumentException => true
    case _: IllegalStateException => true
    case _: java.io.IOException => true // JDK-backed inner layers
    case _: java.util.zip.DataFormatException => true
    case _ => false
  }

  test("every decoder survives seeded corruption: decode or reject " +
      "loudly, never crash") {
    val rnd = new scala.util.Random(20260814L)
    val failures = scala.collection.mutable.ListBuffer[String]()
    for ((name, seeds, decode) <- cases; seed <- seeds) {
      def tryOne(label: String, bytes: Array[Byte]): Unit =
        try { decode(bytes); () }
        catch {
          case t: Throwable if loud(t) => ()
          case t: Throwable =>
            failures += s"$name $label: ${t.getClass.getSimpleName}: " +
              s"${Option(t.getMessage).getOrElse("").take(80)}"
        }
      // single-byte XORs spread across the whole payload
      for (_ <- 0 until 120) {
        val bad = seed.clone()
        val i = rnd.nextInt(bad.length)
        bad(i) = (bad(i) ^ (1 << rnd.nextInt(8))).toByte
        tryOne(s"flip@$i", bad)
      }
      // double flips (checksum-colliding shapes)
      for (_ <- 0 until 20) {
        val bad = seed.clone()
        val i = rnd.nextInt(bad.length)
        val j = rnd.nextInt(bad.length)
        bad(i) = (bad(i) ^ 0xff).toByte
        bad(j) = (bad(j) ^ 0xff).toByte
        tryOne(s"dflip@$i,$j", bad)
      }
      // truncations at random points (including header-only prefixes)
      for (_ <- 0 until 30) {
        val n = rnd.nextInt(seed.length)
        tryOne(s"trunc@$n", seed.take(n))
      }
    }
    val byFormat = failures.groupBy(_.split(" ").head)
      .map { case (k, v) => s"$k: ${v.size} (e.g. ${v.head})" }
    assert(failures.isEmpty,
      s"${failures.size} quiet crashes across ${byFormat.size} formats:\n" +
        byFormat.mkString("\n"))
  }
}
