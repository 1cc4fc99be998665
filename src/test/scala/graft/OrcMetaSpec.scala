package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OrcMeta

/** ORC tail parsing (operators.OrcMeta), cross-validated against the
  * INDEPENDENT orc-core implementation on Spark-written files across
  * all four supported footer codecs — zstd (Spark 4's default), snappy,
  * zlib and lz4, each through the PageCodec chunk path against real
  * foreign bytes — plus loud torn rejects.
  */
class OrcMetaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def coreReader(path: String) = {
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(path),
      org.apache.orc.OrcFile.readerOptions(conf))
  }

  test("Spark-written ORC: rows, stripes, types, int min/max/sum and " +
      "null flags match orc-core across zstd/snappy/zlib/lz4 footers") {
    import spark.implicits._
    // zstd FIRST: Spark 4's default ORC codec
    for (codec <- Seq("zstd", "snappy", "zlib", "lz4")) {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-orcmeta-$codec").toString
    (0 until 4000).map(i =>
      (i.toLong * 7 - 5000, if (i % 11 == 0) None else Some(i.toLong),
        s"v$i"))
      .toDF("k", "opt", "s")
      .repartition(2).write.mode("overwrite")
      .option("compression", codec).orc(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc")).sortBy(_.getName)
    assert(files.length == 2)
    for (file <- files) {
      val ours = OrcMeta.readFile(file.toPath)
      val core = coreReader(file.getAbsolutePath)
      assert(ours.compression ==
        Map("snappy" -> 2, "zlib" -> 1, "lz4" -> 4, "zstd" -> 5)(codec),
        s"$codec ${file.getName} compression")
      assert(ours.numberOfRows == core.getNumberOfRows, file.getName)
      assert(ours.nStripes == core.getStripes.size())
      assert(ours.stripeRows.sum == core.getNumberOfRows)
      // type tree: root struct with our 3 field names
      assert(ours.types.head.fieldNames == Seq("k", "opt", "s"))
      // column 1 = k (long, no nulls), column 2 = opt (nullable long)
      val coreStats = core.getStatistics
      val k = ours.columns(1)
      val coreK = coreStats(1)
        .asInstanceOf[org.apache.orc.IntegerColumnStatistics]
      assert(k.intStats.get.min.contains(coreK.getMinimum), "k min")
      assert(k.intStats.get.max.contains(coreK.getMaximum), "k max")
      assert(k.intStats.get.sum.contains(coreK.getSum), "k sum")
      assert(!k.hasNull, "k null flag")
      assert(k.numValues == coreK.getNumberOfValues)
      val o = ours.columns(2)
      val coreO = coreStats(2)
        .asInstanceOf[org.apache.orc.IntegerColumnStatistics]
      assert(o.hasNull, "opt must carry nulls")
      assert(o.intStats.get.min.contains(coreO.getMinimum), "opt min")
      assert(o.numValues == coreO.getNumberOfValues)
      core.close()
    }
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("an uncompressed ORC file parses through the NONE path") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orcnone").toString
    (0 until 100).map(i => (i.toLong, s"x$i")).toDF("a", "b")
      .coalesce(1).write.mode("overwrite")
      .option("compression", "none").orc(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val ours = OrcMeta.readFile(f.toPath)
    assert(ours.compression == 0 && ours.numberOfRows == 100)
    assert(ours.columns(1).intStats.get.min.contains(0L))
    assert(ours.columns(1).intStats.get.max.contains(99L))
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }

  test("torn tails reject loudly") {
    val notOrc = intercept[IllegalArgumentException](
      OrcMeta.read(Array.fill[Byte](64)(7)))
    assert(notOrc.getMessage.contains("ORC"), notOrc.getMessage)
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orctorn").toString
    (0 until 50).map(i => Tuple1(i.toLong)).toDF("a")
      .coalesce(1).write.mode("overwrite").orc(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val good = java.nio.file.Files.readAllBytes(f.toPath)
    // clobber the postscript length byte
    val bad = good.clone()
    bad(bad.length - 1) = (bad.length - 2).toByte
    intercept[IllegalArgumentException](OrcMeta.read(bad))
    // truncate mid-footer, keeping the tail framing intact
    val torn = good.take(10) ++ good.takeRight(good.length / 2)
    intercept[IllegalArgumentException](OrcMeta.read(torn))
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }
}
