package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ParquetData

/** Parquet data-page decoding (operators.ParquetData), cross-validated
  * against Spark's own vectorized reader on Spark-written files: every
  * supported codec (pages decompressed through the PageCodec seam:
  * snappy-java, the JDK inflater, zstd-jni), both writer versions (v1
  * and v2 pages), real nulls through the definition levels, dictionary AND
  * plain-fallback value pages, booleans/ints/longs/floats/doubles/
  * strings, and multi-page chunks under a tiny page size. Torn pages
  * reject loudly.
  */
class ParquetDataSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val cols = Seq("id", "opt", "s", "hi", "d", "f", "b", "i")

  private def writeDf(dir: String, codec: String): Unit = {
    import spark.implicits._
    (0 until 3000).map { k =>
      (k.toLong,
        if (k % 7 == 0) None else Some(k.toLong * 3 - 1000),
        s"cat${k % 5}", // low cardinality → dictionary pages
        s"unique-${k * 2654435761L}", // high cardinality → dict fallback
        k * 0.37 - 55.5,
        (k * 0.11f) - 3.5f,
        k % 3 == 0,
        k * 13 - 7)
    }.toDF("id", "opt", "s", "hi", "d", "f", "b", "i")
      .coalesce(1)
      .write.mode("overwrite").option("compression", codec).parquet(dir)
  }

  private def sparkRows(dir: String): Seq[Seq[Any]] =
    spark.read.parquet(dir).collect().toSeq
      .map(r => cols.indices.map(i => if (r.isNullAt(i)) null else r.get(i)))
      .sortBy(_.head.asInstanceOf[Long])

  private def ourRows(dir: String): Seq[Seq[Any]] = {
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    ParquetData.readRows(
      java.nio.file.Files.readAllBytes(f.toPath), cols)
      .map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
  }

  private def compare(dir: String, label: String): Unit = {
    val want = sparkRows(dir)
    val got = ourRows(dir)
    assert(got.size == want.size, s"$label: ${got.size} vs ${want.size}")
    for ((w, g) <- want.zip(got))
      assert(w == g, s"$label row ${w.head}: $w vs $g")
  }

  test("Spark-written files decode row-identically across every codec " +
      "(pages through our own Snappy/Inflate/Zstd/Lz4)") {
    for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-pqdata-$codec").toString
      writeDf(dir, codec)
      compare(dir, codec)
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("writer v2 pages (uncompressed levels, v2 headers) decode " +
      "row-identically") {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.writer.version")
    hc.set("parquet.writer.version", "v2")
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-pqdata-v2").toString
      writeDf(dir, "zstd")
      compare(dir, "v2-zstd")
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    } finally {
      if (prev == null) hc.unset("parquet.writer.version")
      else hc.set("parquet.writer.version", prev)
    }
  }

  test("multi-page chunks and dictionary fallback under a tiny page " +
      "size decode row-identically") {
    val hc = spark.sparkContext.hadoopConfiguration
    val prevPage = hc.get("parquet.page.size")
    val prevDict = hc.get("parquet.dictionary.page.size")
    hc.set("parquet.page.size", "2048")
    hc.set("parquet.dictionary.page.size", "2048")
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-pqdata-pages").toString
      writeDf(dir, "snappy")
      compare(dir, "tiny-pages")
      graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
    } finally {
      if (prevPage == null) hc.unset("parquet.page.size")
      else hc.set("parquet.page.size", prevPage)
      if (prevDict == null) hc.unset("parquet.dictionary.page.size")
      else hc.set("parquet.dictionary.page.size", prevDict)
    }
  }

  test("torn pages reject loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqdata-torn").toString
    writeDf(dir, "zstd")
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val good = java.nio.file.Files.readAllBytes(f.toPath)
    def decodeAll(b: Array[Byte]): Unit =
      ParquetData.readRows(b, cols).length
    // truncating the body while keeping the footer intact: the page
    // walk must hit a bounds guard, never an index crash
    val torn = good.take(good.length / 4) ++
      good.takeRight(good.length / 2)
    intercept[Exception] { decodeAll(torn) } match {
      case _: IllegalArgumentException | _: IllegalStateException => ()
      case e => fail(s"quiet crash class: ${e.getClass} ${e.getMessage}")
    }
    // unknown column
    val e2 = intercept[IllegalArgumentException](
      ParquetData.readRows(good, Seq("nope")).length)
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    graft.streaming.WorkDirs.deleteRecursively(new java.io.File(dir))
  }
}
