package graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Maintenance

/** Reads and DML scans of a committed table plan from the files the
  * driver already holds (the commit log's listing, or the op's own walk
  * under the commit lock). On a table partitioned past Spark's 32-path
  * `parallelPartitionDiscovery.threshold` none of them may start Spark's
  * file-listing job, and each must read exactly the rows
  * `spark.read.schema(tracked).option("basePath", t).parquet(files)`
  * reads over the same files.
  */
class LogListedReadSpec extends AnyFunSuite {
  import SparkTestSession.{jobsDuring, spark}

  private val coins = 48
  private val rowsPerAppend = 960L

  private def freshPath(): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-loglisted-${UUID.randomUUID()}/t").getAbsolutePath

  /** Append k: ids [k·960, (k+1)·960), one file in each of 48 coins. */
  private def append(t: String, k: Int): Unit =
    Maintenance.commitAppend(spark, t,
      spark.range(k * rowsPerAppend, (k + 1) * rowsPerAppend).toDF("id")
        .withColumn("coin", format_string("c%02d", col("id") % coins))
        .withColumn("price", col("id") * 1.5)
        .coalesce(1),
      partitionBy = Seq("coin"))

  private def tracked(t: String): StructType =
    DataType.fromJson(Files.readString(Paths.get(Maintenance.schemaPath(t))))
      .asInstanceOf[StructType]

  private def live(t: String): Seq[String] =
    Maintenance.liveFileListing(t).get.map(r => Paths.get(t, r).toString)

  /** What `spark.read` reads over the same files. */
  private def reference(t: String, files: Seq[String]): DataFrame =
    spark.read.schema(tracked(t)).option("basePath", t).parquet(files: _*)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Row count per file, the shape the DML confirmation scans group by. */
  private def perFile(df: DataFrame): Map[String, Long] =
    df.groupBy(input_file_name()).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sameRead(got: DataFrame, ref: DataFrame): Unit = {
    assert(got.schema == ref.schema)
    assert(rows(got) == rows(ref))
    assert(perFile(got) == perFile(ref))
  }

  /** Run `op` and fail if Spark listed files for it. */
  private def unlisted[T](op: String)(body: => T): T = {
    val (out, jobs) = jobsDuring(body)
    val listing = jobs.filter(
      _.description.startsWith("Listing leaf files and directories"))
    assert(listing.isEmpty, s"$op started Spark listing jobs: " +
      listing.map(j => s"${j.tasks} tasks").mkString(", "))
    out
  }

  /** A read op: built and run inside the listener. */
  private def read(op: String)(df: => DataFrame): DataFrame =
    unlisted(op) { val d = df; d.collect(); d }

  /** (rows matched, files holding a match) over the live files. */
  private def matches(t: String, pred: Column): (Long, Int) = {
    val m = perFile(reference(t, live(t)).filter(pred))
    (m.values.sum, m.size)
  }

  test("reads and DML scans over > 32 partitions start no listing job " +
      "and read what spark.read reads over the same files") {
    val t = freshPath()
    append(t, 0)
    val v1Files = live(t)
    append(t, 1)
    val v2Files = live(t)
    append(t, 2)
    val v3Files = live(t)
    assert(v3Files.size == 3 * coins)

    sameRead(read("readTable")(Maintenance.readTable(spark, t)),
      reference(t, v3Files))
    sameRead(read("readAsOf")(Maintenance.readAsOf(spark, t, 2)),
      reference(t, v2Files))
    val changes = read("readChangesBetween")(
      Maintenance.readChangesBetween(spark, t, 1, 3))
    sameRead(changes.drop("_change_type", "_change_version"),
      reference(t, v3Files.filterNot(v1Files.contains)))
    val (kept, _) = Maintenance.skippingPlan(t, "id", 0.0, 1500.0)
    assert(kept.size == 2 * coins)
    sameRead(read("scanPruned")(
        Maintenance.scanPruned(spark, t, "id", 0.0, 1500.0)),
      reference(t, v3Files.filter(f =>
        kept.contains(Paths.get(f).getFileName.toString))))
    unlisted("buildBloomIndex")(Maintenance.buildBloomIndex(spark, t, "id"))
    assert(rows(read("bloomLookup")(
        Maintenance.bloomLookup(spark, t, "id", 1000L))) ==
      rows(reference(t, v3Files).filter(col("id") === 1000L)))

    // deletion vectors: recorded, read through, then materialized
    val dvPred = col("id") % 10 === 3
    val beforeDv = reference(t, v3Files)
    val (dvRows, dvFiles) = matches(t, dvPred)
    assert(dvFiles > 32)
    val dv = unlisted("deleteWithVectors")(
      Maintenance.deleteWithVectors(spark, t, dvPred))
    assert((dv.rowsDeleted, dv.filesAffected) == ((dvRows, dvFiles)))
    val survivors = rows(beforeDv.filter(not(dvPred)))
    assert(rows(read("readTable with vectors")(
      Maintenance.readTable(spark, t))) == survivors)
    assert(unlisted("applyDeleteVectors")(
      Maintenance.applyDeleteVectors(spark, t)) == dvFiles)
    assert(rows(Maintenance.readTable(spark, t)) == survivors)

    val delPred = col("id") % 10 === 4
    val (delRows, delFiles) = matches(t, delPred)
    val del = unlisted("deleteWhere")(
      Maintenance.deleteWhere(spark, t, delPred))
    assert((del.rowsDeleted, del.filesRewritten) == ((delRows, delFiles)))
    assert(delFiles > 32)

    val updPred = col("id") % 10 === 5
    val (updRows, updFiles) = matches(t, updPred)
    val upd = unlisted("updateWhere")(Maintenance.updateWhere(spark, t,
      updPred, Map("price" -> (col("price") + 1000))))
    assert((upd.rowsUpdated, upd.filesRewritten) == ((updRows, updFiles)))

    val source = reference(t, live(t)).filter(col("id") % 10 === 6)
      .withColumn("price", lit(-1.0))
      .unionByName(spark.range(5000L, 5000L + coins).toDF("id")
        .withColumn("coin", format_string("c%02d", col("id") % coins))
        .withColumn("price", lit(-2.0)))
      .localCheckpoint()
    val (mergeRows, mergeFiles) = matches(t, col("id") % 10 === 6)
    val merged = unlisted("mergeInto")(
      Maintenance.mergeInto(spark, t, source, "id"))
    assert((merged.rowsUpdated, merged.rowsInserted, merged.filesRewritten)
      == ((mergeRows, coins.toLong, mergeFiles)))

    val beforeCompact = rows(Maintenance.readTable(spark, t))
    val (candidates, _) = Maintenance.skippingPlan(t, "id", 0.0, 1e9)
    assert(candidates.size > 32)
    assert(unlisted("compactWhere")(
      Maintenance.compactWhere(spark, t, "id", 0.0, 1e9, targetFiles = 2))
      == candidates.size)
    // vectors stay on disk for time travel, so reads still anti-join
    // them: rows and schema only (input_file_name needs one source)
    val after = Maintenance.readTable(spark, t)
    assert(after.schema == reference(t, live(t)).schema)
    assert(rows(after) == beforeCompact)
    assert(rows(reference(t, live(t))) == beforeCompact)
  }

  test("a file the log lists but the table lost fails the read, naming " +
      "the file and the table") {
    val t = freshPath()
    append(t, 0)
    val lost = Maintenance.liveFileListing(t).get.head
    Files.delete(Paths.get(t, lost))
    val e = intercept[IllegalStateException](
      Maintenance.readTable(spark, t).collect())
    assert(e.getMessage.contains(Paths.get(t, lost).toString), e.getMessage)
    assert(e.getMessage.contains("vacuumed or torn table"), e.getMessage)
  }
}
