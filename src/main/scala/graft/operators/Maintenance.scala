package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance over plain parquet — the engine features standing in
  * for the reference's Delta OPTIMIZE / VACUUM / Z-ORDER jobs
  * (reference: images/spark/Code/spark/delta_manager.py:4-24, scheduled in
  * udf.py:74-83) and for the Delta commit-log stats the latency notebooks
  * consume (reference: TimeDelay.ipynb cell 0, code.ipynb cells 5-11).
  *
  * Commit manifest: every write appends one JSON line per commit with row
  * count and event-time min/max — the engine's analogue of
  * `add.stats.minValues` — so pipeline latency is measurable without wall
  * clocks (commit times are injected, SURVEY §5 determinism contract).
  */
object Maintenance extends Logging {

  // ---------------------------------------------------------------------
  // Optimistic single-table commit protocol — the engine analogue of the
  // optimistic concurrency the reference inherits from Delta (MERGE /
  // OPTIMIZE racing concurrent streaming appends; AutomateTable.py:42-44).
  // Every commit (append or rewrite) goes through a versioned manifest:
  //   - `_graft_log/version` holds the table's committed version,
  //     advanced atomically (write-temp + ATOMIC_MOVE rename);
  //   - the CRITICAL SECTION (validate version, rename files, bump
  //     version) runs under a sibling lock file taken via the atomic
  //     create-if-absent CAS `Files.createFile` — milliseconds, because
  //     the expensive Spark job always runs OUTSIDE the lock;
  //   - a rewrite (compact/cluster) is read-validate-swap: snapshot the
  //     version, rewrite that snapshot, and commit ONLY if the version is
  //     unchanged — a concurrent append bumps the version, the stale
  //     rewrite is discarded, and the rewrite retries against the new
  //     snapshot (bounded; the final attempt holds the lock across the
  //     rewrite, guaranteeing progress under a hot appender). A file
  //     committed during a rewrite can therefore never be dropped.

  def versionPath(tablePath: String): String =
    s"$tablePath/_graft_log/version"

  /** The table's committed version; 0 for a never-committed table. */
  def readVersion(tablePath: String): Long = {
    val p = Paths.get(versionPath(tablePath))
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  private def writeVersion(tablePath: String, v: Long): Unit = {
    val p = Paths.get(versionPath(tablePath))
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"version.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The one daemon thread that renews the lease of every held commit
    * lock; cancelled renewals leave its queue at once.
    */
  private lazy val leaseRenewer = {
    val ex = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-commit-lease")
      t.setDaemon(true)
      t
    })
    ex.setRemoveOnCancelPolicy(true)
    ex
  }

  /** Run `body` holding the table's commit lock (sibling file, OUTSIDE the
    * table root so a directory swap never moves its own mutex).
    * Creating the file with CREATE_NEW is the atomic create-if-absent
    * CAS; the file holds the holder's random token.
    *
    * Crash recovery: a holder that dies between create and delete would
    * wedge the table forever, so a lock whose mtime is older than
    * `staleLockMs` is treated as orphaned and broken (with a warning).
    * A live holder renews its lease — the lock's mtime — every quarter
    * of `staleLockMs` while `body` runs, so however long a DML holds the
    * lock it never looks stale; and release deletes the lock only while
    * it still carries the holder's own token, so a holder whose lock was
    * broken never deletes its successor's.
    */
  def withCommitLock[T](tablePath: String, timeoutMs: Long = 60000L,
      staleLockMs: Long = 900000L)(body: => T): T = {
    val lock = Paths.get(tablePath + "__graft_lock")
    val token = java.util.UUID.randomUUID().toString
    // a fresh table's parent may not exist yet (commitAppend only
    // creates it as a staging side effect) — the lock must not care
    Option(lock.getParent).foreach(Files.createDirectories(_))
    val t0 = System.currentTimeMillis()
    var acquired = false
    while (!acquired) {
      try {
        Files.writeString(lock, token, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE)
        acquired = true
      }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        val lf = lock.toFile
        // single mtime read, gated on > 0: lastModified() returns 0 for a
        // file deleted between the failed create and this check, and
        // exists()-then-lastModified() would read that 0 as "ancient" and
        // break a lock some OTHER waiter just re-acquired — the one
        // sequence that lets two committers in at once
        val mtime = lf.lastModified()
        if (mtime > 0 &&
            System.currentTimeMillis() - mtime > staleLockMs) {
          logWarning(s"breaking stale commit lock " +
            s"$lock (older than ${staleLockMs} ms — crashed holder)")
          Files.deleteIfExists(lock)
        } else if (System.currentTimeMillis() - t0 > timeoutMs)
          throw new IllegalStateException(
            s"could not acquire commit lock $lock within ${timeoutMs} ms")
        else Thread.sleep(5)
      }
    }
    def ours: Boolean =
      try Files.readString(lock) == token
      catch { case _: java.io.IOException => false }
    val renewMs = math.max(staleLockMs / 4, 1L)
    val lease = leaseRenewer.scheduleAtFixedRate(() =>
      try {
        if (ours) Files.setLastModifiedTime(lock,
          FileTime.fromMillis(System.currentTimeMillis()))
      } catch { case _: java.io.IOException => () },
      renewMs, renewMs, TimeUnit.MILLISECONDS)
    try body finally {
      lease.cancel(false)
      if (ours) Files.deleteIfExists(lock)
    }
  }

  // ---------------------------------------------------------------------
  // Time travel: every commit records its file snapshot under
  // `_graft_log/snapshots/v{N}.txt`, and [[readAsOf]] reads the table as
  // of any recorded version — the engine analogue of Delta's
  // `VERSION AS OF` (the reference reads Delta history in its latency
  // notebooks; TimeDelay.ipynb cell 0). History retention follows the
  // storage, honestly: appends only ever ADD files, so every append-era
  // version stays readable; a rewrite (compact/cluster) physically
  // replaces the data files, so versions before the rewrite become
  // unavailable and readAsOf fails LOUDLY naming the reclaimed files —
  // the same observable behavior as Delta time travel after VACUUM.
  // Snapshot storage is Delta-log-shaped so commit metadata really is
  // O(new files) per append: an append writes only its ADDED files as
  // `v{N}.add.txt`; a rewrite (or bootstrap) writes the full listing as
  // `v{N}.full.txt`. A version's file set is reconstructed at READ time
  // as (latest full ≤ N) + every add in between — reads are rare and
  // cheap, commits are hot and tiny. Without the delta split, a
  // per-micro-batch appender would write O(table) listings per commit
  // and grow the log quadratically.

  def snapshotAddPath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/snapshots/v$version%06d.add.txt"

  /** Marker + removed-file listing of a [[deleteRange]] version. Snapshot
    * metadata (never vacuumed), so a delete version stays DETECTABLE even
    * after [[vacuumRemoved]] reclaims its change files — the CDF then
    * fails loudly instead of silently skipping the version as a rewrite.
    */
  def snapshotDeletePath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/snapshots/v$version%06d.delete.txt"

  /** Marker of a [[mergeInto]] version (rewritten-file listing). Same
    * survival contract as the delete marker; a merge version's change
    * files embed their own `__change_type` column (update_preimage /
    * update_postimage / insert — Delta's CDC row types).
    */
  def snapshotMergePath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/snapshots/v$version%06d.merge.txt"

  /** Marker of a [[restoreTo]] version, so [[history]] can tell a restore
    * from a plain rewrite (both snapshot a full listing).
    */
  def snapshotRestorePath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/snapshots/v$version%06d.restore.txt"

  /** DESCRIBE HISTORY analogue: one row per committed version with its
    * operation kind, classified from the snapshot metadata the commits
    * already write — `append` (add-delta), `delete` / `merge` / `restore`
    * (their markers), else `rewrite` (compact/cluster/zorder). A pure
    * driver-side metadata read, O(versions), no data scan — the audit
    * surface every lakehouse operator reads first.
    */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val current = readVersion(tablePath)
    // a cloned table leads its (inherited) history with the clone event,
    // like Delta's DESCRIBE HISTORY showing CLONE as the first operation
    val cloneRow = cloneOrigin(tablePath).map { case (_, v) =>
      (v, "clone")
    }.toSeq
    val versionRows = (1L to current).map { v =>
      val kind =
        if (Files.exists(Paths.get(snapshotAddPath(tablePath, v)))) "append"
        else if (Files.exists(Paths.get(snapshotDeletePath(tablePath, v))))
          "delete"
        else if (Files.exists(Paths.get(snapshotMergePath(tablePath, v))))
          "merge"
        else if (Files.exists(Paths.get(snapshotUpdatePath(tablePath, v))))
          "update"
        else if (Files.exists(Paths.get(snapshotRestorePath(tablePath, v))))
          "restore"
        else if (Files.exists(Paths.get(dvMarkerPath(tablePath, v))))
          "delete" // deletion-vector delete: row changes, no file changes
        else if (Files.exists(Paths.get(snapshotFullPath(tablePath, v))))
          "rewrite"
        else "unknown"
      (v, kind)
    }
    (cloneRow ++ versionRows).toDF("version", "operation")
  }

  /** Change files (the deleted rows) a [[deleteRange]] version recorded —
    * the engine's CDC files; [[readChangesBetween]] reads them back tagged
    * `_change_type='delete'`.
    */
  def changesPath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/changes/v$version%06d"

  /** Partition count for a CDC / DV dataset write, from an upper bound
    * on the bytes it will carry (guide §6: sensible output file sizing).
    * Without this, a change write inherits the AFFECTED-FILE scan's
    * partitioning and lands one near-empty part file per scan split —
    * at sf0.1 a 4-row delete wrote 2–5 files, and every extra change
    * file is an extra micro-batch for a `maxFilesPerTrigger`-paced CDF
    * stream tailing the changes directory. One ~[[graft.streaming.StateTuning.
    * TargetBytesPerPartition]]-sized file per 32 MB of change bytes is
    * the scale-adaptive rule: tiny DML writes one file, a 100-TB
    * backfill's change set still fans out. Row CONTENT and the
    * per-version directory layout are unchanged — only the part-file
    * count — so CDF readers see identical rows with identical
    * `_change_version` tags.
    */
  private def changeWriteParts(bytesUpperBound: Long): Int = {
    val target = graft.streaming.StateTuning.TargetBytesPerPartition
    math.min(4096L, math.max(1L,
      (bytesUpperBound + target - 1) / target)).toInt
  }

  def snapshotFullPath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/snapshots/v$version%06d.full.txt"

  /** Write-temp + ATOMIC_MOVE: log metadata is read by UNLOCKED readers
    * (readTable and friends), so every rewrite-in-place of a log file
    * must be atomic — a reader must never observe a torn or empty file
    * mid-write. Writers are serialized by the commit lock, so the fixed
    * `.tmp` sibling never collides.
    */
  private def writeAtomic(p: java.nio.file.Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeFileList(path: String, files: Seq[String]): Unit =
    writeAtomic(Paths.get(path), files.sorted.mkString("", "\n", "\n"))

  private def readFileList(path: String): Option[Seq[String]] = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Some(Files.readString(p).linesIterator.filter(_.nonEmpty).toSeq)
    else None
  }

  /** Reconstruct version `v`'s file set: the latest full listing at or
    * below `v`, plus every add delta after it up to `v`. None when no
    * snapshot information covers `v`.
    */
  private def readSnapshot(tablePath: String, version: Long): Option[Seq[String]] = {
    if (version < 0) None
    else {
      val base = (version to 0L by -1L)
        .find(v => Files.exists(Paths.get(snapshotFullPath(tablePath, v))))
      val baseFiles =
        base.flatMap(v => readFileList(snapshotFullPath(tablePath, v)))
      // no full base is valid only for a protocol-fresh table whose
      // history is adds all the way down (base = empty set before v1)
      val firstAdd = base.map(_ + 1).getOrElse(1L)
      val addDeltas = (firstAdd to version)
        .map(v => readFileList(snapshotAddPath(tablePath, v)))
      // every version in (base, v] must contribute its delta: a hole
      // means the version was never snapshotted under this protocol
      val covered = addDeltas.forall(_.isDefined) &&
        (base.isDefined || addDeltas.nonEmpty)
      if (!covered) None
      else Some(baseFiles.getOrElse(Seq.empty) ++ addDeltas.flatten.flatten)
    }
  }

  /** The CURRENT version's file set as table-relative paths (partition
    * subdirectories included — `commitAppend` records every add with
    * `root.relativize`), reconstructed from the commit log alone: one
    * full listing plus the add deltas after it. None when the log does
    * not cover the current version (a pre-protocol table whose history
    * was never snapshotted). This is the listing that lets every
    * planner over a committed table — batch scan, pushed aggregation,
    * the version-tailing stream — run with ZERO directory walks: at
    * 100 TB an object-store LIST over a partitioned table is
    * O(files-ever) round trips, the log read is O(live files) bytes
    * off a handful of small sequential files.
    */
  def liveFileListing(tablePath: String): Option[Seq[String]] =
    readSnapshot(tablePath, readVersion(tablePath)).map(_.sorted)

  /** Read the table as of `version`. Fails loudly when the version was
    * never snapshotted (pre-protocol history) or its files were reclaimed
    * by a later rewrite/vacuum. Reads with the CURRENT table schema (like
    * a Delta read after additive evolution): rows from pre-evolution
    * files surface the later columns as null.
    */
  /** Quarantine for files a [[deleteRange]] removed from the live table:
    * they leave the data directory (current reads must not see them) but
    * stay readable HERE, so pre-delete versions keep time-traveling — the
    * same observable behavior as Delta, where DELETE marks files removed
    * yet history survives until VACUUM. [[vacuumRemoved]] is that
    * retention boundary.
    */
  def removedPath(tablePath: String): String =
    s"$tablePath/_graft_log/removed"

  /** A snapshot-relative file name resolved to wherever it lives now:
    * the data directory (live), or the delete quarantine (historic).
    */
  private def resolveHistoric(tablePath: String,
      rel: String): Option[java.nio.file.Path] = {
    val live = Paths.get(tablePath, rel)
    if (Files.exists(live)) Some(live)
    else {
      val rem = Paths.get(removedPath(tablePath), rel)
      if (Files.exists(rem)) Some(rem) else None
    }
  }

  def readAsOf(spark: SparkSession, tablePath: String,
      version: Long): DataFrame = {
    val files = readSnapshot(tablePath, version).getOrElse(
      throw new IllegalStateException(
        s"no snapshot for version $version of $tablePath " +
          s"(table is at version ${readVersion(tablePath)})"))
    val resolved = files.map(f => f -> resolveHistoric(tablePath, f))
    val missing = resolved.collect { case (f, None) => f }
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"version $version of $tablePath is no longer readable: " +
          s"${missing.size} of its files were reclaimed by a rewrite or " +
          s"vacuum (first missing: ${missing.head})")
    // vectors recorded AT OR BEFORE the requested version apply (their
    // basenames match live and quarantined copies alike); later vectors
    // do not exist yet at this version
    applyColumnMap(tablePath, withDvApplied(spark, tablePath,
      readFilesWithBases(spark, tablePath, resolved.map(_._2.get.toString)),
      upTo = Some(version)))
  }

  /** Read an explicit file list through the tracked schema. Live files
    * and delete-quarantined files have different partition-discovery
    * bases, so each group reads against its own base and the groups
    * union — a no-op distinction for unpartitioned tables.
    */
  private def readFilesWithBases(spark: SparkSession, tablePath: String,
      paths: Seq[String]): DataFrame = {
    val schema = readTableSchema(tablePath)
    val partCols = readPartitioning(tablePath)
    def read(base: String, ps: Seq[String]) = {
      val r = schema.map(spark.read.schema).getOrElse(spark.read)
      (if (partCols.nonEmpty) r.option("basePath", base) else r)
        .parquet(ps: _*)
    }
    val rem = removedPath(tablePath)
    val (quarantined, live) = paths.partition(_.startsWith(rem))
    Seq((tablePath, live), (rem, quarantined))
      .filter(_._2.nonEmpty)
      .map { case (b, ps) => read(b, ps) }
      .reduce(_.unionByName(_))
  }

  /** Change Data Feed analogue (Delta's `table_changes`): the rows ADDED
    * in versions `(fromVersion, toVersion]`, each tagged with
    * `_change_type` ("insert" — the only change an append-only table
    * produces) and `_change_version`. Implemented straight off the commit
    * log: each version's add-delta lists exactly its committed files, so
    * the feed is a union of per-version parquet scans — O(changed data),
    * never a table diff.
    *
    * A rewrite (compact/cluster) inside the range is a version with no
    * add-delta: like Delta's `dataChange=false` commits it contributes no
    * row changes and is skipped. A DELETE version ([[deleteRange]]) emits
    * its deleted rows tagged `_change_type='delete'`, read from the change
    * files the delete recorded under `_graft_log/changes/` — Delta's CDC
    * delete feed. Fails loudly when a version in the range predates the
    * snapshot protocol, or when a later rewrite / [[vacuumRemoved]]
    * physically reclaimed a slice's files — a silently empty slice would
    * read as "no changes", which is the one wrong answer an incremental
    * consumer can never detect.
    */
  def readChangesBetween(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val current = readVersion(tablePath)
    if (toVersion > current) throw new IllegalStateException(
      s"version $toVersion of $tablePath does not exist yet " +
        s"(table is at version $current)")
    // (version, absolute file paths, change type)
    val slices = ((fromVersion + 1) to toVersion).flatMap { v =>
      readFileList(snapshotAddPath(tablePath, v)) match {
        case Some(files) =>
          // an insert slice's files may since have been quarantined by a
          // later delete — resolve each through the quarantine like
          // readAsOf does; reclaimed ⇒ loud error below
          val resolved = files.map(f => f -> resolveHistoric(tablePath, f))
          val missing = resolved.collect { case (f, None) => f }
          if (missing.nonEmpty) throw new IllegalStateException(
            s"changes ($fromVersion, $toVersion] of $tablePath are no " +
              s"longer readable: ${missing.size} files were reclaimed by " +
              s"a rewrite or vacuum (first missing: ${missing.head})")
          Some((v, resolved.map(_._2.get.toString), Some("insert")))
        case None =>
          val isDelete =
            Files.exists(Paths.get(snapshotDeletePath(tablePath, v))) ||
              Files.exists(Paths.get(dvMarkerPath(tablePath, v)))
          // merge and update change files both embed __change_type per
          // row — read as written
          val isTyped =
            Files.exists(Paths.get(snapshotMergePath(tablePath, v))) ||
              Files.exists(Paths.get(snapshotUpdatePath(tablePath, v)))
          val ch = new java.io.File(changesPath(tablePath, v))
          if (isDelete || isTyped) {
            val parts = Option(ch.listFiles()).getOrElse(Array.empty)
              .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            if (parts.isEmpty) throw new IllegalStateException(
              s"${if (isTyped) "merge/update" else "delete"} version $v " +
                s"of $tablePath has no readable change files — they were " +
                "reclaimed by vacuumRemoved; its changes cannot be " +
                "reconstructed")
            // delete change files carry plain table rows (type implied)
            Some((v, parts.toSeq.map(_.getAbsolutePath),
              if (isTyped) None else Some("delete")))
          }
          // a RESTORE changes row content but records no change files —
          // serving the range would silently drop its changes, the one
          // failure an incremental consumer can never detect. Loud stop:
          // consumers resync from a full read past a restore.
          else if (Files.exists(Paths.get(snapshotRestorePath(tablePath, v))))
            throw new IllegalStateException(
              s"version $v of $tablePath is a RESTORE — its row changes " +
                "are not recorded as a change feed; resync from a full " +
                "read at or after this version")
          // no add-delta, not a delete/merge/restore: a rewrite
          // (dataChange=false) contributes no row changes
          else if (Files.exists(Paths.get(snapshotFullPath(tablePath, v))))
            None
          else throw new IllegalStateException(
            s"version $v of $tablePath was never snapshotted under the " +
              "commit protocol — its changes cannot be reconstructed")
      }
    }
    val schema = readTableSchema(tablePath)
    val reads = slices.map { case (v, paths, fixedType) =>
      val base = fixedType match {
        // insert slices are table data files (live or quarantined):
        // base-grouped partition-aware read through the tracked schema
        case Some("insert") => readFilesWithBases(spark, tablePath, paths)
        // delete change files carry plain table rows as DATA columns
        // (partition values included) — tracked schema, no basePath
        case Some(_) => schema match {
          case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
          case None => spark.read.parquet(paths: _*)
        }
        // merge change files carry their own extra column: read as written
        case None => spark.read.parquet(paths: _*)
      }
      val typed = fixedType match {
        case Some(t) => base.withColumn("_change_type", lit(t))
        case None => base.withColumnRenamed("__change_type", "_change_type")
      }
      typed.withColumn("_change_version", lit(v))
    }
    applyColumnMap(tablePath,
      reads.reduceOption(_.unionByName(_)).getOrElse {
        // empty range (or rewrites only): an empty feed with the table
        // schema plus the change columns
        val sc = schema.getOrElse(readTable(spark, tablePath).schema)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(sc.fields))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_change_version", lit(0L))
      })
  }

  /** STREAMING change feed — Delta's `readChangeFeed` as a stream: the
    * typed delete/merge CDC rows, discovered incrementally as their
    * versions commit. Structured Streaming's file source does the
    * incremental work (new `changes/v*` files show up in the next
    * micro-batch, checkpointed exactly-once), so a downstream consumer —
    * an incremental view, an audit sink — follows row-level changes with
    * O(changed rows) per batch, never a table diff. At 100 TB that is
    * the only viable shape for "tell me what changed".
    *
    * Scope mirror of the batch feed's file layout: APPEND versions are
    * not under `changes/` (their CDC rows are the appended data itself —
    * stream the table for those); delete files carry plain rows (type
    * implied), merge files embed per-row types. A RESTORE records no
    * change files, so a streaming consumer simply sees nothing for it —
    * the batch feed's loud-stop contract covers resyncs.
    */
  def streamChanges(spark: SparkSession, tablePath: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val sc = readTableSchema(tablePath).getOrElse(throw new IllegalStateException(
      s"$tablePath has no tracked schema — not a committed table"))
    val withType = org.apache.spark.sql.types.StructType(
      sc.fields :+ org.apache.spark.sql.types.StructField(
        "__change_type", org.apache.spark.sql.types.StringType, true))
    val reader = spark.readStream.schema(withType)
    applyColumnMap(tablePath, maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(s"$tablePath/_graft_log/changes/*")
      // delete change files lack the column entirely → nulls → "delete"
      .withColumn("_change_type",
        coalesce(col("__change_type"), lit("delete")))
      .drop("__change_type")
      .withColumn("_change_version",
        regexp_extract(input_file_name(), "/changes/v(\\d+)/", 1)
          .cast("long")))
  }

  // ---------------------------------------------------------------------
  // Schema tracking — the engine analogue of the Delta log's schema entry.
  // The table's merged schema lives in `_graft_log/schema.json`, updated
  // under the commit lock on every append: additive evolution (new
  // nullable columns) merges in; a same-name/different-type append is
  // REJECTED loudly (Delta's schema enforcement), because plain parquet
  // would otherwise commit a file that poisons every future read.
  // [[readTable]] reads through the tracked schema, so evolved tables
  // read consistently without mergeSchema's read-every-footer cost —
  // pre-evolution rows surface later columns as null.

  def schemaPath(tablePath: String): String =
    s"$tablePath/_graft_log/schema.json"

  private def readTableSchema(tablePath: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = Paths.get(schemaPath(tablePath))
    if (Files.exists(p))
      Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(p))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    else None
  }

  /** Validate `incoming` against the tracked schema and persist the
    * merged result. Caller holds the commit lock.
    */
  private def mergeAndWriteSchema(tablePath: String,
      incoming: org.apache.spark.sql.types.StructType): Unit = {
    val merged = readTableSchema(tablePath) match {
      case None => incoming
      case Some(existing) =>
        val byName = existing.fields.map(f => f.name -> f).toMap
        incoming.fields.foreach { f =>
          byName.get(f.name).foreach { ex =>
            if (ex.dataType != f.dataType)
              throw new IllegalArgumentException(
                s"schema evolution rejected for $tablePath: column " +
                  s"'${f.name}' is ${ex.dataType.simpleString} but the " +
                  s"append carries ${f.dataType.simpleString}")
          }
        }
        val newFields = incoming.fields.filterNot(f => byName.contains(f.name))
          .map(_.copy(nullable = true)) // absent in history ⇒ must be nullable
        org.apache.spark.sql.types.StructType(existing.fields ++ newFields)
    }
    // atomic: unlocked readers (readTableSchema) race this rewrite
    writeAtomic(Paths.get(schemaPath(tablePath)), merged.json)
  }

  /** Read the table through its tracked schema (tables written by
    * [[commitAppend]]); falls back to plain parquet inference for tables
    * that predate the protocol.
    */
  def readTable(spark: SparkSession, tablePath: String): DataFrame =
    applyColumnMap(tablePath, withDvApplied(spark, tablePath,
      readTableSchema(tablePath) match {
        case Some(sc) => spark.read.schema(sc).parquet(tablePath)
        case None => spark.read.parquet(tablePath)
      }))

  // ---------------------------------------------------------------------
  // Column mapping — Delta's metadata-only `ALTER TABLE ... RENAME
  // COLUMN` / `DROP COLUMN` (delta.columnMapping.mode = 'name'). Data
  // files keep their original PHYSICAL column names forever — no rewrite
  // at any table size — while the log records a logical→physical map
  // plus a dropped-physical set. The LOGICAL view is derived at the
  // table boundary:
  //   reads   — readTable / readAsOf / streamTable / scanPruned /
  //             readChangesBetween project physical → logical;
  //   appends — commitAppend / mergeInto translate incoming logical
  //             names → physical before staging, so every data file
  //             stays physically consistent;
  //   DML     — predicates, SET expressions, and column arguments are
  //             rewritten logical → physical at the operation entry
  //             (attribute-level rewrite via ColumnBridge); the
  //             internals never see a logical name.
  // Scope guards, loudly enforced: partition, identity, generated (or
  // generated-referenced), and constraint-referenced columns cannot be
  // renamed or dropped — their log records hold physical names in
  // expression TEXT, and rewriting SQL text is not metadata-only. A
  // rename may not reuse ANY existing physical name (keeps toPhysical
  // idempotent — no rename chain can make one name mean two columns),
  // and an append may not reuse a dropped or renamed column's physical
  // name (the data it would land next to is another column's history).

  def columnMapPath(tablePath: String): String =
    s"$tablePath/_graft_log/colmap.tsv"

  def droppedColsPath(tablePath: String): String =
    s"$tablePath/_graft_log/dropped_cols.txt"

  /** logical → physical, for RENAMED columns only (identity elsewhere). */
  def readColumnMap(tablePath: String): Map[String, String] = {
    val p = Paths.get(columnMapPath(tablePath))
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { ln =>
      val a = ln.split('\t'); a(0) -> a(1)
    }.toMap
  }

  /** Physical names of dropped columns (still present in data files). */
  def readDroppedCols(tablePath: String): Set[String] = {
    val p = Paths.get(droppedColsPath(tablePath))
    if (!Files.exists(p)) Set.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).toSet
  }

  /** The physical (file-level) name behind a logical column name. */
  def toPhysical(tablePath: String, logical: String): String =
    readColumnMap(tablePath).getOrElse(logical, logical)

  /** Rewrite logical attribute names inside a caller-supplied predicate
    * or SET expression to their physical names.
    */
  private def toPhysicalPred(tablePath: String, c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge
      .renameAttrs(c, readColumnMap(tablePath))

  /** Project a physically-named DataFrame to the logical view (drop the
    * dropped, rename the renamed). Caller-added non-data columns
    * (`_change_type`, …) pass through unchanged.
    */
  private def applyColumnMap(tablePath: String, df: DataFrame): DataFrame = {
    val map = readColumnMap(tablePath)
    val dropped = readDroppedCols(tablePath)
    if (map.isEmpty && dropped.isEmpty) df
    else {
      val phys2log = map.map(_.swap)
      df.select(df.columns.toIndexedSeq.filterNot(dropped.contains)
        .map(p => col(p).as(phys2log.getOrElse(p, p))): _*)
    }
  }

  /** Rename an incoming (logically-named) batch to physical names,
    * rejecting collisions with dropped or foreign physical names.
    */
  private def toPhysicalDf(tablePath: String, df: DataFrame): DataFrame = {
    val map = readColumnMap(tablePath)
    val dropped = readDroppedCols(tablePath)
    if (map.isEmpty && dropped.isEmpty) df
    else {
      val takenPhysical = map.values.toSet
      df.columns.foreach { c =>
        if (!map.contains(c)) {
          if (dropped.contains(c)) throw new IllegalArgumentException(
            s"append to $tablePath rejected: '$c' matches a DROPPED " +
              "column's physical name; choose a different name")
          if (takenPhysical.contains(c)) throw new IllegalArgumentException(
            s"append to $tablePath rejected: '$c' is the physical name " +
              "behind a renamed column; use the logical name")
        }
      }
      df.select(df.columns.toIndexedSeq
        .map(c => col(c).as(map.getOrElse(c, c))): _*)
    }
  }

  /** Current logical column names, in physical-schema order. */
  def logicalColumns(tablePath: String): Seq[String] = {
    val physSchema = readTableSchema(tablePath).getOrElse(
      throw new IllegalStateException(
        s"$tablePath has no tracked schema (commit protocol required)"))
    val phys2log = readColumnMap(tablePath).map(_.swap)
    val dropped = readDroppedCols(tablePath)
    physSchema.fieldNames.toSeq.filterNot(dropped.contains)
      .map(p => phys2log.getOrElse(p, p))
  }

  /** Conservative word-boundary textual check — may over-match (a string
    * literal containing the name), never under-matches an identifier.
    */
  private def referencesColumn(exprSql: String, name: String): Boolean =
    java.util.regex.Pattern
      .compile("(?i)(?<![A-Za-z0-9_`])" +
        java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_`])")
      .matcher(exprSql).find()

  private def requireRemappable(tablePath: String, logical: String,
      physical: String, verb: String): Unit = {
    require(!readPartitioning(tablePath).contains(physical),
      s"$verb rejected: '$logical' is a partition column (physical " +
        s"'$physical' is baked into the directory layout)")
    readIdentity(tablePath).foreach { case (idc, _) =>
      require(idc != physical,
        s"$verb rejected: '$logical' is the identity column")
    }
    readGenerated(tablePath).foreach { case (c, e) =>
      require(c != physical && !referencesColumn(e, physical),
        s"$verb rejected: '$logical' is generated or referenced by " +
          s"generated column '$c' ($e)")
    }
    readConstraints(tablePath).foreach { case (n, p) =>
      require(!referencesColumn(p, physical),
        s"$verb rejected: '$logical' is referenced by constraint '$n' ($p)")
    }
  }

  /** Metadata-only RENAME COLUMN — O(1) at any table size. */
  def renameColumn(tablePath: String, from: String, to: String): Unit =
    withCommitLock(tablePath) {
      require(to.nonEmpty && !to.contains('\t') && !to.contains('\n'),
        s"bad column name: '$to'")
      val map = readColumnMap(tablePath)
      val cols = logicalColumns(tablePath)
      require(cols.contains(from),
        s"rename rejected: no column '$from' on $tablePath " +
          s"(columns: ${cols.mkString(", ")})")
      val physical = map.getOrElse(from, from)
      // no physical-name reuse, ever: keeps toPhysical idempotent and
      // every physical name meaning exactly one column for all time
      val physSchema = readTableSchema(tablePath).get
      require(to == physical ||
          (!physSchema.fieldNames.contains(to) &&
            !readDroppedCols(tablePath).contains(to) && !cols.contains(to)),
        s"rename rejected: name '$to' is already in use on $tablePath")
      requireRemappable(tablePath, from, physical, "rename")
      writeColumnMap(tablePath, (map - from) ++
        (if (to == physical) Map.empty[String, String]
         else Map(to -> physical)))
    }

  /** Metadata-only DROP COLUMN: the data files are untouched; the
    * column's physical name is retired permanently.
    */
  def dropColumn(tablePath: String, name: String): Unit =
    withCommitLock(tablePath) {
      val map = readColumnMap(tablePath)
      val cols = logicalColumns(tablePath)
      require(cols.contains(name),
        s"drop rejected: no column '$name' on $tablePath " +
          s"(columns: ${cols.mkString(", ")})")
      require(cols.size > 1, s"drop rejected: '$name' is the last column")
      val physical = map.getOrElse(name, name)
      requireRemappable(tablePath, name, physical, "drop")
      writeColumnMap(tablePath, map - name)
      Files.writeString(Paths.get(droppedColsPath(tablePath)),
        physical + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }

  private def writeColumnMap(tablePath: String,
      map: Map[String, String]): Unit =
    writeAtomic(Paths.get(columnMapPath(tablePath)), map.toSeq.sortBy(_._1)
      .map { case (l, ph) => s"$l\t$ph" }.mkString("", "\n", "\n"))

  // ---------------------------------------------------------------------
  // Partitioning — hive-style partitioned committed tables. The partition
  // columns are recorded once in the log; appends lay files out under
  // `col=value/` directories, and every rewrite preserves the layout.
  // Partition values become per-file stats FOR FREE (a file under `k=v/`
  // provably has k == v in every row), so the same skippingPlan machinery
  // that prunes on data-column footers prunes on partition keys — and
  // deleteRange / compactWhere on a partition key touch exactly that
  // partition's files. At 100 TB this is the first-order pruning lever.

  def partitioningPath(tablePath: String): String =
    s"$tablePath/_graft_log/partitioning.txt"

  def readPartitioning(tablePath: String): Seq[String] = {
    val p = Paths.get(partitioningPath(tablePath))
    if (Files.exists(p))
      Files.readString(p).linesIterator.filter(_.nonEmpty).toSeq
    else Nil
  }

  /** Partition-dir-derived per-file stats (numeric partition values
    * only; string partitions stay unprunable-but-correct, like string
    * data columns). Bounds widened one ulp under the same lossy-long
    * convention as the footer stats.
    */
  private def partitionStats(tablePath: String,
      files: Seq[java.nio.file.Path]): Seq[(String, String, Double, Double)] = {
    val root = Paths.get(tablePath)
    files.flatMap { p =>
      val rel = root.relativize(p)
      (0 until math.max(0, rel.getNameCount - 1))
        .map(rel.getName(_).toString).flatMap { seg =>
          seg.split("=", 2) match {
            case Array(k, vs) =>
              try {
                val d = vs.toDouble
                if (java.lang.Double.isFinite(d))
                  Some((p.getFileName.toString, k,
                    Math.nextDown(d), Math.nextUp(d)))
                else None
              } catch { case _: NumberFormatException => None }
            case _ => None
          }
        }
    }
  }

  /** Move every staged parquet file into the table with version-unique
    * names, PRESERVING partition subdirectories, stamped with commit
    * time (vacuum safety). Caller holds the commit lock.
    */
  private def moveStagedIn(tablePath: String, stage: String,
      prefix: String, v: Long,
      only: Option[Seq[java.io.File]] = None): Seq[java.nio.file.Path] = {
    val stageRoot = Paths.get(stage)
    // `only` = commit EXACTLY these files (the write's per-task commit
    // messages): a task attempt that published its file but died
    // before reporting leaves a visible orphan in the stage dir, and
    // sweeping the dir blind would ingest both it and its retry's twin
    val parts = only.getOrElse(listDataFiles(new java.io.File(stage))
        .filter(_.getName.endsWith(".parquet")))
      .sortBy(_.getAbsolutePath)
    val now = System.currentTimeMillis()
    parts.zipWithIndex.map { case (f, i) =>
      val rel = stageRoot.relativize(f.toPath)
      val destDir = Option(rel.getParent)
        .map(p => Paths.get(tablePath).resolve(p))
        .getOrElse(Paths.get(tablePath))
      Files.createDirectories(destDir)
      val dest = destDir.resolve(f"${prefix}_v$v%06d_p$i%04d.parquet")
      Files.move(f.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toFile.setLastModified(now)
      dest
    }
  }

  /** Remove a consumed stage dir AND its `…__stage` parent when that
    * was the last stage in it — `File.delete()` on a directory
    * succeeds only when empty, so a concurrent writer's live stage
    * keeps the parent alive (no lock needed). Without this every
    * staged commit litters an empty `<table>__stage/` sibling.
    */
  private def dropStage(stage: String): Unit = {
    val f = new java.io.File(stage)
    deleteRecursively(f)
    Option(f.getParentFile)
      .filter(_.getName.endsWith("__stage"))
      .foreach(_.delete())
  }

  /** Optimistically commit an append: stage the write OUTSIDE the lock
    * (the Spark job), then under the lock move the staged files into the
    * table with version-unique names and advance the version. Returns the
    * committed version. The lock timeout is generous because a rewrite's
    * final (lock-held) attempt may legitimately hold the lock for the
    * duration of a full compaction job.
    *
    * `partitionBy` (first commit) declares hive-style partitioning; later
    * appends inherit the recorded layout automatically and a conflicting
    * declaration is rejected.
    */
  def commitAppend(spark: SparkSession, tablePath: String,
      df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val recorded = readPartitioning(tablePath)
    require(partitionBy.isEmpty || recorded.isEmpty ||
        partitionBy == recorded,
      s"$tablePath is partitioned by $recorded; append declared " +
        s"$partitionBy")
    val partCols = if (partitionBy.nonEmpty) partitionBy else recorded
    // incoming batches are LOGICALLY named — translate renamed columns to
    // their physical names first, so generated/identity/constraint
    // machinery and the staged files stay physically consistent
    val dfP = toPhysicalDf(tablePath, df)
    // generated columns the batch omitted are computed here (so they can
    // be partition columns); provided ones are validated on the stage
    val df0 = computeGenerated(tablePath, dfP)
    // identity allocation: reserve the id range under a SHORT lock, then
    // assign and stage UNLOCKED (zipWithIndex path — no global window)
    val df1 = readIdentity(tablePath) match {
      case Some((idc, _)) if !df0.columns.contains(idc) =>
        val snap = df0.localCheckpoint()
        val n = snap.count()
        val start = withCommitLock(tablePath) {
          val (c, next) = readIdentity(tablePath).get
          writeIdentity(tablePath, c, next + n)
          next
        }
        IdAssign.withSequentialIds(snap, start - 1, idc)
      case _ => df0
    }
    val stage = s"${tablePath}__stage/${java.util.UUID.randomUUID()}"
    val w0 = df1.write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) w0.partitionBy(partCols: _*) else w0)
      .parquet(stage)
    // constraints check the STAGED files, not `df`: what is validated is
    // byte-for-byte what would land, immune to a nondeterministic input
    // plan re-evaluating differently. Runs outside the lock (it is a
    // Spark job); a violation deletes the stage and nothing ever moved.
    enforceConstraints(spark, tablePath,
      () => spark.read.parquet(stage), s"append(stage=$stage)",
      cleanup = () => deleteRecursively(new java.io.File(stage)))
    validateGenerated(spark, tablePath,
      () => spark.read.parquet(stage), "append",
      cleanup = () => deleteRecursively(new java.io.File(stage)))
    try withCommitLock(tablePath, timeoutMs = 600000L) {
      // first commit to a fresh table: the target dir must exist before
      // files can be renamed into it
      Files.createDirectories(Paths.get(tablePath))
      // schema enforcement BEFORE any file lands: an incompatible append
      // must leave the table untouched
      Files.createDirectories(Paths.get(tablePath, "_graft_log"))
      // bootstrapping a pre-protocol table: seed the tracked schema from
      // the existing PARQUET files first, so their columns are part of
      // the merge rather than silently shadowed by the first append's
      // schema (a dir holding only _SUCCESS/.crc markers is fresh — plain
      // inference over it would throw, not bootstrap)
      if (readTableSchema(tablePath).isEmpty &&
          listParquetFiles(new java.io.File(tablePath)).nonEmpty)
        mergeAndWriteSchema(tablePath, spark.read.parquet(tablePath).schema)
      mergeAndWriteSchema(tablePath, df1.schema)
      // explicit identity values provided: the high-water mark must
      // clear them so later allocations can never collide
      readIdentity(tablePath).foreach { case (idc, next) =>
        if (dfP.columns.contains(idc)) {
          val mx = spark.read.parquet(stage)
            .agg(max(col(idc).cast("long"))).first()
          if (!mx.isNullAt(0) && mx.getLong(0) >= next)
            writeIdentity(tablePath, idc, mx.getLong(0) + 1L)
        }
      }
      if (partCols.nonEmpty && recorded.isEmpty)
        Files.writeString(Paths.get(partitioningPath(tablePath)),
          partCols.mkString("", "\n", "\n"))
      val v = readVersion(tablePath) + 1
      // moveStagedIn stamps COMMIT time, not staging mtime — vacuum
      // safety: a staging mtime can predate a rewrite's registry snapshot
      // taken while this appender queued on the lock, making a committed
      // append look like a pre-registry orphan. Also registered as live
      // (when a registry exists) for the same reason.
      val committed = moveStagedIn(tablePath, stage, "append", v)
      val reg = Paths.get(liveFilesPath(tablePath))
      if (Files.exists(reg)) {
        val root = Paths.get(tablePath)
        Files.writeString(reg,
          committed.map(p => root.relativize(p).toString)
            .mkString("", "\n", "\n"),
          java.nio.file.StandardOpenOption.APPEND)
      }
      // time-travel log: this commit contributes only its ADD delta. A
      // bootstrapped table (parquet predating the protocol) first writes
      // its pre-commit listing as the full base at v-1, so v-1
      // time-travels to the bootstrap state and v resolves as base+add.
      val root = Paths.get(tablePath)
      val committedRel = committed.map(p => root.relativize(p).toString)
      if (readSnapshot(tablePath, v - 1).isEmpty) {
        val bootstrap = listParquetFiles(new java.io.File(tablePath))
          .map(f => root.relativize(f.toPath).toString)
          .filterNot(committedRel.contains)
        if (bootstrap.nonEmpty)
          writeFileList(snapshotFullPath(tablePath, v - 1), bootstrap)
      }
      writeFileList(snapshotAddPath(tablePath, v), committedRel)
      // per-file stats from the committed files' footers (metadata-only,
      // no data scan) — recorded under their final names so skippingPlan
      // keys match the live listing. Partition-dir values join them as
      // min=max stats, so partition keys prune like data columns; the
      // exact agg-stats manifest records alongside from the SAME footer
      // read (one tail per file, parallel — commits are the hot path).
      recordFooterManifests(spark, tablePath, committed)
      writeVersion(tablePath, v)
      v
    } finally dropStage(stage)
  }

  // ---------------------------------------------------------------------
  // Streaming SINK support: idempotent transaction markers (Delta's
  // txn appId/version mechanism) plus a commit path for files a
  // streaming epoch already staged. `_graft_log/streamtxn/<appId>.txt`
  // records the last committed epoch per writing query; a replayed
  // epoch (Structured Streaming re-delivers after failure) commits
  // NOTHING the second time — the exactly-once half the file-rename
  // sink cannot give.

  def streamTxnPath(tablePath: String, appId: String): String = {
    require(appId.matches("[A-Za-z0-9_-]+"),
      s"stream txn appId '$appId' is not path-safe")
    s"$tablePath/_graft_log/streamtxn/$appId.txt"
  }

  def readStreamTxn(tablePath: String, appId: String): Option[Long] = {
    val p = Paths.get(streamTxnPath(tablePath, appId))
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Commit files a streaming epoch ALREADY STAGED (visible
    * `*.parquet` under `stage`, partition subdirs preserved) as one
    * append version — the sink half of the commit protocol, sharing
    * commitAppend's lock-held tail: schema merge + enforcement,
    * version-unique renames, live registry, add-delta snapshot,
    * pruning stats AND the exact agg-stats manifest, so a table fed by
    * the streaming sink plans/aggregates exactly like a batch-built
    * one (and the version-tailing SOURCE can follow it downstream).
    *
    * Returns Some(version), or None when `txn` shows the epoch was
    * already committed (replay after a failure — the stage is
    * discarded) or the stage held no files (an empty epoch records the
    * txn watermark but never writes an empty version).
    *
    * `txn` is Some((appId, epochId)) for a streaming epoch (the
    * exactly-once replay guard); None for a one-shot batch caller (the
    * DSv2 batch append route), which has no replay to guard against.
    *
    * `only` commits EXACTLY the listed staged files (the write's
    * per-task commit messages): a task attempt that published its file
    * at task commit but died before reporting success leaves a visible
    * orphan in the stage dir, and the retried attempt stages a twin
    * under a different taskId — sweeping the stage blind would ingest
    * both and break exactly-once. None sweeps the stage (trusted
    * single-writer stages, e.g. commitAppend's own).
    *
    * Tables with declared CONSTRAINTS, GENERATED or IDENTITY columns —
    * or a COLUMN MAP (renamed columns) — reject loudly: the
    * validations run Spark jobs over the staged data, and the map
    * needs logical→physical translation, neither of which a sink's
    * epoch commit (driver-side, inside the stream's commit path)
    * should do. Use foreachBatch + commitAppend when those table
    * features are in play.
    */
  def commitStagedAppend(spark: SparkSession, tablePath: String,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String], txn: Option[(String, Long)],
      only: Option[Seq[java.io.File]] = None): Option[Long] = {
    try {
      require(readConstraints(tablePath).isEmpty &&
          readGenerated(tablePath).isEmpty &&
          readIdentity(tablePath).isEmpty,
        s"$tablePath declares constraints/generated/identity columns " +
          "— the streaming sink cannot validate them per-epoch; use " +
          "foreachBatch with commitAppend")
      require(readColumnMap(tablePath).isEmpty,
        s"$tablePath has renamed columns (a column map) — staged " +
          "appends cannot translate logical names; use foreachBatch " +
          "with commitAppend")
      val recorded = readPartitioning(tablePath)
      require(partitionBy.isEmpty || recorded.isEmpty ||
          partitionBy == recorded,
        s"$tablePath is partitioned by $recorded; the stream declared " +
          s"$partitionBy")
      val staged = only.getOrElse(
        listParquetFiles(new java.io.File(stage)))
      withCommitLock(tablePath, timeoutMs = 600000L) {
        if (txn.exists { case (appId, epoch) =>
            readStreamTxn(tablePath, appId).exists(_ >= epoch) })
          None // replayed epoch: already committed, discard the stage
        else {
        Files.createDirectories(Paths.get(tablePath))
        Files.createDirectories(Paths.get(tablePath, "_graft_log"))
        if (readTableSchema(tablePath).isEmpty &&
            listParquetFiles(new java.io.File(tablePath)).nonEmpty)
          mergeAndWriteSchema(tablePath,
            spark.read.parquet(tablePath).schema)
        mergeAndWriteSchema(tablePath, schema)
        val partCols =
          if (partitionBy.nonEmpty) partitionBy else recorded
        if (partCols.nonEmpty && recorded.isEmpty)
          Files.writeString(Paths.get(partitioningPath(tablePath)),
            partCols.mkString("", "\n", "\n"))
        val committedV: Option[Long] =
          if (staged.isEmpty) None
          else {
            val v = readVersion(tablePath) + 1
            val committed = moveStagedIn(tablePath, stage,
              if (txn.isDefined) "stream" else "append", v, Some(staged))
            val reg = Paths.get(liveFilesPath(tablePath))
            val root = Paths.get(tablePath)
            if (Files.exists(reg))
              Files.writeString(reg,
                committed.map(p => root.relativize(p).toString)
                  .mkString("", "\n", "\n"),
                java.nio.file.StandardOpenOption.APPEND)
            val committedRel =
              committed.map(p => root.relativize(p).toString)
            if (readSnapshot(tablePath, v - 1).isEmpty) {
              val bootstrap = listParquetFiles(new java.io.File(tablePath))
                .map(f => root.relativize(f.toPath).toString)
                .filterNot(committedRel.contains)
              if (bootstrap.nonEmpty)
                writeFileList(snapshotFullPath(tablePath, v - 1),
                  bootstrap)
            }
            writeFileList(snapshotAddPath(tablePath, v), committedRel)
            recordFooterManifests(spark, tablePath, committed)
            writeVersion(tablePath, v)
            Some(v)
          }
        txn.foreach { case (appId, epoch) =>
          writeAtomic(Paths.get(streamTxnPath(tablePath, appId)),
            epoch.toString + "\n")
        }
        committedV
        }
      }
    } finally dropStage(stage)
  }

  /** Streaming reads of a committed table — the engine analogue of using a
    * Delta table as a streaming SOURCE (`spark.readStream.format("delta")`;
    * the reference's silver hop streams from its bronze Delta table,
    * etl.py:30-32). Composed from Spark's file streaming source, which
    * already does exactly the right thing for an append-only table: each
    * micro-batch processes the files that appeared since the checkpoint,
    * exactly once, resumable. The commit protocol supplies what the file
    * source lacks — the tracked schema (no inference scan, evolved columns
    * surface as null in pre-evolution files).
    *
    * Constraint, stated rather than hidden: like Delta before
    * `skipChangeCommits`, a REWRITE (compact/cluster) under a live stream
    * would re-surface rewritten rows as new files. Pause maintenance while
    * streaming readers are attached, or run [[maybeCompact]] between
    * streaming windows — the one-writer-per-table layout this engine uses
    * already serializes those.
    */
  def streamTable(spark: SparkSession, tablePath: String): DataFrame = {
    val schema = readTableSchema(tablePath).getOrElse(
      throw new IllegalStateException(
        s"$tablePath has no tracked schema — not a committed table " +
          "(streaming reads need the commit protocol; use commitAppend)"))
    applyColumnMap(tablePath, spark.readStream
      .schema(schema)
      // only committed data files: never _graft_log, staging, or markers
      .option("pathGlobFilter", "*.parquet")
      .parquet(tablePath))
  }

  // ---------------------------------------------------------------------
  // RESTORE — Delta's `RESTORE TABLE ... TO VERSION AS OF` analogue: make
  // the table's CURRENT state equal a recorded snapshot. Files added after
  // that version leave the data directory (quarantined under
  // `_graft_log/restored_out/` rather than deleted, so an operator can
  // still recover them by hand); versions that referenced them become
  // unreadable and readAsOf reports them loudly — the engine's usual
  // honest-reclaim convention (same as rewrites). The restore itself
  // commits a NEW version whose full snapshot is the restored file set,
  // so history keeps moving forward and a later append continues the
  // version chain.

  def restoreTo(spark: SparkSession, tablePath: String,
      version: Long): Long =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      // restoring BEFORE a deletion-vector version would revive file
      // names that the later vectors still match — readers would apply
      // deletes the restored version never saw. Loud stop, like the CDF
      // restore contract.
      val laterDvs = dvVersions(tablePath).filter(_ > version)
      if (laterDvs.nonEmpty) throw new IllegalStateException(
        s"cannot restore $tablePath to v$version across deletion-vector " +
          s"version(s) ${laterDvs.mkString(", ")} — their vectors would " +
          "still apply to the revived files; applyDeleteVectors first")
      val files = readSnapshot(tablePath, version).getOrElse(
        throw new IllegalArgumentException(
          s"$tablePath has no snapshot for version $version"))
      val root = Paths.get(tablePath)
      val missing =
        files.filterNot(f => resolveHistoric(tablePath, f).isDefined)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"cannot restore $tablePath to v$version: " +
            s"${missing.size} file(s) reclaimed by a rewrite " +
            s"(first: ${missing.head})")
      // a restore across a DELETE: files the delete quarantined move back
      // into the live set — RESTORE undoes DELETE, Delta parity
      files.foreach { f =>
        val live = root.resolve(f)
        if (!Files.exists(live)) {
          Files.createDirectories(live.getParent)
          Files.move(Paths.get(removedPath(tablePath), f), live,
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
      val restored = files.toSet
      val extra = listParquetFiles(new java.io.File(tablePath))
        .map(f => root.relativize(f.toPath).toString)
        .filterNot(restored.contains)
      val quarantine = root.resolve("_graft_log")
        .resolve("restored_out").resolve(f"v$version%06d")
      extra.foreach { rel =>
        val dest = quarantine.resolve(rel)
        Files.createDirectories(dest.getParent)
        Files.move(root.resolve(rel), dest, StandardCopyOption.ATOMIC_MOVE)
      }
      // stats entries of quarantined files would pin dead names — drop
      // them; the restored files keep theirs (keys are basenames)
      val keptNames = restored.map(f => Paths.get(f).getFileName.toString)
      val keptStats = readFileStats(tablePath).toSeq.collect {
        case ((f, c), (lo, hi)) if keptNames.contains(f) => (f, c, lo, hi)
      }
      writeFileStats(tablePath, keptStats, append = false)
      // files recovered from the delete quarantine lost their stats at
      // delete time — backfill from their footers (metadata-only read)
      // plus partition-dir values, so the restored table skips files as
      // well as the original did
      val statless = keptNames -- keptStats.map(_._1).toSet
      if (statless.nonEmpty) {
        val byName = listParquetFiles(new java.io.File(tablePath))
          .map(f => f.getName -> f).toMap
        val files = statless.toSeq.sorted.flatMap(byName.get)
        writeFileStats(tablePath,
          footerStats(spark, files) ++
            partitionStats(tablePath, files.map(_.toPath)),
          append = true)
      }
      // live-file registry follows the restored set (vacuum safety)
      val reg = Paths.get(liveFilesPath(tablePath))
      if (Files.exists(reg))
        writeAtomic(reg, files.mkString("", "\n", "\n"))
      val v = readVersion(tablePath) + 1
      writeFileList(snapshotFullPath(tablePath, v), files)
      writeFileList(snapshotRestorePath(tablePath, v), files)
      writeVersion(tablePath, v)
      v
    }

  // ---------------------------------------------------------------------
  // SHALLOW CLONE — Delta's `CREATE TABLE dst SHALLOW CLONE src`
  // (zero-copy table fork; the reference gets it from Delta for dev/test
  // sandboxes over production tables). A clone is a new, independently
  // committable table created in O(metadata): every parquet file (live
  // data, delete-quarantined originals, CDC change files) is HARD-LINKED
  // — same inode, no bytes moved — and the log's small text/json metadata
  // is copied. The protocol never mutates a committed parquet file in
  // place (appends add, rewrites replace, deletes quarantine), so shared
  // inodes stay correct forever; and because a link is a first-class
  // directory entry, a rewrite or VACUUM on either side merely unlinks
  // that side's NAME while the other side's link keeps the data alive.
  // That makes this clone strictly SAFER than Delta's shallow clone,
  // whose pointer-based clones break when the source is vacuumed.
  // The clone carries the FULL commit history — snapshots, change feed,
  // per-file stats, bloom indexes, constraints, identity marks, schema,
  // partitioning — so time travel / readChangesBetween / skippingPlan
  // behave identically on the clone; from that point the two version
  // chains diverge commit by commit.
  // Cost model at 100 TB: O(files) driver-side metadata work and zero
  // data I/O on a POSIX/HDFS-style store; on an object store without
  // links the same call degrades to a server-side copy (the fallback
  // below), still never streaming bytes through the driver.

  def cloneProvenancePath(tablePath: String): String =
    s"$tablePath/_graft_log/clone_of.txt"

  /** (source path, source version at clone time) for a cloned table. */
  def cloneOrigin(tablePath: String): Option[(String, Long)] =
    readFileList(cloneProvenancePath(tablePath)).collect {
      case Seq(src, v) => (src, v.toLong)
    }

  /** Clone `srcPath` into the empty/nonexistent `dstPath`. Runs under the
    * SOURCE's commit lock so the copied log and linked files are one
    * consistent snapshot (no commit lands mid-walk). Returns the source
    * version the clone was taken at (also the clone's own version).
    */
  def shallowClone(srcPath: String, dstPath: String): Long =
    withCommitLock(srcPath) {
      val v = readVersion(srcPath)
      require(v > 0,
        s"$srcPath is not a committed table (no _graft_log/version)")
      val dstF = new java.io.File(dstPath)
      require(!dstF.exists() ||
          Option(dstF.listFiles()).forall(_.isEmpty),
        s"clone destination $dstPath already exists and is not empty")
      val srcRoot = Paths.get(srcPath)
      val dstRoot = Paths.get(dstPath)
      def place(f: java.io.File): Unit = {
        val dest = dstRoot.resolve(srcRoot.relativize(f.toPath))
        Files.createDirectories(dest.getParent)
        if (f.getName.endsWith(".parquet")) {
          // hard link; fall back to a copy where the store lacks links
          // (cross-device, object-store mounts) — semantics unchanged,
          // cost degrades from O(1) to one server-side copy per file
          try Files.createLink(dest, f.toPath)
          catch {
            case _: UnsupportedOperationException |
                _: java.nio.file.FileSystemException =>
              Files.copy(f.toPath, dest,
                StandardCopyOption.COPY_ATTRIBUTES)
          }
        } else Files.copy(f.toPath, dest,
          StandardCopyOption.COPY_ATTRIBUTES)
      }
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          Option(f.listFiles()).foreach(_.sortBy(_.getName).foreach(walk))
        else place(f)
      Files.createDirectories(dstRoot)
      walk(srcRoot.toFile)
      // NOT writeFileList (it sorts): line order here is (path, version)
      Files.writeString(Paths.get(cloneProvenancePath(dstPath)),
        s"$srcPath\n$v\n")
      v
    }

  /** Clone `srcPath` AS OF a recorded `version` — Delta's
    * `CLONE src VERSION AS OF n`. The clone is taken in full (links are
    * free) and then rewound by the ordinary restore machinery, which
    * quarantines the post-version files IN THE CLONE ONLY; the source
    * is never touched. Returns the clone's version (the restore commit).
    */
  def shallowCloneAsOf(spark: SparkSession, srcPath: String,
      dstPath: String, version: Long): Long = {
    shallowClone(srcPath, dstPath)
    restoreTo(spark, dstPath, version)
  }

  // ---------------------------------------------------------------------
  // Per-file column statistics + data skipping — the engine analogue of
  // Delta's `add.stats` minValues/maxValues. Parquet row-group stats only
  // prune within a file the reader already opened; these prune the FILE
  // LIST before the scan is planned, which at 100 TB is the difference
  // between opening a handful of files and opening all of them.
  //
  // Stats come from the parquet FOOTERS of just-committed files — a
  // driver-side metadata read, O(files), no data scan (the same way Delta
  // backfills stats). Recorded as one TSV line per (file, numeric column):
  // `file \t column \t min \t max`, under `_graft_log/filestats.tsv`.
  // Bounds are widened one ulp at record time so a lossy long→double
  // conversion can never EXCLUDE a matching value; pruning is therefore
  // conservative — a skipped file provably holds no row in range, and a
  // file with no recorded stats (pre-feature bootstrap data) is always
  // scanned.

  def fileStatsPath(tablePath: String): String =
    s"$tablePath/_graft_log/filestats.tsv"

  /** Footer min/max for every plain-numeric FLAT leaf of `files`
    * (INT32/INT64 unannotated or signed-int annotated — Spark's
    * byte/short encoding — plus FLOAT and DOUBLE), read through the
    * repo's own tail reader on the bounded planning pool: one
    * positional footer read per file, overlapped across files, where
    * the old parquet-mr sweep serialized them. Columns with NaN
    * bounds, stat-less row groups, or any other annotation (dates,
    * decimals, timestamps) are left stat-less — unprunable, never
    * wrong. Bounds widen one ulp so pruning stays conservative after
    * the double round-trip.
    */
  private def footerStats(spark: SparkSession, files: Seq[java.io.File])
      : Seq[(String, String, Double, Double)] =
    graft.sources.GraftParquet.planPar(files) { f =>
      rangeStatsFromFooter(f.getName, ParquetFooter.readTail(f.toPath))
    }

  /** The pruning-range entries one already-read footer contributes to
    * `filestats.tsv` — shared by [[footerStats]] and the fused
    * commit-time pass ([[recordFooterManifests]]).
    */
  private def rangeStatsFromFooter(fileName: String,
      footer: ParquetFooter.PqFooter)
      : Seq[(String, String, Double, Double)] = {
    val okCols: Set[String] = flatLeaves(footer.schema).collect {
      case l if Seq(1, 2, 4, 5).contains(l.physicalType) &&
          (l.convertedType match {
            case None => !l.hasLogicalType
            case Some(ct) => ct >= 15 && ct <= 18 // signed INT_8..64
          }) => l.name
    }.toSet
    val acc = scala.collection.mutable
      .LinkedHashMap[String, (Double, Double)]()
    var dropped = Set.empty[String] // any stat-less group kills the col
    for (rg <- footer.rowGroups; c <- rg.columns
        if okCols.contains(c.path)) {
      (c.minValue, c.maxValue) match {
        case (Some(mn), Some(mx)) =>
          val lo = ParquetFooter.statDouble(c.physicalType, mn)
          val hi = ParquetFooter.statDouble(c.physicalType, mx)
          if (lo.isNaN || hi.isNaN || lo.isInfinite || hi.isInfinite)
            dropped += c.path
          else {
            val prev = acc.getOrElse(c.path,
              (Double.PositiveInfinity, Double.NegativeInfinity))
            acc(c.path) =
              (math.min(prev._1, lo), math.max(prev._2, hi))
          }
        case _ => dropped += c.path
      }
    }
    (acc -- dropped).toSeq.map { case (cn, (lo, hi)) =>
      (fileName, cn, Math.nextDown(lo), Math.nextUp(hi))
    }
  }

  /** Flat top-level leaves of a footer schema (numChildren == 0
    * directly under the root) — the only shape the stat manifests
    * record and the agg planner answers from.
    */
  private def flatLeaves(s: Seq[ParquetFooter.PqSchemaField])
      : Seq[ParquetFooter.PqSchemaField] = {
    var i = 1
    val out = Seq.newBuilder[ParquetFooter.PqSchemaField]
    def skip(f: ParquetFooter.PqSchemaField): Unit =
      (0 until f.numChildren).foreach { _ => val k = s(i); i += 1
        skip(k) }
    (0 until s.head.numChildren).foreach { _ =>
      val f = s(i); i += 1
      if (f.numChildren == 0) out += f else skip(f)
    }
    out.result()
  }

  private def writeFileStats(tablePath: String,
      entries: Seq[(String, String, Double, Double)], append: Boolean): Unit = {
    val p = Paths.get(fileStatsPath(tablePath))
    Files.createDirectories(p.getParent)
    val lines = entries.map { case (f, c, lo, hi) => s"$f\t$c\t$lo\t$hi" }
      .mkString("", "\n", if (entries.isEmpty) "" else "\n")
    if (append && Files.exists(p))
      Files.writeString(p, lines, java.nio.file.StandardOpenOption.APPEND)
    else writeAtomic(p, lines) // full rewrite races unlocked readers
  }

  /** ((file, column) → (lo, hi)); empty for a stats-less table. */
  def readFileStats(tablePath: String)
      : Map[(String, String), (Double, Double)] = {
    val p = Paths.get(fileStatsPath(tablePath))
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { ln =>
      val a = ln.split('\t')
      (a(0), a(1)) -> (a(2).toDouble, a(3).toDouble)
    }.toMap
  }

  // ---------------------------------------------------------------------
  // EXACT per-file aggregate statistics, `_graft_log/aggstats.tsv` —
  // the manifest that answers PUSHED AGGREGATES over a committed table
  // without touching a single file byte. `filestats.tsv` cannot serve
  // them: its bounds are ulp-widened doubles (pruning-only,
  // conservative-by-construction), while COUNT/MIN/MAX need the exact
  // values. So each append also records, from the committed files'
  // footer tails read through the from-scratch [[ParquetFooter]]:
  //   F \t <relpath> \t <rows>
  //   C \t <relpath> \t <col> \t <nullCount|-> \t <mmExact 0|1>
  //     \t <min|-> \t <max|-> \t <physicalType> \t <convertedType|->
  //     \t <sExact 0|1> \t <sMin b64|-> \t <sMax b64|->
  // for every FLAT top-level leaf — null counts for all of them
  // (COUNT(col)), exact min/max longs only for the int-backed family
  // (INT32/INT64 without DECIMAL annotation: the same domain the agg
  // planner's `statTyped` decodes — Byte/Short/Int/Date up through
  // Long/Timestamp, every one order-isomorphic to its sign-extended
  // long). Fold semantics mirror the planner's footer sweep exactly:
  // empty and all-null row groups contribute nothing; a non-empty,
  // not-all-null row group missing a stat poisons that column ('-' —
  // the planner then falls back to data). At 100 TB the payoff is the
  // planning IO shape: a pushed COUNT/MIN/MAX over a million-file
  // committed table reads ONE manifest instead of a million footer
  // tails (sequential, driver-side — the r17 scale seam). A file the
  // manifest does not cover (pre-feature bootstrap data, rewritten
  // files from compact/delete/merge) makes the planner fall back to
  // footer tails for the whole table — slower, never wrong.

  def aggStatsPath(tablePath: String): String =
    s"$tablePath/_graft_log/aggstats.tsv"

  /** One column's exact commit-time stats: total null count when every
    * row group carried one; for int-backed leaves, exact min/max in
    * the sign-extended long domain. `mmExact` keeps the two meanings
    * of an absent extreme apart: true + None = PROVABLY no non-null
    * value exists (a legal SQL-null extreme), false = some row group
    * lacked the stat (the planner must reject). The recorded
    * physical/converted pair lets the planner re-derive the Spark type
    * without opening the file.
    *
    * `sExact`/`sMin`/`sMax` are the STRING twins (UTF8/ENUM leaves):
    * exact byte extremes in unsigned order, recorded ONLY when the
    * file's writer provably never truncates binary stats (the
    * created_by gate, checked at commit time) — what lets string
    * MIN/MAX and string TOP-N answer from the manifest with zero file
    * IO. Lines written before this field existed parse with
    * `sExact = false` (the planner then falls to the footer tier).
    */
  final case class AggColStat(nullCount: Option[Long],
      mmExact: Boolean, min: Option[Long], max: Option[Long],
      physicalType: Int, convertedType: Option[Int],
      sExact: Boolean = false, sMin: Option[Array[Byte]] = None,
      sMax: Option[Array[Byte]] = None)

  /** file-relative-path → (rows, column → stats). */
  def readAggStats(tablePath: String)
      : Map[String, (Long, Map[String, AggColStat])] = {
    val p = Paths.get(aggStatsPath(tablePath))
    if (!Files.exists(p)) return Map.empty
    val rows = scala.collection.mutable.Map[String, Long]()
    val cols = scala.collection.mutable
      .Map[String, scala.collection.mutable.Map[String, AggColStat]]()
    Files.readString(p).linesIterator.filter(_.nonEmpty).foreach { ln =>
      // limit -1: an all-empty-string column encodes sMin/sMax as EMPTY
      // base64, leaving trailing empty TSV fields — the default split
      // drops them, the line parses 10-11 fields wide, and the recorded
      // extremes silently degrade to the footer tier. Keeping trailing
      // empties lets the legal empty-string extreme round-trip.
      val a = ln.split("\t", -1)
      def opt(s: String): Option[Long] =
        if (s == "-") None else Some(s.toLong)
      a(0) match {
        case "F" => rows(a(1)) = a(2).toLong
        case "C" =>
          // pre-string-stats lines (9 fields) parse with sExact=false
          def optB(i: Int): Option[Array[Byte]] =
            if (a.length < 12 || a(i) == "-") None
            else Some(java.util.Base64.getDecoder.decode(a(i)))
          cols.getOrElseUpdate(a(1),
            scala.collection.mutable.Map.empty)(a(2)) =
            AggColStat(opt(a(3)), a(4) == "1", opt(a(5)), opt(a(6)),
              a(7).toInt, opt(a(8)).map(_.toInt),
              a.length >= 12 && a(9) == "1", optB(10), optB(11))
        case _ => () // forward compatibility: unknown row kinds skip
      }
    }
    rows.iterator.map { case (f, n) =>
      f -> (n, cols.get(f).map(_.toMap).getOrElse(Map.empty))
    }.toMap
  }

  /** The agg-manifest lines one already-read footer contributes to
    * the fused commit-time pass ([[recordFooterManifests]]).
    */
  private def aggLinesFromFooter(rel: String,
      footer: ParquetFooter.PqFooter): Seq[String] = {
      val leaves = flatLeaves(footer.schema)
      val rgs = footer.rowGroups
      val fileRows = rgs.map(_.numRows).sum
      // string extremes are recordable only when THIS file's writer
      // provably never truncates binary stats — the same created_by
      // gate the footer-tier planner re-checks per file
      val exactWriter =
        footer.createdBy.contains(ParquetWrite.createdBy)
      val colLines = leaves.map { leaf =>
        val chunks = rgs.map(rg => rg -> rg.columns.find(
          _.path == leaf.name))
        val nc: Option[Long] = {
          val ns = chunks.map(_._2.flatMap(_.nullCount))
          if (ns.exists(_.isEmpty)) None else Some(ns.flatten.sum)
        }
        val intBacked = Set(1, 2).contains(leaf.physicalType) &&
          !leaf.convertedType.contains(5)
        var mn: Option[Long] = None
        var mx: Option[Long] = None
        var exact = intBacked
        if (intBacked) {
          for ((rg, cOpt) <- chunks if exact && rg.numRows > 0)
            cOpt match {
              case Some(c) if c.nullCount.contains(rg.numRows) => ()
              case Some(c)
                  if c.minValue.isDefined && c.maxValue.isDefined =>
                val lo = ParquetFooter.statLong(leaf.physicalType,
                  c.minValue.get)
                val hi = ParquetFooter.statLong(leaf.physicalType,
                  c.maxValue.get)
                mn = Some(mn.fold(lo)(math.min(_, lo)))
                mx = Some(mx.fold(hi)(math.max(_, hi)))
              case _ => exact = false
            }
          if (!exact) { mn = None; mx = None }
        }
        // UTF8/ENUM leaves from the engine's own writer: exact byte
        // extremes in unsigned (= code point = UTF8String) order,
        // base64-framed so any value survives the TSV
        val strLeaf = leaf.physicalType == 6 &&
          (leaf.convertedType.contains(0) ||
            leaf.convertedType.contains(4))
        var smn: Option[Array[Byte]] = None
        var smx: Option[Array[Byte]] = None
        var sExact = strLeaf && exactWriter
        if (sExact) {
          for ((rg, cOpt) <- chunks if sExact && rg.numRows > 0)
            cOpt match {
              case Some(c) if c.nullCount.contains(rg.numRows) => ()
              case Some(c)
                  if c.minValue.isDefined && c.maxValue.isDefined =>
                val lo = c.minValue.get
                val hi = c.maxValue.get
                smn = Some(smn.filter(b => java.util.Arrays
                  .compareUnsigned(b, lo) <= 0).getOrElse(lo))
                smx = Some(smx.filter(b => java.util.Arrays
                  .compareUnsigned(b, hi) >= 0).getOrElse(hi))
              case _ => sExact = false
            }
          if (!sExact) { smn = None; smx = None }
        }
        def f(o: Option[Long]): String = o.fold("-")(_.toString)
        def b64(o: Option[Array[Byte]]): String = o.fold("-")(
          java.util.Base64.getEncoder.withoutPadding().encodeToString)
        s"C\t$rel\t${leaf.name}\t${f(nc)}\t${if (exact) "1" else "0"}" +
          s"\t${f(mn)}\t${f(mx)}\t${leaf.physicalType}" +
          s"\t${leaf.convertedType.fold("-")(_.toString)}" +
          s"\t${if (sExact) "1" else "0"}\t${b64(smn)}\t${b64(smx)}"
      }
      s"F\t$rel\t$fileRows" +: colLines
  }

  private def appendAggLines(tablePath: String,
      lines: Seq[String]): Unit = {
    if (lines.nonEmpty) {
      val p = Paths.get(aggStatsPath(tablePath))
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("", "\n", "\n"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** Both commit-time stat families from ONE footer-tail read per
    * committed file, overlapped on the bounded planning pool: the
    * pruning ranges for `filestats.tsv` and the exact agg-manifest
    * lines for `aggstats.tsv`. Commits are the engine's hottest
    * driver-side loop — before this fusion every committed file's
    * footer was read twice (once per manifest).
    */
  private def recordFooterManifests(spark: SparkSession, tablePath: String,
      committed: Seq[java.nio.file.Path]): Unit = {
    val root = Paths.get(tablePath)
    val perFile = graft.sources.GraftParquet.planPar(committed) { p =>
      val footer = ParquetFooter.readTail(p)
      Seq((rangeStatsFromFooter(p.getFileName.toString, footer),
        aggLinesFromFooter(root.relativize(p).toString, footer)))
    }
    writeFileStats(tablePath,
      perFile.flatMap(_._1) ++ partitionStats(tablePath, committed),
      append = true)
    appendAggLines(tablePath, perFile.flatMap(_._2))
  }

  // Fallback stats for files the commit protocol did not write (a
  // foreign-written parquet directory, or pre-feature bootstrap data):
  // derive [min, max] from the file's OWN footer via the from-scratch
  // [[graft.operators.ParquetFooter]] tail reader — O(footer) IO on the
  // driver, cached by (path, size, mtime) so repeated plans over an
  // unchanged file read its tail once. Only plain-unannotated numeric
  // leaves are trusted (INT32/INT64/FLOAT/DOUBLE with no converted or
  // logical type — a DATE-annotated INT32's stats live in a different
  // value domain than the query's bounds); every row group must carry
  // stats for the column or the file stays unprunable. Bounds widen one
  // ulp exactly like the commit-time path, so pruning stays
  // conservative: a skipped file provably holds no row in range.
  private val footerRangeCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long), Map[String, (Double, Double)]]()

  private def footerRanges(file: java.io.File)
      : Map[String, (Double, Double)] = {
    val key = (file.getAbsolutePath, file.length(), file.lastModified())
    footerRangeCache.computeIfAbsent(key, _ => {
      try {
        val f = graft.operators.ParquetFooter.readTail(file.toPath)
        // flat-leaf schema map: name -> field; nested paths (dotted)
        // are left unpruned — conservative, never wrong
        val leaves = f.schema.drop(1).filter(_.numChildren == 0)
          .map(sf => sf.name -> sf).toMap
        val acc = scala.collection.mutable.Map[String, (Double, Double)]()
        var dropped = Set.empty[String]
        for (rg <- f.rowGroups; c <- rg.columns) {
          val ok = !c.path.contains('.') && leaves.get(c.path).exists(
            sf => Seq(1, 2, 4, 5).contains(sf.physicalType) &&
              sf.convertedType.isEmpty && !sf.hasLogicalType)
          (c.minValue, c.maxValue) match {
            case (Some(mn), Some(mx)) if ok =>
              val lo = graft.operators.ParquetFooter
                .statDouble(c.physicalType, mn)
              val hi = graft.operators.ParquetFooter
                .statDouble(c.physicalType, mx)
              if (lo.isNaN || hi.isNaN) dropped += c.path
              else {
                val prev = acc.getOrElse(c.path,
                  (Double.PositiveInfinity, Double.NegativeInfinity))
                acc(c.path) = (math.min(prev._1, lo), math.max(prev._2, hi))
              }
            case _ => dropped += c.path
          }
        }
        (acc -- dropped).toMap.map { case (k, (lo, hi)) =>
          k -> (Math.nextDown(lo), Math.nextUp(hi))
        }
      } catch {
        // an unreadable/hostile footer must degrade to "scan the file",
        // never fail the plan
        case _: Exception => Map.empty[String, (Double, Double)]
      }
    })
  }

  /** The file-level pruning decision for `column` ∈ [lo, hi]: (files to
    * scan, total live files). Files without commit-recorded stats fall
    * back to their own footers through the from-scratch tail reader
    * (see [[footerRanges]]); files stat-less both ways are always kept.
    */
  def skippingPlan(tablePath: String, column0: String, lo: Double,
      hi: Double): (Seq[String], Int) = {
    val column = toPhysical(tablePath, column0) // stats are physical
    val files = listParquetFiles(new java.io.File(tablePath))
    val byName = files.map(f => f.getName -> f).toMap
    val all = files.map(_.getName).sorted
    val stats = readFileStats(tablePath)
    val kept = all.filter { f =>
      stats.get((f, column))
        .orElse(footerRanges(byName(f)).get(column)) match {
        case Some((l, h)) => h >= lo && l <= hi
        case None => true
      }
    }
    (kept, all.size)
  }

  /** Data-skipping scan: read only the files whose recorded [min, max]
    * intersects [lo, hi], through the tracked schema. Pruning is
    * CONSERVATIVE (kept ⊇ matching) — the caller still applies the exact
    * predicate; this call just shrinks the file list it runs over.
    */
  def scanPruned(spark: SparkSession, tablePath: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    val (kept, _) = skippingPlan(tablePath, column, lo, hi)
    val schema = readTableSchema(tablePath)
    if (kept.isEmpty) {
      // logical view even when empty: readTable's schema is already
      // logical; a tracked (physical) schema goes through the map
      val sc = schema.getOrElse(readTable(spark, tablePath).schema)
      applyColumnMap(tablePath, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
    } else {
      val byName = listParquetFiles(new java.io.File(tablePath))
        .map(f => f.getName -> f.getAbsolutePath).toMap
      val reader = schema.map(spark.read.schema).getOrElse(spark.read)
      // basePath keeps partition-dir columns resolvable on a pruned list
      applyColumnMap(tablePath, withDvApplied(spark, tablePath,
        reader.option("basePath", tablePath)
          .parquet(kept.map(byName): _*)))
    }
  }

  // ---------------------------------------------------------------------
  // Generated columns — Delta's `GENERATED ALWAYS AS (expr)`: a column
  // the table computes from the row's other columns at append time
  // (partition-friendly derivations like `date(ts)` are the canonical
  // use — declare the generated column, partition on it, and every
  // append lands laid out for pruning without the writer thinking about
  // it). Appends that OMIT the column get it computed; appends that
  // PROVIDE it are validated cell-by-cell against the expression and a
  // mismatch aborts before any file moves (Delta's ALWAYS semantics —
  // a writer must not be able to desynchronize a derived column).

  def generatedPath(tablePath: String): String =
    s"$tablePath/_graft_log/generated.txt"

  /** (column → expression SQL), insertion-ordered. */
  def readGenerated(tablePath: String): Seq[(String, String)] = {
    val p = Paths.get(generatedPath(tablePath))
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { ln =>
      val a = ln.split('\t'); a(0) -> a(1)
    }.toSeq
  }

  /** Declare `column` as generated by `exprSql`. On a non-empty table
    * the existing data must already satisfy the derivation (same
    * validate-then-record shape as [[addConstraint]]).
    */
  def declareGenerated(spark: SparkSession, tablePath: String,
      column: String, exprSql: String): Unit = {
    require(column.nonEmpty && !column.contains('\t'), s"bad name: $column")
    require(!exprSql.contains('\n') && !exprSql.contains('\t'),
      "expression must be a single line without tabs")
    withCommitLock(tablePath) {
      require(!readGenerated(tablePath).exists(_._1 == column),
        s"column '$column' is already generated on $tablePath")
      if (listParquetFiles(new java.io.File(tablePath)).nonEmpty &&
          readTableSchema(tablePath).exists(_.fieldNames.contains(column))) {
        val bad = readTable(spark, tablePath)
          .filter(not(coalesce(col(column) <=> expr(exprSql), lit(false))))
          .count()
        if (bad > 0) throw new IllegalStateException(
          s"declareGenerated($column) rejected: $bad existing rows do " +
            s"not satisfy $exprSql")
      }
      val p = Paths.get(generatedPath(tablePath))
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"$column\t$exprSql\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** Compute the generated columns the batch omitted (provided ones are
    * validated later, against the STAGED files — exact, and shared with
    * the merge/update paths).
    */
  private def computeGenerated(tablePath: String, df: DataFrame): DataFrame =
    readGenerated(tablePath)
      .filterNot { case (c, _) => df.columns.contains(c) }
      .foldLeft(df) { case (d, (c, e)) => d.withColumn(c, expr(e)) }

  /** Null-safe cell-by-cell validation of every generated column over
    * `data` — one aggregate; any mismatch runs `cleanup` and aborts.
    * Also catches a nondeterministic generation expression (its staged
    * values won't re-derive), which a GENERATED ALWAYS column must not
    * have.
    */
  private def validateGenerated(spark: SparkSession, tablePath: String,
      data: () => DataFrame, context: String,
      cleanup: () => Unit = () => ()): Unit = {
    val gens = readGenerated(tablePath)
    if (gens.isEmpty) return
    val ok = try {
      val df = data()
      val present = gens.filter { case (c, _) => df.columns.contains(c) }
      if (present.isEmpty) return
      val aggs = present.map { case (c, e) =>
        sum(when(not(coalesce(col(c) <=> expr(e), lit(false))), 1L)
          .otherwise(0L)).as(c)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).first()
      present.zipWithIndex.collect {
        case ((c, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
          s"'$c' != $e (${row.getLong(i)} rows)"
      }
    } catch { case e: Throwable => cleanup(); throw e }
    if (ok.nonEmpty) {
      cleanup()
      throw new IllegalStateException(
        s"generated-column mismatch in $context on $tablePath: " +
          s"${ok.mkString("; ")} — GENERATED ALWAYS columns cannot be " +
          "overridden; nothing was committed")
    }
  }

  // ---------------------------------------------------------------------
  // Identity columns — Delta's `GENERATED BY DEFAULT AS IDENTITY`: the
  // table allocates monotonically increasing ids at append time, with
  // the high-water mark in the log. Allocation is a RANGE RESERVATION
  // under a short lock (read next, bump by the batch size, release), so
  // the expensive work — id assignment via the scale-safe zipWithIndex
  // path and the staging write — runs unlocked; a failed commit after a
  // reservation leaves an id gap, never a duplicate (the same gap
  // semantics Delta documents). Appends that PROVIDE the column keep
  // their values (BY DEFAULT, not ALWAYS) and push the mark past their
  // max under the commit lock.

  def identityPath(tablePath: String): String =
    s"$tablePath/_graft_log/identity.txt"

  /** (column, next value to allocate). */
  def readIdentity(tablePath: String): Option[(String, Long)] = {
    val p = Paths.get(identityPath(tablePath))
    if (!Files.exists(p)) None
    else Files.readString(p).linesIterator.find(_.nonEmpty).map { ln =>
      val a = ln.split('\t'); (a(0), a(1).toLong)
    }
  }

  private def writeIdentity(tablePath: String, column: String,
      next: Long): Unit = {
    val p = Paths.get(identityPath(tablePath))
    Files.createDirectories(p.getParent)
    Files.writeString(p, s"$column\t$next\n")
  }

  /** Declare `column` as the table's identity column. On a non-empty
    * table that already has the column, allocation continues after its
    * current max.
    */
  def declareIdentity(spark: SparkSession, tablePath: String,
      column: String): Unit =
    withCommitLock(tablePath) {
      require(readIdentity(tablePath).isEmpty,
        s"$tablePath already has identity column " +
          s"${readIdentity(tablePath).get._1}")
      val start =
        if (listParquetFiles(new java.io.File(tablePath)).nonEmpty &&
            readTableSchema(tablePath).exists(_.fieldNames.contains(column)))
          readTable(spark, tablePath).agg(max(col(column).cast("long")))
            .first() match {
            case r if r.isNullAt(0) => 1L
            case r => r.getLong(0) + 1L
          }
        else 1L
      writeIdentity(tablePath, column, start)
    }

  // ---------------------------------------------------------------------
  // Deletion vectors — row-level DELETE with NO file rewrite (Delta's
  // deletion vectors / Iceberg v2 position deletes; the reference's Delta
  // stack ships this as of Delta 2.3 — reference AutomateTable.py:42-44
  // trusts the table format for delete semantics). Rewriting a 1 GB file
  // to drop 3 rows is the single worst write-amplification in a
  // lakehouse; at 100 TB, GDPR-style point deletes are only viable as
  // metadata. A DV delete records (file, row position) pairs as a
  // version-scoped parquet dataset under `_graft_log/dv/v{N}/` (computed
  // and written DISTRIBUTED — the driver only sees the affected file
  // NAMES) plus the deleted rows as ordinary CDC change files. Readers
  // anti-join the vectors on (file basename, `_metadata.row_index`) —
  // basenames are version-unique and survive quarantine moves, so the
  // same vectors serve live reads and time travel.
  //
  // Contract:
  //   - readTable / scanPruned / bloomLookup apply all vectors;
  //     readAsOf(v) applies vectors with version ≤ v, so both sides of a
  //     DV delete time-travel correctly;
  //   - the change feed (batch and streaming) serves the DV version as
  //     typed `delete` rows — CDC consumers cannot tell (and must not
  //     care) whether a delete rewrote files or wrote vectors;
  //   - rewrite paths (deleteRange/deleteWhere, mergeInto, compact*,
  //     cluster, zorder) REFUSE while vectors are outstanding — reading
  //     raw files would resurrect deleted rows; [[applyDeleteVectors]]
  //     (Delta's REORG ... APPLY (PURGE)) materializes them into a
  //     rewrite of exactly the affected files and re-opens those paths;
  //   - appends remain allowed (new files cannot carry vectors), and
  //     restore refuses to cross an unapplied DV version.

  def dvRoot(tablePath: String): String = s"$tablePath/_graft_log/dv"
  def dvDirPath(tablePath: String, v: Long): String =
    f"${dvRoot(tablePath)}/v$v%06d"
  private[graft] def dvMarkerPath(tablePath: String, v: Long): String =
    f"${dvRoot(tablePath)}/v$v%06d.files.txt"

  /** Versions that recorded deletion vectors, ascending. */
  def dvVersions(tablePath: String): Seq[Long] =
    Option(new java.io.File(dvRoot(tablePath)).listFiles())
      .map(_.toSeq.filter(_.isDirectory).map(_.getName)
        .collect { case n if n.startsWith("v") => n.drop(1).toLong }.sorted)
      .getOrElse(Nil)

  /** Live file names still carrying unapplied vectors. Empty again after
    * [[applyDeleteVectors]] (the vectors stay on disk for time travel but
    * reference only quarantined names).
    */
  def outstandingDvFiles(tablePath: String): Set[String] = {
    val live = listParquetFiles(new java.io.File(tablePath))
      .map(_.getName).toSet
    dvVersions(tablePath).iterator.flatMap { v =>
      Files.readString(Paths.get(dvMarkerPath(tablePath, v)))
        .linesIterator.filter(_.nonEmpty)
    }.toSet.intersect(live)
  }

  private def requireNoOutstandingDvs(tablePath: String, op: String): Unit = {
    val names = outstandingDvFiles(tablePath)
    if (names.nonEmpty) throw new IllegalStateException(
      s"$op on $tablePath refused: ${names.size} live files carry " +
        "unapplied deletion vectors and a raw-file rewrite would " +
        "resurrect their deleted rows — run applyDeleteVectors first")
  }

  /** All vectors at versions ≤ `upTo` (None = all), as a DataFrame of
    * (__dv_file, __dv_pos); None when there are none.
    */
  private def dvEntries(spark: SparkSession, tablePath: String,
      upTo: Option[Long]): Option[DataFrame] = {
    val vs = dvVersions(tablePath).filter(v => upTo.forall(v <= _))
    if (vs.isEmpty) None
    else Some(spark.read.parquet(vs.map(dvDirPath(tablePath, _)): _*))
  }

  /** Anti-join `df` (a parquet file-source read) against vectors on
    * (file basename, row position). Rows from files without vectors pass
    * untouched; the join side is position metadata, orders of magnitude
    * smaller than the data, so AQE broadcasts it in the common case.
    */
  private def applyDv(df: DataFrame, dv: DataFrame): DataFrame =
    df.withColumn("__dv_file",
        expr("substring_index(_metadata.file_path, '/', -1)"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
      .join(dv, Seq("__dv_file", "__dv_pos"), "left_anti")
      .drop("__dv_file", "__dv_pos")

  /** Read through outstanding vectors when any exist; raw read otherwise. */
  private def withDvApplied(spark: SparkSession, tablePath: String,
      df: DataFrame, upTo: Option[Long] = None): DataFrame =
    dvEntries(spark, tablePath, upTo).map(applyDv(df, _)).getOrElse(df)

  /** Every recorded vector position, grouped by file basename, sorted,
    * de-duplicated and GAP-VARINT PACKED — DRIVER-side through the
    * repo's own parquet decoder (no Spark job at scan-planning time).
    * The retained planning map holds ~1–2 bytes per deleted row
    * (ULEB128 of the first position then the successive gaps) instead
    * of boxed 8-byte Longs — the compressed-descriptor memory shape
    * Delta's planner keeps — and a file's positions are decoded back
    * ([[dvUnpack]]) only when the planner slices THAT file's row
    * groups, so the transient peak is one file's deletions, not the
    * table's.
    */
  def dvPackedByFile(tablePath: String): Map[String, Array[Byte]] = {
    val perFile = new scala.collection.mutable.HashMap[String,
      scala.collection.mutable.ArrayBuffer[Long]]()
    dvVersions(tablePath).foreach { v =>
      Option(new java.io.File(dvDirPath(tablePath, v)).listFiles())
        .getOrElse(Array.empty[java.io.File]).toSeq
        .filter(f => f.getName.endsWith(".parquet") && f.isFile)
        .foreach { f =>
          ParquetData.readRows(Files.readAllBytes(f.toPath),
            Seq("__dv_file", "__dv_pos")).foreach { r =>
            perFile.getOrElseUpdate(String.valueOf(r(0)),
              new scala.collection.mutable.ArrayBuffer[Long]()) +=
              r(1).asInstanceOf[Long]
          }
        }
    }
    perFile.iterator.map { case (f, buf) =>
      val sorted = buf.toArray
      java.util.Arrays.sort(sorted)
      f -> dvPack(sorted)
    }.toMap
  }

  /** ULEB128 pack of SORTED positions: the first absolute, then each
    * gap to the previous distinct position (duplicates collapse).
    */
  private[graft] def dvPack(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(sorted.length + 8)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7
      }
      out.write(v.toInt)
    }
    var prev = -1L
    var i = 0
    while (i < sorted.length) {
      val p = sorted(i)
      require(p >= 0, s"negative vector position $p")
      if (p != prev) {
        varint(if (prev < 0) p else p - prev)
        prev = p
      }
      i += 1
    }
    out.toByteArray
  }

  /** Decode one file's packed positions back to the sorted distinct
    * Long array (the planner calls this per file at slice time).
    */
  def dvUnpack(packed: Array[Byte]): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuffer[Long](
      packed.length)
    var pos = 0
    var prev = -1L
    while (pos < packed.length) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        require(pos < packed.length && shift <= 63,
          "torn packed deletion vector")
        b = packed(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      prev = if (prev < 0) v else prev + v
      out += prev
    }
    out.toArray
  }

  case class DvDeleteResult(version: Long, rowsDeleted: Long,
      filesAffected: Int, filesTotal: Int)

  /** DELETE FROM t WHERE `predicate` — as deletion vectors. One
    * confirmation scan finds the matching (still-visible) rows; their
    * positions land as the version's vector dataset and the rows
    * themselves as its CDC change files. No data file is touched: the
    * delete costs O(matches) metadata regardless of file sizes. Stacks:
    * a second DV delete only matches rows the first left visible.
    */
  def deleteWithVectors(spark: SparkSession, tablePath: String,
      predicate0: Column): DvDeleteResult =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      val predicate = toPhysicalPred(tablePath, predicate0)
      val v0 = readVersion(tablePath)
      val live = listParquetFiles(new java.io.File(tablePath))
      val total = live.size
      val schema = readTableSchema(tablePath)
      val delPred = coalesce(predicate, lit(false))
      val base = schema.map(spark.read.schema).getOrElse(spark.read)
        .parquet(tablePath)
        .withColumn("__dv_file",
          expr("substring_index(_metadata.file_path, '/', -1)"))
        .withColumn("__dv_pos", col("_metadata.row_index"))
      val visible = dvEntries(spark, tablePath, None)
        .map(dv => base.join(dv, Seq("__dv_file", "__dv_pos"), "left_anti"))
        .getOrElse(base)
      val matched = visible.filter(delPred).localCheckpoint()
      val rowsDeleted = matched.count()
      if (rowsDeleted == 0) DvDeleteResult(v0, 0L, 0, total)
      else {
        val v = v0 + 1
        // CDC first (rows, data columns only), then the vectors. Both
        // are sized writes (coalesce never raises a partition count, so
        // the live-bytes upper bound is safe at any scale); the vector
        // rows are two longs each
        val liveBytes = live.map(_.length()).sum
        matched.drop("__dv_file", "__dv_pos")
          .coalesce(changeWriteParts(liveBytes))
          .write.mode(SaveMode.Overwrite).parquet(changesPath(tablePath, v))
        matched.select(col("__dv_file"), col("__dv_pos"))
          .coalesce(changeWriteParts(16L * rowsDeleted))
          .write.mode(SaveMode.Overwrite).parquet(dvDirPath(tablePath, v))
        val affected = matched.select(col("__dv_file")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        Files.writeString(Paths.get(dvMarkerPath(tablePath, v)),
          affected.mkString("", "\n", "\n"))
        // the file SET is unchanged — a full listing reconstructs the
        // version, and readAsOf applies the version's vectors on top
        val root = Paths.get(tablePath)
        writeFileList(snapshotFullPath(tablePath, v),
          live.map(f => root.relativize(f.toPath).toString))
        writeVersion(tablePath, v)
        DvDeleteResult(v, rowsDeleted, affected.size, total)
      }
    }

  /** Materialize outstanding vectors (Delta's REORG ... APPLY (PURGE)):
    * rewrite EXACTLY the vector-carrying files with their deleted rows
    * dropped, quarantine the originals (pre-apply versions keep
    * time-traveling — the vectors still match the quarantined names),
    * and re-open the rewrite paths. Returns the number of files
    * materialized.
    */
  def applyDeleteVectors(spark: SparkSession, tablePath: String): Int =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      val names = outstandingDvFiles(tablePath).toSeq.sorted
      if (names.isEmpty) 0
      else {
        val root = Paths.get(tablePath)
        val byName = listParquetFiles(new java.io.File(tablePath))
          .map(f => f.getName -> f).toMap
        val schema = readTableSchema(tablePath)
        val partCols = readPartitioning(tablePath)
        val reader = {
          val r = schema.map(spark.read.schema).getOrElse(spark.read)
          if (partCols.nonEmpty) r.option("basePath", tablePath) else r
        }
        val dv = dvEntries(spark, tablePath, None).get
        val survivors = applyDv(
          reader.parquet(names.map(byName(_).getAbsolutePath): _*), dv)
        val stage = s"${tablePath}__stage/${java.util.UUID.randomUUID()}"
        val sw = survivors.write.mode(SaveMode.Overwrite)
        (if (partCols.nonEmpty) sw.partitionBy(partCols: _*) else sw)
          .parquet(stage)
        try {
          val v = readVersion(tablePath) + 1
          names.foreach { name =>
            val rel = root.relativize(byName(name).toPath).toString
            val dest = Paths.get(removedPath(tablePath)).resolve(rel)
            Files.createDirectories(dest.getParent)
            Files.move(byName(name).toPath, dest,
              StandardCopyOption.ATOMIC_MOVE)
          }
          val committed = moveStagedIn(tablePath, stage, "dvapply", v)
          val gone = names.toSet
          writeFileStats(tablePath,
            readFileStats(tablePath).toSeq.collect {
              case ((f, c), (l, h)) if !gone.contains(f) => (f, c, l, h)
            }, append = false)
          writeFileStats(tablePath,
            footerStats(spark, committed.map(_.toFile)) ++
              partitionStats(tablePath, committed), append = true)
          val reg = Paths.get(liveFilesPath(tablePath))
          if (Files.exists(reg)) recordLiveFiles(tablePath)
          writeFileList(snapshotFullPath(tablePath, v),
            listParquetFiles(new java.io.File(tablePath))
              .map(f => root.relativize(f.toPath).toString))
          writeVersion(tablePath, v)
          names.size
        } finally dropStage(stage)
      }
    }

  // ---------------------------------------------------------------------
  // Metadata-only aggregates — Delta answers `SELECT count(*)` (and
  // min/max on stats-covered columns) from its log without touching a
  // data file; the engine analogue reads the live files' parquet FOOTERS
  // (row counts are exact; footer min/max are exact per row group, and
  // null counts gate the min/max answer — a column with nulls still
  // counts exactly). At 100 TB this turns a full-table aggregate into a
  // metadata sweep: thousands of footer reads instead of a scan of every
  // byte. The footer sweep is driver-side like the rest of the log
  // machinery (same contract as footerStats at commit time).

  /** Exact row count of the table — parquet footers only, no data scan.
    * Outstanding deletion vectors subtract exactly (their entry count
    * over live names is itself metadata-scale).
    */
  def metadataCount(spark: SparkSession, tablePath: String): Long = {
    val live = listParquetFiles(new java.io.File(tablePath))
    // one footer-tail read per file through the repo's own reader,
    // overlapped on the bounded planning pool (a sequential sweep
    // over a large table serializes O(files) round trips)
    val raw = graft.sources.GraftParquet.planPar(live) { f =>
      Seq(ParquetFooter.readTail(f.toPath).numRows)
    }.sum
    val dvDeleted = dvEntries(spark, tablePath, None).fold(0L) { dv =>
      // semi-join, not a giant isin literal: the live list can be large
      val liveDf = spark.createDataset(live.map(_.getName))(
        org.apache.spark.sql.Encoders.STRING).toDF("__dv_file")
      dv.join(liveDf, Seq("__dv_file"), "left_semi").count()
    }
    raw - dvDeleted
  }

  /** Exact (count, min, max, nullCount) of a numeric column from footers
    * alone; None when any row group lacks usable statistics for it (the
    * caller falls back to a scan — the answer is exact or absent, never
    * approximate).
    */
  def metadataMinMax(spark: SparkSession, tablePath: String,
      column0: String): Option[(Long, Double, Double, Long)] = {
    val column = toPhysical(tablePath, column0) // footers are physical
    // a vector-deleted row may BE the min/max — exact-or-absent means
    // absent until the vectors are applied
    if (outstandingDvFiles(tablePath).nonEmpty) return None
    // per-file partials from one footer-tail read each, overlapped on
    // the bounded planning pool; the fold stays sequential and cheap
    val perFile: Seq[(Long, Long, Double, Double, Boolean)] =
      graft.sources.GraftParquet.planPar(
          listParquetFiles(new java.io.File(tablePath))) { f =>
        val footer = ParquetFooter.readTail(f.toPath)
        var (n, nulls) = (0L, 0L)
        var (lo, hi) =
          (Double.PositiveInfinity, Double.NegativeInfinity)
        var usable = true
        for (rg <- footer.rowGroups if usable) {
          n += rg.numRows
          rg.columns.find(_.path == column) match {
            case Some(c) => c.nullCount match {
              case None => usable = false
              case Some(nc) =>
                nulls += nc
                (c.minValue, c.maxValue) match {
                  case (Some(mn), Some(mx))
                      if Seq(1, 2, 4, 5).contains(c.physicalType) =>
                    val l = ParquetFooter.statDouble(c.physicalType, mn)
                    val h = ParquetFooter.statDouble(c.physicalType, mx)
                    if (l.isNaN || h.isNaN) usable = false
                    else {
                      lo = math.min(lo, l)
                      hi = math.max(hi, h)
                    }
                  // an all-null row group legitimately carries no
                  // extremes and contributes nothing
                  case (None, None) if nc == rg.numRows => ()
                  case _ => usable = false // non-numeric or stat-less
                }
            }
            case None => usable = false
          }
        }
        Seq((n, nulls, lo, hi, usable))
      }
    if (perFile.exists(!_._5)) return None
    val n = perFile.map(_._1).sum
    val nulls = perFile.map(_._2).sum
    val lo = (Double.PositiveInfinity +: perFile.map(_._3)).min
    val hi = (Double.NegativeInfinity +: perFile.map(_._4)).max
    if (hi >= lo) Some((n, lo, hi, nulls)) else None
  }

  // ---------------------------------------------------------------------
  // Table CHECK constraints — Delta's `ALTER TABLE ADD CONSTRAINT`
  // analogue (the reference gets write-path validation from Delta;
  // reference images/spark/Code/AutomateTable.py:42-44 relies on the
  // table format to police what lands). A constraint is a SQL predicate
  // recorded in `_graft_log/constraints.txt`; every commit path that can
  // introduce rows (append, merge) validates its STAGED output against
  // all recorded constraints before a single file moves, so a violating
  // batch aborts with the table untouched. A predicate evaluating to
  // NULL counts as a violation (same three-valued-logic convention as
  // Expectations — unknowns do not sneak past a gate). Enforcement is
  // one codegen'd aggregate over the staged files: all constraints
  // checked in a single map-side-combined job, no extra scan of the
  // table itself.

  def constraintsPath(tablePath: String): String =
    s"$tablePath/_graft_log/constraints.txt"

  /** (name → predicate SQL), insertion-ordered. */
  def readConstraints(tablePath: String): Seq[(String, String)] = {
    val p = Paths.get(constraintsPath(tablePath))
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { ln =>
      val a = ln.split('\t')
      a(0) -> a(1)
    }.toSeq
  }

  /** Record a CHECK constraint. Like Delta, the EXISTING data must
    * already satisfy it — one validation scan of the live table runs
    * first and a violation rejects the constraint (recording a
    * constraint the table already breaks would make every later append
    * fail for someone else's rows).
    */
  def addConstraint(spark: SparkSession, tablePath: String, name: String,
      predicateSql: String): Unit = {
    require(name.nonEmpty && !name.contains('\t'), s"bad name: $name")
    require(!predicateSql.contains('\n') && !predicateSql.contains('\t'),
      "predicate must be a single line without tabs")
    withCommitLock(tablePath) {
      require(!readConstraints(tablePath).exists(_._1 == name),
        s"constraint '$name' already exists on $tablePath")
      if (listParquetFiles(new java.io.File(tablePath)).nonEmpty)
        enforceConstraintList(spark, Seq(name -> predicateSql),
          () => readTable(spark, tablePath), s"addConstraint($name)")
      val p = Paths.get(constraintsPath(tablePath))
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"$name\t$predicateSql\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  def dropConstraint(tablePath: String, name: String): Unit =
    withCommitLock(tablePath) {
      val kept = readConstraints(tablePath).filterNot(_._1 == name)
      Files.writeString(Paths.get(constraintsPath(tablePath)),
        kept.map { case (n, s) => s"$n\t$s" }
          .mkString("", "\n", if (kept.isEmpty) "" else "\n"))
    }

  /** Validate `data` against the table's recorded constraints; on any
    * violation run `cleanup` and throw naming every violated constraint
    * with its row count. No-op for a constraint-less table — the common
    * path pays only a file-existence check.
    */
  private def enforceConstraints(spark: SparkSession, tablePath: String,
      data: () => DataFrame, context: String,
      cleanup: () => Unit = () => ()): Unit = {
    val cs = readConstraints(tablePath)
    if (cs.isEmpty) return
    try enforceConstraintList(spark, cs, data, context)
    catch { case e: Throwable => cleanup(); throw e }
  }

  private def enforceConstraintList(spark: SparkSession,
      cs: Seq[(String, String)], data: () => DataFrame,
      context: String): Unit = {
    val df = data()
    val aggs = cs.map { case (n, sql) =>
      sum(when(not(coalesce(expr(sql), lit(false))), 1L).otherwise(0L))
        .as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    val violated = cs.zipWithIndex.collect {
      case ((n, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"'$n' CHECK ($sql): ${row.getLong(i)} rows"
    }
    if (violated.nonEmpty)
      throw new IllegalStateException(
        s"constraint violation in $context: ${violated.mkString("; ")} " +
          "— nothing was committed")
  }

  // ---------------------------------------------------------------------
  // Bloom-filter file index — point-lookup pruning where min/max stats
  // cannot help (the Delta bloom-filter-index analogue, and the engine
  // counterpart of the reference outsourcing all file skipping to Delta:
  // reference images/spark/Code/AutomateTable.py:42-44). A high-cardinality
  // key (a hash id, a uuid) has per-file [min,max] spanning the whole
  // domain, so skippingPlan keeps every file; a per-file Bloom bitset
  // answers "might this file contain k = v?" with no false negatives, so
  // an equality lookup scans ~1 file instead of the table. At 100 TB this
  // is the difference between a point read and a full scan.
  //
  // Contract mirrors the stats index: entries are ADVISORY, keyed by file
  // name — a live file without an entry is conservatively scanned (so the
  // index stays correct across later appends), and entries for rewritten
  // names are simply never consulted. The index itself is metadata-scale
  // (m/8 bytes per file) and lives in `_graft_log/bloom/`, written by the
  // driver like the stats file; the BITSETS are computed distributed, one
  // column-pruned scan, map-side-combined `bit_or` per (file, word).

  def bloomIndexPath(tablePath: String, column: String): String =
    s"$tablePath/_graft_log/bloom/$column.txt"

  /** Build (or rebuild) the Bloom index for `column` over the table's
    * current live files. Sized from the largest per-file row count for
    * `targetFpp` (classic m = -n·ln p/ln²2, k = m/n·ln 2), m rounded up
    * to a power of two and capped at `maxBits` — an oversized file past
    * the cap degrades to a higher false-positive rate, never to a false
    * negative. Positions come from one xxhash64 split Kirsch-Mitzenmacher
    * style (h2 forced odd and 31-bit so k·h2 cannot overflow under ANSI
    * arithmetic).
    */
  def buildBloomIndex(spark: SparkSession, tablePath: String,
      column0: String, targetFpp: Double = 0.01,
      maxBits: Int = 1 << 22): Unit = {
    val column = toPhysical(tablePath, column0) // index keys are physical
    require(targetFpp > 0 && targetFpp < 1, s"fpp out of (0,1): $targetFpp")
    val out = Paths.get(bloomIndexPath(tablePath, column))
    Files.createDirectories(out.getParent)
    val files = listParquetFiles(new java.io.File(tablePath))
    if (files.isEmpty) { Files.writeString(out, ""); return }
    val schema = readTableSchema(tablePath)
    val partCols = readPartitioning(tablePath)
    val reader = {
      val r = schema.map(spark.read.schema).getOrElse(spark.read)
      if (partCols.nonEmpty) r.option("basePath", tablePath) else r
    }
    val df = reader.parquet(files.map(_.getAbsolutePath): _*)
      .select(input_file_name().as("__f"), col(column).as("__v"))
    // pass 1 (column-pruned, counts only): the largest per-file
    // cardinality bound drives the shared sizing
    val nMax = math.max(1L,
      df.groupBy(col("__f")).count().agg(max(col("count")))
        .first().getLong(0))
    val mIdeal = math.ceil(
      -nMax * math.log(targetFpp) / (math.log(2) * math.log(2))).toLong
    var m = 64L
    while (m < mIdeal && m < maxBits) m <<= 1
    val k = math.max(1L, math.min(16L,
      math.round(m.toDouble / nMax * math.log(2))))
    // pass 2: positions → (file, word) → OR of bits, combined map-side;
    // one row per set word reaches the driver (≤ m/64 per file)
    val words = df
      .select(col("__f"), xxhash64(col("__v")).as("__h"))
      .select(col("__f"), explode(expr(
        s"transform(sequence(0, ${k - 1}), i -> " +
          s"((__h & 4294967295) + i * (((__h >> 32) & 2147483647) | 1))" +
          s" & ${m - 1})")).as("__p"))
      .groupBy(col("__f"), expr("__p >> 6").as("__w"))
      .agg(expr("bit_or(shiftleft(1L, int(__p & 63)))").as("__bits"))
      .groupBy(col("__f"))
      .agg(collect_list(struct(col("__w"), col("__bits"))).as("__ws"))
      .collect()
    val lines = words.map { r =>
      val name = r.getString(0).split('/').last
      val packed = new Array[Long]((m / 64).toInt)
      r.getSeq[org.apache.spark.sql.Row](1).foreach { wb =>
        packed(wb.getLong(0).toInt) = wb.getLong(1)
      }
      val bb = java.nio.ByteBuffer.allocate(packed.length * 8)
      packed.foreach(bb.putLong)
      val b64 = java.util.Base64.getEncoder.encodeToString(bb.array())
      s"$name\t$m\t$k\t$b64"
    }
    Files.writeString(out, lines.sorted.mkString("", "\n",
      if (lines.isEmpty) "" else "\n"))
  }

  /** (file → (m, k, bitset words)); empty when no index exists. */
  def readBloomIndex(tablePath: String, column: String)
      : Map[String, (Long, Long, Array[Long])] = {
    val p = Paths.get(bloomIndexPath(tablePath, column))
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { ln =>
      val a = ln.split('\t')
      val bytes = java.util.Base64.getDecoder.decode(a(3))
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val ws = Array.fill(bytes.length / 8)(bb.getLong)
      a(0) -> ((a(1).toLong, a(2).toLong, ws))
    }.toMap
  }

  /** The file-level decision for `column = value`: (files to scan, total
    * live files). Unindexed files are always kept — no false negatives,
    * ever; false positives cost a scanned file, nothing more. The probe
    * is hashed by the SAME Spark expression that built the index (one
    * 1-row local job), so index and probe can never disagree on hashing.
    */
  def bloomPlan(spark: SparkSession, tablePath: String, column0: String,
      value: Any): (Seq[String], Int) = {
    val column = toPhysical(tablePath, column0)
    val all = listParquetFiles(new java.io.File(tablePath))
      .map(_.getName).sorted
    val idx = readBloomIndex(tablePath, column)
    if (idx.isEmpty) return (all, all.size)
    val h = spark.range(1).select(xxhash64(lit(value))).first().getLong(0)
    val h1 = h & 0xffffffffL
    val kept = all.filter { f =>
      idx.get(f) match {
        case Some((m, k, ws)) =>
          val h2 = ((h >> 32) & 0x7fffffffL) | 1L
          (0L until k).forall { i =>
            val pos = (h1 + i * h2) & (m - 1)
            (ws((pos >> 6).toInt) & (1L << (pos & 63))) != 0L
          }
        case None => true
      }
    }
    (kept, all.size)
  }

  /** Point lookup through the Bloom plan: scan only the files that might
    * contain `column = value`, then apply the exact predicate (pruning is
    * conservative; the filter clears any false positive).
    */
  def bloomLookup(spark: SparkSession, tablePath: String, column0: String,
      value: Any): DataFrame = {
    val column = toPhysical(tablePath, column0)
    val (kept, _) = bloomPlan(spark, tablePath, column, value)
    val schema = readTableSchema(tablePath)
    if (kept.isEmpty) {
      val sc = schema.getOrElse(readTable(spark, tablePath).schema)
      applyColumnMap(tablePath, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc))
    } else {
      val byName = listParquetFiles(new java.io.File(tablePath))
        .map(f => f.getName -> f.getAbsolutePath).toMap
      val reader = schema.map(spark.read.schema).getOrElse(spark.read)
      applyColumnMap(tablePath, withDvApplied(spark, tablePath,
        reader.option("basePath", tablePath)
          .parquet(kept.flatMap(byName.get): _*))
        .filter(col(column) === lit(value)))
    }
  }

  // ---------------------------------------------------------------------
  // DELETE — the engine analogue of Delta's `DELETE FROM t WHERE c
  // BETWEEN lo AND hi` (the reference inherits row deletes from Delta;
  // its GDPR/maintenance surface is delta_manager.py). Stats-driven:
  // [[skippingPlan]] prunes the candidate files by recorded [min,max]
  // BEFORE any data is read, and among candidates only files that
  // actually CONTAIN matching rows are rewritten — at 100 TB a keyed
  // delete reads and rewrites a handful of files, never the table.
  // Removed originals are QUARANTINED under `_graft_log/removed/` (not
  // deleted): pre-delete versions keep time-traveling through the
  // quarantine and [[restoreTo]] can undo the delete — Delta parity,
  // where history survives a DELETE until VACUUM ([[vacuumRemoved]] is
  // that retention boundary). The deleted rows are additionally written
  // as change files under `_graft_log/changes/v{N}/`, so
  // [[readChangesBetween]] serves them tagged `_change_type='delete'` —
  // Delta's CDC delete feed, O(deleted rows) forever after.

  /** Outcome of a [[deleteRange]]: the committed version (unchanged when
    * nothing matched), exact rows deleted, and the file-level blast
    * radius — `filesRewritten` out of `filesTotal` is the number a 100-TB
    * operator watches.
    */
  case class DeleteResult(version: Long, rowsDeleted: Long,
      filesRewritten: Int, filesTotal: Int)

  /** Delete rows with `column` ∈ [lo, hi] from a committed table. Bounds
    * are doubles under the same convention as the stats layer (exact for
    * integer keys below 2^53; the predicate evaluates on the column's
    * native type promoted to double). Null values never match — SQL
    * DELETE semantics — and, critically, null rows SURVIVE: the keep
    * predicate is the coalesced complement, not a raw negation that
    * would silently drop them.
    *
    * Runs entirely under the commit lock: a delete's read-rewrite-swap
    * must not interleave with an appender (appends queue briefly — the
    * same trade [[restoreTo]] makes; the optimistic path is for whole-
    * table rewrites, where the lock-free window is long).
    */
  def deleteRange(spark: SparkSession, tablePath: String, column0: String,
      lo: Double, hi: Double): DeleteResult =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      val column = toPhysical(tablePath, column0)
      deleteCore(spark, tablePath,
        col(column) >= lit(lo) && col(column) <= lit(hi),
        Some(skippingPlan(tablePath, column, lo, hi)._1))
    }

  /** DELETE with an arbitrary predicate — the general `DELETE FROM t
    * WHERE <expr>` form. No stats prune is possible for a free-form
    * predicate, so every file is a candidate: the confirmation scan reads
    * the table ONCE (codegen'd predicate, column-pruned to what the
    * predicate needs plus counts), and still only the files actually
    * holding matches are rewritten — the rewrite blast radius stays
    * proportional to the matches, only the read is full. Prefer
    * [[deleteRange]] when the predicate is a range on a stats-covered
    * column.
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: Column): DeleteResult =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      deleteCore(spark, tablePath,
        toPhysicalPred(tablePath, predicate), None)
    }

  /** Shared delete engine; caller holds the commit lock. `candidates`
    * None = all live files.
    */
  private def deleteCore(spark: SparkSession, tablePath: String,
      predicate: Column, candidatesOpt: Option[Seq[String]]): DeleteResult = {
      requireNoOutstandingDvs(tablePath, "rewrite-based delete")
      val root = Paths.get(tablePath)
      val v0 = readVersion(tablePath)
      val byName = listParquetFiles(new java.io.File(tablePath))
        .map(f => f.getName -> f).toMap
      val candidates = candidatesOpt.getOrElse(byName.keys.toSeq.sorted)
      val total = byName.size
      val schema = readTableSchema(tablePath)
      val partCols = readPartitioning(tablePath)
      // basePath keeps partition-dir columns resolvable when reading an
      // explicit file list out of a partitioned layout
      def reader = {
        val r = schema.map(spark.read.schema).getOrElse(spark.read)
        if (partCols.nonEmpty) r.option("basePath", tablePath) else r
      }
      val delPred = coalesce(predicate, lit(false))
      // exact confirmation of the conservative stats prune: one metadata-
      // scale job over the candidate files counts matches per file; files
      // whose stats overlap but hold no matching row stay untouched
      val perFile: Array[(String, Long)] =
        if (candidates.isEmpty) Array.empty
        else reader.parquet(candidates.map(byName(_).getAbsolutePath): _*)
          .filter(delPred)
          .groupBy(input_file_name().as("path")).count()
          .collect()
          .map(r => (Paths.get(new java.net.URI(r.getString(0)).getPath)
            .getFileName.toString, r.getLong(1)))
      if (perFile.isEmpty)
        DeleteResult(v0, 0L, 0, total)
      else {
        val affected = perFile.map(_._1).toSeq.sorted
        val rowsDeleted = perFile.map(_._2).sum
        val v = v0 + 1
        val affPaths = affected.map(byName(_).getAbsolutePath)
        val aff = reader.parquet(affPaths: _*)
        // CDC change files (the deleted rows) — written BEFORE any
        // original moves, while the source paths are still live; sized
        // by the affected bytes (an upper bound on the deleted rows)
        val affBytes = affected.map(byName(_).length()).sum
        aff.filter(delPred).coalesce(changeWriteParts(affBytes))
          .write.mode(SaveMode.Overwrite)
          .parquet(changesPath(tablePath, v))
        // survivors staged outside the table, then renamed in — same
        // stage-then-move shape as commitAppend (partition layout
        // preserved). Only THIS delete's uuid subdir is cleaned up: a
        // concurrent appender stages under the same __stage sibling
        // before it queues on the lock.
        val stage = s"${tablePath}__stage/${java.util.UUID.randomUUID()}"
        val survW = aff.filter(not(delPred)).write.mode(SaveMode.Overwrite)
        (if (partCols.nonEmpty) survW.partitionBy(partCols: _*) else survW)
          .parquet(stage)
        try {
          // quarantine the originals (history, not garbage)
          affected.foreach { name =>
            val rel = root.relativize(byName(name).toPath).toString
            val dest = Paths.get(removedPath(tablePath)).resolve(rel)
            Files.createDirectories(dest.getParent)
            Files.move(byName(name).toPath, dest,
              StandardCopyOption.ATOMIC_MOVE)
          }
          val committed = moveStagedIn(tablePath, stage, "delete", v)
          // stats: entries of quarantined files would pin dead names —
          // drop them; the replacement files get fresh footer stats
          val gone = affected.toSet
          writeFileStats(tablePath,
            readFileStats(tablePath).toSeq.collect {
              case ((f, c), (l, h)) if !gone.contains(f) => (f, c, l, h)
            }, append = false)
          writeFileStats(tablePath,
            footerStats(spark, committed.map(_.toFile)) ++
              partitionStats(tablePath, committed), append = true)
          val reg = Paths.get(liveFilesPath(tablePath))
          if (Files.exists(reg)) recordLiveFiles(tablePath)
          // snapshot: full listing (delete versions reconstruct directly)
          // + the delete marker naming what left the live set
          writeFileList(snapshotFullPath(tablePath, v),
            listParquetFiles(new java.io.File(tablePath))
              .map(f => root.relativize(f.toPath).toString))
          writeFileList(snapshotDeletePath(tablePath, v), affected)
          writeVersion(tablePath, v)
          DeleteResult(v, rowsDeleted, affected.size, total)
        } finally dropStage(stage)
      }
    }

  case class UpdateResult(version: Long, rowsUpdated: Long,
      filesRewritten: Int, filesTotal: Int)

  /** Marker of an [[updateWhere]] version (vs merge: same typed change
    * files, different DML verb in the history ledger).
    */
  def snapshotUpdatePath(tablePath: String, version: Long): String =
    f"$tablePath/_graft_log/snapshots/v$version%06d.update.txt"

  /** UPDATE t SET col = expr, ... WHERE `predicate` — the third DML verb
    * next to DELETE and MERGE (Delta's UPDATE; the reference gets it
    * from the table format). Same scale shape as [[deleteWhere]]: one
    * confirmation scan counts matches per file, ONLY files holding
    * matched rows are rewritten (survivor rows copied, matched rows with
    * `set` expressions applied), originals are quarantined for time
    * travel, and the version's change files carry typed
    * `update_preimage`/`update_postimage` rows for the CDC feed. `set`
    * expressions may reference the row's own columns (`cents + 1000`).
    * A NULL predicate row is not matched (same coalesce-to-false
    * convention as delete). Set columns must exist — UPDATE never adds
    * columns (schema evolution is the merge path's job).
    */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate0: Column, set0: Map[String, Column]): UpdateResult =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      requireNoOutstandingDvs(tablePath, "updateWhere")
      // logical → physical at the boundary: SET targets by name, every
      // expression (predicate and right-hand sides) by attribute rewrite
      val predicate = toPhysicalPred(tablePath, predicate0)
      val set = set0.map { case (c, e) =>
        toPhysical(tablePath, c) -> toPhysicalPred(tablePath, e)
      }
      require(set.nonEmpty, "updateWhere with an empty SET")
      val root = Paths.get(tablePath)
      val v0 = readVersion(tablePath)
      val byName = listParquetFiles(new java.io.File(tablePath))
        .map(f => f.getName -> f).toMap
      val total = byName.size
      val schema = readTableSchema(tablePath)
      val partCols = readPartitioning(tablePath)
      def reader = {
        val r = schema.map(spark.read.schema).getOrElse(spark.read)
        if (partCols.nonEmpty) r.option("basePath", tablePath) else r
      }
      schema.foreach { sc =>
        val missing = set.keySet -- sc.fieldNames
        require(missing.isEmpty,
          s"updateWhere SET names columns $tablePath lacks: $missing")
      }
      val updPred = coalesce(predicate, lit(false))
      val candidates = byName.keys.toSeq.sorted
      val perFile: Array[(String, Long)] =
        if (candidates.isEmpty) Array.empty
        else reader.parquet(candidates.map(byName(_).getAbsolutePath): _*)
          .filter(updPred)
          .groupBy(input_file_name().as("path")).count()
          .collect()
          .map(r => (Paths.get(new java.net.URI(r.getString(0)).getPath)
            .getFileName.toString, r.getLong(1)))
      if (perFile.isEmpty) UpdateResult(v0, 0L, 0, total)
      else {
        val affected = perFile.map(_._1).toSeq.sorted
        val rowsUpdated = perFile.map(_._2).sum
        val v = v0 + 1
        val aff = reader.parquet(affected.map(byName(_).getAbsolutePath): _*)
        def applySet(df: DataFrame) =
          set.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
        // typed CDC — written BEFORE any original moves
        val pre = aff.filter(updPred)
          .withColumn("__change_type", lit("update_preimage"))
        val post = applySet(aff.filter(updPred))
          .withColumn("__change_type", lit("update_postimage"))
        // pre + post images ≤ 2× the affected bytes — size the CDC write
        val affBytes = affected.map(byName(_).length()).sum
        pre.unionByName(post).coalesce(changeWriteParts(2L * affBytes))
          .write.mode(SaveMode.Overwrite)
          .parquet(changesPath(tablePath, v))
        // replacement content: untouched rows + updated rows
        val stage = s"${tablePath}__stage/${java.util.UUID.randomUUID()}"
        val rewritten = aff.filter(not(updPred))
          .unionByName(applySet(aff.filter(updPred)))
        val rw = rewritten.write.mode(SaveMode.Overwrite)
        (if (partCols.nonEmpty) rw.partitionBy(partCols: _*) else rw)
          .parquet(stage)
        // a SET expression that writes a constraint-violating value must
        // abort here, with the table untouched
        enforceConstraints(spark, tablePath,
          () => spark.read.parquet(stage), s"update(v=$v)",
          cleanup = () => deleteRecursively(new java.io.File(stage)))
        validateGenerated(spark, tablePath,
          () => spark.read.parquet(stage), s"update(v=$v)",
          cleanup = () => deleteRecursively(new java.io.File(stage)))
        try {
          affected.foreach { name =>
            val rel = root.relativize(byName(name).toPath).toString
            val dest = Paths.get(removedPath(tablePath)).resolve(rel)
            Files.createDirectories(dest.getParent)
            Files.move(byName(name).toPath, dest,
              StandardCopyOption.ATOMIC_MOVE)
          }
          val committed = moveStagedIn(tablePath, stage, "update", v)
          val gone = affected.toSet
          writeFileStats(tablePath,
            readFileStats(tablePath).toSeq.collect {
              case ((f, c), (l, h)) if !gone.contains(f) => (f, c, l, h)
            }, append = false)
          writeFileStats(tablePath,
            footerStats(spark, committed.map(_.toFile)) ++
              partitionStats(tablePath, committed), append = true)
          val reg = Paths.get(liveFilesPath(tablePath))
          if (Files.exists(reg)) recordLiveFiles(tablePath)
          writeFileList(snapshotFullPath(tablePath, v),
            listParquetFiles(new java.io.File(tablePath))
              .map(f => root.relativize(f.toPath).toString))
          writeFileList(snapshotUpdatePath(tablePath, v), affected)
          writeVersion(tablePath, v)
          UpdateResult(v, rowsUpdated, affected.size, total)
        } finally dropStage(stage)
      }
    }

  /** Outcome of a [[mergeInto]]: the committed version, exact row
    * counts, and the file-level blast radius.
    */
  case class MergeResult(version: Long, rowsUpdated: Long,
      rowsInserted: Long, filesRewritten: Int, filesTotal: Int)

  /** MERGE INTO — the engine analogue of Delta's
    * `MERGE INTO t USING s ON t.key = s.key
    *  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
    * (the reference's dimension refresh is exactly this statement,
    * populate_dim.py:71-78). `source` must carry UNIQUE keys (the Delta
    * error for a target row matching several source rows is enforced up
    * front); every matched target row is replaced by its source row,
    * unmatched source rows append.
    *
    * Schema evolution (Delta's `schema.autoMerge`): with
    * `autoMergeSchema = true`, source columns the table lacks are added
    * (nullable) — existing rows read as null, survivors and inserts are
    * padded, and the tracked schema evolves at commit. Source columns
    * missing from the table are rejected without the flag; a source
    * column whose TYPE conflicts is always rejected, flag or no flag.
    * Columns the source omits keep their target values on update (Delta
    * `UPDATE SET *` semantics) and are null on insert.
    *
    * Scale shape, same as [[deleteRange]]: the source key range prunes
    * candidate files via recorded stats, an exact per-file match count
    * (source broadcast — an upsert batch is dimension-sized) confirms the
    * prune, and ONLY files holding matched keys are rewritten; at 100 TB
    * a keyed upsert touches a handful of files. Replaced originals are
    * quarantined (pre-merge versions keep time-traveling, [[restoreTo]]
    * undoes the merge, [[vacuumRemoved]] is the retention boundary).
    *
    * CDC: the change files embed Delta's CDC row types per row —
    * `update_preimage` (matched target rows as they were),
    * `update_postimage` (their source replacements), `insert` (appended
    * rows) — served by [[readChangesBetween]], O(changed rows) forever.
    */
  def mergeInto(spark: SparkSession, tablePath: String, source0: DataFrame,
      key0: String, autoMergeSchema: Boolean = false): MergeResult =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      requireNoOutstandingDvs(tablePath, "mergeInto")
      // the source arrives LOGICALLY named (it is caller data): translate
      // to physical so the join/rewrite/CDC all speak file terms
      val source = toPhysicalDf(tablePath, source0)
      val key = toPhysical(tablePath, key0)
      val root = Paths.get(tablePath)
      val v0 = readVersion(tablePath)
      val schema = readTableSchema(tablePath)
      val partCols = readPartitioning(tablePath)
      def reader = {
        val r = schema.map(spark.read.schema).getOrElse(spark.read)
        if (partCols.nonEmpty) r.option("basePath", tablePath) else r
      }
      // stage the source once: it feeds key-range bounds, three joins,
      // and the change files — and must not be recomputed between them
      val src = source.localCheckpoint()
      // schema reconciliation BEFORE any work: type conflicts always
      // reject; new source columns reject unless autoMergeSchema, then
      // extend the table schema (nullable) Delta-autoMerge style
      val tableFields: Seq[org.apache.spark.sql.types.StructField] =
        schema.map(_.fields.toSeq).getOrElse {
          if (listParquetFiles(new java.io.File(tablePath)).nonEmpty)
            spark.read.parquet(tablePath).schema.fields.toSeq
          else src.schema.fields.toSeq
        }
      src.schema.fields.foreach { f =>
        tableFields.find(_.name == f.name).foreach { ex =>
          if (ex.dataType != f.dataType)
            throw new IllegalArgumentException(
              s"mergeInto schema conflict on $tablePath: column " +
                s"'${f.name}' is ${ex.dataType.simpleString} but the " +
                s"source carries ${f.dataType.simpleString}")
        }
      }
      val newCols = src.schema.fields
        .filterNot(f => tableFields.exists(_.name == f.name))
      if (newCols.nonEmpty && !autoMergeSchema)
        throw new IllegalArgumentException(
          s"mergeInto source carries columns $tablePath lacks " +
            s"(${newCols.map(_.name).mkString(", ")}) — pass " +
            "autoMergeSchema = true to evolve the table schema")
      val evolvedFields = tableFields ++ newCols.map(_.copy(nullable = true))
      val srcHas = src.columns.toSet
      // every row set this merge writes is padded to the evolved schema
      def pad(df: DataFrame): DataFrame =
        df.select(evolvedFields.map { f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
      // ONE aggregate job answers all three source questions (row count,
      // key ambiguity, key range) that previously ran as three separate
      // actions over the checkpointed source (guide §1.2: cut fixed
      // per-action driver cost once the algorithm is right). Distinct
      // ROW count over the key column = countDistinct (null-excluding)
      // plus one when any null key exists — exactly distinct().count().
      val srcMeta = src.agg(count(lit(1)), count_distinct(col(key)),
        count(col(key)), min(col(key).cast("double")),
        max(col(key).cast("double"))).first()
      val nSrc = srcMeta.getLong(0)
      val distinctKeyRows = srcMeta.getLong(1) +
        (if (srcMeta.getLong(2) < nSrc) 1L else 0L)
      require(distinctKeyRows == nSrc,
        s"mergeInto source has duplicate '$key' values — a target row " +
          "matching several source rows is ambiguous (Delta MERGE error)")
      val keyMm = srcMeta
      val total = listParquetFiles(new java.io.File(tablePath)).size
      if (nSrc == 0) MergeResult(v0, 0L, 0L, 0, total)
      else {
        val (candidates, _) =
          skippingPlan(tablePath, key, keyMm.getDouble(3), keyMm.getDouble(4))
        val byName = listParquetFiles(new java.io.File(tablePath))
          .map(f => f.getName -> f).toMap
        val srcKeys = src.select(col(key))
        val cand =
          if (candidates.isEmpty) None
          else Some(reader.parquet(
            candidates.map(byName(_).getAbsolutePath): _*))
        // exact per-file matched-row counts: candidate scan × broadcast
        // source keys, one metadata-scale job
        val perFile: Array[(String, Long)] = cand.map(
          _.join(broadcast(srcKeys), Seq(key))
            .groupBy(input_file_name().as("path")).count().collect()
            .map(r => (Paths.get(new java.net.URI(r.getString(0)).getPath)
              .getFileName.toString, r.getLong(1)))).getOrElse(Array.empty)
        val affected = perFile.map(_._1).toSeq.sorted
        val rowsUpdated = perFile.map(_._2).sum
        // keys present in ANY candidate file are the matched set; keys in
        // non-candidate files are provably outside their stats ranges
        val matchedKeys = cand.map(
          _.select(col(key)).join(broadcast(srcKeys), Seq(key), "left_semi")
            .distinct().localCheckpoint())
        val inserts = pad(matchedKeys
          .map(mk => src.join(mk, Seq(key), "left_anti")).getOrElse(src))
          .localCheckpoint()
        val rowsInserted = inserts.count()
        if (rowsUpdated == 0 && rowsInserted == 0)
          MergeResult(v0, 0L, 0L, 0, total)
        else {
          val v = v0 + 1
          val aff =
            if (affected.isEmpty) None
            else Some(reader.parquet(
              affected.map(byName(_).getAbsolutePath): _*))
          // per matched target ROW, the source replacement (duplicate
          // target keys stay duplicated — Delta updates each matched row)
          val attrs = src.columns.filterNot(_ == key).toSeq
          val srcRenamed = attrs.foldLeft(src)((d, c) =>
            d.withColumnRenamed(c, s"__src_$c"))
          // per evolved column: source value where the source carries it,
          // target value where it does not (UPDATE SET * semantics)
          def updated(base: DataFrame) =
            base.join(broadcast(srcRenamed), Seq(key))
              .select(evolvedFields.map { f =>
                if (f.name == key) col(key)
                else if (srcHas(f.name)) col(s"__src_${f.name}").as(f.name)
                else col(f.name)
              }: _*)
          // CDC change files (typed per row) — written while originals
          // live; preimages pad to the evolved schema so one CDC read
          // spans the evolution boundary
          val pre = aff.map(a => pad(a.join(broadcast(srcKeys), Seq(key)))
            .withColumn("__change_type", lit("update_preimage")))
          // updated() inner-joins the source, so it is already exactly
          // the matched rows with their replacement values
          val post = aff.map(a => updated(a)
            .withColumn("__change_type", lit("update_postimage")))
          val ins = inserts.withColumn("__change_type", lit("insert"))
          // pre + post ≤ 2× the affected bytes; inserts are bounded by a
          // nominal per-row width — an estimate only sizes the part files
          val affBytes = affected.map(byName(_).length()).sum
          (pre.toSeq ++ post.toSeq :+ ins)
            .reduce(_.unionByName(_))
            .coalesce(changeWriteParts(2L * affBytes + 64L * rowsInserted))
            .write.mode(SaveMode.Overwrite)
            .parquet(changesPath(tablePath, v))
          // replacement content: affected survivors + updated + inserts
          // (partition layout preserved)
          val stage = s"${tablePath}__stage/${java.util.UUID.randomUUID()}"
          val rewritten = aff.map { a =>
            pad(a.join(broadcast(srcKeys), Seq(key), "left_anti"))
              .unionByName(updated(a))
          }.getOrElse(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              inserts.schema))
            .unionByName(inserts)
          val rewW = rewritten.write.mode(SaveMode.Overwrite)
          (if (partCols.nonEmpty) rewW.partitionBy(partCols: _*) else rewW)
            .parquet(stage)
          // a merge that would write a constraint-violating row (bad
          // update values or inserts) must abort BEFORE any original is
          // quarantined — the table is still fully intact here
          enforceConstraints(spark, tablePath,
            () => spark.read.parquet(stage), s"merge(v=$v)",
            cleanup = () => deleteRecursively(new java.io.File(stage)))
          validateGenerated(spark, tablePath,
            () => spark.read.parquet(stage), s"merge(v=$v)",
            cleanup = () => deleteRecursively(new java.io.File(stage)))
          try {
            affected.foreach { name =>
              val rel = root.relativize(byName(name).toPath).toString
              val dest = Paths.get(removedPath(tablePath)).resolve(rel)
              Files.createDirectories(dest.getParent)
              Files.move(byName(name).toPath, dest,
                StandardCopyOption.ATOMIC_MOVE)
            }
            val committed = moveStagedIn(tablePath, stage, "merge", v)
            val gone = affected.toSet
            writeFileStats(tablePath,
              readFileStats(tablePath).toSeq.collect {
                case ((f, c), (l, h)) if !gone.contains(f) => (f, c, l, h)
              }, append = false)
            writeFileStats(tablePath,
              footerStats(spark, committed.map(_.toFile)) ++
                partitionStats(tablePath, committed), append = true)
            val reg = Paths.get(liveFilesPath(tablePath))
            if (Files.exists(reg)) recordLiveFiles(tablePath)
            writeFileList(snapshotFullPath(tablePath, v),
              listParquetFiles(new java.io.File(tablePath))
                .map(f => root.relativize(f.toPath).toString))
            writeFileList(snapshotMergePath(tablePath, v), affected)
            // the tracked schema evolves WITH the commit (readers of old
            // versions get nulls for the new nullable columns)
            if (newCols.nonEmpty)
              mergeAndWriteSchema(tablePath,
                org.apache.spark.sql.types.StructType(evolvedFields))
            writeVersion(tablePath, v)
            MergeResult(v, rowsUpdated, rowsInserted, affected.size, total)
          } finally dropStage(stage)
        }
      }
    }

  /** Retention boundary for delete history: reclaim quarantined originals
    * (`_graft_log/removed/`) and CDC change files (`_graft_log/changes/`)
    * older than `cutoffEpochMs` — Delta's VACUUM applied to DELETE
    * leftovers. After reclaim, time travel to pre-delete versions and CDF
    * over the delete version fail LOUDLY (the protocol's honest-reclaim
    * convention); the delete markers under `snapshots/` are metadata and
    * always survive, which is what keeps the failure loud instead of a
    * silent empty slice. The cutoff is injected, never wall clock.
    *
    * @return number of files reclaimed
    */
  def vacuumRemoved(tablePath: String, cutoffEpochMs: Long): Int = {
    def sweep(dir: java.io.File): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
        else Seq(f)
      if (dir.exists()) walk(dir) else Nil
    }
    val victims = (sweep(new java.io.File(removedPath(tablePath))) ++
      sweep(new java.io.File(s"$tablePath/_graft_log/changes")))
      .filter(_.lastModified() < cutoffEpochMs)
    victims.foreach(_.delete())
    Seq(new java.io.File(removedPath(tablePath)),
      new java.io.File(s"$tablePath/_graft_log/changes")).foreach { d =>
      if (d.exists()) {
        pruneEmptyDirs(d)
        if (Option(d.listFiles()).exists(_.isEmpty)) d.delete()
      }
    }
    victims.size
  }

  /** Scoped OPTIMIZE — Delta's `OPTIMIZE t WHERE <partition predicate>`:
    * compact ONLY the files whose recorded [min, max] on `column`
    * intersects [lo, hi]. At 100 TB you compact the hot key range (the
    * streaming sink's small fresh files), never the table; everything
    * outside the range keeps its files, stats, and names untouched. Like
    * [[compact]] this is a rewrite (dataChange=false): the CDF skips the
    * version and pre-rewrite history of the touched files is reclaimed
    * loudly. Runs under the commit lock (the scoped set is small by
    * construction, so the hold is brief).
    *
    * @return number of files compacted (0 = nothing to do)
    */
  def compactWhere(spark: SparkSession, tablePath: String, column0: String,
      lo: Double, hi: Double, targetFiles: Int): Int =
    withCommitLock(tablePath, timeoutMs = 600000L) {
      // reads its candidate subset RAW (unlike the whole-table rewrites,
      // which go through the DV-aware readTable and so materialize
      // vectors as they compact)
      requireNoOutstandingDvs(tablePath, "compactWhere")
      val column = toPhysical(tablePath, column0)
      val root = Paths.get(tablePath)
      val (candidates, _) = skippingPlan(tablePath, column, lo, hi)
      if (candidates.size <= targetFiles) 0
      else {
        val byName = listParquetFiles(new java.io.File(tablePath))
          .map(f => f.getName -> f).toMap
        val schema = readTableSchema(tablePath)
        val partCols = readPartitioning(tablePath)
        val readerB = {
          val r = schema.map(spark.read.schema).getOrElse(spark.read)
          if (partCols.nonEmpty) r.option("basePath", tablePath) else r
        }
        val stage = s"${tablePath}__stage/${java.util.UUID.randomUUID()}"
        val cw = readerB
          .parquet(candidates.map(byName(_).getAbsolutePath): _*)
          .coalesce(targetFiles)
          .write.mode(SaveMode.Overwrite)
        (if (partCols.nonEmpty) cw.partitionBy(partCols: _*) else cw)
          .parquet(stage)
        try {
          val v = readVersion(tablePath) + 1
          // a rewrite physically reclaims its inputs (same contract as
          // whole-table compact — history before it reads loudly-missing)
          candidates.foreach(n => Files.delete(byName(n).toPath))
          val committed = moveStagedIn(tablePath, stage, "compactw", v)
          val gone = candidates.toSet
          writeFileStats(tablePath,
            readFileStats(tablePath).toSeq.collect {
              case ((f, c), (l, h)) if !gone.contains(f) => (f, c, l, h)
            }, append = false)
          writeFileStats(tablePath,
            footerStats(spark, committed.map(_.toFile)) ++
              partitionStats(tablePath, committed), append = true)
          val reg = Paths.get(liveFilesPath(tablePath))
          if (Files.exists(reg)) recordLiveFiles(tablePath)
          writeFileList(snapshotFullPath(tablePath, v),
            listParquetFiles(new java.io.File(tablePath))
              .map(f => root.relativize(f.toPath).toString))
          writeVersion(tablePath, v)
          candidates.size
        } finally dropStage(stage)
      }
    }

  /** OPTIMIZE-style compaction: rewrite the table to `targetFiles` files
    * via the optimistic read-validate-swap protocol above — safe against
    * concurrent [[commitAppend]] writers.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit =
    optimisticRewrite(spark, path, "__compact_tmp") { (df, tmp) =>
      val w = df.coalesce(targetFiles).write.mode(SaveMode.Overwrite)
      val pc = readPartitioning(path)
      (if (pc.nonEmpty) w.partitionBy(pc: _*) else w).parquet(tmp)
    }

  /** Z-order-lite: range-cluster the table on `clusterCols` so parquet
    * row-group min/max stats give data skipping on those columns
    * (reference: delta_manager.py:19-24 Z-ORDER BY coin_id — dead code
    * there via the batchIid typo; alive here). Same optimistic protocol
    * as [[compact]].
    */
  def cluster(spark: SparkSession, path: String, clusterCols0: Seq[String],
      targetFiles: Int): Unit = {
    val clusterCols = clusterCols0.map(toPhysical(path, _))
    optimisticRewrite(spark, path, "__cluster_tmp") { (df, tmp) =>
      val w = df.repartitionByRange(targetFiles, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
        .write.mode(SaveMode.Overwrite)
      val pc = readPartitioning(path)
      (if (pc.nonEmpty) w.partitionBy(pc: _*) else w).parquet(tmp)
    }
  }

  /** TRUE Z-ordering on two columns — bit-interleaved multi-dimensional
    * clustering (Delta's `ZORDER BY`; the reference intends it at
    * delta_manager.py:19-24, dead code there via the batchIid typo). The
    * lexicographic sort [[cluster]] performs gives perfect file skipping
    * on the FIRST column and none on the second; interleaving the bits of
    * both (Morton order) spends the sort's locality budget evenly, so a
    * filter on EITHER column prunes files via parquet row-group min/max.
    *
    * Each column is linearly min-max-normalized to 16 bits, then the bits
    * alternate into one 32-bit key — plain bitwise column arithmetic, fully
    * codegen'd, no UDF; the rewrite is one repartitionByRange+sort, the
    * same shuffle shape as [[cluster]] at any scale. Linear normalization
    * assumes roughly uniform value spread (true of id/timestamp columns);
    * heavily skewed columns should be rank- or log-transformed first.
    */
  def zorder(spark: SparkSession, path: String, colA: String, colB: String,
      targetFiles: Int): Unit =
    zorderN(spark, path, Seq(colA, colB), targetFiles)

  /** N-dimensional Z-order (2 ≤ n ≤ 8 columns): each column is min-max
    * normalized to `62/n`-bit integers (16-bit cap) and the bits
    * interleave round-robin — bit k of column j lands at position
    * `k·n + j` — so a range predicate on ANY of the n columns maps to
    * contiguous-ish Morton runs and per-file [min,max] stats prune on
    * every dimension (lexicographic clustering only prunes the first).
    * More dimensions = fewer bits each = coarser per-dimension locality,
    * the standard Z-order trade.
    */
  def zorderN(spark: SparkSession, path: String, zCols0: Seq[String],
      targetFiles: Int): Unit = {
    val zCols = zCols0.map(toPhysical(path, _))
    require(zCols.size >= 2 && zCols.size <= 8,
      s"zorderN takes 2..8 columns, got ${zCols.size}")
    val n = zCols.size
    val bitsPer = math.min(16, 62 / n)
    optimisticRewrite(spark, path, "__zorder_tmp") { (df, tmp) =>
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
      val mm = df.agg(aggs.head, aggs.tail: _*).first()
      val maxVal = (1L << bitsPer) - 1
      def normBits(c: String, lo: Double, hi: Double) = {
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        val scaled = (col(c).cast("double") - lo) / span * maxVal.toDouble
        // nulls sort first (slot 0), like Spark's default null ordering
        least(greatest(coalesce(scaled.cast("long"), lit(0L)), lit(0L)),
          lit(maxVal))
      }
      val z = zCols.zipWithIndex.foldLeft(lit(0L)) { case (acc0, (c, j)) =>
        val v = normBits(c, mm.getDouble(2 * j), mm.getDouble(2 * j + 1))
        (0 until bitsPer).foldLeft(acc0) { (acc, k) =>
          // bit k (mask 1<<k) moves to position k·n + j: shift by k(n−1)+j
          acc.bitwiseOR(shiftleft(v.bitwiseAND(lit(1L << k)),
            k * (n - 1) + j))
        }
      }
      val w = df.withColumn("__z", z)
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode(SaveMode.Overwrite)
      val pc = readPartitioning(path)
      (if (pc.nonEmpty) w.partitionBy(pc: _*) else w).parquet(tmp)
    }
  }

  /** Rewrite attempts DISCARDED because a concurrent commit bumped the
    * version mid-attempt — the OCC conflict path. Monotonic,
    * process-wide, observability only (never read by the protocol):
    * stress specs assert a race actually pushed the retry loop rather
    * than the writers accidentally serializing.
    */
  val rewriteConflicts = new java.util.concurrent.atomic.AtomicLong()

  private def optimisticRewrite(spark: SparkSession, path: String,
      tmpSuffix: String)(write: (DataFrame, String) => Unit): Unit = {
    val tmp = path + tmpSuffix
    val maxOptimistic = 4
    var attempts = 0
    var committed = false
    while (!committed && attempts < maxOptimistic) {
      attempts += 1
      val v0 = readVersion(path)
      // version read BEFORE the snapshot listing: any append that lands
      // after this point bumps the version and invalidates the attempt.
      // readTable: a rewrite of an evolved table must carry the full
      // tracked schema, not one random file's subset
      write(readTable(spark, path), tmp)
      committed = withCommitLock(path) {
        if (readVersion(path) == v0) { swapCommit(spark, path, tmp); true }
        else {
          rewriteConflicts.incrementAndGet()
          deleteRecursively(new java.io.File(tmp)); false
        }
      }
    }
    if (!committed) {
      // a hot appender kept winning the race — take the lock for the whole
      // rewrite (appenders briefly queue on the lock; progress guaranteed)
      withCommitLock(path, timeoutMs = 300000L) {
        write(readTable(spark, path), tmp)
        swapCommit(spark, path, tmp)
      }
    }
  }

  /** Swap the rewritten tree in and advance the version. Caller holds the
    * commit lock. The whole `_graft_log` (manifest + version + live-file
    * registry) is table history, not data — it carries over the rewrite.
    */
  private def swapCommit(spark: SparkSession, path: String,
      tmp: String): Unit = {
    val old = path + "__old"
    Files.move(Paths.get(path), Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    val oldLog = Paths.get(old, "_graft_log")
    if (Files.exists(oldLog))
      Files.move(oldLog, Paths.get(path, "_graft_log"))
    deleteRecursively(new java.io.File(old))
    val v = readVersion(path) + 1
    // the rewrite replaced every data file: snapshot the new FULL listing
    // for this version — older snapshots stay on disk but their files are
    // gone, so readAsOf on them now fails with the reclaimed-files error
    val root = Paths.get(path)
    writeFileList(snapshotFullPath(path, v),
      listParquetFiles(new java.io.File(path))
        .map(f => root.relativize(f.toPath).toString))
    // a rewrite replaced every data file: REPLACE the stats wholesale —
    // entries for the dead files would only pin deleted names, and the
    // rewritten files (esp. zorder/cluster output) are exactly where
    // tight per-file bounds pay off
    writeFileStats(path,
      footerStats(spark, listParquetFiles(new java.io.File(path))) ++
        partitionStats(path,
          listParquetFiles(new java.io.File(path)).map(_.toPath)),
      append = false)
    writeVersion(path, v)
    recordLiveFiles(path)
  }

  /** The reference's maintenance cadence — OPTIMIZE every N ingest batches
    * (reference: udf.py:77-78, every 60 batches; AutomateTable.py:57
    * disables the retention check the same job owns). Call after each
    * [[recordCommit]]: compacts when the commit count is a positive
    * multiple of `everyN`.
    *
    * @return true if a compaction ran
    */
  def maybeCompact(spark: SparkSession, path: String, everyN: Int,
      targetFiles: Int): Boolean = {
    val m = new java.io.File(manifestPath(path))
    if (!m.exists()) return false
    // idempotent per commit count, including CONCURRENT double calls:
    // the check-and-claim of last_compacted runs under the commit lock
    // (claim first, then compact released — compact re-takes the lock
    // internally, and the lock is not reentrant), so two callers at the
    // same commit count can never both pass the n > last gate
    val claimed = withCommitLock(path) {
      val n = Files.readString(m.toPath).linesIterator.count(_.nonEmpty)
      val lastP = Paths.get(s"$path/_graft_log/last_compacted")
      val last =
        if (Files.exists(lastP)) Files.readString(lastP).trim.toLong else 0L
      if (n > 0 && n % everyN == 0 && n > last) {
        Files.writeString(lastP, n.toString)
        true
      } else false
    }
    if (claimed) compact(spark, path, targetFiles)
    claimed
  }

  /** Append a commit record (JSON line) to the table's manifest. */
  def recordCommit(tablePath: String, commitTs: String, df: DataFrame,
      eventTimeCol: String): Unit = {
    val stats = df.agg(
      count(lit(1)).as("n_rows"),
      min(col(eventTimeCol)).cast("string").as("min_event_time"),
      max(col(eventTimeCol)).cast("string").as("max_event_time")).first()
    recordCommitStats(tablePath, commitTs, stats.getLong(0),
      stats.getString(1), stats.getString(2))
  }

  /** Same manifest line as [[recordCommit]] from precomputed stats — for
    * callers that already aggregated many commits' stats in one pass (one
    * Spark job for a whole backfill history instead of one per commit).
    */
  def recordCommitStats(tablePath: String, commitTs: String, nRows: Long,
      minEventTime: String, maxEventTime: String): Unit = {
    val line =
      s"""{"commit_ts":"$commitTs","n_rows":$nRows,""" +
        s""""min_event_time":"$minEventTime",""" +
        s""""max_event_time":"$maxEventTime"}""" + "\n"
    val manifest = Paths.get(manifestPath(tablePath))
    Files.createDirectories(manifest.getParent)
    Files.writeString(manifest, line,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  def manifestPath(tablePath: String): String =
    s"$tablePath/_graft_log/manifest.json"

  /** S8 analogue: scan the commit manifest as JSON and derive per-commit
    * ingest latency = commit_ts − max event time (reference:
    * TimeDelay.ipynb `delay` column).
    */
  def commitStats(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.json(manifestPath(tablePath))
      .select(col("commit_ts"), col("n_rows"),
        col("min_event_time"), col("max_event_time"),
        (unix_timestamp(col("commit_ts"))
          - unix_timestamp(col("max_event_time"))).as("latency_sec"))

  // ---------------------------------------------------------------------
  // Retention-window VACUUM (reference: delta_manager.py:11-17 — delete
  // data files past a 24 h retention). The table's live snapshot is the
  // file registry under _graft_log (the engine's analogue of the Delta
  // log's add-file set); vacuum deletes files under the table root that
  // are NOT registered and are older than the injected cutoff. The cutoff
  // is a parameter, never wall clock (SURVEY §5 determinism contract).

  def liveFilesPath(tablePath: String): String =
    s"$tablePath/_graft_log/live_files.txt"

  /** Register the table's current data files as live (one relative path
    * per line). Call after any committed rewrite — compact/cluster do.
    */
  def recordLiveFiles(tablePath: String): Unit = {
    val root = Paths.get(tablePath)
    val files = listDataFiles(new java.io.File(tablePath))
      .map(f => root.relativize(f.toPath).toString).sorted
    writeAtomic(Paths.get(liveFilesPath(tablePath)),
      files.mkString("", "\n", "\n"))
  }

  /** Delete orphaned data files with mtime older than `cutoffEpochMs`
    * (leftovers from failed/superseded writes: `__old` / `*_tmp` sibling
    * trees from a crashed rewrite, uncommitted `_temporary` task files).
    * A file is deletable only when ALL of:
    *   - not in the live-file registry,
    *   - older than the retention cutoff (an in-flight writer's fresh
    *     files survive — the race the reference's 24 h default guards),
    *   - older than the registry snapshot itself: files appended AFTER the
    *     last recordLiveFiles are legitimate commits the registry simply
    *     hasn't seen, never orphans.
    * Also sweeps the rewrite staging siblings (`<path>__old`,
    * `<path>__compact_tmp`, `<path>__cluster_tmp`), which a crashed
    * compact/cluster leaves OUTSIDE the table root.
    * Refuses to run (returns -1) if no live-file registry exists: without
    * a snapshot every file would look like an orphan.
    *
    * @return number of files deleted, or -1 if the table has no registry
    */
  def vacuum(tablePath: String, cutoffEpochMs: Long): Int = {
    val reg = new java.io.File(liveFilesPath(tablePath))
    if (!reg.exists()) return -1
    val regMtime = reg.lastModified()
    val root = Paths.get(tablePath)
    val live = Files.readString(reg.toPath).linesIterator
      .filter(_.nonEmpty).toSet
    val inRoot = listDataFiles(new java.io.File(tablePath)).filter { f =>
      !live.contains(root.relativize(f.toPath).toString)
    }
    val siblingNames = Seq("__old", "__compact_tmp", "__cluster_tmp",
      "__stage")
    val siblings = siblingNames
      .map(s => new java.io.File(tablePath + s)).filter(_.exists())
      .flatMap(listDataFiles)
    val victims = (inRoot ++ siblings).filter(f =>
      f.lastModified() < cutoffEpochMs && f.lastModified() < regMtime)
    victims.foreach(_.delete())
    pruneEmptyDirs(new java.io.File(tablePath))
    siblingNames
      .map(s => new java.io.File(tablePath + s)).filter(_.exists())
      .foreach { d =>
        pruneEmptyDirs(d)
        if (Option(d.listFiles()).exists(_.isEmpty)) d.delete()
      }
    victims.size
  }

  /** All regular files under the table root except the _graft_log tree
    * (the log is table metadata, never vacuum-eligible — same contract as
    * Delta's _delta_log).
    */
  /** Data files only — the snapshot/time-travel surface. Markers
    * (_SUCCESS) and checksums (.crc) are not data: recording them in a
    * snapshot would make readAsOf demand files any cleanup may remove.
    */
  private def listParquetFiles(root: java.io.File): Seq[java.io.File] =
    listDataFiles(root).filter(_.getName.endsWith(".parquet"))

  private def listDataFiles(root: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName == "_graft_log") Seq.empty
      else if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
      else Seq(f)
    walk(root)
  }

  private def pruneEmptyDirs(root: java.io.File): Unit = {
    Option(root.listFiles()).foreach(_.filter(_.isDirectory)
      .filter(_.getName != "_graft_log").foreach { d =>
        pruneEmptyDirs(d)
        if (Option(d.listFiles()).exists(_.isEmpty)) d.delete()
      })
  }

  def parquetFileCount(path: String): Int =
    Option(new java.io.File(path).listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)

  private def deleteRecursively(f: java.io.File): Unit =
    graft.util.Fs.deleteRecursively(f)
}
