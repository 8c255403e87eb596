package graft.store

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Parquet-backed table store with the reference's two idempotent
  * load semantics (`src/pipeline.py:133-298`), re-expressed as set
  * operations instead of row-at-a-time probes:
  *
  *  - insert-if-absent (S7): anti-join new rows against existing keys,
  *    append only the novel ones — `INSERT … ON CONFLICT DO NOTHING`;
  *  - upsert (S8): latest-wins merge that rewrites the table only when
  *    a batch row changes it — `UPDATE` existing / `INSERT` new,
  *    per-record savepoints replaced by an upfront validity filter
  *    (Spark tasks are all-or-nothing).
  *
  * Both satisfy the reference's explicit "safe to re-run" contract
  * (README.md:37): applying the same batch twice ≡ once.
  *
  * Writes go to a temp dir then swap via FileSystem rename, because
  * Spark cannot overwrite a path it is currently reading.
  */
final class TableStore(spark: SparkSession, root: String) {

  def path(table: String): String = s"$root/$table"

  /** Schema catalog, kept with the data: every write stores the frame's
    * schema as the `_`-prefixed side file [[SchemaFile]] inside the
    * table directory (swaps write it into `__tmp` before the rename, so
    * it commits with the data), and [[read]] uses it instead of parquet
    * footer inference — a Spark job per `spark.read.parquet` call,
    * measured ~60 ms each at gate scale. Because the catalog lives on
    * disk, a fresh TableStore on an existing root (one per pipeline
    * run, one JVM per run in production) reads without inference too.
    * The stored schema is `df.schema` forced nullable, which is exactly
    * what file-source inference returns (file sources force every
    * field nullable — write `k:bigint:false` → read `k:bigint:true`),
    * so a catalogued read is plan-identical to an inferred one. Spark's
    * file index skips `_`/`.`-prefixed files, so the side file (and the
    * local filesystem's `.crc` next to it) is invisible to
    * `spark.read.parquet`, [[registerViews]] and [[fileCount]]. A table
    * without the side file (written before it existed, or by another
    * writer) falls back to inference.
    */
  private lazy val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  // recursive nullable-forcing, matching file-source inference
  // (DataSource.resolveRelation applies asNullable to file schemas;
  // the method itself is private[spark])
  private def forceNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = forceNullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(
      elementType = forceNullable(a.elementType), containsNull = true)
    case m: MapType => m.copy(
      keyType = forceNullable(m.keyType),
      valueType = forceNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def saveSchema(dir: String, df: DataFrame): Unit = {
    val out = fs.create(new Path(dir, TableStore.SchemaFile), true)
    try out.write(forceNullable(df.schema).json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def storedSchema(table: String): Option[StructType] =
    try {
      val in = fs.open(new Path(path(table), TableStore.SchemaFile))
      try Some(DataType.fromJson(
        new String(in.readAllBytes(), StandardCharsets.UTF_8)).asInstanceOf[StructType])
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  def exists(table: String): Boolean = fs.exists(new Path(path(table)))

  def read(table: String): Option[DataFrame] =
    if (!exists(table)) None
    else Some(storedSchema(table) match {
      case Some(known) => spark.read.schema(known).parquet(path(table))
      case None => spark.read.parquet(path(table))
    })

  /** Overwrite `table` with `df`; returns the rows written, counted by
    * an observation on the write job itself.
    */
  def write(table: String, df: DataFrame): Long = {
    val n = counted(df)(_.write.mode(SaveMode.Overwrite).parquet(path(table)))
    saveSchema(path(table), df)
    n
  }

  private def counted(df: DataFrame)(save: DataFrame => Unit): Long = {
    val rows = Observation()
    save(df.observe(rows, count(lit(1)).as("n")))
    rows.get("n").asInstanceOf[Long]
  }

  /** Append only rows whose key is not already present; returns the
    * number of rows actually inserted.
    */
  def appendIfAbsent(table: String, df: DataFrame, key: String): Long =
    read(table) match {
      case None => write(table, df.dropDuplicates(key))
      case Some(existing) =>
        val novel = df.dropDuplicates(key)
          .join(existing.select(key), Seq(key), "left_anti")
        val n = novel.count()
        if (n > 0) novel.write.mode(SaveMode.Append).parquet(path(table))
        n
    }

  /** Latest-wins upsert: rows in `df` replace existing rows with the
    * same key; among duplicates the highest `versionCol` (then the
    * incoming batch over the stored copy) wins. Returns the number of
    * rows that changed the table.
    */
  def upsert(table: String, df: DataFrame, key: String, versionCol: String): Long =
    upsert(table, df, Seq(key), versionCol)

  /** Composite-key latest-wins upsert (same semantics as the
    * single-key form; the key is the tuple of `keys`, compared
    * null-safely, so a null key is one key like any other).
    *
    * One pass over the batch finds the rows that change the table: after
    * in-batch latest-wins dedup, a row changes the table unless the
    * stored row with its key has a higher version (nulls lowest) or is
    * identical in every column. Nothing changes → nothing is written:
    * a replayed batch, or the empty final micro-batch a streaming query
    * delivers to foreachBatch, costs one probe job over the batch and
    * no rewrite. Otherwise the stored rows of the changed keys are
    * anti-joined away and the changed rows appended: the table is
    * streamed through a join against the (small) changed keys instead
    * of the table-wide `row_number` shuffle a union-and-rank merge
    * needs. Broadcast choices are left to the planner's threshold.
    */
  def upsert(table: String, df: DataFrame, keys: Seq[String], versionCol: String): Long = {
    val latest = dedupLatest(df.withColumn("__src", lit(1)), keys, versionCol)
    read(table) match {
      case None => write(table, latest)
      case Some(existing) =>
        val stored = existing.select(existing.columns.map(c => col(c).as(s"__s_$c")): _*)
        def s(c: String) = col(s"__s_$c")
        val sameKey = keys.map(k => col(k) <=> s(k)).reduce(_ && _)
        val storedHigher = coalesce(s(versionCol) > col(versionCol),
          s(versionCol).isNotNull && col(versionCol).isNull)
        val identical = latest.columns.map(c => col(c) <=> s(c)).reduce(_ && _)
        val changed = latest.join(stored, sameKey && (storedHigher || identical), "left_anti")
        val n = changed.count()
        if (n > 0) {
          val changedKeys = changed.select(keys.map(k => col(k).as(s"__c_$k")): _*)
          swapWrite(table, existing
            .join(changedKeys, keys.map(k => col(k) <=> col(s"__c_$k")).reduce(_ && _), "left_anti")
            .unionByName(changed))
        }
        n
    }
  }

  /** Apply a CDC changelog: `changes` carries the table schema plus
    * `opCol` ∈ {I, U, D} and a monotone `versionCol`. Per key the
    * highest version wins (stored rows compete with their stored
    * version, so an out-of-order older change can never clobber newer
    * state); a winning D removes the row. MERGE INTO semantics —
    * update + insert + conditional delete — as one set-based
    * latest-wins pass, and replaying any batch is a no-op.
    *
    * Deletes leave a (key, version) tombstone in `<table>__tombstones`
    * so a STALE change arriving after the delete cannot resurrect the
    * row — without them an out-of-order insert would reappear because
    * the deleted key has no stored competitor. At scale, expire
    * tombstones past the pipeline's max out-of-orderness (they are
    * the batch analogue of a streaming watermark horizon).
    */
  def applyCdc(
      table: String,
      changes: DataFrame,
      key: String,
      versionCol: String,
      opCol: String = "op"): Unit = {
    val tombTable = s"${table}__tombstones"
    val incoming = changes.withColumn("__src", lit(1))
    val existing = read(table)
    val tombs = read(tombTable).map(_
      .withColumn(opCol, lit("D")).withColumn("__src", lit(0)))
    val stored = existing.map(_
      .withColumn(opCol, lit("U")).withColumn("__src", lit(0)))
    val all = (stored.toSeq ++ tombs.toSeq).foldLeft(incoming) {
      (acc, df) => acc.unionByName(df, allowMissingColumns = true)
    }
    // materialized BEFORE the swaps: both outputs derive from the
    // tables being replaced, and a lazy plan would re-list the old
    // (deleted) part files after the first swap. At cluster scale use
    // reliable checkpoint() instead.
    val merged = dedupLatest(all, Seq(key), versionCol, dropSrc = false)
      .localCheckpoint()
    val state = merged.filter(col(opCol) =!= "D").drop(opCol, "__src")
    val newTombs = merged.filter(col(opCol) === "D")
      .select(col(key), col(versionCol))
    if (existing.isDefined) swapWrite(table, state) else write(table, state)
    if (read(tombTable).isDefined) swapWrite(tombTable, newTombs)
    else write(tombTable, newTombs)
  }

  /** Type-2 slowly-changing-dimension upsert: history is kept instead
    * of overwritten. Stored rows carry `valid_from`, `valid_to`
    * (null = open) and `is_current`; an incoming row whose attributes
    * differ (null-safe) from the key's current version closes that
    * version at the new `tsCol` and appends a new open one. Re-running
    * the same batch is a no-op (the reference's idempotency contract,
    * pipeline.py:141, extended to versioned history). Latest-wins on
    * out-of-order arrivals: an incoming row older than (or tied with)
    * the key's current `valid_from` is discarded as stale, matching
    * [[upsert]]/[[applyCdc]] — history stays monotone
    * (`valid_from < valid_to`, one open version per key). Set-based
    * (joins + anti-joins), no per-row probes.
    */
  def scd2Upsert(table: String, df: DataFrame, key: String, tsCol: String): Unit = {
    val attrs = df.columns.filterNot(c => c == key || c == tsCol).toSeq
    def open(in: DataFrame): DataFrame =
      in.select(
        (col(key) +: attrs.map(col)) ++ Seq(
          col(tsCol).as("valid_from"),
          lit(null).cast(in.schema(tsCol).dataType).as("valid_to"),
          lit(true).as("is_current")): _*)
    // latest state per key within the batch
    val incoming = dedupLatest(df.withColumn("__src", lit(1)), Seq(key), tsCol)

    read(table) match {
      case None => write(table, open(incoming))
      case Some(existing) =>
        val cur = existing.filter(col("is_current"))
        val hist = existing.filter(!col("is_current"))
        val curSlim = cur.select(col(key).as("__k") +: col("valid_from").as("__c_from") +:
          attrs.map(c => col(c).as(s"__c_$c")): _*)
        val joined = incoming.join(curSlim, col(key) === col("__k"), "left")
        val differs = attrs.map(c => !(col(c) <=> col(s"__c_$c"))).reduce(_ || _)
        // new keys + genuinely-changed keys get a fresh open version.
        // Monotonicity guard (latest-wins, mirroring upsert/applyCdc):
        // a late-arriving row whose ts is not strictly after the
        // current version's valid_from is stale — without the guard it
        // would close the newer version at an OLDER timestamp
        // (valid_to < valid_from) and install the stale row as current.
        val fresh = joined.filter(col("__k").isNull ||
            (differs && col(tsCol) > col("__c_from")))
          .select(col(key) +: (attrs :+ tsCol).map(col): _*)
        val freshKeys = fresh.select(col(key), col(tsCol).as("__new_from"))
        // close the superseded current versions at the new valid_from
        val closed = cur.join(freshKeys, Seq(key), "inner")
          .withColumn("valid_to", col("__new_from"))
          .withColumn("is_current", lit(false))
          .drop("__new_from")
        val untouched = cur.join(freshKeys.select(key), Seq(key), "left_anti")
        swapWrite(table,
          hist.unionByName(untouched).unionByName(closed)
            .unionByName(open(fresh)))
    }
  }

  private def dedupLatest(
      df: DataFrame, keys: Seq[String], versionCol: String,
      dropSrc: Boolean = true): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(desc(versionCol), desc("__src"))
    val deduped = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    if (dropSrc) deduped.drop("__src") else deduped
  }

  /** Selective overwrite (Delta's `replaceWhere` / dynamic partition
    * overwrite): stored rows matching `cond` are replaced by `df`,
    * everything else is untouched — including removing matched rows
    * that `df` no longer contains, which an upsert cannot express.
    * The refresh primitive for partition-grain recomputes: rewrite
    * the touched partitions, never the table. Returns the table's row
    * count after the write, observed on the write job.
    */
  def replaceWhere(table: String, df: DataFrame, cond: org.apache.spark.sql.Column): Long =
    read(table) match {
      case None => write(table, df)
      case Some(existing) =>
        swapWrite(table,
          existing.filter(!coalesce(cond, lit(false))).unionByName(df))
    }

  /** Write `df` hive-partitioned on `partitionCols` (directory per
    * value combination): queries filtering on a partition column prune
    * whole directories at plan time — no file is even listed, the
    * parquet twin of the raw archive's `year=/month=/day=` JSONL
    * layout. Use for the coarse, always-filtered dimension (e.g. day);
    * combine with [[writeZOrdered]] within partitions for finer ones.
    */
  def writePartitioned(table: String, df: DataFrame, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path(table))

  /** Write `df` clustered by the Z-order (Morton) interleave of
    * `zCols` into `nFiles` files: range-partition on the z-value, then
    * sort within partitions, so parquet min/max stats stay tight on
    * EVERY z-ordered column and selective filters on any of them skip
    * most files/row-groups (see [[ZOrder]]).
    */
  def writeZOrdered(table: String, df: DataFrame, zCols: Seq[String], nFiles: Int): Unit = {
    val z = ZOrder.zValue(df, zCols)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    write(table, clustered)
  }

  /** Rewrite a table into ~`targetFileMB`-sized files. Repeated
    * incremental appends (S7) accumulate small files whose per-file
    * open/footer cost dominates scans at scale; periodic compaction
    * restores healthy file sizes. Row-preserving.
    */
  def compact(table: String, targetFileMB: Int = 128): Unit =
    read(table).foreach { df =>
        val bytes = fs.getContentSummary(new Path(path(table))).getLength
      val nFiles = math.max(1, (bytes / (targetFileMB * 1024L * 1024L)).toInt)
      swapWrite(table, df.repartition(nFiles))
    }

  /** Number of data files currently backing a table. */
  def fileCount(table: String): Int = {
    fs.listStatus(new Path(path(table)))
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
  }

  /** Register every readable stored table as a temp view (SURVEY §7.1's
    * temp-view registry) so the whole store is queryable through
    * `spark.sql`. Multi-part tables (AggTable/DedupStore state) expose
    * their leaf datasets as `<table>_<part>`; swap debris (`__tmp`,
    * `__old`) is skipped. Returns the registered view names.
    */
  def registerViews(): Seq[String] = {
    def leaves(p: Path, rel: String): Seq[String] = {
      val entries = fs.listStatus(p).toSeq
      if (entries.exists(e => e.isFile && e.getPath.getName.startsWith("part-")))
        Seq(rel)
      else entries.filter(_.isDirectory)
        .filterNot(e => e.getPath.getName.endsWith("__tmp") ||
          e.getPath.getName.endsWith("__old"))
        .flatMap(e => leaves(e.getPath, s"$rel/${e.getPath.getName}"))
    }
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
      .filterNot(e => e.getPath.getName.endsWith("__tmp") ||
        e.getPath.getName.endsWith("__old"))
      .flatMap(e => leaves(e.getPath, e.getPath.getName))
      .map { rel =>
        val view = rel.replaceAll("[^A-Za-z0-9_]", "_")
        spark.read.parquet(s"$root/$rel").createOrReplaceTempView(view)
        view
      }
  }

  // ------------------------------------------------------- time travel

  /** Commit `df` as the next version of a versioned table
    * (`<table>/v=N/`); returns the new version number. Old versions
    * are immutable and never touched — a reader of v3 is unaffected
    * by the commit of v4 (no swap, no rename of shared state), which
    * is the snapshot-isolation property `swapWrite` cannot give. The
    * commit marker is the writer's `_SUCCESS` file: a crashed write
    * leaves a directory without it, which every reader ignores.
    */
  def writeVersion(table: String, df: DataFrame): Int = {
    // number past EVERY existing dir (committed or crashed debris) so
    // the fresh write never lands in a half-written directory
    val dir = new Path(path(table))
    val existing =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .map(_.getPath.getName.stripPrefix("v=").toInt)
    val next = (0 +: existing).max + 1
    df.write.parquet(s"${path(table)}/v=$next")
    next
  }

  /** Committed versions, ascending ( = dirs carrying `_SUCCESS`). */
  def versions(table: String): Seq[Int] = {
    val dir = new Path(path(table))
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toInt)
      .sorted
  }

  /** Time travel: read an exact committed version. */
  def readVersion(table: String, version: Int): DataFrame = {
    require(versions(table).contains(version),
      s"version $version of $table does not exist or was never committed")
    spark.read.parquet(s"${path(table)}/v=$version")
  }

  /** The latest committed version, if any. */
  def readLatest(table: String): Option[DataFrame] =
    versions(table).lastOption.map(readVersion(table, _))

  /** Drop all but the newest `keep` versions (and any uncommitted
    * debris) — the retention pass that bounds storage growth.
    */
  def vacuum(table: String, keep: Int): Unit = {
    val committed = versions(table)
    val keepSet = committed.takeRight(keep).toSet
    val dir = new Path(path(table))
    if (!fs.exists(dir)) return
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter { s =>
        val v = s.getPath.getName.stripPrefix("v=").toInt
        !keepSet.contains(v)
      }
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Write `df` (which reads from `table`) to a temp location, then
    * atomically swap directories. Every rename is checked: on failure
    * the target is restored from the `__old` backup and the backup is
    * only deleted once the new data is confirmed in place — a failed
    * swap must never lose the table.
    */
  private[store] def swapWrite(table: String, df: DataFrame): Long =
    swapDir(table) { tmp =>
      val n = counted(df)(_.write.mode(SaveMode.Overwrite).parquet(tmp))
      saveSchema(tmp, df)
      n
    }

  /** Multi-dataset variant of [[swapWrite]]: each `(name, df)` lands at
    * `<table>/<name>`, and the ONE parent-directory rename installs all
    * of them together — the commit primitive for state that spans
    * datasets (e.g. an aggregate plus its applied-batch ledger, see
    * [[AggTable]]): after a crash either every part reflects the batch
    * or none does. Atomicity is the filesystem rename's (HDFS/POSIX
    * yes; on S3 use a transactional table format instead).
    */
  private[store] def swapWriteParts(table: String, parts: Seq[(String, DataFrame)]): Unit = {
    swapDir(table) { tmp =>
      parts.foreach { case (name, df) =>
        df.write.mode(SaveMode.Overwrite).parquet(s"$tmp/$name")
        saveSchema(s"$tmp/$name", df)
      }
    }
  }

  private def swapDir[A](table: String)(writeTo: String => A): A = {
    val target = new Path(path(table))
    val tmp = new Path(path(table) + "__tmp")
    val old = new Path(path(table) + "__old")
    val written = writeTo(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, old)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"swapWrite($table): could not move current table aside ($target -> $old)")
    }
    if (!fs.rename(tmp, target)) {
      val restored = hadTarget && fs.rename(old, target)
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"swapWrite($table): could not install new data ($tmp -> $target); " +
          (if (restored) "previous table restored"
           else if (hadTarget) s"RESTORE FAILED, data is at $old"
           else "no previous table existed"))
    }
    if (hadTarget) fs.delete(old, true)
    written
  }
}

object TableStore {
  /** Per-table schema side file (see the schema-catalog note on
    * [[TableStore]]); `_`-prefixed so file listings skip it.
    */
  val SchemaFile = "_schema.json"
}
