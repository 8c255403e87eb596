package graft.store

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{ConcurrentModificationException, UUID}

import scala.annotation.tailrec
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, Path}
import org.json4s.{DefaultFormats, Formats, JObject, MappingException}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
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
  * A table is immutable parquet files plus one manifest per version,
  * `<table>/_manifest/<n>.json`, holding the committing writer's token
  * and, per named part (a plain table has the one part `""`; multi-part
  * tables address theirs as `<table>/<part>`), the schema and the file
  * list with sizes and, from the write job's own count, its rows.
  * Readers take the highest complete manifest and scan
  * exactly its files: no listing, no footer-inference job. Every write
  * is one [[commit]]. At rest a table directory holds its current
  * files and `_`-prefixed metadata, which Spark's file index skips, so
  * `spark.read.parquet(path(table))` reads the current table. A
  * directory without `_manifest`, written before manifests, reads by
  * footer inference; its files become version 1 at its first commit.
  */
final class TableStore(spark: SparkSession, root: String) {
  import TableStore._

  private lazy val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** This writer's token, recorded in every manifest it commits. */
  val token: String = UUID.randomUUID().toString

  def path(table: String): String = s"$root/$table"

  private def dir(table: String, part: String = ""): Path =
    fs.makeQualified(new Path(path(if (part.isEmpty) table else s"$table/$part")))
  private def manifestPath(table: String, v: Int) = new Path(dir(table), s"$ManifestDir/$v.json")
  private def listed(d: Path): Seq[FileStatus] =
    try fs.listStatus(d).toSeq.filterNot { s =>
      val name = s.getPath.getName
      name.startsWith("_") || name.startsWith(".")
    }
    catch { case _: FileNotFoundException => Nil }

  // recursive nullable-forcing, matching file-source inference
  // (DataSource.resolveRelation applies asNullable to file schemas;
  // the method itself is private[spark]), so a manifest read is
  // plan-identical to an inferred one
  private def asRead(schema: StructType) = forceNullable(schema).asInstanceOf[StructType]
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

  // ---------------------------------------------------------- versions

  /** Manifest numbers, ascending; None without a `_manifest` directory. */
  private def manifests(table: String): Option[Seq[Int]] =
    try Some(fs.listStatus(new Path(dir(table), ManifestDir)).toSeq
      .flatMap(_.getPath.getName.stripSuffix(".json").toIntOption).sorted)
    catch { case _: FileNotFoundException => None }

  /** Manifest `v`, if it exists and is complete (a manifest being
    * written, or cut short by a crash, does not parse).
    */
  private def load(table: String, v: Int): Option[Snapshot] =
    try {
      val in = fs.open(manifestPath(table, v))
      val json = try JsonMethods.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
      val JObject(parts) = (json \ "parts"): @unchecked
      Some(Snapshot(table, v, (json \ "writer").extract[String], parts.map { case (name, p) =>
        name -> Part(DataType.fromJson(JsonMethods.compact(p \ "schema")).asInstanceOf[StructType],
          (p \ "files").extract[Map[String, Long]], (p \ "rows").extractOpt[Long])
      }.toMap))
    } catch {
      case _: FileNotFoundException | _: JsonProcessingException | _: MappingException |
          _: MatchError => None
    }

  private def encode(s: Snapshot): Array[Byte] =
    JsonMethods.compact(("writer" -> s.writer) ~ ("parts" -> JObject(s.parts.toList.map {
      case (name, p) =>
        name -> (("schema" -> JsonMethods.parse(p.schema.json)) ~ ("files" -> p.files) ~ ("rows" -> p.rows))
    }))).getBytes(UTF_8)

  /** The current version of `table`: its highest complete manifest,
    * or, for a directory written before manifests, its data files with
    * footer-inferred schemas (one part per data-holding subdirectory).
    */
  private[store] def snapshot(table: String): Snapshot = manifests(table) match {
    case Some(vs) => vs.reverseIterator.flatMap(load(table, _)).nextOption()
      .getOrElse(Snapshot(table, 0, "", Map.empty))
    case None =>
      val parts = ("" +: listed(dir(table)).filter(s => s.isDirectory && !s.getPath.getName.contains("="))
        .map(_.getPath.getName)).map(p => p -> dataFiles(dir(table, p))).collect {
          case (p, files) if files.nonEmpty =>
            p -> Part(asRead(spark.read.parquet(dir(table, p).toString).schema), files, None)
        }
      Snapshot(table, 0, "", parts.toMap, legacy = parts.nonEmpty)
  }

  /** `part` of a snapshot as a DataFrame over exactly its files: the
    * file index is served from the manifest, so building the scan lists
    * nothing and infers nothing, however many files there are. Hive-style
    * `k=v` directories still yield their columns.
    */
  private[store] def read(s: Snapshot, part: String): Option[DataFrame] =
    s.parts.get(part).map { p =>
      val files = p.files.toSeq.sortBy(_._1).map { case (f, size) =>
        new FileStatus(size, false, 1, 0L, 0L, new Path(dir(s.table, part), f))
      }.toArray
      val index = new InMemoryFileIndex(spark, Seq(dir(s.table, part)), Map.empty, Some(p.schema),
        new FileStatusCache {
          override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Some(files)
          def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
          def invalidateAll(): Unit = ()
        })
      val partitionCols = index.partitionSchema.fieldNames.toSet
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        StructType(p.schema.filterNot(f => partitionCols(f.name))), None,
        new ParquetFileFormat, Map.empty)(spark))
    }

  /** `name` as (table, part): `<table>/<part>` names a part. */
  private def split(name: String): (String, String) = name.split("/", 2) match {
    case Array(t, part) => (t, part)
    case Array(t) => (t, "")
  }

  def exists(table: String): Boolean = read(table).isDefined

  def read(table: String): Option[DataFrame] = {
    val (t, part) = split(table)
    read(snapshot(t), part)
  }

  // ------------------------------------------------------------ commit

  /** Data files (Spark's `part-` files) of a part: its own and its
    * `k=v` directories', by relative path, with sizes.
    */
  private def dataFiles(d: Path, rel: String = ""): Map[String, Long] =
    listed(d).flatMap { s =>
      val name = s.getPath.getName
      if (s.isFile) Some(rel + name -> s.getLen).filter(_ => name.startsWith("part-"))
      else if (name.contains("=")) dataFiles(s.getPath, s"$rel$name/")
      else Nil
    }.toMap

  /** The one write path. A commit builds on the snapshot `base`:
    *  1. each written part's new files land next to the current ones,
    *     which stay readable (no manifest lists the new files yet);
    *  2. manifest `base.version + 1` is created only if absent — the
    *     commit point. If another writer has committed past `base`,
    *     this commit deletes its files and fails with a
    *     [[ConcurrentModificationException]] naming both writers;
    *  3. the files of the written parts that the new manifest does
    *     not list (the superseded version's, a crashed writer's
    *     debris) and the older manifests are deleted.
    * A crash before 2 leaves the previous version current; after it,
    * the new one, with stale files until the table's next commit.
    * Unwritten parts carry over; an `append` part keeps its files.
    * `before` sees the staged version before 2. If it throws and a
    * rival has committed meanwhile (its step 3 may have deleted the
    * staged files under `before`'s readers), the commit fails as lost,
    * with a [[ConcurrentModificationException]] naming both writers
    * that carries `before`'s exception as suppressed.
    */
  private[store] def commit(
      base: Snapshot, writes: Seq[Write], before: Snapshot => Unit = _ => ()): Snapshot = {
    val table = base.table
    // a legacy table's files become version 1 first; a new table is
    // marked before any data lands, so its crashed first write is
    // debris, not a legacy table
    val on =
      if (base.legacy) publish(base, base.copy(version = 1, writer = token), Nil)
      else { requireLatest(base); if (base.version == 0) fs.mkdirs(new Path(dir(table), ManifestDir)); base }
    val written = writes.map { w =>
      val d = dir(table, w.part)
      val prior = dataFiles(d)
      val (_, rows) = counted(w.df)(_.write.mode(SaveMode.Append).parquet(d.toString))
      val now = dataFiles(d)
      val added = now -- prior.keySet
      // one write job's files share its id: another id is a second writer
      if (added.keys.flatMap(WriteJob.findFirstMatchIn(_).map(_.group(1))).toSet.size > 1)
        throw new ConcurrentModificationException(s"another writer is writing $table/${w.part}")
      val kept = if (w.append) on.parts.get(w.part) else None
      (w.part, Part(asRead(w.df.schema), kept.fold(Map.empty[String, Long])(_.files) ++ added,
        kept.fold(Option(rows))(_.rows.map(_ + rows))), now, added)
    }
    val staged = Snapshot(table, on.version + 1, token, on.parts ++ written.map(w => w._1 -> w._2))
    val added = written.flatMap { case (part, _, _, files) =>
      files.keys.map(new Path(dir(table, part), _)) }
    try before(staged)
    catch {
      case NonFatal(e) =>
        // a lost race shows as the rival, not as its sweep under our readers
        try requireLatest(on, added)
        catch { case lost: ConcurrentModificationException => lost.addSuppressed(e); throw lost }
        throw e
    }
    val next = publish(on, staged, added)
    written.foreach { case (part, _, now, _) =>
      val live = next.parts.get(part).fold(Set.empty[String])(_.files.keySet)
      now.keys.filterNot(live).foreach(f => fs.delete(new Path(dir(table, part), f), false))
    }
    manifests(table).getOrElse(Nil).filter(_ < next.version)
      .foreach(v => fs.delete(manifestPath(table, v), false))
    next
  }

  private def lose(base: Snapshot, rival: Snapshot, added: Seq[Path]): Nothing = {
    added.foreach(fs.delete(_, false))
    throw new ConcurrentModificationException(
      s"commit to ${base.table} on version ${base.version} by writer $token lost: writer " +
        s"${rival.writer} committed version ${rival.version}")
  }

  /** Fails, naming both writers (and deleting `cleanup`), when a
    * version past `base` is committed: work built on `base` loses.
    */
  private[store] def requireLatest(base: Snapshot, cleanup: Seq[Path] = Nil): Unit =
    manifests(base.table).getOrElse(Nil).filter(_ > base.version).reverseIterator
      .flatMap(load(base.table, _)).nextOption().foreach(lose(base, _, cleanup))

  /** Step 2 of [[commit]]: create manifest `s.version` (or the next
    * number past a manifest a crash cut short) only if absent.
    */
  private def publish(base: Snapshot, s: Snapshot, added: Seq[Path]): Snapshot = {
    @tailrec def claim(v: Int): Int = {
      val created =
        try {
          val out = fs.create(manifestPath(s.table, v), false)
          try out.write(encode(s)) finally out.close()
          true
        } catch { case _: FileAlreadyExistsException => false }
      if (created) v
      else load(s.table, v) match {
        case Some(rival) => lose(base, rival, added)
        case None => claim(v + 1)
      }
    }
    val next = s.copy(version = claim(s.version))
    // a version committed and already retired by a later commit can be
    // created anew: the later manifest still wins
    requireLatest(next, added :+ manifestPath(s.table, next.version))
    next
  }

  /** Runs `action` on `df`; returns its result and the rows `df`
    * yielded, counted by an observation on the action's own job.
    */
  private def counted[A](df: DataFrame)(action: DataFrame => A): (A, Long) = {
    val rows = Observation()
    val a = action(df.observe(rows, count(lit(1)).as("n")))
    (a, rows.get("n").asInstanceOf[Long])
  }

  /** Replace the rows of `base`'s table with `df`; returns the rows
    * written.
    */
  private def replace(base: Snapshot, df: DataFrame, before: Snapshot => Unit = _ => ()): Long =
    commit(base, Seq(Write("", df)), before = before).parts("").rows.get

  // ------------------------------------------------------------ writes

  /** Overwrite `table` with `df`; returns the rows written. */
  def write(table: String, df: DataFrame): Long = replace(snapshot(table), df)

  /** Append only rows whose key is not already present; returns the
    * number of rows actually inserted.
    */
  def appendIfAbsent(table: String, df: DataFrame, key: String): Long =
    appendNewKeys(table, df.dropDuplicates(key), key)

  /** Append the rows of `df` whose `key` the table does not hold yet
    * (all of them to a new table), as new files next to the stored
    * ones; returns the rows appended. Rows sharing a new key are all
    * appended.
    */
  def appendNewKeys(table: String, df: DataFrame, key: String): Long = {
    val base = snapshot(table)
    read(base, "") match {
      case None => replace(base, df)
      case Some(existing) =>
        // one anti-join: its job counts the novel rows and keeps them,
        // and the append writes the kept rows
        val (novel, n) = counted(df.join(existing.select(key), Seq(key), "left_anti"))(_.localCheckpoint())
        if (n > 0) commit(base, Seq(Write("", novel, append = true)))
        n
    }
  }

  /** Latest-wins upsert: rows in `df` replace existing rows with the
    * same key, the tuple of `keys` compared null-safely (a null key is
    * one key like any other); among duplicates the highest `versionCol`
    * (then the incoming batch over the stored copy) wins. Returns the
    * number of rows that changed the table.
    *
    * One pass over the batch finds the rows that change the table: after
    * in-batch latest-wins dedup, a row changes the table unless the
    * stored row with its key has a higher version (nulls lowest) or is
    * identical in every column. The probe job counts the changed rows
    * and keeps them (a local checkpoint), so nothing after it probes
    * again. Nothing changes → nothing is committed: a replayed batch,
    * or the empty final micro-batch a streaming query delivers to
    * foreachBatch, costs one probe job over the batch and no rewrite.
    * Otherwise the stored rows of the changed keys are anti-joined away
    * and the changed rows appended: the table is streamed through a
    * join against the (small) changed keys instead of the table-wide
    * `row_number` shuffle a union-and-rank merge needs. Broadcast
    * choices are left to the planner's threshold.
    *
    * The two hooks run only when the upsert commits (a first write, or
    * a batch that changes a row), on the thread that called `upsert`:
    *  - `changes` gets the change set, the rows written plus the stored
    *    rows of their keys, as soon as it is known: once the probe
    *    returns, before the new files are written (on a first write,
    *    once they are written, the change set being the whole table);
    *  - `before` gets the table as the upsert leaves it, staged: after
    *    the new files are written, before they are committed.
    * A caller may start readers of either on threads of its own. A
    * table derived from this one commits in `before`, so a crash
    * between the two commits leaves the upsert, and the same change
    * set, to be re-done. The commit retires the change set's stored
    * files, and a losing commit deletes the staged ones: every reader
    * of either must finish before `before` returns.
    */
  def upsert(
      table: String, df: DataFrame, keys: Seq[String], versionCol: String,
      changes: DataFrame => Unit = _ => (),
      before: DataFrame => Unit = _ => ()): Long = {
    val latest = dedupLatest(df.withColumn("__src", lit(1)), keys, versionCol)
    val base = snapshot(table)
    read(base, "") match {
      case None => replace(base, latest, s => { val t = read(s, "").get; changes(t); before(t) })
      case Some(existing) =>
        val stored = existing.select(existing.columns.map(c => col(c).as(s"__s_$c")): _*)
        def s(c: String) = col(s"__s_$c")
        val sameKey = keys.map(k => col(k) <=> s(k)).reduce(_ && _)
        val storedHigher = coalesce(s(versionCol) > col(versionCol),
          s(versionCol).isNotNull && col(versionCol).isNull)
        val identical = latest.columns.map(c => col(c) <=> s(c)).reduce(_ && _)
        val (changed, n) = counted(
          latest.join(stored, sameKey && (storedHigher || identical), "left_anti"))(_.localCheckpoint())
        if (n > 0) {
          val changedKeys = changed.select(keys.map(k => col(k).as(s"__c_$k")): _*)
          val ofChanged = keys.map(k => col(k) <=> col(s"__c_$k")).reduce(_ && _)
          changes(changed.unionByName(existing.join(changedKeys, ofChanged, "left_semi")))
          commit(base, Seq(Write("", existing.join(changedKeys, ofChanged, "left_anti").unionByName(changed))),
            before = s => before(read(s, "").get))
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
    * Deletes leave a (key, version) tombstone in the table's
    * `_tombstones` part (`<table>/_tombstones`), committed with the
    * rows, so a STALE change arriving after the delete cannot resurrect
    * the row — without them an out-of-order insert would reappear
    * because the deleted key has no stored competitor. At scale, expire
    * tombstones past the pipeline's max out-of-orderness (they are
    * the batch analogue of a streaming watermark horizon).
    */
  def applyCdc(
      table: String,
      changes: DataFrame,
      key: String,
      versionCol: String,
      opCol: String = "op"): Unit = {
    val base = snapshot(table)
    val incoming = changes.withColumn("__src", lit(1))
    val tombs = read(base, TombstonePart).map(_
      .withColumn(opCol, lit("D")).withColumn("__src", lit(0)))
    val stored = read(base, "").map(_
      .withColumn(opCol, lit("U")).withColumn("__src", lit(0)))
    val all = (stored.toSeq ++ tombs.toSeq).foldLeft(incoming) {
      (acc, df) => acc.unionByName(df, allowMissingColumns = true)
    }
    // both parts derive from the one merge: checkpointed so their two
    // write jobs share one union-and-rank pass instead of each running
    // it. At cluster scale use reliable checkpoint() instead.
    val merged = dedupLatest(all, Seq(key), versionCol, dropSrc = false)
      .localCheckpoint()
    commit(base, Seq(
      Write("", merged.filter(col(opCol) =!= "D").drop(opCol, "__src")),
      Write(TombstonePart, merged.filter(col(opCol) === "D").select(col(key), col(versionCol)))))
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

    val base = snapshot(table)
    read(base, "") match {
      case None => replace(base, open(incoming))
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
        replace(base,
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
  def replaceWhere(table: String, df: DataFrame, cond: Column): Long = {
    val base = snapshot(table)
    replace(base, read(base, "").fold(df)(_.filter(!coalesce(cond, lit(false))).unionByName(df)))
  }

  /** Rewrite a table into ~`targetFileMB`-sized files. Repeated
    * incremental appends (S7) accumulate small files whose per-file
    * open/footer cost dominates scans at scale; periodic compaction
    * restores healthy file sizes. Row-preserving.
    */
  def compact(table: String, targetFileMB: Int = 128): Unit = {
    val base = snapshot(table)
    base.parts.get("").foreach { p =>
      val nFiles = math.max(1, (p.files.values.sum / (targetFileMB * 1024L * 1024L)).toInt)
      replace(base, read(base, "").get.repartition(nFiles))
    }
  }

  /** Rows in the current version of a table: its manifest's count, or
    * a count of its files for a version committed before manifests
    * recorded one; 0 for an absent table.
    */
  def rowCount(table: String): Long = {
    val (t, part) = split(table)
    val s = snapshot(t)
    s.parts.get(part).fold(0L)(p => p.rows.getOrElse(read(s, part).get.count()))
  }

  /** Number of data files in the current version of a table. */
  def fileCount(table: String): Int = {
    val (t, part) = split(table)
    snapshot(t).parts.get(part).fold(0)(_.files.size)
  }
}

object TableStore {
  private implicit val formats: Formats = DefaultFormats

  /** Per-table directory of manifests, `<n>.json` for version n. */
  private val ManifestDir = "_manifest"
  private val TombstonePart = "_tombstones"
  /** A data file's name carries the id of the write job that wrote it. */
  private val WriteJob = "part-\\d+-([0-9a-f]{8}-[0-9a-f-]{27})".r

  /** One named part of a table version: its schema, data files (path
    * relative to the part directory → size in bytes) and rows (None in
    * a manifest that predates row counts, and in a legacy table).
    */
  private[store] final case class Part(schema: StructType, files: Map[String, Long], rows: Option[Long])

  /** One committed version of a table; version 0 has no manifest
    * (absent, or `legacy`: written before manifests).
    */
  private[store] final case class Snapshot(
      table: String, version: Int, writer: String, parts: Map[String, Part],
      legacy: Boolean = false)

  /** One part's new content in a [[TableStore.commit]]. */
  private[store] final case class Write(part: String, df: DataFrame, append: Boolean = false)
}
