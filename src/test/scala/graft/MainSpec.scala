package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.Clock
import graft.store.{FaultFs, TableStore}

/** Full-pipeline runs: extract → bronze append → silver upsert → gold
  * daily_stats → report, plus the idempotency contract (re-run ≡
  * no-op). The synthetic cases always run; the golden-capture cases
  * are extra checks for when the reference capture is present.
  */
class MainSpec extends SparkSpec {

  // ------------------------------------------------ synthetic batches

  import MainSpec._

  /** Rows as comparable values; doubles rounded, since an incremental
    * and a full aggregation may sum in different orders.
    */
  private def norm(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    case v => v
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(norm).toSet

  private def gold(silver: org.apache.spark.sql.DataFrame, clock: Clock): Set[Seq[Any]] =
    rows(graft.analytics.NsQueries.dailyStats(silver, clock).drop("calculated_at"))

  test("synthetic batches: counts, latest-wins silver, gold, and a no-op replay") {
    val dir = Files.createTempDirectory("graft-main-synth")
    val root = dir.resolve("store").toString
    val histPath = snapshot(dir, "history.json", history)
    val updPath = snapshot(dir, "update.json", update)
    val (clock1, clock2) = (clockOn(25), clockOn(26))
    val store = new graft.store.TableStore(spark, root)
    def silver = store.read("disruptions").get
    def days() = silver.select(org.apache.spark.sql.functions.to_date(
      org.apache.spark.sql.functions.col("start_time"))).distinct().count()
    def cleaned(path: String, clock: Clock) = graft.etl.DisruptionCleaner
      .clean(graft.sources.RawSource.readRawJsonArray(spark, path), clock).collect().toSeq
    // the quality counters, counted over the collected cleaned batch
    def quality(path: String, clock: Clock) = {
      val c = cleaned(path, clock)
      def nulls(field: String) = c.count(_.isNullAt(c.head.fieldIndex(field))).toLong
      Map("quality_n_rows" -> c.size.toLong,
        "quality_n_null_end_time" -> nulls("end_time"),
        "quality_n_null_duration_minutes" -> nulls("duration_minutes"),
        "quality_n_bad_impact_range" -> c.count(r =>
          Option(r.getAs[Integer]("impact_level")).forall(i => i < 1 || i > 5)).toLong)
    }

    val first = Main.run(spark, histPath, root, clock1).toMap
    assert(first == Map("extracted" -> 40L, "bronze_inserted" -> 39L,
      "silver_rows" -> 39L, "daily_stats_rows" -> days(), "report_total_today" -> 39L) ++
      quality(histPath, clock1))
    assert(first("quality_n_null_duration_minutes") > 0L)
    val stored = silver.inputFiles.toSet
    val (second, updated) = executions(spark)(Main.run(spark, updPath, root, clock2).toMap)
    assert(second == Map("extracted" -> 13L, "bronze_inserted" -> 10L,
      "silver_rows" -> 49L, "daily_stats_rows" -> days(), "report_total_today" -> 13L) ++
      quality(updPath, clock2))
    // an update op runs no more executions than its nine: the extract
    // count, bronze's probe and write, silver's probe and write, the
    // touched days, the gold write, the stations probe and the report
    assert(updated.size <= 9, updated.map(_._1))
    // the report reads the staged silver files: exactly the new
    // manifest's, none of the version the upsert replaced
    val reports = updated.collect { case ("collect", qe) if qe.analyzed.output.exists(_.name == "total") =>
      fileRelations(qe.analyzed).flatMap(_.location.inputFiles).toSet }
    assert(reports.size == 1, updated.map(_._1))
    assert(reports.head == silver.inputFiles.toSet && (reports.head & stored).isEmpty, reports.head)

    // silver ≡ a driver-side latest-wins fold (the later batch has the
    // later updated_at, so its rows win)
    val fold = (cleaned(histPath, clock1) ++ cleaned(updPath, clock2))
      .foldLeft(Map.empty[String, org.apache.spark.sql.Row]) { (m, r) =>
        m.updated(r.getString(0), r)
      }
    assert(rows(silver) == fold.values.map(norm).toSet)
    // the moved record left its old day and joined the new one
    assert(silver.filter("disruption_id = 'h1'").head().getAs[java.sql.Timestamp]("start_time")
      .toInstant.toString == "2026-02-26T08:15:00Z")

    // gold over the touched days ≡ a full recompute over silver
    val stats = gold(silver, clock2)
    assert(rows(store.read("daily_stats").get.drop("calculated_at")) == stats)

    // replay: same counts, bronze inserts nothing, and nothing is
    // committed: every table keeps its manifest and data files
    def files() = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString.drop(root.length) -> Files.getLastModifiedTime(f)).toSet
      finally walk.close()
    }
    val before = files()
    assert(Seq("raw_disruptions", "disruptions", "stations", "daily_stats").forall(t =>
      before.exists(_._1.startsWith(s"/$t/_manifest/"))))
    val (replay, replayed) = executions(spark)(Main.run(spark, updPath, root, clock2).toMap)
    assert(replay == second.updated("bronze_inserted", 0L))
    assert(files() == before)
    // gold's row count comes from its manifest: the replay scans no gold
    assert(!replayed.exists(e => reads(e._2.analyzed, "daily_stats")), replayed.map(_._1))
    assert(rows(store.read("daily_stats").get.drop("calculated_at")) == stats)
  }

  test("a failing stage fails the run with its own exception, after every other stage has ended") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val dir = Files.createTempDirectory("graft-main-stagefail")
    val hist = snapshot(dir, "history.json", history)
    val clean = Main.run(spark, hist, dir.resolve("clean").toString, clockOn(25)).toMap
    val root = "faultfs://" + dir.resolve("crashed")
    def firstStep(table: String): FaultFs.Op => Boolean =
      op => op._1 == "create" && op._2.contains(s"/$table/") && !op._2.contains("/_temporary")
    // the silver stage fails at its first store-level step, while the
    // bronze stage is held for two seconds before its commit
    val err = intercept[IOException](
      FaultFs.armed(0, firstStep("raw_disruptions"))(Thread.sleep(2000)) {
        FaultFs.armed(0, firstStep("disruptions"))()(Main.run(spark, hist, root, clockOn(25)))
      })
    assert(err.getMessage == "injected crash")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(Main.StageThread)).isEmpty)
    // the other stages ran to their commits before run returned
    val store = new TableStore(spark, root)
    assert(Seq("raw_disruptions", "stations").map(store.rowCount) ==
      Seq(clean("bronze_inserted"), new TableStore(spark, dir.resolve("clean").toString).rowCount("stations")))
    assert(store.read("disruptions").isEmpty && store.read("daily_stats").isEmpty)
    def manifests() = {
      val walk = Files.walk(dir.resolve("crashed"))
      try walk.iterator().asScala.filter(_.toString.contains("/_manifest/"))
        .map(f => f.toString -> Files.getLastModifiedTime(f)).toSet
      finally walk.close()
    }
    val after = manifests()
    Thread.sleep(1000)
    assert(manifests() == after)
    // the re-run loads silver and gold; bronze is in
    assert(Main.run(spark, hist, root, clockOn(25)).toMap == clean.updated("bronze_inserted", 0L))
  }

  test("a rival silver commit between the op's silver write and its commit fails the run as a stale writer") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val dir = Files.createTempDirectory("graft-main-rival")
    val (hist, upd) = (snapshot(dir, "history.json", history), snapshot(dir, "update.json", update))
    val clean = dir.resolve("clean").toString
    Main.run(spark, hist, clean, clockOn(25))
    val want = Main.run(spark, upd, clean, clockOn(26)).toMap
    val root = "faultfs://" + dir.resolve("raced")
    Main.run(spark, hist, root, clockOn(25))
    // the op has written its silver files, and its touched days, gold
    // refresh and report have read them; just before the op creates its
    // silver manifest, a rival store rewrites silver as it stands, which
    // retires every file its manifest does not list, the op's staged
    // ones included
    val rival = new TableStore(spark, root)
    val publish: FaultFs.Op => Boolean = op => op._1 == "create" && op._2.contains("/disruptions/_manifest/")
    val err = intercept[ConcurrentModificationException](
      FaultFs.armed(0, publish)(rival.write("disruptions", rival.read("disruptions").get)) {
        Main.run(spark, upd, root, clockOn(26))
      })
    val writers = """by writer ([0-9a-f-]{36}) lost: writer ([0-9a-f-]{36})""".r.findFirstMatchIn(err.getMessage)
    assert(writers.exists(m => m.group(2) == rival.token && m.group(1) != rival.token), err.getMessage)
    // no stage read a file the losing commit deleted
    def causes(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val missing = (err +: err.getSuppressed.toSeq).flatMap(causes).filter(_.isInstanceOf[FileNotFoundException])
    assert(missing.isEmpty, missing)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(Main.StageThread)).isEmpty)
    // the re-run applies the update; bronze is in
    assert(Main.run(spark, upd, root, clockOn(26)).toMap == want.updated("bronze_inserted", 0L))
  }

  test("a snapshot without ids loads nothing and still returns its quality counters") {
    // the cleaner drops every record: the counters ride an empty probe
    val dir = Files.createTempDirectory("graft-main-noids")
    val noIds = snapshot(dir, "noids.json", update.map(_.copy(id = None)))
    val root = dir.resolve("store").toString
    val want = Map("extracted" -> 13L, "bronze_inserted" -> 0L, "silver_rows" -> 0L,
      "daily_stats_rows" -> 0L, "report_total_today" -> 0L, "quality_n_rows" -> 0L,
      "quality_n_null_end_time" -> 0L, "quality_n_null_duration_minutes" -> 0L,
      "quality_n_bad_impact_range" -> 0L)
    assert(Main.run(spark, noIds, root, clockOn(26)).toMap == want)
    val hist = Main.run(spark, snapshot(dir, "history.json", history), root, clockOn(25)).toMap
    assert(Main.run(spark, noIds, root, clockOn(26)).toMap ==
      want ++ Seq("silver_rows", "daily_stats_rows").map(k => k -> hist(k)))
  }

  test("api: extract source converges with the file path on a synthetic snapshot") {
    // the golden case below, over the synthetic history: the api:
    // prefix fetches through ApiClient (file:// transport) and archives
    // the snapshot under the store before the pipeline reads it back
    val dir = Files.createTempDirectory("graft-main-api")
    val raw = snapshot(dir, "history.json", history)
    val (rootApi, rootFile) = (dir.resolve("api").toString, dir.resolve("file").toString)
    val clock = clockOn(25)
    val viaApi = Main.run(spark, s"api:${Paths.get(raw).toUri}", rootApi, clock).toMap
    val viaFile = Main.run(spark, raw, rootFile, clock).toMap
    assert(viaApi == viaFile)
    assert(viaApi("extracted") == 40L)
    val (sApi, sFile) = (new graft.store.TableStore(spark, rootApi),
      new graft.store.TableStore(spark, rootFile))
    val archived = new java.io.File(sApi.path("raw_archive")).listFiles()
    assert(archived != null && archived.exists(
      _.getName.matches("disruptions_\\d{8}_\\d{6}\\.json")),
      s"no dated archive under ${sApi.path("raw_archive")}")
    assert(rows(sApi.read("disruptions").get) == rows(sFile.read("disruptions").get))
  }

  // ------------------------------------------------ golden capture

  private val goldenRaw =
    "/root/reference/data/raw/disruptions_20260214_111810.json"

  test("pipeline end-to-end on golden capture, idempotent re-run") {
    assume(Files.exists(Paths.get(goldenRaw)))
    val root = Files.createTempDirectory("graft-pipeline").toString
    val clock = Clock.golden

    val counts = Main.run(spark, goldenRaw, root, clock).toMap
    assert(counts("extracted") == 125L)
    assert(counts("bronze_inserted") == 125L)
    assert(counts("silver_rows") == 125L)
    assert(counts("daily_stats_rows") >= 1L)
    assert(counts("report_total_today") == 125L)

    // Re-run the same batch: bronze inserts nothing, silver unchanged.
    val again = Main.run(spark, goldenRaw, root, clock).toMap
    assert(again("bronze_inserted") == 0L)
    assert(again("silver_rows") == 125L)

    // The touched-day incremental gold refresh must equal a full
    // recompute over silver (per-day stats depend only on that day).
    val store = new graft.store.TableStore(spark, root)
    val silver = store.read("disruptions").get
    def set(df: org.apache.spark.sql.DataFrame) =
      df.drop("calculated_at").collect().map(_.toSeq).toSet
    assert(set(store.read("daily_stats").get) ==
      set(graft.analytics.NsQueries.dailyStats(silver, clock)))
  }

  test("api: extract source converges with the file path on the golden capture") {
    assume(Files.exists(Paths.get(goldenRaw)))
    // S1 live path offline: the api: prefix routes Main's extract
    // through ApiClient (file:// transport), archives the snapshot
    // under the store, and the pipeline output must be IDENTICAL to
    // a plain file-based run over the same capture
    val rootApi = Files.createTempDirectory("graft-pipe-api").toString
    val rootFile = Files.createTempDirectory("graft-pipe-file").toString
    val clock = Clock.golden
    val viaApi = Main.run(spark,
      s"api:${Paths.get(goldenRaw).toUri}", rootApi, clock).toMap
    val viaFile = Main.run(spark, goldenRaw, rootFile, clock).toMap
    assert(viaApi == viaFile)
    assert(viaApi("extracted") == 125L)
    // the snapshot was archived with the dated raw filename contract
    val archived = new java.io.File(s"$rootApi/raw_archive").listFiles()
    assert(archived != null && archived.exists(
      _.getName.matches("disruptions_\\d{8}_\\d{6}\\.json")),
      s"no dated archive under $rootApi/raw_archive")
    // silver tables are row-identical
    val sApi = new graft.store.TableStore(spark, rootApi)
      .read("disruptions").get
    val sFile = new graft.store.TableStore(spark, rootFile)
      .read("disruptions").get
    assert(sApi.collect().map(_.toSeq).toSet ==
      sFile.collect().map(_.toSeq).toSet)
  }
}

object MainSpec {
  /** `f`'s result and the (action, query execution) of every Dataset
    * action run on `spark` while `f` runs, on any thread. Events reach
    * a listener in the order they were posted, so once a sentinel
    * action run after `f` has been seen, every action `f` ran has been
    * seen too.
    */
  private[graft] def executions[A](spark: SparkSession)(f: => A): (A, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = seen.add(action -> qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val a = f
      spark.range(1).toDF("sentinel").collect()
      def sentinel(e: (String, QueryExecution)) = e._2.analyzed.output.map(_.name) == Seq("sentinel")
      val deadline = System.currentTimeMillis() + 20000
      while (!seen.asScala.exists(sentinel) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(sentinel), "sentinel action never seen")
      (a, seen.asScala.toSeq.filterNot(sentinel))
    } finally spark.listenerManager.unregister(listener)
  }

  /** The file relations `plan` scans. */
  private[graft] def fileRelations(plan: LogicalPlan): Seq[HadoopFsRelation] =
    plan.collectLeaves().collect { case l: LogicalRelation => l.relation }.collect { case h: HadoopFsRelation => h }

  /** Whether `plan` scans a table stored under a directory named `table`. */
  private[graft] def reads(plan: LogicalPlan, table: String): Boolean =
    fileRelations(plan).exists(_.location.rootPaths.exists(_.getName == table))

  private def ts(day: Int, hour: Int): String = f"2026-02-$day%02dT$hour%02d:15:00+0100"

  private val types = Seq("storing", "werkzaamheden", "CALAMITY", "cancellation", "verstoring")
  private val stationCodes = Seq("ASD", "UTR", "RTD", "GVC")

  /** 40 records over six days: unparseable starts (a null-date group),
    * open disruptions without an end, records without stations, one
    * record without an id, and few station codes and hours, so the
    * modal station and hour tie often.
    */
  private[graft] val history: Seq[Rec] = (0 until 40).map { i =>
    val rnd = new scala.util.Random(i.toLong)
    Rec(
      id = if (i == 7) None else Some(s"h$i"),
      typ = types(i % types.size),
      title = s"Disruption number $i",
      start = if (i % 9 == 4) "not-a-date" else ts(20 + i % 6, Seq(6, 8, 8, 17)(rnd.nextInt(4))),
      end = if (i % 4 == 1) None else Some(ts(20 + i % 6, 22)),
      stations = rnd.shuffle(stationCodes).take(rnd.nextInt(3)))
  }

  /** The next day: ten new records, plus updates of three history
    * records — one moved to another day, two now with an end.
    */
  private[graft] val update: Seq[Rec] =
    (0 until 10).map(i => Rec(Some(s"n$i"), types(i % types.size), s"New disruption $i",
      ts(26, 7 + i % 3), Some(ts(26, 21)), stationCodes.take(1 + i % 2))) ++ Seq(
      history(1).copy(start = ts(26, 9), end = Some(ts(26, 10))),
      history(5).copy(end = Some(ts(25, 23))),
      history(9).copy(end = Some(ts(24, 23))))

  private[graft] def snapshot(dir: java.nio.file.Path, name: String, recs: Seq[Rec]): String = {
    val f = dir.resolve(name)
    Files.write(f, recs.map(_.json).mkString("[\n", ",\n", "\n]").getBytes("UTF-8"))
    f.toString
  }

  private[graft] def clockOn(day: Int) = Clock(java.time.Instant.parse(f"2026-02-$day%02dT23:30:00Z"))

  /** One raw NS API record, rendered as the JSON the extract reads. */
  private[graft] final case class Rec(
      id: Option[String], typ: String, title: String,
      start: String, end: Option[String], stations: Seq[String]) {
    def json: String = {
      def q(v: String) = "\"" + v + "\""
      val fields = id.map(i => s""""id":${q(i)}""").toList ++ List(
        s""""type":${q(typ)}""", s""""title":${q(title)}""", s""""start":${q(start)}""") ++
        end.map(e => s""""end":${q(e)}""").toList ++
        (if (stations.isEmpty) Nil else List(stations
          .map(c => s"""{"stationCode":${q(c)}}""")
          .mkString(""""timespans":[{"situation":{"stations":[""", ",", "]}}]")))
      fields.mkString("{", ",", "}")
    }
  }
}
