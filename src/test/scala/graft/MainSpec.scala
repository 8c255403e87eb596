package graft

import java.nio.file.{Files, Paths}

import graft.etl.Clock

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

    val first = Main.run(spark, histPath, root, clock1).toMap
    assert(first == Map("extracted" -> 40L, "bronze_inserted" -> 39L,
      "silver_rows" -> 39L, "daily_stats_rows" -> days(), "report_total_today" -> 39L))
    val second = Main.run(spark, updPath, root, clock2).toMap
    assert(second == Map("extracted" -> 13L, "bronze_inserted" -> 10L,
      "silver_rows" -> 49L, "daily_stats_rows" -> days(), "report_total_today" -> 13L))

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

    // replay: same counts, bronze inserts nothing, and the disruptions
    // part files are not rewritten
    def parts() = new java.io.File(store.path("disruptions")).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified()).toSet
    val before = parts()
    val replay = Main.run(spark, updPath, root, clock2).toMap
    assert(replay == second.updated("bronze_inserted", 0L))
    assert(parts() == before)
    assert(rows(store.read("daily_stats").get.drop("calculated_at")) == stats)
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
