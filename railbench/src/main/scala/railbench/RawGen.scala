package railbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded generator of NS API-shaped raw disruption snapshots: JSON
  * arrays that `RawSource.readRawJsonArray` reads with the explicit raw
  * schema. Every cleaner branch is hit in the proportions of the repo's
  * cleaner-parity gate generator:
  *
  *  - 1/97 null ids (dropped by the cleaner, still extracted);
  *  - raw types CALAMITY (uppercase), cancellation, werkzaamheden,
  *    verstoring and storing (Dutch), one fifth each;
  *  - titles null, too short, station codes only in the title (the
  *    regex fallback), whitespace-padded and plain, one fifth each;
  *  - 1/13 malformed start timestamps, the rest spread over the three
  *    accepted patterns (`+0100`, `+01:00`, naive);
  *  - 1/3 missing ends (imputed from the clock);
  *  - half the records carry `timespans` stations, which win over the
  *    title regex.
  *
  * Daily snapshots also carry updates of still-open disruptions from
  * earlier days (the same id, the same start, now usually with an end),
  * so a run touches several days of gold stats.
  */
final class RawGen(seed: Long) {
  import RawGen.Disruption

  private val rnd = new java.util.Random(seed)
  private var nextId = 0L
  // still-open disruptions (no end yet) that later snapshots may update
  private val open = mutable.ArrayBuffer.empty[Disruption]

  private val stations = Seq("ASD", "UTR", "RTD", "EHV", "GVC", "LEDN",
    "AMF", "ZL", "GN", "NM", "BD", "HT", "SHL", "DT", "ZD")
  private val rawTypes = Seq("CALAMITY", "cancellation", "werkzaamheden",
    "verstoring", "storing")
  private val causes = Seq("seinstoring", "defecte trein", "werkzaamheden",
    "aanrijding", "stroomstoring", "weersomstandigheden")

  private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  private def newDisruption(dayStart: Instant): Disruption = {
    val n = nextId
    nextId += 1
    Disruption(
      id = if (rnd.nextInt(97) == 0) None else Some(s"${seed}x$n"),
      rawType = pick(rawTypes), titleKind = rnd.nextInt(5),
      from = pick(stations), to = pick(stations),
      // starts spread over the day; a +0100 start before 01:00 local
      // falls on the previous UTC day, as real payloads do
      start = dayStart.plusSeconds(rnd.nextInt(86400).toLong),
      startFormat = if (rnd.nextInt(13) == 0) 3 else rnd.nextInt(3),
      withTimespans = rnd.nextBoolean(),
      durationMin = 5 + rnd.nextInt(600))
  }

  private val offset1 = ZoneOffset.ofHours(1)
  private val fmtZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssZ")
  private val fmtX = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
  private val fmtNaive = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private def fmt(t: Instant, format: Int, id: Long): String = format match {
    case 0 => fmtZ.format(t.atOffset(offset1))
    case 1 => fmtX.format(t.atOffset(offset1))
    case 2 => fmtNaive.format(t.atOffset(ZoneOffset.UTC))
    case _ => if (id % 2 == 0) "not-a-date" else "13/02/2026 17:28"
  }

  /** The UTC day the cleaner assigns to a start, None when it nulls it. */
  private def startDay(d: Disruption): Option[LocalDate] =
    if (d.startFormat == 3) None else Some(d.start.atZone(ZoneOffset.UTC).toLocalDate)

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  private def optStr(o: Option[String]): String = o.map(esc).getOrElse("null")

  private def json(d: Disruption, ended: Boolean, version: Int): String = {
    val idNum = d.id.map(_.hashCode.toLong.abs).getOrElse(0L)
    val start = fmt(d.start, d.startFormat, idNum)
    val end =
      if (!ended) None
      else Some(fmt(d.start.plusSeconds(60L * d.durationMin),
        if (d.startFormat == 3) 0 else d.startFormat, idNum))
    val title = d.titleKind match {
      case 0 => None
      case 1 => Some("ab")
      case 2 => Some(s"Storing ${d.from} richting ${d.to}")
      case 3 => Some(s"  Geplande werkzaamheden ${d.from}  ")
      case _ => Some(s"Treinverkeer tussen ${d.from.toLowerCase} en ${d.to.toLowerCase} hersteld")
    }
    val description =
      s"Tussen ${d.from} en ${d.to} rijden minder treinen door ${pick(causes)} (update $version)."
    val timespans =
      if (!d.withTimespans) "null"
      else s"""[{"start":${esc(start)},"end":${optStr(end)},"period":"vandaag","situation":{"label":"minder treinen","stations":[{"stationCode":${esc(d.from)}},{"stationCode":${esc(d.to)}}]},"cause":{"label":${esc(pick(causes))}}}]"""
    s"""{"id":${optStr(d.id)},"type":${esc(d.rawType)},"title":${optStr(title)},""" +
      s""""description":${esc(description)},"start":${esc(start)},"end":${optStr(end)},""" +
      s""""isActive":${!ended},"topic":null,"priority":"PRIO_${1 + idNum % 3}",""" +
      s""""lastUpdated":${esc(start)},"phase":{"id":"${version}","label":"fase $version"},""" +
      s""""impact":{"value":${1 + idNum % 5}},"timespans":$timespans}"""
  }

  /** A day's snapshot: `fresh` new disruptions starting that day and
    * `updates` re-emitted open disruptions from earlier days.
    */
  def day(date: LocalDate, fresh: Int, updates: Int, openShare: Double): Snapshot = {
    val dayStart = date.atStartOfDay(ZoneOffset.UTC).toInstant
    val upd = (0 until math.min(updates, open.size)).map { _ =>
      open.remove(rnd.nextInt(open.size)) -> (rnd.nextDouble() >= 0.3)
    }
    open ++= upd.collect { case (d, false) => d }
    val fresh0 = (0 until fresh).map { _ =>
      val d = newDisruption(dayStart)
      // ongoing disruptions carry no end; ids are needed to update them
      val ended = rnd.nextDouble() >= openShare || d.id.isEmpty
      if (!ended) open += d
      d -> ended
    }
    val all = upd ++ fresh0
    Snapshot(
      all.zipWithIndex.map { case ((d, ended), i) => json(d, ended, i % 4) },
      all.map { case (d, _) => d.id -> startDay(d) })
  }

  /** Forgets open disruptions that started before `date`. */
  def closeBefore(date: LocalDate): Unit =
    open.filterInPlace(d => !d.start.isBefore(date.atStartOfDay(ZoneOffset.UTC).toInstant))
}

object RawGen {
  /** A disruption's immutable identity; updates re-emit it with an end. */
  final case class Disruption(
      id: Option[String], rawType: String, titleKind: Int, from: String,
      to: String, start: Instant, startFormat: Int, withTimespans: Boolean,
      durationMin: Int)
}

/** One snapshot: records as JSON objects plus each record's store key. */
final case class Snapshot(records: Seq[String], keys: Seq[(Option[String], Option[LocalDate])]) {
  def size: Int = records.size

  /** Writes the snapshot as one pretty-printed JSON array; returns bytes written. */
  def write(file: Path): Long = {
    val body = records.mkString("[\n  ", ",\n  ", "\n]\n").getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(file.getParent)
    Files.write(file, body)
    body.length.toLong
  }
}

/** The store state a sequence of `Main.run` calls must leave behind,
  * tracked from the generator's own keys: it yields the counts each run
  * must return. Disruption starts never change across updates, so the
  * set of gold days only grows.
  */
final class StoreModel {
  private val ids = mutable.HashSet.empty[String]
  private val days = mutable.HashSet.empty[Option[LocalDate]]

  /** Applies one batch and returns `Main.run`'s expected counts. */
  def apply(keys: Seq[(Option[String], Option[LocalDate])]): Map[String, Long] = {
    val batch = keys.collect { case (Some(id), day) => id -> day }
    val batchIds = batch.map(_._1).toSet
    val inserted = batchIds.count(id => !ids.contains(id))
    ids ++= batchIds
    days ++= batch.map(_._2)
    Map(
      "extracted" -> keys.size.toLong,
      "bronze_inserted" -> inserted.toLong,
      "silver_rows" -> ids.size.toLong,
      "daily_stats_rows" -> days.size.toLong,
      "report_total_today" -> batchIds.size.toLong)
  }
}
