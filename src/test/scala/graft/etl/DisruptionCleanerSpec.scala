package graft.etl

import java.time.Instant

import org.apache.spark.sql.Row

import graft.SparkSpec

/** The reference cleaner's own inline smoke fixture
  * (`cleaners.py:270-312`, transcribed per FIXTURES.md §3) plus edge
  * cases for each P-operator.
  */
class DisruptionCleanerSpec extends SparkSpec {

  private val clock = Clock(Instant.parse("2026-02-14T11:18:10.996856Z"))

  /** The cleaner's output columns, in order: the reference's cleaned
    * record.
    */
  private val outputColumns: Seq[String] = Seq(
    "disruption_id", "type", "title", "description", "start_time",
    "end_time", "duration_minutes", "impact_level", "affected_stations",
    "is_resolved", "created_at", "updated_at")

  private def fixtureJson: String =
    """[
      {"id": "prio-12345", "type": "verstoring",
       "title": "Storing Amsterdam Centraal",
       "description": "Seinstoring tussen Amsterdam en Utrecht",
       "start": "2026-02-14T08:30:00+0100",
       "end": "2026-02-14T10:00:00+0100",
       "timespans": [{"situation": {"label": "Sein storing",
         "stations": [{"stationCode": "ASD"}, {"stationCode": "UTR"}]}}]},
      {"id": "prio-67890", "type": "werkzaamheden",
       "title": "Werkzaamheden Rotterdam",
       "description": "Geplande werkzaamheden",
       "start": "2026-02-14T06:00:00+0100",
       "end": "2026-02-14T18:00:00+0100"}
    ]"""

  private def cleanFixture() = {
    import spark.implicits._
    val raw = spark.read
      .option("multiLine", "true")
      .schema(NsSchemas.raw)
      .json(Seq(fixtureJson).toDS)
    DisruptionCleaner.clean(raw, clock).orderBy("disruption_id").collect()
  }

  test("inline fixture: types mapped Dutch→English") {
    val rows = cleanFixture()
    assert(rows.map(_.getAs[String]("type")).toSeq == Seq("disruption", "maintenance"))
  }

  test("inline fixture: durations 90.0 and 720.0 minutes") {
    val rows = cleanFixture()
    assert(rows.map(_.getAs[Double]("duration_minutes")).toSeq == Seq(90.0, 720.0))
  }

  test("inline fixture: impact levels 3 (disruption >60) and 4 (maintenance >240)") {
    val rows = cleanFixture()
    assert(rows.map(_.getAs[Int]("impact_level")).toSeq == Seq(3, 4))
  }

  test("inline fixture: stations from timespans, sorted; regex miss → null") {
    val rows = cleanFixture()
    assert(rows(0).getAs[String]("affected_stations") == "ASD,UTR")
    // "Werkzaamheden Rotterdam" has no \b[A-Z]{2,5}\b match.
    assert(rows(1).getAs[String]("affected_stations") == null)
  }

  test("inline fixture: timestamps normalized to UTC") {
    val rows = cleanFixture()
    assert(rows(0).getAs[java.sql.Timestamp]("start_time").toInstant ==
      Instant.parse("2026-02-14T07:30:00Z"))
  }

  test("title shorter than 5 chars → null; trimmed otherwise") {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true").schema(NsSchemas.raw)
      .json(Seq("""[{"id":"a","type":"x","title":"  ab "},
                   {"id":"b","type":"x","title":"  long enough "}]""").toDS)
    val out = DisruptionCleaner.clean(raw, clock).orderBy("disruption_id").collect()
    assert(out(0).getAs[String]("title") == null)
    assert(out(1).getAs[String]("title") == "long enough")
  }

  test("missing end → imputed clock+2h, duration from imputed end") {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true").schema(NsSchemas.raw)
      .json(Seq("""[{"id":"a","type":"calamiteit","title":"Calamiteit X",
                    "start":"2026-02-14T11:00:00+0100"}]""").toDS)
    val out = DisruptionCleaner.clean(raw, clock).collect()(0)
    assert(out.getAs[java.sql.Timestamp]("end_time").toInstant ==
      Instant.parse("2026-02-14T13:18:10.996856Z"))
    // (13:18:10.996856 − 10:00:00) UTC = 198.18328093333… min
    assert(math.abs(out.getAs[Double]("duration_minutes") - 198.18328093333332) < 1e-6)
    assert(out.getAs[Int]("impact_level") == 5) // calamity
  }

  test("null disruption_id rows dropped; impact clamped to [1,5]") {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true").schema(NsSchemas.raw)
      .json(Seq("""[{"type":"x","title":"No id here"},
                   {"id":"k","type":"onbekend","title":"Unknown type"}]""").toDS)
    val out = DisruptionCleaner.clean(raw, clock).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Int]("impact_level") == 2) // unmapped type → 2
  }

  test("cancel substring in type → impact 5") {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true").schema(NsSchemas.raw)
      .json(Seq("""[{"id":"c1","type":"cancellation","title":"Cancelled run"}]""").toDS)
    assert(DisruptionCleaner.clean(raw, clock).collect()(0)
      .getAs[Int]("impact_level") == 5)
  }

  test("regex fallback fires only when structured paths are empty") {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true").schema(NsSchemas.raw)
      .json(Seq("""[{"id":"r1","type":"verstoring",
                    "title":"Storing ASD richting GVC"}]""").toDS)
    assert(DisruptionCleaner.clean(raw, clock).collect()(0)
      .getAs[String]("affected_stations") == "ASD,GVC")
  }

  test("section.stations uicCode path extracts when present") {
    import spark.implicits._
    val raw = spark.read.option("multiLine", "true").schema(NsSchemas.raw)
      .json(Seq("""[{"id":"s1","type":"verstoring","title":"Traject storing",
        "section":{"stations":[{"uicCode":"8400058"},{"uicCode":"8400621"}]}}]""").toDS)
    assert(DisruptionCleaner.clean(raw, clock).collect()(0)
      .getAs[String]("affected_stations") == "8400058,8400621")
  }

  test("absent optional columns tolerated (dynamic-schema guard, P13/§1.4)") {
    import spark.implicits._
    // A frame carrying ONLY id+type — every other column absent.
    val raw = Seq(("x1", "CALAMITY")).toDF("id", "type")
    val out = DisruptionCleaner.clean(raw, clock).collect()(0)
    assert(out.getAs[String]("type") == "calamity")
    assert(out.getAs[Int]("impact_level") == 5)
    assert(out.getAs[java.sql.Timestamp]("start_time") == null)
    assert(out.getAs[String]("affected_stations") == null)
  }

  test("empty input → empty output with full schema") {
    val raw = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], NsSchemas.raw)
    val out = DisruptionCleaner.clean(raw, clock)
    assert(out.isEmpty)
    assert(out.columns.toSeq == outputColumns)
  }
}
