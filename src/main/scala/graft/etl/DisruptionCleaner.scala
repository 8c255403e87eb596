package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The cleaning pipeline (reference `src/transformation/cleaners.py:25-61`)
  * re-expressed as pure Catalyst column expressions — zero UDFs, so the
  * whole stage stays inside whole-stage codegen and every filter/column
  * prune pushes to the scan (SURVEY §2.11).
  *
  * Stage order is the reference's: field extraction → timestamps →
  * metrics → stations → validation → pruning.
  */
object DisruptionCleaner {

  /** Dutch → English type mapping (`cleaners.py:17-23`); unmapped
    * values pass through lowercased.
    */
  val dutchToEnglish: Map[String, String] = Map(
    "verstoring" -> "disruption",
    "werkzaamheden" -> "maintenance",
    "calamiteit" -> "calamity",
    "storing" -> "disruption")

  /** Timestamp patterns accepted by the coercing parse (`cleaners.py:93-98`
    * uses pandas' lenient parser; real payloads use the colon-less
    * offset `2026-02-13T17:28:14+0100`).
    */
  private val tsPatterns = Seq(
    "yyyy-MM-dd'T'HH:mm:ssZ",     // +0100
    "yyyy-MM-dd'T'HH:mm:ssXXX",   // +01:00
    "yyyy-MM-dd'T'HH:mm:ss")      // naive

  /** True if `path` (dot-separated, descending through structs and
    * array-of-struct elements) resolves in the schema — the Spark
    * analog of the reference's `if 'col' in df.columns` guards.
    */
  private[etl] def hasPath(schema: StructType, path: String): Boolean = {
    def walk(dt: DataType, parts: List[String]): Boolean = (dt, parts) match {
      case (_, Nil) => true
      case (s: StructType, p :: rest) =>
        s.fields.find(_.name == p).exists(f => walk(f.dataType, rest))
      case (a: ArrayType, parts) => walk(a.elementType, parts)
      case _ => false
    }
    walk(schema, path.split('.').toList)
  }

  /** Coercing timestamp parse: unparseable → null (pandas
    * `errors='coerce'`); Spark 4 runs ANSI-on so `try_to_timestamp`
    * is the equivalent.
    */
  private def parseTs(c: Column): Column =
    coalesce(tsPatterns.map(p => try_to_timestamp(c, lit(p))): _*)

  private val emptyStrArray: Column = array().cast(ArrayType(StringType))

  def clean(raw: DataFrame, clock: Clock): DataFrame = {
    val schema = raw.schema
    def strCol(name: String): Column =
      if (schema.fieldNames.contains(name)) col(name).cast(StringType)
      else lit(null).cast(StringType)

    // P1/P2: rename + lowercase + Dutch→English map with passthrough.
    val lowered = lower(strCol("type"))
    val typ = coalesce(element_at(typedLit(dutchToEnglish), lowered), lowered)

    // P3: trim; titles shorter than 5 chars are nulled.
    val trimmed = trim(strCol("title"))
    val title = when(length(trimmed) < 5, lit(null)).otherwise(trimmed)

    // P4/P5: coercing parse; ongoing disruptions (null end) get
    // end_time imputed to clock + 2h (`cleaners.py:100-105`).
    val startTime = parseTs(strCol("start"))
    val endTime = coalesce(parseTs(strCol("end")),
      clock.ts + expr("INTERVAL 2 HOURS"))

    // P6: duration in fractional minutes (µs precision, like pandas'
    // total_seconds()/60); null when start missing or negative.
    val durRaw = (unix_micros(endTime) - unix_micros(startTime)) / lit(6e7)
    val duration = when(startTime.isNull || durRaw < 0, lit(null).cast(DoubleType))
      .otherwise(durRaw)

    // P7: impact rule cascade (`cleaners.py:133-171`), null duration
    // treated as 0; P10 clamps to [1,5].
    val dur0 = coalesce(duration, lit(0.0))
    val impact = when(typ === "calamity", 5)
      .when(typ.contains("cancel"), 5)
      .when(typ === "maintenance", when(dur0 > 240, 4).otherwise(3))
      .when(typ === "disruption",
        when(dur0 > 120, 4).when(dur0 > 60, 3).otherwise(2))
      .otherwise(2)
    val impactLevel = least(greatest(impact, lit(1)), lit(5)).cast(IntegerType)

    // P8: station extraction, faithful to the reference's lookup paths
    // (`cleaners.py:181-227`): top-level section.stations[].uicCode ∪
    // timespans[].situation.stations[].stationCode; regex over the
    // cleaned title ONLY when both structured paths yield nothing.
    val fromSection: Column =
      if (hasPath(schema, "section.stations.uicCode"))
        transform(col("section.stations"), st => st.getField("uicCode").cast(StringType))
      else emptyStrArray
    val fromTimespans: Column =
      if (hasPath(schema, "timespans.situation.stations.stationCode"))
        flatten(transform(col("timespans"), t =>
          coalesce(
            transform(t.getField("situation").getField("stations"),
              st => st.getField("stationCode").cast(StringType)),
            emptyStrArray)))
      else emptyStrArray
    val structured = array_distinct(filter(
      concat(coalesce(fromSection, emptyStrArray),
        coalesce(fromTimespans, emptyStrArray)),
      c => c.isNotNull && c =!= ""))
    val regexCodes = array_distinct(coalesce(
      regexp_extract_all(title, lit("\\b[A-Z]{2,5}\\b"), lit(0)),
      emptyStrArray))
    val stationArr = when(size(structured) > 0, structured).otherwise(regexCodes)
    val affected = when(size(stationArr) > 0,
      array_join(array_sort(stationArr), ",")).otherwise(lit(null))

    raw.select(
        strCol("id").as("disruption_id"),
        typ.as("type"),
        title.as("title"),
        strCol("description").as("description"),
        startTime.as("start_time"),
        endTime.as("end_time"),
        duration.as("duration_minutes"),
        impactLevel.as("impact_level"),
        affected.as("affected_stations"),
        lit(false).as("is_resolved"),           // P11
        clock.ts.as("created_at"),
        clock.ts.as("updated_at"))
      .filter(col("disruption_id").isNotNull)    // P9
  }
}
