package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** [[Tables.load]]'s `events` normalisation on an INT64
  * `TIMESTAMP(NANOS)` `ts`, the form some testdata versions write.
  */
class TablesSpec extends SparkSpec {

  // sub-microsecond digits included: the load truncates them
  private val nanos = Seq(1700000000123456789L, 1700000060000000999L, 86400000000000L)

  /** `<dir>/events.parquet` with (event_id, ts TIMESTAMP(NANOS)). */
  private def nanosEvents(): String = {
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(schema)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (n, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", n))
    } finally writer.close()
    dir
  }

  test("a fresh engine session reads TIMESTAMP(NANOS) events without an earlier load") {
    val dir = nanosEvents()
    // a new session on the same context: nothing has loaded `events`
    // in it, so only the session defaults decide how ts decodes
    val fresh = spark.newSession()
    val raw = fresh.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == LongType)

    val events = Tables.load(fresh, dir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    val micros = events.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(micros == nanos.map(_ / 1000))
  }
}
