package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * All tables are parquet; reads go through `spark.read.parquet` so
  * Catalyst gets column pruning + predicate pushdown into the scan.
  *
  * The RESOLVED frame is cached per (SparkContext, dir, name) — plan
  * resolution only, never data: `spark.read.parquet` pays schema
  * inference (a footer-reading job) plus file listing on EVERY call,
  * measured 68 ms steady-state per table at bench scale
  * (OPTIMIZATION_r11.md, "Tables.load"), which multiplied across 535 gates × 2 timed
  * passes was ~1/4 of the whole bench wall. A real deployment resolves
  * a table once in its catalog/metastore for exactly this reason; the
  * cached object is an immutable logical plan whose every action still
  * scans the parquet files. Correctness contract: a (dir, name) input
  * is immutable for the life of a context (the driver's testdata and
  * the dev rung dirs are write-once; mutable state lives in
  * [[graft.store.TableStore]], which never routes through here).
  * Context-keyed + swept like [[graft.queries.GraphGateSource]] so a
  * stopped context's frames are never served to a fresh one.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), DataFrame]()

  private def ctxKey(s: SparkSession): String =
    s.sparkContext.applicationId + ":" + s.sparkContext.startTime

  private def sweepStopped(): Unit =
    cache.entrySet.removeIf(e =>
      e.getValue.sparkSession.sparkContext.isStopped)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    sweepStopped()
    cache.computeIfAbsent((ctxKey(spark), dir, name),
      _ => doLoad(spark, dir, name))
  }

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet's ts has varied across driver testdata versions:
    // INT64 TIMESTAMP(NANOS) (Spark reads it only as raw longs under
    // nanosAsLong), or micros without isAdjustedToUTC (Spark 4 infers
    // TIMESTAMP_NTZ, which unix_micros & friends reject). Normalize
    // both to a plain session-TZ TimestampType — the session is pinned
    // UTC, so the NTZ cast is value-identity, matching how the DuckDB
    // oracle reads the same file (naive TIMESTAMP).
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Register every table as a temp view for Spark SQL queries. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
