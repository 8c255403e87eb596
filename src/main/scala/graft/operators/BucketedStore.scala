package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed catalog tables for co-located joins.
  *
  * Two tables bucketed by the same key into the same bucket count
  * join without any Exchange: each task reads matching buckets from
  * both sides. At 100 TB this removes the dominant shuffle of
  * fact-to-fact joins — the write pays the partitioning cost once,
  * every subsequent join reuses it (the Spark analog of the
  * reference's B-tree indexes, SURVEY §4.1).
  */
final class BucketedStore(spark: SparkSession) {

  /** Save `df` as a bucketed (and sorted) managed table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def read(table: String): DataFrame = spark.table(table)
}
