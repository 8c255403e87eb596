package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed here as a
  * named query over the driver's synthetic tables, paired with a
  * DuckDB oracle SQL (the driver's correctness gate hash-compares the
  * two at sf0.01).
  */
object SparkEntry {

  /** Gates by name; two gates with one name fail here, naming it. */
  private[graft] def registry(gates: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = gates.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate name: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(d => d.name -> d).toMap
  }

  private val byName = registry(RelationalGates.all ++ NsGates.all ++ TextGates.all ++
    DedupGates.all ++ SimilarityGates.all ++ GraphGates.all ++ StatisticsGates.all ++
    MlGates.all ++ StreamGates.all ++ StoreGates.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q11_join_dims")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A gate
    * that declares confs runs in its own session
    * ([[QueryDef.session]]); the others run on the caller's.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, d) =>
      n -> (if (d.confs.isEmpty) d.run else (s: SparkSession, dir: String) =>
        d.run(QueryDef.session(s, d.confs), dir))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    byName.flatMap { case (n, d) => d.oracle.map(n -> _) }

  /** Oracles that need the live (spark, testdata dir) pair to render —
    * gates whose SQL inlines data-derived model literals (trained ANN
    * centroids/codebooks). Verify evaluates these at dump time and
    * merges them into oracle_sql.json alongside [[oracleSql]]. */
  val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    byName.flatMap { case (n, d) => d.dynOracle.map(n -> _) }
}
