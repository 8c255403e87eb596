package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query.
  *
  * @param name   stable key — must match between `SparkEntry.queries`
  *               and `SparkEntry.oracleSql`
  * @param run    DataFrame-API implementation over the testdata dir
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               parquet tables (table names = file stems); None for
  *               ops not expressible in SQL (driver falls back to a
  *               rows-only check)
  * @param covers SURVEY.md §2 operator ids exercised by this query
  * @param dynOracle oracle SQL generated at Verify-dump time from the
  *               (spark, testdata dir) pair — for gates whose oracle
  *               must inline data-derived model literals (the ANN
  *               gates' trained centroids/codebooks, see
  *               [[AnnModelOracle]]). Mutually exclusive with
  *               `oracle`; Verify merges these into oracle_sql.json
  *               after the query dump.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    covers: Seq[String] = Nil,
    dynOracle: Option[(SparkSession, String) => String] = None)

object QueryDef {
  /** Determinism rules shared by every query (see Scaladoc on each):
    *  - double outputs must derive from exact DECIMAL(18,2) sums (the
    *    source doubles are 2-decimal) so partial aggregation order
    *    cannot change the result;
    *  - no `round()` on division results (Spark rounds the shortest
    *    string repr, DuckDB the binary value — they disagree on
    *    half-way points); identical IEEE expression trees are already
    *    bitwise deterministic;
    *  - every query ends in a total ORDER BY;
    *  - counts cast to BIGINT on the DuckDB side (its SUM(int) is
    *    HUGEINT), ranks cast to BIGINT on the Spark side.
    */
  val determinismNotes: String = "see scaladoc"

  /** Run `body` with a session conf pinned, restoring the prior value
    * (or unsetting it) afterwards, also when `body` throws — for gates
    * that need a conf only while they plan or run.
    */
  def withConf[T](s: SparkSession, k: String, v: String)(body: => T): T = {
    val prior = s.conf.getOption(k)
    s.conf.set(k, v)
    try body finally prior match {
      case Some(p) => s.conf.set(k, p)
      case None    => s.conf.unset(k)
    }
  }
}
