package graft.etl

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineMetricsSpec extends SparkSpec {

  test("observe() delivers exact quality counters with no extra scan") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("x"), 5.0), (2L, None, -1.0), (3L, Some("y"), 2.0))
      .toDF("id", "tag", "score")
    val metrics = Observation("load_metrics")
    val observed = Metrics.observeQuality(df, metrics,
      nullCols = Seq("tag"),
      checks = Map("score_nonneg" -> (col("score") >= 0)))
    assert(observed.count() == 3) // the action the metrics ride on
    val m = metrics.get
    assert(m("n_rows") == 3L)
    assert(m("n_null_tag") == 1L)
    assert(m("n_bad_score_nonneg") == 1L)
  }
}
