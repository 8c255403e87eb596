package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Bench.timedPass]]: a gate that throws is reported by name and
  * never timed as a run, while its neighbours are still timed.
  */
class BenchFailureSpec extends SparkSpec {

  private def gate(f: SparkSession => DataFrame): Bench.Gate = (s, _) => f(s)

  test("a throwing query is listed as failed, not timed") {
    val pass = Bench.timedPass(spark, "unused", Seq(
      "q_ok" -> gate(_.range(10).toDF()),
      "q_throws" -> gate(_ => throw new IllegalStateException("boom")),
      "q_fails_in_exec" -> gate(_.range(1).selectExpr("raise_error('boom')")),
      "q_after" -> gate(_.range(5).toDF())))
    assert(pass.map(_._1) == Seq("q_ok", "q_throws", "q_fails_in_exec", "q_after"))
    assert(pass.collect { case (n, None) => n } == Seq("q_throws", "q_fails_in_exec"))
    assert(pass.collect { case (n, Some(t)) if t >= 0 => n } == Seq("q_ok", "q_after"))
  }

  test("canary slots run before each query, in order") {
    val slots = scala.collection.mutable.ArrayBuffer.empty[Int]
    Bench.timedPass(spark, "unused",
      Seq.tabulate(3)(i => s"q$i" -> gate(_.range(1).toDF())), slots += _)
    assert(slots == Seq(0, 1, 2))
  }
}
