package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class AggTableSpec extends SparkSpec {

  private val spec = AggSpec(Seq("k"), Seq("v"))

  private def rows(df: DataFrame): Map[String, (Long, Double, Double, Double, Double)] =
    df.collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    }.toMap

  test("merged batch partials equal the one-shot aggregate exactly") {
    import spark.implicits._
    val data = Seq(
      ("a", 1.25), ("a", 2.50), ("a", -0.75),
      ("b", 10.00), ("b", 0.01))
    val full = spec.finish(spec.partial(data.toDF("k", "v")))
    val (b1, b2) = data.splitAt(2)
    val inc = spec.finish(spec.merge(
      spec.partial(b1.toDF("k", "v")), spec.partial(b2.toDF("k", "v"))))
    assert(rows(inc) == rows(full))
    val a = rows(inc)("a")
    assert(a == ((3L, 3.00, 1.00, -0.75, 2.50)))
  }

  test("merge is closed under iteration (schema and types stable)") {
    import spark.implicits._
    val p0 = spec.partial(Seq(("a", 1.00)).toDF("k", "v"))
    val folded = (1 to 5).foldLeft(p0) { (st, i) =>
      spec.merge(st, spec.partial(Seq(("a", i + 0.50)).toDF("k", "v")))
    }
    // names + types stable (nullability converges to nullable, as any
    // parquet round-trip of the state does anyway)
    assert(folded.schema.map(f => f.name -> f.dataType) ==
      p0.schema.map(f => f.name -> f.dataType))
    val a = rows(spec.finish(folded))("a")
    assert(a._1 == 6L && a._2 == 18.50 && a._4 == 1.00 && a._5 == 5.50)
  }

  test("AggTable accumulates batches; replayed batch ids are no-ops") {
    import spark.implicits._
    val store = new TableStore(spark, Files.createTempDirectory("graft-agg").toString)
    val agg = new AggTable(store, "stats", spec)
    assert(agg.state.isEmpty)
    assert(agg.accumulate("b1", Seq(("a", 1.00), ("b", 2.00)).toDF("k", "v")))
    assert(agg.accumulate("b2", Seq(("a", 4.00)).toDF("k", "v")))
    // the reference's safe-to-re-run contract: same batch id twice ≡ once
    assert(!agg.accumulate("b2", Seq(("a", 4.00)).toDF("k", "v")))
    val r = rows(agg.state.map(spec.finish).get)
    assert(r("a") == ((2L, 5.00, 2.50, 1.00, 4.00)))
    assert(r("b") == ((1L, 2.00, 2.00, 2.00, 2.00)))
  }

  test("state and ledger commit together under one table directory") {
    import spark.implicits._
    val store = new TableStore(spark, Files.createTempDirectory("graft-agg2").toString)
    val agg = new AggTable(store, "stats", spec)
    agg.accumulate("b1", Seq(("a", 1.00)).toDF("k", "v"))
    agg.accumulate("b2", Seq(("a", 2.00)).toDF("k", "v"))
    // both are parts of <table>, written by ONE commit — a crash can
    // never persist the ledger without the matching state
    assert(store.read("stats/state").isDefined && store.read("stats/ledger").isDefined)
    assert(store.read("stats__batches").isEmpty)
    assert(store.read("stats/ledger").get.collect()
      .map(_.getString(0)).toSet == Set("b1", "b2"))
    assert(rows(agg.state.map(spec.finish).get)("a") == ((2L, 3.00, 1.50, 1.00, 2.00)))
  }
}
