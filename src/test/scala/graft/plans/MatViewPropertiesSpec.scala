package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.store.{AggSpec, AggTable, TableStore}

/** Property-based check for the materialized-view rewrite: for random
  * datasets and RANDOM batch partitions, an aggregate answered from
  * the folded AggTable state (through [[MatViewRewrite]]) must equal
  * the direct one-shot aggregate over the base table — regardless of
  * how many batches the state was built from, their order, or which
  * rows each held. Fixed seeds reproduce failures.
  */
class MatViewPropertiesSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // (key, long measure, batch assignment) — negatives and collisions
  // included; values small enough that every sum is exact in any type
  private val genRow: Gen[(String, Long, Int)] = for {
    k <- Gen.oneOf("a", "b", "c", "d", "e")
    v <- Gen.chooseNum(-1000L, 1000L)
    b <- Gen.chooseNum(0, 3)
  } yield (k, v, b)

  test("state-answered aggregates equal one-shot aggregates for random batchings") {
    import spark.implicits._
    for (seed <- Seq(11L, 57L, 123L)) {
      val rows = samples(genRow, 120, seed)
      val root = Files.createTempDirectory(s"graft-mvp-$seed").toString
      val base = s"$root/base"
      rows.map { case (k, v, _) => (k, v) }.toDF("k", "v").write.parquet(base)

      val store = new TableStore(spark, root)
      val table = new AggTable(store, "stats", AggSpec(Seq("k"), Seq("v")))
      // fold the SAME logical content in per-batch slices (some may
      // be empty); batch membership is part of the generated data
      (0 to 3).foreach { b =>
        val slice = rows.zipWithIndex
          .collect { case ((k, v, `b`), i) => (k, v, i) }
        // AggSpec.partial only reads (k, v); the index column proves
        // extra batch columns don't leak into state
        table.accumulate(s"batch-$b",
          slice.toDF("k", "v", "idx").select("k", "v"))
      }
      // registered in a private clone of the test session; the
      // direct aggregate below runs on the test session itself
      val mv = GraftPlanBridge.cloneSession(spark)
      MatViewRewrite.register(mv, base, table)

      val stateQ = mv.read.parquet(base).groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
        .orderBy("k")
      // the property must not pass vacuously: prove the plan reads
      // the state, not the base (LogicalRelation.toString omits
      // paths, so inspect the relations)
      val scanned = stateQ.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(scanned.exists(_.contains("stats/state")),
        s"rewrite did not fire (seed=$seed): $scanned")
      val viaState = stateQ.collect().toSeq
      val direct = spark.read.parquet(base).groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
        .orderBy("k").collect().toSeq
      assert(viaState == direct, s"seed=$seed")
    }
  }
}
