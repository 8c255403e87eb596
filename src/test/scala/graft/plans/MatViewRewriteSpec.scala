package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.{AggSpec, AggTable, TableStore}

class MatViewRewriteSpec extends SparkSpec {

  // the rule is in every engine session; a case's registrations are
  // cleared when it ends
  private def withRule[A](body: => A): A =
    try body finally MatViewRewrite.clear()

  /** Root paths of every parquet scan in the optimized plan. */
  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  /** base parquet (long measure) + AggTable folded over two batches. */
  private def fixture(): (String, String) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mv").toString
    val base = s"$root/base"
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L), ("c", 5L), ("c", -1L))
    rows.toDF("k", "v").write.parquet(base)
    val store = new TableStore(spark, root)
    val agg = new AggTable(store, "stats", AggSpec(Seq("k"), Seq("v")))
    val df = spark.read.parquet(base)
    agg.accumulate("b1", df.filter(col("v") >= 3))
    agg.accumulate("b2", df.filter(col("v") < 3))
    MatViewRewrite.register(base, agg)
    (base, store.path("stats") + "/state")
  }

  test("aggregate over the base table is answered from the state") {
    withRule {
      val (base, statePath) = fixture()
      val q = spark.read.parquet(base)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
        .orderBy("k")
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains(statePath.stripPrefix("file:"))),
        s"state not scanned: $paths")
      assert(!paths.exists(_.endsWith("/base")), s"base still scanned: $paths")
      val got = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(got.toSeq == Seq(("a", 3L, 6L, 1L, 3L), ("b", 1L, 10L, 10L, 10L),
        ("c", 2L, 4L, -1L, 5L)))
    }
  }

  test("key-predicate filters ride the rewrite; measure filters do not") {
    withRule {
      val (base, statePath) = fixture()
      val keyFiltered = spark.read.parquet(base)
        .filter(col("k") =!= "b")
        .groupBy("k").agg(sum("v").as("s")).orderBy("k")
      assert(scannedPaths(keyFiltered).exists(_.contains(statePath.stripPrefix("file:"))))
      assert(keyFiltered.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 6L), ("c", 4L)))

      // a measure predicate cannot be answered by per-group state
      val measureFiltered = spark.read.parquet(base)
        .filter(col("v") > 0)
        .groupBy("k").agg(sum("v").as("s"))
      assert(scannedPaths(measureFiltered).exists(_.endsWith("/base")))
    }
  }

  test("non-algebraic aggregates and unregistered tables stay untouched") {
    withRule {
      val (base, _) = fixture()
      // avg is not derivable from the closed state set → base scan
      val avgQ = spark.read.parquet(base).groupBy("k").agg(avg("v").as("a"))
      assert(scannedPaths(avgQ).exists(_.endsWith("/base")))
      // count(v) counts non-nulls — not derivable either
      val countCol = spark.read.parquet(base).groupBy("k").agg(count(col("v")).as("n"))
      assert(scannedPaths(countCol).exists(_.endsWith("/base")))
      // a different parquet table with the same shape is not rewritten
      import spark.implicits._
      val other = Files.createTempDirectory("graft-mv-other").toString + "/t"
      Seq(("a", 1L)).toDF("k", "v").write.parquet(other)
      val q = spark.read.parquet(other).groupBy("k").agg(sum("v").as("s"))
      assert(scannedPaths(q).exists(_.endsWith("/t")))
      assert(q.collect().head.getLong(1) == 1L)
    }
  }

  test("FILTER-clause aggregates stay on the base scan") {
    withRule {
      val (base, statePath) = fixture()
      // an aggregate with FILTER (WHERE …) counts a predicate-
      // dependent subset the per-group state never kept — rewriting
      // it to the state's cnt/sum would return the UNfiltered group
      // totals (the wrong-results failure mode the `None` filter
      // match in MatViewRewrite.tryRewrite guards against). A
      // wildcard match in the filter position would take q1/q2 off
      // the base and this test pins both the plan and the values.
      val q1 = spark.read.parquet(base).groupBy("k")
        .agg(expr("count(*) FILTER (WHERE v > 2)").as("n")).orderBy("k")
      assert(scannedPaths(q1).exists(_.endsWith("/base")),
        s"FILTER count left the base scan: ${scannedPaths(q1)}")
      assert(q1.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 1L), ("b", 1L), ("c", 1L)))

      val q2 = spark.read.parquet(base).groupBy("k")
        .agg(expr("sum(v) FILTER (WHERE v > 2)").as("s")).orderBy("k")
      assert(scannedPaths(q2).exists(_.endsWith("/base")),
        s"FILTER sum left the base scan: ${scannedPaths(q2)}")
      assert(q2.collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -999L else r.getLong(1))).toSeq ==
        Seq(("a", 3L), ("b", 10L), ("c", 5L)))

      // count_if desugars to count with a non-foldable child (or a
      // filter clause depending on version) — either way it must not
      // be answered by the state's row counts
      val q3 = spark.read.parquet(base).groupBy("k")
        .agg(expr("count_if(v < 0)").as("n")).orderBy("k")
      assert(scannedPaths(q3).exists(_.endsWith("/base")),
        s"count_if left the base scan: ${scannedPaths(q3)}")
      assert(q3.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 0L), ("b", 0L), ("c", 1L)))
    }
  }

  test("sum over the exact DECIMAL(18,2) cast rewrites even for float measures") {
    withRule {
      import org.apache.spark.sql.types.DecimalType
      import spark.implicits._
      val root = Files.createTempDirectory("graft-mv-f").toString
      val base = s"$root/base"
      Seq(("a", 1.25), ("a", 2.50), ("b", 0.75)).toDF("k", "v").write.parquet(base)
      val store = new TableStore(spark, root)
      val agg = new AggTable(store, "stats", AggSpec(Seq("k"), Seq("v")))
      agg.accumulate("b1", spark.read.parquet(base))
      val statePath = store.path("stats") + "/state"
      MatViewRewrite.register(base, agg)

      // bare float sum must NOT rewrite (order-dependent) ...
      val bare = spark.read.parquet(base).groupBy("k").agg(sum("v").as("s"))
      assert(scannedPaths(bare).exists(_.endsWith("/base")))
      // ... but the state's own cast form must
      val cast = spark.read.parquet(base).groupBy("k")
        .agg(sum(col("v").cast(DecimalType(18, 2))).as("s")).orderBy("k")
      assert(scannedPaths(cast).exists(_.contains(statePath.stripPrefix("file:"))))
      assert(cast.collect().map(r => (r.getString(0), r.getDecimal(1).toString)).toSeq ==
        Seq(("a", "3.75"), ("b", "0.75")))
    }
  }

  test("stream-maintained state answers ad-hoc aggregates over the landed base") {
    withRule {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.types.DecimalType
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      import graft.streaming.EventStreams.Event

      // production shape: raw events land in the lake (base parquet)
      // while the SAME stream maintains the aggregate view — ad-hoc
      // queries then target the base table and the rule answers them
      // from the O(groups) state instead of rescanning the landed data
      val root = Files.createTempDirectory("graft-mv-stream").toString
      val base = s"$root/events_landed"
      val ckpt = s"$root/ckpt"
      val store = new TableStore(spark, root)
      val spec = AggSpec(Seq("event_type"), Seq("value"))
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

      val input = MemoryStream[Event]
      val agg = new AggTable(store, "ev_stats", spec)
      val query = input.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          agg.accumulate(s"stream_$batchId", batch)
          ()
        }
        .start()
      val b1 = Seq(Event(1L, ts(1), "click", 1.50), Event(2L, ts(2), "view", 4.00))
      val b2 = Seq(Event(3L, ts(3), "click", 2.50), Event(4L, ts(4), "click", -1.00))
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      query.stop()
      (b1 ++ b2).toDF().write.mode("append").parquet(base)

      MatViewRewrite.register(base, new AggTable(store, "ev_stats", spec))
      val q = spark.read.parquet(base).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("s"),
          min("value").as("mn"), max("value").as("mx"))
        .orderBy("event_type")
      assert(scannedPaths(q).exists(_.contains("ev_stats/state")))
      assert(q.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toString, r.getDouble(3), r.getDouble(4))).toSeq ==
        Seq(("click", 3L, "3.00", -1.00, 2.50), ("view", 1L, "4.00", 4.00, 4.00)))
    }
  }

  test("rewrite preserves output ids for downstream operators (join + sort)") {
    withRule {
      import spark.implicits._
      val (base, statePath) = fixture()
      val dim = Seq(("a", "alpha"), ("b", "beta"), ("c", "gamma")).toDF("k", "label")
      val q = spark.read.parquet(base)
        .groupBy("k").agg(sum("v").as("s"))
        .join(dim, "k")
        .orderBy(desc("s"))
      assert(scannedPaths(q).exists(_.contains(statePath.stripPrefix("file:"))))
      assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
        Seq(("b", 10L, "beta"), ("a", 6L, "alpha"), ("c", 4L, "gamma")))
    }
  }
}
