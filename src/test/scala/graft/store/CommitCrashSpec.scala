package graft.store

import java.nio.file.Files
import java.util.ConcurrentModificationException

import scala.util.Try

import graft.{Main, MainSpec, SparkSpec}

/** Crash and stale-writer behaviour of the store's one commit path.
  *
  * Crashes come from [[FaultFs]]: a run is recorded once, then repeated
  * with a crash at each store-level filesystem step — every create,
  * rename and delete outside Spark's `_temporary` task staging: the
  * last step of writing a table's data, the creation of its manifest,
  * the first retirement of superseded files — and re-run on a fresh
  * store from the operation that crashed. Every crash must end in the
  * tables of the uninterrupted run.
  */
class CommitCrashSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
  }

  private def faultRoot(name: String): String =
    "faultfs://" + Files.createTempDirectory(s"graft-crash-$name")

  private val storeLevel: FaultFs.Op => Boolean = op => !op._2.contains("/_temporary")

  /** Store-level step indices to crash at; of a run of deletes only the
    * first (retiring one superseded file is the same boundary as
    * retiring the next).
    */
  private def crashPoints(ops: Seq[FaultFs.Op]): Seq[(Int, FaultFs.Op)] = {
    val steps = ops.filter(storeLevel)
    steps.indices.filterNot(i => i > 0 && steps(i)._1 == "delete" && steps(i - 1)._1 == "delete")
      .map(i => i -> steps(i))
  }

  /** Table contents through a fresh store, doubles rounded (an
    * incremental and a recomputed aggregate may sum in other orders).
    */
  private def tables(root: String, names: Seq[String]): Map[String, Seq[String]] = {
    val store = new TableStore(spark, root)
    names.map(t => t -> store.read(t).fold(Seq.empty[String])(_.collect().toSeq.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      case v => v
    }.mkString("|")).sorted)).toMap
  }

  private def copy(from: String, to: String): Unit = {
    val src = new java.io.File(from.stripPrefix("faultfs://"))
    if (src.exists()) org.apache.commons.io.FileUtils.copyDirectory(src, new java.io.File(to.stripPrefix("faultfs://")))
  }

  /** Runs `ops(root)` once uninterrupted, keeping the store before each
    * op. Then, for each op and each store-level step it takes: from a
    * copy of the store before the op, run it with a crash at that step,
    * re-run it on a fresh store, and compare the tables with the
    * uninterrupted run's after the op.
    */
  private def crashSweep(names: Seq[String], minPoints: Int)(ops: String => Seq[() => Unit]): Unit = {
    val ref = faultRoot("ref")
    val stages = ops(ref).zipWithIndex.map { case (op, i) =>
      val before = faultRoot(s"before$i")
      copy(ref, before)
      (before, crashPoints(FaultFs.record(op())), tables(ref, names))
    }
    assert(stages.map(_._2.size).sum >= minPoints, stages.map(_._2))
    stages.zipWithIndex.foreach { case ((before, points, want), i) =>
      points.foreach { case (k, step) =>
        val root = faultRoot(s"op${i}k$k")
        copy(before, root)
        val op = ops(root)(i)
        assert(FaultFs.armed(k, storeLevel)()(Try(op())).isFailure, s"nothing crashed at $step")
        op()
        val got = tables(root, names)
        val wrong = names.filter(t => got(t) != want(t)).map(t =>
          s"$t: missing ${want(t).diff(got(t)).take(3)}, extra ${got(t).diff(want(t)).take(3)}")
        assert(wrong.isEmpty, s"op $i, crash at $step: ${wrong.mkString("; ")}")
      }
    }
  }

  test("Main.run: a crash at any commit boundary, then a re-run, ends in the uninterrupted tables") {
    val dir = Files.createTempDirectory("graft-crash-main")
    val history = MainSpec.snapshot(dir, "history.json", MainSpec.history)
    val update = MainSpec.snapshot(dir, "update.json", MainSpec.update)
    crashSweep(Seq("raw_disruptions", "disruptions", "stations", "daily_stats"), minPoints = 12) {
      root => Seq(
        () => { Main.run(spark, history, root, MainSpec.clockOn(25)); () },
        () => { Main.run(spark, update, root, MainSpec.clockOn(26)); () })
    }
  }

  test("AggTable.accumulate: a crash at any commit boundary, then a re-run, ends in the same state") {
    import spark.implicits._
    val spec = AggSpec(Seq("k"), Seq("v"))
    val batches = Seq(
      "b1" -> Seq(("a", 1.0), ("b", 2.0)), "b2" -> Seq(("a", 3.0)), "b3" -> Seq(("c", 4.0), ("b", 1.5)))
    crashSweep(Seq("agg/state", "agg/ledger"), minPoints = 6) { root =>
      batches.map { case (id, rows) =>
        () => { new AggTable(new TableStore(spark, root), "agg", spec).accumulate(id, rows.toDF("k", "v")); () }
      }
    }
  }

  test("applyCdc: a crash at any commit boundary, then a re-run, ends in the same rows and tombstones") {
    import spark.implicits._
    val batches = Seq(
      Seq(("a", 1, 10L, "I"), ("b", 2, 10L, "I"), ("c", 3, 10L, "I")),
      Seq(("a", 5, 20L, "U"), ("b", 0, 20L, "D"), ("d", 4, 20L, "I")),
      Seq(("b", 2, 11L, "I"), ("c", 0, 30L, "D")))
    crashSweep(Seq("t", "t/_tombstones"), minPoints = 6) { root =>
      batches.map { b =>
        () => new TableStore(spark, root).applyCdc("t", b.toDF("k", "v", "ver", "op"), "k", "ver")
      }
    }
  }

  test("two TableStores: a commit that overlaps another writer's fails loudly") {
    import spark.implicits._
    val root = faultRoot("two-stores")
    val (a, b) = (new TableStore(spark, root), new TableStore(spark, root))
    a.write("t", Seq(("x", 1, 1L)).toDF("k", "v", "ver"))
    // b's upsert builds on version 1; just before b creates its
    // manifest, a commits version 2
    val manifest: FaultFs.Op => Boolean = op => op._1 == "create" && op._2.contains("/_manifest/")
    val err = intercept[ConcurrentModificationException] {
      FaultFs.armed(0, manifest)(a.upsert("t", Seq(("y", 2, 2L)).toDF("k", "v", "ver"), "k", "ver")) {
        b.upsert("t", Seq(("z", 3, 3L)).toDF("k", "v", "ver"), "k", "ver")
      }
    }
    assert(err.getMessage.contains(a.token) && err.getMessage.contains(b.token), err.getMessage)
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).toSet
    assert(keys(new TableStore(spark, root).read("t").get) == Set("x", "y"))
    // the loser's files are gone: the directory reads as a's table
    assert(keys(spark.read.parquet(a.path("t"))) == Set("x", "y"))
  }

  test("files of a second write job appearing during a commit fail it loudly") {
    import spark.implicits._
    val root = faultRoot("second-job")
    val store = new TableStore(spark, root)
    store.write("t", Seq(1, 2).toDF("k"))
    val foreign = new java.io.File(
      s"${root.stripPrefix("faultfs://")}/t/part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val err = intercept[ConcurrentModificationException] {
      FaultFs.armed(0, _._1 == "create")(foreign.createNewFile())(store.write("t", Seq(3).toDF("k")))
    }
    assert(err.getMessage.contains("another writer"), err.getMessage)
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("two DedupStores: the one whose mirrors went stale fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-two-dedup").toString
    val (s1, s2) = (new TableStore(spark, root), new TableStore(spark, root))
    val (d1, d2) = (new DedupStore(s1, "c", "text", 1000L), new DedupStore(s2, "c", "text", 1000L))
    d1.admit("b1", Seq((1L, "x"), (2L, "y")).toDF("id", "text"))
    d2.admit("b2", Seq((3L, "y"), (4L, "z")).toDF("id", "text"))
    // d1's ledger and bloom mirrors predate b2
    val err = intercept[ConcurrentModificationException](
      d1.admit("b3", Seq((5L, "z"), (6L, "w")).toDF("id", "text")))
    assert(err.getMessage.contains(s1.token) && err.getMessage.contains(s2.token), err.getMessage)
    val fresh = new TableStore(spark, root)
    assert(new DedupStore(fresh, "c", "text", 1000L).corpus.get
      .collect().map(_.getAs[String]("text")).toSet == Set("x", "y", "z"))
    assert(fresh.read("c/ledger").get.collect().map(_.getString(0)).toSet == Set("b1", "b2"))
  }
}
