package graft.store

import java.io.FileNotFoundException
import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

class TableStoreSpec extends SparkSpec {

  private def newStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-store").toString)

  /** Spark jobs started while `f` runs. Events reach a listener in the
    * order they were posted, so once a sentinel job submitted after `f`
    * has been seen, every job `f` started has been seen too.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tablestore-probe", "probe")
      try f finally sc.setJobGroup("tablestore-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 20000
      while (!groups.contains("tablestore-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains("tablestore-sentinel"), "sentinel job never seen")
      groups.toArray.count(_ == "tablestore-probe")
    } finally sc.removeSparkListener(listener)
  }

  test("appendIfAbsent inserts only novel keys and is idempotent") {
    import spark.implicits._
    val store = newStore()
    val batch1 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    assert(store.appendIfAbsent("t", batch1, "k") == 2)
    // Re-running the same batch inserts nothing (the reference's
    // "safe to re-run" contract).
    assert(store.appendIfAbsent("t", batch1, "k") == 0)
    val batch2 = Seq(("b", 99), ("c", 3)).toDF("k", "v")
    assert(store.appendIfAbsent("t", batch2, "k") == 1)
    val rows = store.read("t").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("a" -> 1, "b" -> 2, "c" -> 3)) // b kept original
  }

  test("upsert replaces matched keys, keeps unmatched, latest version wins") {
    import spark.implicits._
    val store = newStore()
    store.upsert("u", Seq(("a", 1, 10L), ("b", 2, 10L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    store.upsert("u", Seq(("b", 20, 11L), ("c", 3, 11L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    val rows = store.read("u").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("a" -> 1, "b" -> 20, "c" -> 3))
    // Idempotent: re-applying the second batch changes nothing.
    store.upsert("u", Seq(("b", 20, 11L), ("c", 3, 11L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    val again = store.read("u").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(again == Map("a" -> 1, "b" -> 20, "c" -> 3))
  }

  test("replaceWhere rewrites only matching rows, including removals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val store = newStore()
    store.write("rw", Seq(("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)).toDF("day", "k", "v"))
    // refresh day d1: row a changed, row b disappeared, row x is new
    store.replaceWhere("rw",
      Seq(("d1", "a", 10), ("d1", "x", 5)).toDF("day", "k", "v"),
      col("day") === "d1")
    val rows = store.read("rw").get.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    // b is GONE (an upsert could not express that); d2 untouched
    assert(rows == Map(("d1", "a") -> 10, ("d1", "x") -> 5, ("d2", "c") -> 3))
  }

  test("compact collapses many small append files, preserving rows") {
    import spark.implicits._
    val store = newStore()
    // 12 tiny appends → ≥12 small files
    (1 to 12).foreach { i =>
      store.appendIfAbsent("c", Seq((s"k$i", i)).toDF("k", "v"), "k")
    }
    assert(store.fileCount("c") >= 12)
    val before = store.read("c").get.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    store.compact("c")
    assert(store.fileCount("c") == 1) // tiny table → single target file
    val after = store.read("c").get.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(after == before)
  }

  test("upsert with stale incoming version keeps the stored row") {
    import spark.implicits._
    val store = newStore()
    store.upsert("w", Seq(("a", 5, 20L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    store.upsert("w", Seq(("a", 1, 10L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    assert(store.read("w").get.collect()(0).getInt(1) == 5)
  }

  test("scd2Upsert versions changes, keeps history, and re-runs are no-ops") {
    import spark.implicits._
    val store = newStore()
    // initial load: two keys
    store.scd2Upsert("s", Seq(("a", 1, 10L), ("b", 2, 10L)).toDF("k", "v", "ts"),
      "k", "ts")
    // a changes, b unchanged, c is new
    val batch2 = Seq(("a", 5, 20L), ("b", 2, 20L), ("c", 3, 20L)).toDF("k", "v", "ts")
    store.scd2Upsert("s", batch2, "k", "ts")

    def snap() = store.read("s").get.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Int]("v"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet

    val expected = Set(
      ("a", 1, 10L, Some(20L), false),  // closed at the change
      ("a", 5, 20L, None, true),
      ("b", 2, 10L, None, true),        // unchanged: still the open v1
      ("c", 3, 20L, None, true))
    assert(snap() == expected)

    // idempotent: replaying the same batch adds no versions
    store.scd2Upsert("s", batch2, "k", "ts")
    assert(snap() == expected)

    // current view = one open row per key
    val cur = store.read("s").get.filter($"is_current")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(cur == Map("a" -> 5, "b" -> 2, "c" -> 3))
  }

  test("uncommitted debris is invisible; the next commit claims past it and sweeps it") {
    import spark.implicits._
    val root = Files.createTempDirectory("store_debris").toString
    val store = new TableStore(spark, root)
    store.write("t", Seq((1, "a")).toDF("k", "v"))
    store.write("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // a crashed write = data files no manifest lists, and a manifest
    // cut short → readers ignore both
    new java.io.File(s"$root/t/part-junk.parquet").createNewFile()
    Files.writeString(java.nio.file.Paths.get(s"$root/t/_manifest/3.json"), "{\"wri")
    assert(store.read("t").get.count() == 2)
    assert(new TableStore(spark, root).read("t").get.count() == 2)
    // the next commit claims a number past the debris and is the latest
    store.write("t", Seq((9, "z")).toDF("k", "v"))
    assert(new java.io.File(s"$root/t/_manifest").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("4.json"))
    // only the current version's files are left
    assert(spark.read.parquet(store.path("t")).collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(!new java.io.File(s"$root/t/part-junk.parquet").exists())
  }

  test("scd2Upsert discards late-arriving stale rows (history stays monotone)") {
    import spark.implicits._
    val store = newStore()
    store.scd2Upsert("late", Seq(("a", 1, 10L)).toDF("k", "v", "ts"), "k", "ts")
    store.scd2Upsert("late", Seq(("a", 5, 20L)).toDF("k", "v", "ts"), "k", "ts")
    // a late batch with OLDER ts and different attrs must not close the
    // newer version at ts=15 (valid_to < valid_from) nor become current
    store.scd2Upsert("late", Seq(("a", 9, 15L)).toDF("k", "v", "ts"), "k", "ts")
    val rows = store.read("late").get.collect().map(r =>
      (r.getAs[Int]("v"), r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current"))).toSet
    assert(rows == Set((1, 10L, Some(20L), false), (5, 20L, None, true)))
    // every closed version is monotone and exactly one row is open
    assert(rows.forall { case (_, from, to, _) => to.forall(_ > from) })
  }

  test("applyCdc merges insert/update/delete, survives replay and out-of-order") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("store_cdc").toString
    val store = new TableStore(spark, root)

    def snap() = store.read("t").get.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"), r.getAs[Long]("ver"))).toSet

    // batch 1: pure inserts
    store.applyCdc("t",
      Seq(("a", 1, 10L, "I"), ("b", 2, 10L, "I"), ("c", 3, 10L, "I"))
        .toDF("k", "v", "ver", "op"), "k", "ver")
    assert(snap() == Set(("a", 1, 10L), ("b", 2, 10L), ("c", 3, 10L)))

    // batch 2: update a, delete b, insert d — plus an in-batch
    // superseded change for a that must lose to the newer one
    val batch2 = Seq(
      ("a", 9, 15L, "U"), ("a", 5, 20L, "U"),
      ("b", 0, 20L, "D"), ("d", 4, 20L, "I"))
      .toDF("k", "v", "ver", "op")
    store.applyCdc("t", batch2, "k", "ver")
    val expected = Set(("a", 5, 20L), ("c", 3, 10L), ("d", 4, 20L))
    assert(snap() == expected)

    // replay of batch 2 is a no-op (idempotent recovery)
    store.applyCdc("t", batch2, "k", "ver")
    assert(snap() == expected)

    // out-of-order: stale changes (older version) cannot clobber
    // newer state, and the tombstone stops a stale insert from
    // resurrecting the deleted key
    store.applyCdc("t",
      Seq(("a", 7, 12L, "U"), ("b", 2, 11L, "I")).toDF("k", "v", "ver", "op"),
      "k", "ver")
    assert(snap() == expected)

    // a genuinely NEWER insert re-creates the key past its tombstone
    store.applyCdc("t", Seq(("b", 8, 30L, "I")).toDF("k", "v", "ver", "op"),
      "k", "ver")
    assert(snap() == expected + (("b", 8, 30L)))
  }

  test("a fresh TableStore on an existing root reads without footer inference") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-schema").toString
    val writer = new TableStore(spark, root)
    writer.write("w", Seq((1L, "a")).toDF("k", "v"))
    writer.upsert("u", Seq((1L, "a", 10L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    writer.upsert("u", Seq((2L, "b", 11L)).toDF("k", "v", "ver"), Seq("k"), "ver") // second version
    writer.appendIfAbsent("a", Seq((1L, "a")).toDF("k", "v"), "k")
    val agg = new AggTable(writer, "agg", AggSpec(Seq("k"), Seq("x")))
    agg.accumulate("b1", Seq(("a", 1.0)).toDF("k", "x"))
    agg.accumulate("b2", Seq(("a", 2.0)).toDF("k", "x")) // multi-part commit

    val reader = new TableStore(spark, root)
    val tables = Seq("w", "u", "a", "agg/state", "agg/ledger")
    assert(jobsDuring(tables.foreach(t => reader.read(t).get)) == 0)
    // the manifest's schema is exactly what inference returns
    tables.foreach { t =>
      assert(reader.read(t).get.schema == spark.read.parquet(reader.path(t)).schema, t)
    }
    // the probe is not vacuous: bare inference does start a job
    assert(jobsDuring(spark.read.parquet(reader.path("u"))) >= 1)
  }

  test("the manifest is invisible to readers, views and fileCount") {
    import spark.implicits._
    val store = newStore()
    store.write("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2))
    store.write("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(2))
    val dir = new java.io.File(store.path("t"))
    assert(new java.io.File(dir, "_manifest").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("2.json"))
    // at rest the directory holds only the current version's files
    val parquet = spark.read.parquet(store.path("t"))
    assert(parquet.columns.toSeq == Seq("k", "v") && parquet.count() == 3)
    assert(store.fileCount("t") == dir.listFiles().count(_.getName.startsWith("part-")))
    parquet.createOrReplaceTempView("t")
    assert(spark.sql("SELECT count(*) FROM t").head().getLong(0) == 3L)
  }

  test("a table written without the schema side file still reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-legacy").toString
    val store = new TableStore(spark, root)
    Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver")
      .write.parquet(store.path("legacy"))
    val df = store.read("legacy").get
    assert(df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"))
    // an append keeps the legacy files as part of the new version
    assert(store.appendIfAbsent("legacy", Seq((3L, "c", 11L)).toDF("k", "v", "ver"), "k") == 1)
    assert(new java.io.File(store.path("legacy"), "_manifest/2.json").isFile)
    assert(new TableStore(spark, root).read("legacy").get.count() == 3)
    store.upsert("legacy", Seq((4L, "d", 11L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    assert(store.read("legacy").get.count() == 4)
  }

  test("a fresh store reads a 41-file table without listing or starting a job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-files").toString
    val writer = new TableStore(spark, root)
    writer.write("t", spark.sparkContext.parallelize((1 to 41).map(i => (i.toLong, s"v$i")), 41)
      .toDF("k", "v"))
    assert(writer.fileCount("t") == 41)
    val reader = new TableStore(spark, root)
    assert(jobsDuring(reader.read("t").get) == 0)
    assert(reader.read("t").get.count() == 41)
    // the probe is not vacuous: 41 paths past the parallel-listing
    // threshold start a listing job even with the schema given
    val files = new java.io.File(reader.path("t")).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath)
    assert(jobsDuring(spark.read.schema(reader.read("t").get.schema).parquet(files.toSeq: _*)) >= 1)
  }

  test("upsert returns the changed rows and rewrites nothing when none change") {
    import spark.implicits._
    val store = newStore()
    val batch = Seq(("a", 1, 10L), ("b", 2, 10L)).toDF("k", "v", "ver")
    assert(store.upsert("r", batch, Seq("k"), "ver") == 2)
    def parts() = new java.io.File(store.path("r")).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified()).toSet
    val before = parts()
    // a replay, a stale row and an empty batch change nothing
    assert(store.upsert("r", batch, Seq("k"), "ver") == 0)
    assert(store.upsert("r", Seq(("a", 9, 9L)).toDF("k", "v", "ver"), Seq("k"), "ver") == 0)
    assert(store.upsert("r", batch.limit(0), Seq("k"), "ver") == 0)
    assert(parts() == before)
    // a tie on version with new content, and a new key, do change it
    assert(store.upsert("r", Seq(("a", 5, 10L), ("c", 3, 1L)).toDF("k", "v", "ver"),
      Seq("k"), "ver") == 2)
    assert(store.read("r").get.collect().map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("a" -> 5, "b" -> 2, "c" -> 3))
  }

  test("a rival commit under before's readers fails the upsert as lost, not as a missing file") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-rival").toString
    val (store, rival) = (new TableStore(spark, root), new TableStore(spark, root))
    store.upsert("t", Seq(("a", 1, 1L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    // while the upsert's staged files are being read, the rival rewrites
    // the table as it stands: its sweep deletes every file its manifest
    // does not list, the staged ones included
    val err = intercept[ConcurrentModificationException] {
      store.upsert("t", Seq(("b", 2, 2L)).toDF("k", "v", "ver"), Seq("k"), "ver",
        before = staged => { rival.write("t", rival.read("t").get); staged.count(); () })
    }
    assert(err.getMessage.contains(s"writer ${store.token} lost: writer ${rival.token}"), err.getMessage)
    // the reader's failure rides along, suppressed
    def causes(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(err.getSuppressed.toSeq.flatMap(causes).exists(_.isInstanceOf[FileNotFoundException]),
      err.getSuppressed.toSeq)
    assert(new TableStore(spark, root).read("t").get.collect().map(_.getString(0)).toSeq == Seq("a"))
  }
}
