package graft.pipelines

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusCurationSpec extends SparkSpec {

  private lazy val docs =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("audit flags are consistent and kept matches the stage conjunction") {
    val a = CorpusCuration.audit(docs).collect()
    assert(a.length == docs.count())
    a.foreach { r =>
      val (qk, ex, nd, kept) =
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))
      assert(kept == (qk && !ex && !nd))
      if (!qk) assert(!ex && !nd) // flags only set for reached stages
      if (ex) assert(!nd)         // near-dup only evaluated on exact survivors
    }
  }

  test("kept corpus has unique normalized texts and no near-dup pair survives") {
    import spark.implicits._
    val kept = CorpusCuration.curate(docs)
    assert(kept.count() == kept.select("text").distinct().count())
    // no surviving pair at or above the Jaccard threshold: re-derive
    // pairs over the kept corpus with the independent q22-style join
    val sh = kept.select(col("doc_id"),
      explode(array_distinct(
        graft.functions.WordShingles(col("text"), 3))).as("s"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val offending = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("common").cast("double") /
        (col("na") + col("nb") - col("common")) >= 0.5)
    assert(offending.count() == 0)
  }

  test("streamed curation + admission yields a clean, unique corpus end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("cur_admit").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cur_ckpt").toString
    val store = new graft.store.DedupStore(
      new graft.store.TableStore(spark, root), "clean_corpus", "text", 10000)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // per micro-batch: quality-curate, then admit survivors exactly-once
    val query = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        store.admit(s"b$id", CorpusCuration.curate(batch))
        ()
      }.start()

    val clean1 = "a quick brown fox jumps over one lazy dog near this river bank"
    val clean2 = "many small tables join into wide plans when keys align across stages"
    input.addData((1L, clean1), (2L, ("spam " * 40).trim))
    query.processAllAvailable()
    input.addData((3L, clean1.toUpperCase), (4L, clean2)) // dup after normalize
    query.processAllAvailable()
    query.stop()

    val kept = store.corpus.get.collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L)) // spam quality-dropped, case-dup admitted once
  }

  test("curation drops planted garbage and keeps clean docs") {
    import spark.implicits._
    val planted = Seq(
      (9001L, ("spam " * 50).trim),                      // one-word repetition
      (9002L, "too short"),
      (9003L, "a quick brown fox jumps over one lazy dog near this river bank today"),
      (9004L, "a quick brown fox jumps over one lazy dog near this river bank today"),
      (9005L, "A  Quick Brown fox jumps over one lazy dog near this river bank today"))
      .toDF("doc_id", "text")
    val a = CorpusCuration.audit(planted).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3), r.getBoolean(5))).toMap
    assert(a(9001L) == ((false, false, false))) // quality-dropped
    assert(a(9002L) == ((false, false, false)))
    assert(a(9003L) == ((true, false, true)))   // first copy survives
    assert(a(9004L)._2 && !a(9004L)._3)         // exact dup dropped
    assert(a(9005L)._2 && !a(9005L)._3)         // normalization-equal → exact dup
  }
}
