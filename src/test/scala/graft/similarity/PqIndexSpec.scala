package graft.similarity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkSpec

class PqIndexSpec extends SparkSpec {

  private lazy val emb =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .repartition(4)

  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def bruteTop(k: Int): Map[Long, Set[Long]] = {
    val cos = graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    emb.crossJoin(queries)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cos)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "vec_id")
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
  }

  test("codes are well-formed and 8x fewer values than the vectors") {
    val book = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 3)
    assert(book.size == 8 && book.forall(_.size == 16) &&
      book.forall(_.forall(_.size == 8)))
    val codes = PqIndex.encode(emb, "vec_id", "embedding", book)
    val stats = codes.select(
      min(array_min(col("codes"))), max(array_max(col("codes"))),
      min(size(col("codes"))), max(size(col("codes"))),
      min(col("recon_norm"))).head()
    assert(stats.getInt(0) >= 0 && stats.getInt(1) <= 15)
    assert(stats.getInt(2) == 8 && stats.getInt(3) == 8) // 64 floats → 8 codes
    assert(stats.getDouble(4) > 0.0)
  }

  test("ADC candidates + exact refine recall brute-force cosine neighbours") {
    val book = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 3)
    val codes = PqIndex.encode(emb, "vec_id", "embedding", book)
    val exact = bruteTop(10)

    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
      assert(got.keySet == exact.keySet)
      got.map { case (q, ns) => (ns & exact(q)).size.toDouble / 10 }.sum / got.size
    }

    // pure ADC ranking eats the quantization error — it's a candidate
    // generator, not the final ranking
    val adc = recallOf(PqIndex.search(codes, queries, book, "vec_id", topK = 10))
    assert(adc >= 0.2, s"ADC recall@10 = $adc")
    // the production shape: 100 ADC candidates, exact re-rank to 10
    val refined = recallOf(PqIndex.searchRefined(codes, emb, queries, book,
      "vec_id", "embedding", topK = 10, refine = 100))
    assert(refined >= 0.8, s"refined recall@10 = $refined")
    assert(refined > adc)
  }

  test("training is deterministic across runs") {
    val b1 = PqIndex.train(emb, "vec_id", "embedding", 4, 8, 2)
    val b2 = PqIndex.train(emb, "vec_id", "embedding", 4, 8, 2)
    assert(b1 == b2)
  }
}
