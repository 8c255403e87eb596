package graft.similarity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkSpec

class IvfIndexSpec extends SparkSpec {

  private lazy val emb =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .repartition(4)

  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def bruteTop5: Map[Long, Set[Long]] = {
    val cos = graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    emb.crossJoin(queries)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cos)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "vec_id")
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
  }

  test("IVF search recalls most brute-force neighbours at nprobe=4/16") {
    val cents = IvfIndex.trainCentroids(emb, "vec_id", "embedding", k = 16, iters = 4)
    assert(cents.count() == 16)
    val index = IvfIndex.assign(emb, cents, "vec_id", "embedding")
    val got = IvfIndex
      .search(index, cents, queries, "vec_id", "embedding", nprobe = 4, topK = 5)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
    val exact = bruteTop5
    assert(got.keySet == exact.keySet)
    val recall = got.map { case (q, ns) => (ns & exact(q)).size.toDouble / 5 }
      .sum / got.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("training and search are deterministic across runs") {
    val c1 = IvfIndex.trainCentroids(emb, "vec_id", "embedding", 8, 3)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val c2 = IvfIndex.trainCentroids(emb, "vec_id", "embedding", 8, 3)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c1 == c2)
  }
}
