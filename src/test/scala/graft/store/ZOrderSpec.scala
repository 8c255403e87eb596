package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {

  test("interleave weaves bits lowest-significance-first") {
    import spark.implicits._
    // a=101b, b=011b → z bits (pos = i*2 + j): a0@0,b0@1,a1@2,b1@3,a2@4,b2@5
    //  = 1 + 2 + 0 + 8 + 16 + 0 = 27
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.interleave(Seq(col("a"), col("b")), 3).as("z"))
      .head().getLong(0)
    assert(z == 27L)
  }
}
