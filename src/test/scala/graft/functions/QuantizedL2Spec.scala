package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

class QuantizedL2Spec extends SparkSpec {

  /** The posexplode → join-on-dim → grouped-sum form q473 used
    * before the codegen expression — the parity reference.
    */
  private def explodeForm = {
    def q(c: org.apache.spark.sql.Column) =
      floor(c.cast("double") * lit(QuantizedL2.Q)).cast(LongType)
    aggregate(
      zip_with(col("a"), col("b"), (x, y) => {
        val d = q(x) - q(y)
        d * d
      }),
      lit(0L), (acc, v) => acc + v)
  }

  private def vectors = {
    import spark.implicits._
    Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(0.3f, -0.7f, 0.11f), Seq(-0.25f, 0.44f, 0.9f)),
      (Seq(-1e-8f, 2e-8f, 1e-8f), Seq(5f, -3f, 2f)))
      .toDF("a", "b")
  }

  test("bit-identical to the floor-lattice HOF form") {
    vectors.select(
        QuantizedL2(col("a"), col("b")).as("native"),
        explodeForm.as("hof"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("bit-identical on real embeddings (codegen path, 64 dims)") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(e.limit(5).select(col("embedding").as("b")))
    val out = pairs.select(
      QuantizedL2(col("a"), col("b")).as("native"),
      explodeForm.as("hof")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("seeded fuzz: random finite vectors bit-match the HOF form") {
    import spark.implicits._
    // magnitudes from 1e-8 to 1e2 (the HOF reference's d·d is ANSI
    // long arithmetic, so the comparison domain stops where Σd² fits
    // in a long — ~|f| ≤ 1e2 over 64 dims; beyond that the native
    // wrap semantics are pinned in the NaN/Inf test below), negative
    // halves, empty and 1-element vectors
    val rnd = new scala.util.Random(4730)
    def vec(n: Int): Seq[Float] = Seq.fill(n) {
      val m = math.pow(10.0, rnd.nextInt(11) - 8)
      ((rnd.nextDouble() - 0.5) * m).toFloat
    }
    val data = (1 to 60).map { _ =>
      val n = rnd.nextInt(65)
      (vec(n), vec(n))
    } ++ Seq((Seq.empty[Float], Seq.empty[Float]), (vec(1), vec(1)))
    val out = data.toDF("a", "b").select(
      QuantizedL2(col("a"), col("b")).as("native"),
      explodeForm.as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"fuzz diverged: ${r.getLong(0)} != ${r.getLong(1)}"))
  }

  test("NaN and Inf dimensions follow Java float→long cast semantics") {
    import spark.implicits._
    // The HOF reference can't arbitrate here (ANSI cast of NaN/Inf
    // throws), so the native contract is pinned directly: per
    // dimension qa = (long)⌊a·Q⌋, so NaN → 0, +Inf → Long.MaxValue,
    // -Inf → Long.MinValue, and d·d wraps in Long arithmetic.
    def q(f: Float): Long = math.floor(f.toDouble * QuantizedL2.Q).toLong
    def expected(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) => val d = q(x) - q(y); d * d }.sum
    val cases = Seq(
      (Seq(Float.NaN, 1f), Seq(Float.NaN, 1f)),                 // NaN≡NaN → 0
      (Seq(Float.NaN), Seq(2.5f)),                              // NaN vs finite
      (Seq(Float.PositiveInfinity), Seq(0f)),                   // +Inf wraps
      (Seq(Float.NegativeInfinity), Seq(Float.PositiveInfinity)),
      (Seq(1e30f, -1e30f), Seq(-1e30f, 1e30f)))                 // huge finite
    val out = cases.toDF("a", "b")
      .select(QuantizedL2(col("a"), col("b"))).collect()
    cases.zip(out).foreach { case ((a, b), r) =>
      assert(r.getLong(0) == expected(a, b), s"($a, $b)")
    }
    // NaN-vs-NaN is distance 0 on that dimension by the floor-lattice
    // rule — callers that need NaN poisoning filter upstream
    assert(out(0).getLong(0) == 0L)
  }

  test("identical vectors → 0; null input → null; negative floors") {
    import spark.implicits._
    val z = Seq((Seq(0.5f, -0.25f), Seq(0.5f, -0.25f))).toDF("a", "b")
      .select(QuantizedL2(col("a"), col("b"))).collect()(0).getLong(0)
    assert(z == 0L)
    // ⌊−0.3·Q⌋ = −314573 (floor, not truncation): d = ⌊0.3Q⌋ − ⌊−0.3Q⌋
    val m = Seq((Seq(0.3f), Seq(-0.3f))).toDF("a", "b")
      .select(QuantizedL2(col("a"), col("b"))).collect()(0).getLong(0)
    val qa = math.floor(0.3f.toDouble * QuantizedL2.Q).toLong
    val qb = math.floor(-0.3f.toDouble * QuantizedL2.Q).toLong
    assert(m == (qa - qb) * (qa - qb))
    val n = Seq((Some(Seq(1f)), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(QuantizedL2(col("a"), col("b"))).collect()(0)
    assert(n.isNullAt(0))
  }
}
