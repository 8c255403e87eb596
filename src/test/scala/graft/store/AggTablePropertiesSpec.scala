package graft.store

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based check of incremental aggregate maintenance: for
  * random event logs, ANY batch split — including duplicate batch-id
  * replays injected mid-sequence — must end bit-identical to the
  * one-shot aggregate of the full log (counts, exact DECIMAL sums,
  * min/max, and the derived doubles from finish()). This is the
  * claim behind q94: the maintained view never depends on how the
  * data was batched. Fixed seeds reproduce failures.
  */
class AggTablePropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // few groups; values with two decimals incl. negatives
  private val genRow: Gen[(String, java.math.BigDecimal)] = for {
    g <- Gen.oneOf("a", "b", "c")
    cents <- Gen.chooseNum(-50000, 99999)
  } yield (g, java.math.BigDecimal.valueOf(cents.toLong, 2))

  test("any batch split + replays equals the one-shot aggregate bit for bit") {
    val spec = AggSpec(Seq("g"), Seq("x"))
    samples(Gen.listOfN(40, genRow), 3, seed = 30900L).zipWithIndex
      .foreach { case (rows, i) =>
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_aggprop$i").toString
        val agg = new AggTable(new TableStore(spark, root), "view", spec)
        val cuts = (Seq(6 + i, 15, 23 + i, 31) :+ rows.size).distinct.sorted
        val batches = cuts.foldLeft((Seq.empty[Seq[(String, java.math.BigDecimal)]], 0)) {
            case ((acc, from), to) => (acc :+ rows.slice(from, to), to)
          }._1.filter(_.nonEmpty)
        batches.zipWithIndex.foreach { case (b, j) =>
          assert(agg.accumulate(s"b$j", b.toDF("g", "x")))
          // replay an earlier batch id with DIFFERENT data: the
          // ledger must skip it (exactly-once on batch ids)
          if (j == 1)
            assert(!agg.accumulate("b0", rows.take(3).toDF("g", "x")))
        }
        def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.orderBy("g").collect().map(_.toString).toSeq
        val got = rendered(agg.state.map(spec.finish).get)
        val oneShot = rendered(
          spec.finish(spec.partial(rows.toDF("g", "x"))))
        assert(got == oneShot, s"sample $i diverged: batches=$batches")
      }
  }
}
