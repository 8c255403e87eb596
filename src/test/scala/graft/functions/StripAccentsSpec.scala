package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StripAccentsSpec extends SparkSpec {

  test("strips combining marks, keeps base letters and non-Latin text") {
    import spark.implicits._
    val cases = Seq(
      "séance Çafé"  -> "seance Cafe",
      "naïve façade" -> "naive facade",
      "ÁÉÖÜ àèìòù"   -> "AEOU aeiou",
      "plain ascii"  -> "plain ascii",   // fast path: returned as-is
      ""             -> "",
      "ñ Ñ ž Š đ"    -> "n N z S đ")     // đ has no combining mark — kept
    val got = cases.map(_._1).toDF("s")
      .select(StripAccents(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("null-safe and codegen-fused") {
    import spark.implicits._
    val df = Seq(Some("café"), None).toDF("s")
    val got = df.select(StripAccents(col("s"))).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == Seq("cafe", null))
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val plan = d.select(StripAccents(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // fused into WholeStageCodegen
  }

  test("idempotent, mark-free, and ASCII-fixpoint on random unicode") {
    import spark.implicits._
    val gen = org.scalacheck.Gen.listOfN(12,
      org.scalacheck.Gen.frequency(
        6 -> org.scalacheck.Gen.alphaNumChar,
        2 -> org.scalacheck.Gen.oneOf("áéíóúàèüöñçÁÉÖÜŠžđ№ "),
        1 -> org.scalacheck.Gen.oneOf('̀' to 'ͯ'), // bare marks
        1 -> org.scalacheck.Gen.oneOf("日本語한글")))
      .map(_.mkString)
    val samples = org.scalacheck.Gen.listOfN(200, gen)
      .apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(42L)).get
    val rows = samples.toDF("s").select(col("s"),
        StripAccents(col("s")).as("once"),
        StripAccents(StripAccents(col("s"))).as("twice"))
      .collect()
    rows.foreach { r =>
      val (s, once, twice) = (r.getString(0), r.getString(1), r.getString(2))
      assert(once == twice, s"not idempotent on '$s'")
      assert(!once.exists(ch =>
        Character.getType(ch) == Character.NON_SPACING_MARK))
      if (s.forall(_ < 128)) assert(once == s)
    }
  }

  test("matches DuckDB strip_accents semantics on NFC input (q98 contract)") {
    import spark.implicits._
    // composed NFC chars decompose then lose only the marks — byte-for-
    // byte what utf8proc's strip_accents yields on the same input
    val got = Seq("Ĉrème brûlée №5").toDF("s")
      .select(StripAccents(col("s"))).head().getString(0)
    assert(got == "Creme brulee №5")
  }
}
