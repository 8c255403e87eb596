package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: generate the sf1 rung for the scaling-slope ladder.
  *
  * The driver ships sf0.001/0.01/0.1 only (TESTDATA.md, read-only).
  * Two graph gates' read-slopes (q379 19.5×, q492 16.1× for 10× data
  * at the sf0.01→0.1 step) are argued to converge to linear because
  * the synthetic generator holds per-part order fan-in CONSTANT
  * (~30 orders/part at every rung, measured) — the distinct
  * co-purchase degree only densifies while the part space is small
  * enough for collisions (200 parts at sf0.001) and converges once
  * #parts ≫ degree. Proving that needs one more decade, so this tool
  * synthesizes the sf1 rung for the tables the ladder families read
  * (lineitem, orders, documents), matching the measured sf0.001→0.1
  * distribution invariants:
  *
  *  - row counts ×10 per rung: 1.5 M orders, 6 M lineitem, 50 k docs
  *  - l_orderkey uniform over orders (lines/order ≈ Poisson(4) —
  *    measured avg 4.07 at all three rungs)
  *  - l_partkey uniform over 10×#parts (orders/part stays ~30),
  *    l_suppkey uniform over 10×#suppliers
  *  - o_orderdate uniform 1995-01-01..2001-08-01 (measured bounds)
  *  - documents: the SAME 31-word vocabulary (read from the sf0.1
  *    table — the shingle space is fixed by construction, which the
  *    slope analysis must inherit honestly), ~66 tokens/doc, 5 langs,
  *    20 sources
  *
  * All columns derive from `hash(id, seed)` — deterministic,
  * distributed, no driver-side RNG. NOT oracle data: the ladder
  * compares a query's own byte slopes across rungs, so only the
  * distribution SHAPE matters, not value-level parity with the
  * driver's seed-42 stream.
  *
  * Usage: `sbt 'runMain graft.dev.GenSf1 [outDir] [mult] [skewPct] [skewShape]'`
  * (default /tmp/sf1, mult 1, skewPct 0, shape `min`). `mult` scales
  * every row count uniformly — `GenSf1 /tmp/sf3 3` writes the sf3 rung
  * (18 M lineitem) the co-purchase-family slope analysis reads
  * (SCALING.md).
  *
  * `skewPct` > 0 writes a SKEWED rung: that percent of lineitem rows
  * lands on hot part/customer keys — the adversarial key distribution
  * the uniform driver data never exercises, so the ladder can MEASURE
  * (not assume) that shuffles on l_partkey / o_custkey survive
  * dominant keys (SCALING.md §Round 9/10 skew tables). The remaining
  * mass stays uniform, so non-skewed invariants (lines/order, date
  * spans, vocab) carry.
  *
  * `skewShape` picks WHERE the hot mass sits — the round-9 q288 bug
  * was orientation-dependent (visible only because the hot key sat at
  * the id MINIMUM), so one shape cannot certify both branches:
  *  - `min`  — all hot mass on key 0 (round-9's shape);
  *  - `max`  — all hot mass on the id-MAXIMUM key, exercising the
  *    opposite comparison branch of every id-ordered construction;
  *  - `zipf` — five hot keys spread across the id space (0, n/4, n/2,
  *    3n/4, n-1) with 1/k zipfian weights summing to skewPct — the
  *    multi-hub case (`GenSf1 /tmp/sf1zipf 1 40 zipf` ≈ top-5 keys
  *    holding 40%).
  *
  * Optional 5th arg `docMult` decouples the documents table's scale
  * from the relational tables' (default: `mult`). The fixed-vocab
  * corpus densifies quadratically (pairs/shingle ∝ df² — measured
  * ×~100 per doc decade), so a ×10 relational rung pairs with a ×3
  * document corpus to keep the exact-pair family measurable in one
  * sitting; the density PROBE (pairs-per-posting,
  * `CorpusCuration.NearDupCandidates.probePairsPerPosting`) is then
  * the measured predictor for the undownscaled corpus.
  */
object GenSf1 {

  private def u(seed: Int, n: Long): org.apache.spark.sql.Column =
    pmod(hash(col("id"), lit(seed)).cast("long"), lit(n))

  /** Uniform double in [0, 1) from a per-row hash. */
  private def ud(seed: Int): org.apache.spark.sql.Column =
    (pmod(hash(col("id"), lit(seed)).cast("long"), lit(1000000L)) / 1e6)

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val mult = if (args.length > 1) args(1).toLong else 1L
    val skewPct = if (args.length > 2) args(2).toInt else 0
    val skewShape = if (args.length > 3) args(3) else "min"
    require(skewPct >= 0 && skewPct < 100, s"skewPct must be in [0,100): $skewPct")
    require(Set("min", "max", "zipf")(skewShape), s"unknown skewShape: $skewShape")
    // hot-key injector: route `pct`% of rows to the shape's hot keys
    // within an n-sized key space, rest uniform
    def skewed(c: org.apache.spark.sql.Column, seed: Int, n: Long): org.apache.spark.sql.Column =
      if (skewPct == 0) c
      else skewShape match {
        case "min" => when(u(seed, 100) < skewPct, lit(0L)).otherwise(c)
        case "max" => when(u(seed, 100) < skewPct, lit(n - 1)).otherwise(c)
        case "zipf" =>
          // five hot keys spread over the id space, 1/k weights
          // (H5 = 137/60): cumulative thresholds in basis points so
          // the routing stays integer-exact and deterministic
          val hot = Seq(0L, n / 4, n / 2, 3 * n / 4, n - 1)
          val w = (1 to 5).map(1.0 / _)
          val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum) // → 1.0
          val bp = cum.map(f => math.round(f * skewPct * 100)) // basis points of 100%
          val r = u(seed, 10000)
          hot.zip(bp).reverse.foldLeft(c) { case (acc, (k, t)) =>
            when(r < t, lit(k)).otherwise(acc)
          }
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nOrders = 1500000L * mult
    val nParts = 200000L * mult
    val nSupps = 10000L * mult
    val nCusts = 150000L * mult
    val nLines = 6000000L * mult
    val docMult = if (args.length > 4) args(4).toLong else mult
    val nDocs = 50000L * docMult

    val orders: DataFrame = spark.range(0, nOrders, 1, 32).select(
      col("id").as("o_orderkey"),
      skewed(u(1, nCusts), 90, nCusts).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (u(2, 3) + 1).cast("int"))
        .as("o_orderstatus"),
      round(ud(3) * 400000 + 1000, 2).as("o_totalprice"),
      // uniform over the measured [1995-01-01, 2001-08-01] span
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        u(4, 2404L).cast("int"))).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")), (u(5, 5) + 1).cast("int"))
        .as("o_orderpriority"))
    orders.write.mode("overwrite").parquet(s"$out/orders.parquet")

    val lineitem: DataFrame = spark.range(0, nLines, 1, 32).select(
      u(10, nOrders).as("l_orderkey"),
      skewed(u(11, nParts), 91, nParts).as("l_partkey"),
      u(12, nSupps).as("l_suppkey"),
      (u(13, 7) + 1).cast("int").as("l_linenumber"),
      (u(14, 50) + 1).cast("double").as("l_quantity"),
      round(ud(15) * 100000 + 900, 2).as("l_extendedprice"),
      round(u(16, 11).cast("double") / 100.0, 2).as("l_discount"),
      round(u(17, 9).cast("double") / 100.0, 2).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(18, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(19, 2) + 1).cast("int"))
        .as("l_linestatus"),
      to_timestamp(date_add(lit("1995-01-02").cast("date"),
        u(20, 2499L).cast("int"))).as("l_shipdate"))
    lineitem.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // part dimension (q493 modularity reads it for brand communities):
    // 25 brands / 6 types / sizes 1-50 / price 900-999.9, like sf0.1
    val adjectives = array(lit("large"), lit("hot"), lit("blue"),
      lit("small"), lit("dim"), lit("bright"), lit("old"), lit("new"))
    val nouns = array(lit("ring"), lit("bolt"), lit("cap"), lit("tube"),
      lit("gear"), lit("pin"))
    val types = array(lit("LARGE"), lit("ECONOMY"), lit("SMALL"),
      lit("STANDARD"), lit("MEDIUM"), lit("PROMO"))
    val part: DataFrame = spark.range(0, nParts, 1, 32).select(
      col("id").as("p_partkey"),
      concat(element_at(adjectives, (u(40, 8) + 1).cast("int")), lit(" "),
        element_at(nouns, (u(41, 6) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (u(42, 25) + 1)).as("p_brand"),
      element_at(types, (u(43, 6) + 1).cast("int")).as("p_type"),
      (u(44, 50) + 1).cast("int").as("p_size"),
      round(ud(45) * 99.9 + 900, 2).as("p_retailprice"))
    part.write.mode("overwrite").parquet(s"$out/part.parquet")

    // customer/supplier dimensions (the TPC-H join gates read them;
    // added for the skew rung, where the hot o_custkey needs a real
    // dimension row to join) — distribution shapes match sf0.1
    val segments = array(lit("AUTOMOBILE"), lit("BUILDING"),
      lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY"))
    val customer: DataFrame = spark.range(0, nCusts, 1, 32).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      u(60, 25).cast("int").as("c_nationkey"),
      round(ud(61) * 10999.99 - 999.99, 2).as("c_acctbal"),
      element_at(segments, (u(62, 5) + 1).cast("int")).as("c_mktsegment"))
    customer.write.mode("overwrite").parquet(s"$out/customer.parquet")
    val supplier: DataFrame = spark.range(0, nSupps, 1, 32).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      u(70, 25).cast("int").as("s_nationkey"),
      round(ud(71) * 10999.99 - 999.99, 2).as("s_acctbal"))
    supplier.write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // nation/region are scale-invariant — copy the driver's
    for (dim <- Seq("nation", "region"))
      graft.Tables.load(spark, "/root/testdata/sf0.1", dim)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$dim.parquet")

    // vocabulary lifted from the real sf0.1 corpus so the shingle
    // space (and thus q22/q489's posting structure) is the same
    // fixed 31-word universe the smaller rungs shingle over
    // bounded-collect: O(31) distinct vocabulary tokens
    val vocab = graft.Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .distinct().orderBy("tok").collect().map(_.getString(0))
    val vocabCol = array(vocab.map(lit(_)).toIndexedSeq: _*)
    val langs = array(lit("en"), lit("nl"), lit("de"), lit("fr"), lit("es"))
    val documents: DataFrame = spark.range(0, nDocs, 1, 32).select(
      col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(1), (u(30, 111L) + 10).cast("int")),
        i => element_at(vocabCol,
          (pmod(hash(col("id"), i, lit(31)).cast("long"), lit(vocab.length)) + 1)
            .cast("int"))), " ").as("text"),
      element_at(langs, (u(32, 5) + 1).cast("int")).as("lang"),
      concat(lit("source_"), u(33, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    documents.write.mode("overwrite").parquet(s"$out/documents.parquet")

    println(s"rung written to $out: orders=$nOrders lineitem=$nLines " +
      s"docs=$nDocs skewPct=$skewPct")
    spark.stop()
  }
}
