package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{Attribute, GreaterThan, Literal}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.TimestampType

import graft.{Main, MainSpec, SparkSpec}

/** Plan-shape regression guard: the join-heavy gate queries must never
  * plan a BroadcastNestedLoopJoin or CartesianProduct — the O(n²)
  * shapes that die at scale (SURVEY §4.2). The deliberately all-pairs
  * baselines (brute-force cosine, scalar-subquery crossJoins of
  * one-row aggregates) are excluded by design.
  */
class PlanGuardSpec extends SparkSpec {

  private val guarded = Seq(
    "q11_join_dims", "q13_anti_join", "q14_semi_join",
    "q20_overlap_join", "q22_ngram_jaccard", "q23_minhash_lsh",
    "q32_ns_station_severity", "q36_ns_overlap", "q41_asof_join",
    "q42_sessionize_batch", "q46_cleaner_parity", "q47_minhash_verified",
    // q52 excluded: its one-row crossJoin(broadcast(N)) is the
    // scalar-subquery pattern this guard deliberately allows
    "q55_embedding_norms", "q56_levenshtein", "q57_argmax",
    "q76_lateral_topk", "q77_exists_subquery", "q82_nullsafe_join",
    "q91_sparse_dot", "q93_lsh_incremental", "q94_incremental_agg",
    "q95_embedding_neardup",
    // round 3: star join, containment postings, full/right outer,
    // decontamination, TPC-H-shape decorrelations, asof tolerance
    "q99_bloom_prefilter", "q102_oov_rate", "q103_star_join",
    "q105_containment", "q107_full_outer", "q112_snapshot_diff",
    "q115_decontamination", "q119_right_join", "q120_asof_tolerance",
    "q125_correlated_avg", "q126_sole_failure",
    // round 4: prefix-filter join, stratified split, winsorize/MAD
    // (broadcast bound joins), retrieval, interval merge
    // (q143/q148's one-row crossJoin(broadcast) is the allowed
    // scalar-subquery pattern, like q52)
    "q141_prefix_filter_join", "q142_stratified_split",
    "q146_winsorize", "q147_phrase_search", "q149_interval_merge",
    "q150_mad",
    // round 5: TPC-H multi-way join shapes, boilerplate membership join
    "q153_tpch_q3", "q154_tpch_q5", "q155_tpch_q18",
    "q156_boilerplate_rm",
    // round 7: TPC-H Q10 (two facts + broadcast dims)
    "q168_tpch_q10",
    // round 8: TPC-H Q7/Q8 nation-pair and market-share stars
    "q169_tpch_q7", "q170_tpch_q8",
    // round 13: the disjunctive-join rewrite exists precisely to stay
    // off the nested-loop path
    "q191_disjunctive_join",
    // round 21: TPC-H completion (q227's one-row broadcast average is
    // the allowed scalar-subquery pattern, like q52)
    "q220_tpch_q4", "q222_tpch_q12", "q223_tpch_q13", "q224_tpch_q17",
    "q225_tpch_q19", "q226_tpch_q21",
    // round 23/24: TPC-H tail (q236's one-row crossJoin(broadcast)
    // stats is the allowed scalar-subquery pattern) + the grid
    // spatial join, which exists precisely to stay equi-shaped
    "q234_tpch_q2", "q235_tpch_q9", "q237_tpch_q15", "q238_tpch_q16",
    "q239_tpch_q20", "q240_grid_radius_join",
    // rounds 32-40: proration/spearman windows are join-free, but the
    // vocab-overlap self-joins, the kendall year-pair join, the
    // attribution lookback join and the audience/encoding joins must
    // all stay equi-shaped (inequalities are post-join filters);
    // q280's one-row crossJoin(broadcast) prior is the allowed
    // scalar-subquery pattern, like q52
    "q266_autocorrelation", "q271_source_vocab_overlap",
    "q274_kendall_tau", "q276_new_vs_returning",
    "q277_weighted_vocab_overlap", "q278_attribution")

  test("q220 never broadcasts the fact side") {
    val dir = "/root/testdata/sf0.001"
    val plan = graft.SparkEntry.queries("q220_tpch_q4")(spark, dir)
      .queryExecution.executedPlan.toString
    // the EXISTS decorrelation must aggregate lineitem BEFORE the
    // join; a broadcast whose build side scans lineitem is the
    // fact-broadcast anti-plan this query exists to avoid
    val buildsFact = plan.linesIterator
      .dropWhile(!_.contains("BroadcastExchange")).toSeq
      .takeWhile(!_.contains("BroadcastHashJoin"))
      .exists(_.contains("lineitem"))
    assert(!buildsFact, "q220 broadcasts a lineitem-derived build side")
  }

  test("tpch stars: dims broadcast, at most one data-sized shuffle join") {
    val dir = "/root/testdata/sf0.001"
    Seq("q168_tpch_q10", "q169_tpch_q7", "q170_tpch_q8", "q171_tpch_q14",
        "q235_tpch_q9")
      .foreach { name =>
        val plan = graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"$name: no dimension broadcast in plan")
        val shuffleJoins =
          "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size
        assert(shuffleJoins <= 1,
          s"$name: $shuffleJoins shuffle joins (expected <= 1, fact-to-fact only)")
      }
  }

  test("q226 aggregates without an Expand of the fact") {
    val dir = "/root/testdata/sf0.001"
    // the two-countDistinct form planned Expand ×3 of the joined
    // lineitem ahead of the shuffle; the per-(order, supplier)
    // two-level aggregate must keep the plan Expand-free
    val plan = graft.SparkEntry.queries("q226_tpch_q21")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "q226 plans Expand over the fact")
  }

  test("q52 takes per-doc top-k through the bounded-heap operator") {
    val dir = "/root/testdata/sf0.001"
    val plan = graft.SparkEntry.queries("q52_tfidf_topterms")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      "q52 lost the TopKPerKey bounded-heap top-k")
    assert(!plan.contains("Window"),
      "q52 fell back to a full per-doc window sort")
  }

  test("the rec model builds its top-3 through the bounded-heap operator") {
    val dir = "/root/testdata/sf0.001"
    // the shared item-item recs model (q463/q466/q513) must keep its
    // TopKPerKey top-3, not fall back to a full window sort of every
    // co-purchase pair. Checked on the UNCACHED builder: the served
    // frame is a session-scoped localCheckpoint (GraphGateSource),
    // whose visible plan is a checkpoint scan.
    val plan = MlGates.buildRecs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      "recs model lost the TopKPerKey bounded-heap top-3")
    assert(!plan.contains("Window"),
      "recs model fell back to a full per-part window sort")
  }

  test("q472 folds through the codegen'd KeyOrderedFold") {
    // the twelve half-step folds must stay one compiled loop per
    // group — an interpreted aggregate/array_sort stack reappearing
    // here is the CPU regression KeyOrderedFold removed. The gate's
    // half-steps sit behind lazy localCheckpoints (plan truncated),
    // so this pins the source, like the collect audit does.
    val src = GateSource("q472")
    assert(src.contains("KeyOrderedFold.sum") &&
      src.contains("KeyOrderedFold.sumSq"),
      "q472 lost the codegen'd ordered folds")
    assert(!src.contains("array_sort(collect_list"),
      "q472 fell back to the interpreted array_sort fold stack")
  }

  test("the pipeline's silver probe prunes stored rows by the batch's folded updated_at") {
    // the probe's cost rests on the cleaned batch's constant updated_at
    // folding into the join condition, so the stored side is filtered
    // before the join; a plan node that stops the folding (an
    // Observation on the cleaned batch once did) broadcasts the whole
    // stored table instead
    val dir = Files.createTempDirectory("graft-probe-plan")
    val root = dir.resolve("store").toString
    Main.run(spark, MainSpec.snapshot(dir, "history.json", MainSpec.history), root, MainSpec.clockOn(25))
    val update = MainSpec.snapshot(dir, "update.json", MainSpec.update)
    val probes = MainSpec.executions(spark)(Main.run(spark, update, root, MainSpec.clockOn(26)))._2
      .collect { case ("localCheckpoint", qe) => qe.optimizedPlan }
      .flatMap(_.collect { case j: Join if j.joinType == LeftAnti && MainSpec.reads(j.right, "disruptions") => j })
    assert(probes.size == 1, probes)
    // stored.updated_at > <the batch's updated_at, folded to a literal>,
    // in a filter under the join's stored side
    val pruned = probes.head.right.collect { case f: Filter => f.condition }.exists(_.exists {
      case GreaterThan(a: Attribute, l: Literal) => a.name == "updated_at" && l.dataType == TimestampType
      case _ => false
    })
    assert(pruned, s"the stored side is not pruned before the join:\n${probes.head.treeString}")
  }

  test("the pipeline's gold write plans no sort and no range-partitioning exchange") {
    // a table has no row order: a global sort in the daily_stats refresh
    // costs the op a range-sampling job and a sort shuffle for nothing
    val dir = Files.createTempDirectory("graft-gold-plan")
    val root = dir.resolve("store").toString
    Main.run(spark, MainSpec.snapshot(dir, "history.json", MainSpec.history), root, MainSpec.clockOn(25))
    val update = MainSpec.snapshot(dir, "update.json", MainSpec.update)
    val golds = MainSpec.executions(spark)(Main.run(spark, update, root, MainSpec.clockOn(26)))._2
      .map(_._2).filter(_.analyzed match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == "daily_stats"
        case _ => false
      }).map(_.executedPlan)
    assert(golds.size == 1, golds)
    val sorts = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(golds.head) {
      case s: SortExec => s
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(sorts.isEmpty, s"the gold write sorts:\n${golds.head.treeString}")
  }

  /** Subtree lines (excluding the node's own line) of every plan node
    * whose line contains `marker`, by tree-string indentation.
    */
  private def subtrees(plan: String, marker: String): Seq[Seq[String]] = {
    val lines = plan.linesIterator.toVector
    def indent(l: String): Int = l.indexWhere(c => !" :+-".contains(c)) match {
      case -1 => Int.MaxValue
      case i  => i
    }
    lines.indices.filter(lines(_).contains(marker)).map { i =>
      val d = indent(lines(i))
      lines.drop(i + 1).takeWhile(indent(_) > d)
    }
  }

  test("pair-expansion gates keep their shuffle_hash pin on the sizes side") {
    val dir = "/root/testdata/sf0.001"
    // Catalyst underestimates pair-explode output (Generate keeps its
    // child's stats) and, unpinned, broadcasts the QUADRATIC pair
    // frame — the q105 sf1 driver abort found by the round-9
    // decade-up audit. A static broadcast join cannot be demoted by
    // AQE, so the pin is the only guard; losing it is silent until a
    // dense corpus kills the driver. Checked PER SIZES-JOIN KEY — a
    // bare plan.contains("ShuffledHashJoin") stayed green if one pin
    // regressed while any other shuffle join survived elsewhere.
    Seq(
      "q105_containment" -> Seq("a_id"),
      "q22_ngram_jaccard" -> Seq("doc_a", "doc_b"),
      "q380_jaccard_histogram" -> Seq("doc_a", "doc_b"))
      .foreach { case (name, keys) =>
        val plan = graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        keys.foreach { k =>
          assert(s"ShuffledHashJoin \\[$k#".r.findFirstIn(plan).isDefined,
            s"$name: the sizes fetch join on $k lost its shuffle_hash pin")
          assert(s"BroadcastHashJoin \\[$k#".r.findFirstIn(plan).isEmpty,
            s"$name: the sizes fetch join on $k regressed to a broadcast " +
              "of the (misestimated) pair frame")
        }
        // and the pair frame itself must never be a broadcast build
        assert(!subtrees(plan, "BroadcastExchange")
            .exists(_.exists(_.contains("ordered_pairs"))),
          s"$name: a BroadcastExchange builds over the OrderedPairs pair frame")
      }
  }

  test("q141's fetch joins never broadcast the quadratic candidate side") {
    val dir = "/root/testdata/sf0.001"
    // The fetch joins stay DECLARED (a shuffle_hash hint measured
    // 3.5× worse at sf1 — the broadcast of the genuinely-small toks
    // side avoids re-shuffling the candidate stream twice), so this
    // pins the intended shape structurally instead: if Catalyst's
    // Generate underestimation ever flips the build side to the
    // candidates frame, the q105-class driver abort comes back — and
    // only this assertion would see it before a dense corpus does.
    val plan = graft.SparkEntry.queries("q141_prefix_filter_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!subtrees(plan, "BroadcastExchange")
        .exists(_.exists(_.contains("ordered_pairs"))),
      "q141 builds a BroadcastExchange over the OrderedPairs candidate frame")
    // the two toks fetch joins must still broadcast the doc-level side
    // (collect_set aggregate in the build subtree): losing that flips
    // the measured-fast plan to double-shuffling the candidate stream
    assert(subtrees(plan, "BroadcastExchange")
        .count(_.exists(_.contains("collect_set"))) >= 2,
      "q141 lost the broadcast of the doc-level toks fetch side")
  }

  test("no nested-loop or cartesian joins in shuffle-sensitive queries") {
    val dir = "/root/testdata/sf0.001"
    guarded.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans BroadcastNestedLoopJoin")
      assert(!plan.contains("CartesianProduct"),
        s"$name plans CartesianProduct")
    }
  }
}
