package graft.store

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based check of the latest-wins upsert contract: any
  * random event log, split into upsert batches at any points, must
  * end at the same table as a driver-side fold of the rule "highest
  * version wins; on a version tie the incoming batch beats the
  * stored row". This is the idempotent-re-run contract (§2.10b) the
  * daily pipeline leans on — replaying a batch must also be a no-op.
  * Fixed seeds reproduce failures.
  */
class UpsertPropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // events: few keys, coarse versions (cross-batch ties likely),
  // payload distinguishes writers
  private val genEvents: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, for {
      k <- Gen.chooseNum(0, 5)
      ver <- Gen.chooseNum(0, 9)
    } yield (k.toLong, ver.toLong))

  /** In-batch duplicates of (key, version) are dropped keeping the
    * first, so each batch has at most one row per (key, version) —
    * the in-batch tiebreak among identical versions is otherwise
    * unspecified (a real changelog has unique versions per key).
    */
  private def dedupBatch(b: Seq[(Long, Long, String)]): Seq[(Long, Long, String)] =
    b.groupBy(e => (e._1, e._2)).map(_._2.head).toSeq

  private def refStep(
      state: Map[Long, (Long, String)], batch: Seq[(Long, Long, String)]): Map[Long, (Long, String)] = {
    val bestInBatch = batch.groupBy(_._1).view.mapValues(
      _.maxBy(_._2)).toMap
    state ++ bestInBatch.collect {
      case (k, (_, ver, payload))
          if state.get(k).forall(_._1 <= ver) => // tie -> incoming wins
        k -> (ver, payload)
    }
  }

  private def refFold(
      batches: Seq[Seq[(Long, Long, String)]]): Map[Long, (Long, String)] =
    batches.foldLeft(Map.empty[Long, (Long, String)])(refStep)

  test("any batch split folds to the reference latest-wins state; replay is a no-op") {
    samples(genEvents, 3, seed = 10800L).zipWithIndex.foreach {
      case (raw, i) =>
        val events = raw.zipWithIndex.map { case ((k, v), j) =>
          (k, v, s"w$j") // payload identifies which event won
        }
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_upsert_prop$i").toString
        val store = new TableStore(spark, root)
        // uneven batch split derived from the sample index
        val cuts = Seq(4 + i, 11, 19 + i, events.size)
        val batches = cuts.distinct.sorted
          .foldLeft((Seq.empty[Seq[(Long, Long, String)]], 0)) {
            case ((acc, from), to) =>
              (acc :+ dedupBatch(events.slice(from, to)), to)
          }._1.filter(_.nonEmpty)
        // each batch hands `changes` the reference fold's diff: the new
        // version of every key whose state changed, plus its previous one
        batches.foldLeft(Map.empty[Long, (Long, String)]) { (state, b) =>
          val next = refStep(state, b)
          val diff = next.toSeq.filterNot { case (k, v) => state.get(k).contains(v) }
            .flatMap { case (k, v) => (k -> v) +: state.get(k).map(k -> _).toSeq }
            .map { case (k, (ver, payload)) => (k, ver, payload) }
          var seen = Option.empty[Seq[(Long, Long, String)]]
          store.upsert("t", b.toDF("k", "ver", "payload"), Seq("k"), "ver",
            changes = c => seen = Some(c.select("k", "ver", "payload")
              .as[(Long, Long, String)].collect().toSeq))
          assert(seen.map(_.sorted) == Some(diff.sorted),
            s"sample $i: change set of batch $b")
          next
        }
        def snapshot(): Map[Long, (Long, String)] =
          store.read("t").get.select("k", "ver", "payload").collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
        val got = snapshot()
        assert(got == refFold(batches),
          s"sample $i diverged from reference fold: batches=$batches")
        // idempotent re-run: replaying the last batch changes nothing
        // and commits nothing, so neither hook is called
        var called = false
        store.upsert("t", batches.last.toDF("k", "ver", "payload"), Seq("k"), "ver",
          changes = _ => called = true, before = _ => called = true)
        assert(!called, s"sample $i: a replay called a hook")
        assert(snapshot() == got, s"sample $i: replaying a batch changed state")
    }
  }

  /** The table-wide latest-wins merge `upsert` used before it learned
    * to skip no-op batches: union the stored rows (`__src` 0) with the
    * batch (`__src` 1) and keep, per key, the row first by version
    * descending (nulls last), then by source descending. Kept here as
    * the oracle for the probe + anti-join merge.
    */
  private def windowMerge(
      stored: Seq[(Option[Long], Option[Long], String)],
      batch: Seq[(Option[Long], Option[Long], String)]): Seq[(Option[Long], Option[Long], String)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("k").orderBy(desc("ver"), desc("__src"))
    stored.toDF("k", "ver", "payload").withColumn("__src", lit(0))
      .unionByName(batch.toDF("k", "ver", "payload").withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("k", "ver", "payload").as[(Option[Long], Option[Long], String)]
      .collect().toSeq
  }

  // null keys, null versions and a tiny payload alphabet, so batches
  // repeat stored rows exactly (identical-row ties) as well as tie on
  // version with new content
  private val genNullable: Gen[List[(Option[Long], Option[Long], String)]] =
    Gen.listOfN(30, for {
      k <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.chooseNum(0L, 4L).map(Some(_)))
      ver <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.chooseNum(0L, 4L).map(Some(_)))
      payload <- Gen.oneOf("p", "q")
    } yield (k, ver, payload))

  test("null keys, null versions and identical rows match the window-merge oracle") {
    samples(genNullable, 4, seed = 20300L).zipWithIndex.foreach { case (events, i) =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_upsert_null$i").toString
      val store = new TableStore(spark, root)
      // one row per (key, version) in a batch: the in-batch tiebreak
      // among equal versions is unspecified
      val batches = events.grouped(6).map(_.groupBy(e => (e._1, e._2)).map(_._2.head).toSeq).toSeq
      def snapshot() = store.read("t").get.select("k", "ver", "payload")
        .as[(Option[Long], Option[Long], String)].collect().toSet
      batches.foldLeft(Seq.empty[(Option[Long], Option[Long], String)]) { (want, b) =>
        val next = windowMerge(want, b)
        val changed = store.upsert("t", b.toDF("k", "ver", "payload"), Seq("k"), "ver")
        val got = snapshot()
        assert(got == next.toSet, s"sample $i diverged from the window merge: batch=$b")
        assert(got.size == next.size, s"sample $i: duplicate keys stored")
        assert(changed == (next.toSet -- want).size, s"sample $i: changed-row count")
        // replaying the batch is a no-op
        assert(store.upsert("t", b.toDF("k", "ver", "payload"), Seq("k"), "ver") == 0)
        assert(snapshot() == got, s"sample $i: replay changed state")
        next
      }
    }
  }
}
