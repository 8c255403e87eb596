package graft.store

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based check of the CDC apply contract on random
  * changelogs split into random batches: per key the highest version
  * wins (ties to the incoming batch), a winning D removes the row
  * and leaves a (key, version) tombstone that keeps competing, so an
  * out-of-order stale change can neither clobber newer state nor
  * resurrect a deleted row. The final table AND the tombstone side
  * table must equal a driver-side fold, and replaying the last batch
  * must be a no-op. Fixed seeds reproduce failures.
  */
class CdcPropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // few keys, coarse versions (cross-batch collisions), D ~ a quarter
  private val genChange: Gen[(Long, Long, String)] = for {
    k <- Gen.chooseNum(0, 4)
    ver <- Gen.chooseNum(0, 9)
    op <- Gen.frequency(2 -> Gen.const("I"), 3 -> Gen.const("U"),
      2 -> Gen.const("D"))
  } yield (k.toLong, ver.toLong, op)

  private case class St(ver: Long, deleted: Boolean, payload: String)

  /** Driver-side fold of the documented semantics. */
  private def refFold(
      batches: Seq[Seq[(Long, Long, String, String)]]): Map[Long, St] =
    batches.foldLeft(Map.empty[Long, St]) { (state, batch) =>
      val best = batch.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      state ++ best.collect {
        case (k, (_, ver, op, payload))
            if state.get(k).forall(_.ver <= ver) => // tie -> incoming
          k -> St(ver, op == "D", payload)
      }
    }

  test("random changelogs under any batch split match the reference fold") {
    samples(Gen.listOfN(28, genChange), 3, seed = 18700L).zipWithIndex
      .foreach { case (raw, i) =>
        val events = raw.zipWithIndex.map { case ((k, v, op), j) =>
          (k, v, op, s"w$j")
        }
        // at most one change per (key, version) per batch — the
        // in-batch tie among identical versions is unspecified
        def dedupBatch(b: Seq[(Long, Long, String, String)]) =
          b.groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
        val cuts = Seq(5 + i, 13, 20 + i, events.size)
        val batches = cuts.distinct.sorted
          .foldLeft((Seq.empty[Seq[(Long, Long, String, String)]], 0)) {
            case ((acc, from), to) =>
              (acc :+ dedupBatch(events.slice(from, to)), to)
          }._1.filter(_.nonEmpty)
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_cdc_prop$i").toString
        val store = new TableStore(spark, root)
        def apply(b: Seq[(Long, Long, String, String)]): Unit =
          store.applyCdc("t", b.toDF("k", "ver", "op", "payload"), "k", "ver")
        batches.foreach(apply)

        val want = refFold(batches)
        def liveSnapshot(): Map[Long, (Long, String)] =
          store.read("t").get.select("k", "ver", "payload").collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
        def tombSnapshot(): Map[Long, Long] =
          store.read("t/_tombstones").get.collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val live = liveSnapshot()
        val tombs = tombSnapshot()
        assert(live == want.collect {
            case (k, St(v, false, p)) => k -> (v, p) },
          s"sample $i live state diverged: batches=$batches")
        assert(tombs == want.collect { case (k, St(v, true, _)) => k -> v },
          s"sample $i tombstones diverged: batches=$batches")
        // replaying the final batch is a no-op
        apply(batches.last)
        assert(liveSnapshot() == live && tombSnapshot() == tombs,
          s"sample $i: replaying a batch changed state")
      }
  }
}
