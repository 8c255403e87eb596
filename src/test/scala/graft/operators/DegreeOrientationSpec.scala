package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the degree-ordered orientation's SCALE property, not its
  * correctness: both the degree order and the id order (`u < v`) count
  * the same triangles, so every hash gate stays green if someone
  * reverts to id order — while at scale a hub whose id sorts below its
  * neighbors keeps its full degree as out-degree and deg² wedges land
  * in one task (the round-9 skew rung's 57 GB single-task blowup on
  * q288). These tests are RED under the id orientation.
  */
class DegreeOrientationSpec extends SparkSpec {

  import spark.implicits._

  /** Both directions of each undirected (a, b) edge. */
  private def und(edges: Seq[(Long, Long)]): DataFrame =
    (edges ++ edges.map(_.swap)).toDF("u", "v")

  private def outDegrees(oriented: DataFrame): Map[Long, Long] =
    oriented.groupBy("u").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def wedgeCount(oriented: DataFrame): Long =
    oriented.as("a").join(oriented.as("b"), col("a.v") === col("b.u")).count() +
      oriented.as("a").join(oriented.as("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v")).count()

  test("star with the hub at id MIN: the hub fans out nothing") {
    // hot key at the id minimum — exactly the configuration where the
    // id orientation gives the hub out-degree n (it sorts below every
    // leaf) and the skew rung killed q288
    val star = und((1L to 50L).map(l => (0L, l)))
    val o = DegreeOrientation.orient(star)
    assert(o.count() == 50L, "each undirected edge must orient exactly once")
    val k = outDegrees(o)
    assert(k.getOrElse(0L, 0L) == 0L,
      s"hub kept out-degree ${k.getOrElse(0L, 0L)} — id-ordered orientation regression")
    assert(k.values.forall(_ <= 1L), "a star leaf has one out-edge at most")
    assert(wedgeCount(o) == 0L, "a star has no triangles, so no wedges may form")
  }

  test("star with the hub at id MAX: same bound from the opposite branch") {
    val star = und((0L until 50L).map(l => (l, 50L)))
    val o = DegreeOrientation.orient(star)
    assert(o.count() == 50L)
    val k = outDegrees(o)
    assert(k.getOrElse(50L, 0L) == 0L, "hub at id max kept out-degree")
    assert(k.values.forall(_ <= 1L))
    assert(wedgeCount(o) == 0L)
  }

  test("zipfian random graph: max out-degree within the sqrt(2m) bound") {
    // a multi-hub heavy-tailed graph (top ids quadratically favored) —
    // the id orientation's max out-degree here is the hub degree
    // itself, far past the bound
    // cubed uniform → node 0 draws ~17% of all endpoints: a LOW-id hub
    // (the q288 failure shape), whose full degree the id orientation
    // would keep as out-degree, far past the bound asserted below
    val rnd = new scala.util.Random(7)
    def node(): Long = (math.pow(rnd.nextDouble(), 3) * 200).toLong
    val edges = Iterator.continually((node(), node()))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .take(600).toSeq.distinct
    val m = edges.size.toLong
    val o = DegreeOrientation.orient(und(edges))
    assert(o.count() == m)
    val kMax = outDegrees(o).values.max
    assert(kMax <= math.ceil(math.sqrt(2.0 * m)).toLong,
      s"max out-degree $kMax exceeds sqrt(2m) for m=$m — orientation lost its bound")
    // and the orientation is a permutation of the undirected edge set
    val back = o.select(
      least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == edges.toSet)
  }

  test("q161 and q288 build their wedges through the shared orientation") {
    // the gates' own plans truncate behind persist/localCheckpoint, so
    // pin the SOURCE (the KeyOrderedFold pattern): an inline id-ordered
    // rewrite in either gate would pass every hash gate and re-open
    // the single-task wedge blowup unseen
    for (gate <- Seq("q161", "q288")) {
      val src = graft.queries.GateSource(gate)
      assert(src.contains("DegreeOrientation"),
        s"$gate no longer routes through DegreeOrientation.orient")
    }
  }
}
