package graft.queries

/** Named pool sizes for the iterative gates that run on a driver-
  * held sample (DBSCAN census, farthest-point coreset). The cap is
  * the SAMPLE SIZE, never corpus coverage: these algorithms are
  * quadratic-or-worse in pool size, so the gate's contract is
  * sample-then-iterate — a deterministic id-prefix of the embedding
  * lattice stands in for the corpus-scale path, which draws the pool
  * through the q100 weight-proportional systematic sampler (see
  * TextGates.q100) before the iteration ever starts. Keeping the
  * pool rule a plain `vec_id < cap` predicate (rather than the
  * sampler's window walk) keeps each gate's DuckDB oracle an
  * identical one-line WHERE clause; the constants here make the
  * truncation visible and single-sourced instead of a magic filter
  * literal inside the query body.
  */
object SamplePools {

  /** q473 DBSCAN census pool: 600 vectors → ≤179,700 pairwise
    * distances, the O(pool²) stage the cap bounds.
    */
  val DbscanPool = 600L

  /** q490 farthest-point coreset pool: 500 vectors collected to the
    * driver for the 8 sequential argmax stages.
    */
  val CoresetPool = 500L

  /** q45/q106 ANN recall-gate query pool: at most this many query
    * points (a deterministic id-stride prefix of the lattice). The
    * cap is what keeps the gates' in-query brute-force recall
    * baseline O(pool · corpus) — LINEAR in the corpus — instead of
    * the unbounded-stride form's O(corpus²/stride). Unlike the
    * driver-held pools above this one never leaves the executors;
    * the bound is on the crossJoin's broadcast side.
    */
  val AnnQueryPool = 64L
}
