package graft.text

import graft.{SparkCounts, SparkSpec}
import org.apache.spark.sql.functions._

/** Scale contract of [[TextOps.connectedComponents]] (VERDICT r8 item 7):
  * the driver-coordinated label propagation must stay LOG-diameter, not
  * linear — on a 100 TB pair graph the difference is a handful of O(E)
  * rounds versus a cluster-stalling ripple. The chain graph is the
  * worst case (diameter = N−1, every other topology converges faster), so
  * pinning it bounds everything.
  *
  * Two independent tripwires, both loud on a fixpoint regression:
  *  - ROUNDS: path-halving doubles the label-propagation horizon per round
  *    (distance covered after r rounds = 2^(r+1)−1), so a diameter-D chain
  *    needs ≤ ⌈log₂ D⌉ rounds plus exactly one no-change round for the
  *    convergence check. Pure propagation would need D rounds — a 1025-node
  *    chain fails immediately.
  *  - SHUFFLE VOLUME: every round is O(E) shuffled rows (two joins + two
  *    groupBys over the edge list). Total shuffle records must stay within
  *    a constant × E × rounds; a quadratic regression (re-deriving the
  *    frontier from scratch, a cartesian repair, a lineage replay per
  *    round) blows through the bound by orders of magnitude.
  */
class CcScaleSpec extends SparkSpec {
  import spark.implicits._

  // N = 1025 chain: diameter 1024, ceil(log2) = 10 — big enough that the
  // log-vs-linear gap (10 vs 1024 rounds) and the E·log-vs-N² shuffle gap
  // (~1e5 vs ~1e6 rows) are unambiguous, small enough for a unit test
  private val n = 1025
  private val diameter = n - 1
  private val logBound = 10 // ceil(log2(1024))

  test(s"a $n-node chain converges in <= ceil(log2(diameter)) + 1 rounds with O(E log D) shuffle") {
    val chain = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))

    val ((labels, rounds), counts) = SparkCounts.measure(spark) {
      // smallGraphCap = 0 forces the DISTRIBUTED fixpoint — the subject
      // of this contract; the production driver fast-path (cap 100k)
      // would otherwise swallow this fixture whole
      val (l, r) = TextOps.connectedComponentsWithRounds(chain,
        smallGraphCap = 0)
      val collected = l.select("id", "component").as[(Long, Long)].collect()
      (collected, r)
    }

    // correctness first: one component, every node labeled with the min id
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L), "chain must collapse to component 0")

    // the round tripwire: log2 halving + exactly one convergence-check round
    assert(rounds <= logBound + 1,
      s"connectedComponents took $rounds rounds on a diameter-$diameter chain " +
        s"(log-diameter bound ${logBound + 1}) — path halving has regressed")

    // the volume tripwire: each round shuffles O(E) rows across its two
    // joins and two groupBys (plus the seed's groupBy and the symmetrized
    // distinct). Constant 16 gives those stages (and AQE re-partitions)
    // headroom while staying far below a quadratic blowup: the bound is
    // ~0.7M records, an O(E·D) ripple or per-round lineage replay shuffles
    // tens of millions.
    val e = 2L * (n - 1) // symmetrized edge count
    val bound = 16L * e * (rounds + 2)
    assert(counts.shuffleRecordsWritten <= bound,
      s"connectedComponents shuffled ${counts.shuffleRecordsWritten} records on a $n-chain " +
        s"(bound $bound = 16·E·(rounds+2)) — per-round shuffle is no longer O(E)")
    graft.Caching.releaseAll()
  }

  test("driver fast-path and distributed fixpoint produce identical labels") {
    // a graph that crosses shapes: two chains, a star, singles via self-free
    // nodes, and bridging edges — below the production cap (driver path),
    // forced distributed via cap 0 for the comparison
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),            // chain
      (10L, 11L), (11L, 12L),                  // second chain
      (20L, 21L), (20L, 22L), (20L, 23L),      // star
      (4L, 10L),                               // bridge: chains merge
      (30L, 31L))
    val pairs = spark.createDataFrame(edges).toDF("doc_a", "doc_b")
    def labelsOf(cap: Int) =
      TextOps.connectedComponentsWithRounds(pairs, smallGraphCap = cap)._1
        .as[(Long, Long)].collect().toSet
    val driver = labelsOf(100000)
    val dist = labelsOf(0)
    assert(driver == dist,
      s"driver fast-path diverged from the distributed fixpoint:\n" +
        s"driver: $driver\ndistributed: $dist")
    assert(driver.filter(_._1 <= 4L).forall(_._2 == 1L),
      "bridged chains must share min label 1")
    graft.Caching.releaseAll()
  }
}
