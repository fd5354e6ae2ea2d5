package graft.tools

import graft.SparkSpec

/** Runs each scale-stress scenario's FULL code path at smoke size, so the
  * scale harness itself lives under the `sbt test` gate — a broken
  * generator, a renamed seam, or a drifted invariant fails CI instead of
  * being discovered mid-round when the 200k+ runs are launched. The
  * invariants are size-independent by construction (every scenario derives
  * its expectation from n), so "small n passes" genuinely exercises the
  * same assertions the big runs make.
  */
class StressSmokeSpec extends SparkSpec {

  test("heavy-hitters scenario recovers all 10 planted hot tokens at smoke size") {
    assert(Stress.runHeavyHitters(spark, 5000L))
  }

  test("sem scenario drops every planted twin with noise under a tenth at smoke size") {
    // 2000 is the smallest size that outnumbers the scenario's 1024 cells,
    // so vectors share cells and the noise bound is live (below it every
    // vector is its own seed)
    assert(Stress.runSemantic(spark, 2000L))
  }

  test("ivfpq scenario holds the reconstruction-floor invariant at smoke size") {
    assert(Stress.runIvfPq(spark, 4000L))
  }

  test("multiprobe scenario recovers every planted twin at smoke size") {
    assert(Stress.runMultiprobe(spark, 4000L))
  }

  test("ppjoin scenario recovers every planted intra-group pair at smoke size") {
    assert(Stress.runPpjoin(spark, 2000L))
  }

  test("sketches scenario: HLL inside 4-sigma, bitmap popcounts exact at smoke size") {
    assert(Stress.runSketches(spark, 20000L))
  }

  test("skew scenario: salting cuts the straggler task's shuffle read, read " +
    "through TaskStats") {
    // at 2000 rows a salt slice's share (~32 rows) still exceeds its
    // tolerance (~22), so a slice at twice its share fails the spread
    // check; the scenario must leave the session's confs as it found them
    val before = spark.conf.getAll
    assert(Stress.runSkew(spark, 2000L))
    assert(spark.conf.getAll == before)
  }

  test("scd scenario: capped history matches the atomic one inside the " +
    "straggler bound at smoke size") {
    // 2048 is the smallest size whose capped max task fits the bound
    // (1024 read 40 against 32)
    assert(Stress.runScd(spark, 2048L))
  }

  test("sessions scenario: capped sessionization matches the atomic one " +
    "inside the straggler bound at smoke size") {
    // 4096 is the smallest size whose capped max task fits the bound
    // (3072 read 124 against 96)
    assert(Stress.runSessions(spark, 4096L))
  }

  test("evalstress scenario: AUC, KS and calibration rows equal the closed forms at smoke size") {
    // 1024 is the scenario's floor: a smaller n is raised to it
    assert(Stress.runEval(spark, 1024L))
  }

  test("quota scenario: exact quotas, repartition-invariant picks at smoke size") {
    // the scenario floor: S² = 10,000 docs, K = n/2
    assert(Stress.runQuota(spark, 10000L))
  }

  test("dedup scenario: signatures, LSH pairs, Jaccard verify and components " +
    "recover the planted groups at smoke size") {
    // every bound is a share of n (≥95% of docs clustered, cluster count
    // within 10% of the n/4 planted groups, ≥99% of verified pairs
    // intra-group); 100 docs keep a ±2 band on 25 groups
    assert(Stress.runDedup(spark, 100L))
  }

  test("lshstream scenario: streamed band claims find the planted near-dups, " +
    "the verify rejects all cross-group noise, state is one row per bucket") {
    // bounds are shares of n and an exact state-row identity; 100 docs
    // still give six non-empty uneven micro-batches
    assert(Stress.runLshStream(spark, 100L))
  }

  test("an unknown scenario name is rejected with a usage line naming every scenario") {
    assert(Stress.scenario("skew").isRight)
    assert(Stress.scenario("dedup").isRight)
    val usage = Stress.scenario("grpah").swap.getOrElse(fail("grpah was accepted"))
    Stress.Scenarios.keys.foreach(k => assert(usage.contains(k), s"usage omits $k"))
  }
}
