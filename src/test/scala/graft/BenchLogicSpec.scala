package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the bench rig's self-defense math (the part that decides
  * whether a recorded median is trusted or re-measured) — pure functions,
  * no Spark session. The rig exists because two rounds of records were
  * distorted by external box load; its own logic must not be the next
  * source of a wrong number. */
class BenchLogicSpec extends AnyFunSuite {

  test("median: odd, even, single") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.median(Seq(7.0)) == 7.0)
  }

  test("median: any failed rep poisons the set") {
    assert(Bench.median(Seq(1.0, -1.0, 2.0)) == -1.0)
    assert(Bench.median(Seq(-1.0)) == -1.0)
  }

  test("anomalous: warm median meaningfully above cold flags; margin absorbs noise") {
    // the r12 smoking guns must flag
    assert(Bench.anomalous(med = 14.8, cold = 2.2), "j2_renest_flat case")
    assert(Bench.anomalous(med = 3.0, cold = 0.7), "m2_etag_canonical case")
    // normal warm-faster-than-cold must not
    assert(!Bench.anomalous(med = 0.5, cold = 2.0))
    // sub-second timer noise inside the margin must not
    assert(!Bench.anomalous(med = 0.18, cold = 0.1))
    // equal times must not
    assert(!Bench.anomalous(med = 1.0, cold = 1.0))
  }

  test("anomalous: failures are failures, never anomalies") {
    assert(!Bench.anomalous(med = -1.0, cold = 2.0))
    assert(!Bench.anomalous(med = 2.0, cold = -1.0))
  }

  test("decaying: fires on the r13 x_pagerank_delta shape the anomaly test missed") {
    // reps [21.4, 6.5, 1.8] passed median>cold clean (cold was the build)
    // while the median sat mid-decay at 3.6x steady state — exactly what
    // this detector is for
    assert(Bench.decaying(Seq(21.4, 6.5, 1.8)))
    // still-converging longer sets fire too
    assert(Bench.decaying(Seq(10.0, 6.0, 4.0, 1.5)))
  }

  test("decaying: flat, noisy, short and failed sets do not fire") {
    // flat warm reps: settled
    assert(!Bench.decaying(Seq(5.0, 2.1, 2.0)))
    // halving but non-monotone (noise, not convergence)
    assert(!Bench.decaying(Seq(5.0, 1.0, 2.0, 0.9)))
    // monotone but gently-settling tail (rep3 >= half of rep2)
    assert(!Bench.decaying(Seq(9.0, 3.0, 2.0)))
    // fewer than 3 reps carry no decay evidence
    assert(!Bench.decaying(Seq(9.0, 1.0)))
    // failures are failures
    assert(!Bench.decaying(Seq(21.4, 6.5, -1.0)))
  }

  test("unstable: fires on the r14 CPU-steal shape; quiet on steady, decaying and micro sets") {
    // [18.6, 35.4, 8.5]: median == cold (contention test quiet), not
    // monotone (decay test quiet), warm reps 4x apart — must fire
    assert(Bench.unstable(Seq(18.61, 35.37, 8.48)))
    // steady warm reps within ±10%: quiet
    assert(!Bench.unstable(Seq(3.5, 2.6, 2.6)))
    // normal fault-in shape (big cold, agreeing warms): quiet
    assert(!Bench.unstable(Seq(10.0, 1.0, 1.1)))
    // micro-queries under the absolute floor: 20ms vs 45ms is timer noise
    assert(!Bench.unstable(Seq(0.1, 0.02, 0.045)))
    // failures are failures; short sets carry no spread evidence
    assert(!Bench.unstable(Seq(18.61, -1.0, 8.48)))
    assert(!Bench.unstable(Seq(18.61, 8.48)))
  }

  test("steady: min warm rep; cold excluded; failures poison") {
    assert(Bench.steady(Seq(21.4, 6.5, 1.8)) == 1.8)
    // a warm rep slower than a later one: min wins, order-free
    assert(Bench.steady(Seq(3.0, 1.2, 2.0)) == 1.2)
    // single-rep sets have no warm evidence beyond the one rep
    assert(Bench.steady(Seq(7.0)) == 7.0)
    assert(Bench.steady(Seq(1.0, -1.0, 2.0)) == -1.0)
  }

  test("steadyFloor: remeasure lowers the floor, its first rep is excluded, a failed remeasure rep can't poison pass 1") {
    // both passes valid: min of the two steady floors
    assert(Bench.steadyFloor(Seq(5.0, 2.0, 2.1), Some(Seq(3.0, 1.5, 1.6))) == 1.5)
    // the remeasure's FIRST rep is excluded like pass 1's cold (r14
    // advice: ts2.min used to include it) — 0.9 here is rep 1, not a floor
    assert(Bench.steadyFloor(Seq(5.0, 2.0, 2.1), Some(Seq(0.9, 1.5, 1.6))) == 1.5)
    // a failed remeasure rep poisons ONLY the remeasure side: pass 1's
    // valid floor survives instead of the query dropping out of
    // steady_total (the r14-advice poisoning bug)
    assert(Bench.steadyFloor(Seq(5.0, 2.0, 2.1), Some(Seq(3.0, -1.0, 1.6))) == 2.0)
    // no remeasure: pass 1's rules verbatim, poisoning included
    assert(Bench.steadyFloor(Seq(5.0, 2.0, 2.1), None) == 2.0)
    assert(Bench.steadyFloor(Seq(5.0, -1.0, 2.1), None) == -1.0)
    // a pass-1 failure stays a failure even if the remeasure is clean —
    // a flaky query must never masquerade as a fast one
    assert(Bench.steadyFloor(Seq(5.0, -1.0, 2.1), Some(Seq(3.0, 1.5, 1.6))) == -1.0)
  }

  test("SPARK_GRAFT_ONLY: unset or empty selects all; an unknown name fails loudly") {
    val known = Set("j1_shred_counts", "x_pagerank")
    assert(Bench.parseOnly(None, known).isEmpty)
    assert(Bench.parseOnly(Some(" , "), known).isEmpty)
    assert(Bench.parseOnly(Some("x_pagerank, j1_shred_counts"), known) == known)
    // a typo used to select zero queries in Bench and publish `total: 0`
    val e = intercept[IllegalArgumentException](
      Bench.parseOnly(Some("x_pagerank,j1_shred_count"), known))
    assert(e.getMessage.contains("j1_shred_count"), e.getMessage)
  }
}
