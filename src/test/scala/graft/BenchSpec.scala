package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure parts of [[Bench]]'s fixed-rep protocol: tiers from the core
  * count, per-level summary statistics and N→4N efficiency. No Spark. */
class BenchSpec extends AnyFunSuite {

  test("tiers are cores, cores/4, cores/16 while at least 1, at most three") {
    assert(Bench.tiers(1) == Seq(1))
    assert(Bench.tiers(4) == Seq(4, 1))
    assert(Bench.tiers(8) == Seq(8, 2))
    assert(Bench.tiers(32) == Seq(32, 8, 2))
    assert(Bench.tiers(256) == Seq(256, 64, 16))
  }

  test("median, min and spread of a level's walls") {
    val walls = Seq(3.0, 1.5, 2.0)
    assert(Bench.median(walls) == 2.0)
    assert(walls.min == 1.5)
    assert(Bench.spread(walls) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.spread(Seq(2.0, 2.0, 2.0)) == 1.0)
  }

  test("efficiency is median(sec_N) / (4 · median(sec_4N)), unclamped") {
    val secN = Seq(8.2, 8.0, 9.0)
    val sec4N = Seq(2.5, 2.4, 2.0)
    assert(Bench.efficiency(Bench.median(secN), Bench.median(sec4N)) ==
      8.2 / (4 * 2.4))
    assert(Bench.efficiency(8.0, 2.0) == 1.0)
    // superlinear readings are reported as measured
    assert(Bench.efficiency(10.0, 2.0) == 1.25)
    assert(Bench.efficiency(4.0, 2.0) == 0.5)
  }
}
