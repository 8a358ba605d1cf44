package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's pure bookkeeping: the `value` it prints and which pass a
  * spread-requeued query commits (and so whether it lands in `failed`). */
class BenchSpec extends AnyFunSuite {

  test("value sums the printed ms-rounded medians and skips failed queries") {
    // 1.0004 prints as 1.0 and 2.0006 as 2.001; a failed query's -1.0 is
    // printed but must not subtract a second from the total
    assert(Bench.roundMs(1.0004) == 1.0 && Bench.roundMs(2.0006) == 2.001)
    assert(Bench.roundMs(-1.0) == -1.0)
    assert(Bench.benchValue(Seq(1.0004, 2.0006, -1.0)) == 3.001)
    assert(Bench.benchValue(Seq(-1.0, -1.0)) == 0.0)
    // ten 0.1 s medians re-add to exactly what the line prints
    assert(Bench.benchValue(Seq.fill(10)(0.1)) == 1.0)
  }

  test("a spread-requeue rerun is committed only when it has a median and is clean") {
    val spread = Bench.Pass(Seq.empty, Seq(1.0, 1.0, 4.0), threw = false)
    val clean = Bench.Pass(Seq.empty, Seq(1.0, 1.1, 1.2), threw = false)
    assert(Bench.adopt(spread, clean) == clean)
    // every rerun rep threw: no median, the first pass stays committed
    val allThrew = Bench.Pass(Seq.empty, Seq(-1.0, -1.0, -1.0), threw = true)
    assert(Bench.adopt(spread, allThrew) == spread)
    // a rerun still spread is discarded too
    assert(Bench.adopt(spread, spread.copy(threw = true)) == spread)
  }

  test("failed follows the committed pass: a discarded throwing rerun never marks it") {
    val spread = Bench.Pass(Seq.empty, Seq(1.0, 1.0, 4.0), threw = false)
    val rerunThrewDiscarded = Bench.Pass(Seq.empty, Seq(-1.0, -1.0, -1.0), threw = true)
    assert(!Bench.adopt(spread, rerunThrewDiscarded).threw)
    // one rep of the rerun threw but its median and spread are clean:
    // the rerun is committed, and with it the failure
    val rerunThrewAdopted = Bench.Pass(Seq.empty, Seq(1.0, -1.0, 1.1), threw = true)
    assert(Bench.adopt(spread, rerunThrewAdopted).threw)
  }
}
