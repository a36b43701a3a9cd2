package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val gate = 90000.0
  private def attempt(steal: Double, pre: Double, post: Double) =
    Bench.Attempt(Seq(("q", 1.0, true, steal)), steal, pre, post)

  test("bestAttempt: a clean window beats a steal-failed pass with a higher canary") {
    val stealFailed = attempt(steal = 9.0, pre = 120000, post = 118000)
    val clean = attempt(steal = 0.5, pre = 95000, post = 94000)
    assert(!stealFailed.windowOk(gate) && clean.windowOk(gate))
    assert(Bench.bestAttempt(Seq(stealFailed, clean), gate) === clean)
    assert(Bench.bestAttempt(Seq(clean, stealFailed), gate) === clean)
  }

  test("bestAttempt: among windows of the same verdict, the highest min canary wins") {
    val lowCanary = attempt(steal = 0.1, pre = 80000, post = 70000)
    val highCanary = attempt(steal = 5.0, pre = 88000, post = 85000)
    assert(Bench.bestAttempt(Seq(lowCanary, highCanary), gate) === highCanary)
    val a = attempt(steal = 0.1, pre = 100000, post = 99000)
    val b = attempt(steal = 1.0, pre = 110000, post = 105000)
    assert(Bench.bestAttempt(Seq(a, b), gate) === b)
  }

  test("every headline name is a bench query, listed once") {
    val missing = Bench.headline.filterNot(SparkEntry.benchQueries.contains)
    assert(missing.isEmpty, s"headline names without a query: $missing")
    val dups = Bench.headline.diff(Bench.headline.distinct)
    assert(dups.isEmpty, s"headline names listed twice: $dups")
  }
}
