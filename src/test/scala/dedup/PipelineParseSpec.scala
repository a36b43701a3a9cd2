package dedup

import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.parse` range-checks its numeric flags, so a bad value fails
  * before any stage runs instead of dying late or silently finding nothing. */
class PipelineParseSpec extends AnyFunSuite {

  private def parse(flag: String, value: String): Pipeline.Args =
    Pipeline.parse(Array("--synth", "10", "--output", "unused", flag, value))

  private def rejects(flag: String, values: String*): Unit = values.foreach { v =>
    val e = intercept[IllegalArgumentException](parse(flag, v))
    assert(e.getMessage.contains(flag), s"$flag $v: ${e.getMessage}")
  }

  test("--threshold must be in (0, 1]") {
    rejects("--threshold", "1.5", "0", "-0.2", "NaN")
    assert(parse("--threshold", "1").cfg.threshold === 1.0)
  }

  test("--ngram must be >= 1") {
    rejects("--ngram", "0", "-3")
    assert(parse("--ngram", "1").cfg.ngram === 1)
  }

  test("--min-length must be >= 0") {
    rejects("--min-length", "-1")
    assert(parse("--min-length", "0").cfg.minLength === 0)
  }

  test("--num-perm must be >= 1") {
    rejects("--num-perm", "0", "-250")
    assert(parse("--num-perm", "1").cfg.numPerm === 1)
  }

  test("--salt must be >= 1") {
    rejects("--salt", "0", "-4")
    assert(parse("--salt", "1").cfg.saltBuckets === 1)
  }

  test("--bands-per-pass must be >= 0") {
    rejects("--bands-per-pass", "-1")
    assert(parse("--bands-per-pass", "0").cfg.bandsPerPass === 0)
  }

  test("--chunk-rows must be >= 1") {
    rejects("--chunk-rows", "0", "-5")
    assert(parse("--chunk-rows", "1").chunkRows === 1L)
  }

  test("--prune-fpp must be in [0, 1)") {
    rejects("--prune-fpp", "1", "1.5", "-0.01")
    assert(parse("--prune-fpp", "0").pruneFpp === 0.0)
  }

  test("--sem-k must be >= 1") {
    rejects("--sem-k", "0", "-1")
    assert(parse("--sem-k", "1").semK === 1)
  }
}
