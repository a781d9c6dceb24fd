package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's scratch-artifact cache: an artifact build may resolve
  * the artifact it reads through the same cache (the bounds, minhash
  * pairs and ngram labels chains do), whatever the two keys hash to.
  */
class ScratchSpec extends AnyFunSuite {

  test("a scratch build may build its dependency inside it, under colliding keys") {
    val d = s"scratch-spec-${System.nanoTime}"
    // "Aa" and "BB" share String.hashCode, and so do "Aa|d" and "BB|d":
    // the dependency lands in the hash bin of the entry being built
    assert(s"Aa|$d".hashCode == s"BB|$d".hashCode)
    var builds = 0
    def dep(): String = SparkEntry.scratch("BB", d)(_ => builds += 1)
    val outer = SparkEntry.scratch("Aa", d) { _ => dep(); builds += 1 }
    assert(builds == 2)
    // both entries are recorded: resolving either again builds nothing
    assert(SparkEntry.scratch("Aa", d)(_ => builds += 1) == outer)
    dep()
    assert(builds == 2)
  }

  test("a failed scratch build records nothing; the next call builds again") {
    val d = s"scratch-spec-${System.nanoTime}"
    intercept[IllegalStateException] {
      SparkEntry.scratch("failing", d)(_ => throw new IllegalStateException("cut off"))
    }
    var builds = 0
    SparkEntry.scratch("failing", d)(_ => builds += 1)
    assert(builds == 1)
  }
}
