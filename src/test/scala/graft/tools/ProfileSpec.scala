package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Driver time is wall minus the union of job spans: concurrent sibling
  * jobs must not be counted twice. */
class ProfileSpec extends AnyFunSuite {
  import Profile.unionLength

  test("span union: overlapping spans count their shared time once") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(unionLength(Seq((5L, 15L), (0L, 10L), (12L, 20L))) == 20L)
  }

  test("span union: a nested span adds nothing") {
    assert(unionLength(Seq((0L, 100L), (10L, 20L), (30L, 100L))) == 100L)
  }

  test("span union: disjoint spans add up, gaps excluded") {
    assert(unionLength(Seq((30L, 40L), (0L, 10L))) == 20L)
    assert(unionLength(Seq((0L, 10L), (10L, 12L))) == 12L)
    assert(unionLength(Seq.empty) == 0L)
  }
}
