package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Fixpoint

/** plans.Fixpoint, the round loop of the iterative operators: its two
  * bound kinds and its round count, on plain in-memory states.
  */
class FixpointSpec extends AnyFunSuite {

  /** Counts up by one per round; converges on reaching `target`. */
  private def countTo(target: Int)(s: Int, round: Int): (Int, Boolean) = {
    assert(round == s + 1, "rounds are numbered from 1, one per step")
    (s + 1, s + 1 >= target)
  }

  test("a guarded loop that reaches its bound fails, naming the loop and the bound") {
    val e = intercept[RuntimeException](
      Fixpoint("frontier walk", 7)(0)(countTo(100)))
    assert(e.getMessage.contains("frontier walk"), e.getMessage)
    assert(e.getMessage.contains("7"), e.getMessage)
  }

  test("a guarded loop that converges on its last allowed round succeeds") {
    assert(Fixpoint("walk", 7)(0)(countTo(7)) == ((7, 7)))
  }

  test("a bounded loop returns its state at the bound") {
    assert(Fixpoint("peel", 5, bounded = true)(0)(countTo(100)) == ((5, 5)))
    assert(Fixpoint("peel", 0, bounded = true)(0)(countTo(100)) == ((0, 0)))
  }

  test("the returned round count is exact") {
    for (target <- 1 to 6) {
      var steps = 0
      val (s, rounds) = Fixpoint("walk", 10)(0) { (s: Int, r: Int) =>
        steps += 1; countTo(target)(s, r)
      }
      assert(s == target && rounds == target && steps == target)
    }
    // converging on the very first step is one round, not zero
    assert(Fixpoint("walk", 10)("x")((s: String, _: Int) => (s, true)) == (("x", 1)))
  }
}
