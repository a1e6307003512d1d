package graft.ops

import graft.SparkSuite

/** The one size gate: `auto` compares the estimate with the threshold
  * (the threshold itself takes the large form), a forced mode never
  * evaluates the estimate, an unknown mode throws naming itself, and the
  * decision record stays bounded. */
class DispatchSpec extends SparkSuite {

  test("auto: large exactly when estimate >= threshold, boundary included") {
    forced("auto") { s =>
      assert(!Dispatch.pick(s, "g", 100L)(BigInt(99)))
      assert(Dispatch.pick(s, "g", 100L)(BigInt(100)))
      assert(Dispatch.pick(s, "g", 100L)(BigInt(101)))
      // a planner estimate past Long.MaxValue still compares
      assert(Dispatch.pick(s, "g", Long.MaxValue)(BigInt(Long.MaxValue) * 4))
      assert(Dispatch.drain(s).map(d => (d.estimate, d.large)) == Seq(
        (Some(BigInt(99)), false), (Some(BigInt(100)), true),
        (Some(BigInt(101)), true), (Some(BigInt(Long.MaxValue) * 4), true)))
    }
  }

  test("small / large never evaluate the estimate") {
    for ((force, large) <- Seq("small" -> false, "large" -> true)) forced(force) { s =>
      var evaluated = 0
      def estimate: BigInt = { evaluated += 1; BigInt(50) }
      assert(Dispatch.pick(s, "g", 0L)(estimate) == large)
      assert(Dispatch.pick(s, "g", Long.MaxValue)(estimate) == large)
      assert(evaluated == 0, s"$force evaluated the estimate $evaluated times")
      assert(Dispatch.drain(s) == Seq(Dispatch.Decision("g", None, 0L, large),
        Dispatch.Decision("g", None, Long.MaxValue, large)))
      assert(Dispatch.Decision("g", None, 7L, large).toString ==
        s"g estimate=forced threshold=7 branch=$force")
    }
  }

  test("an unknown mode throws, naming it") {
    forced("banana") { s =>
      val e = intercept[IllegalArgumentException](Dispatch.pick(s, "g", 1L)(BigInt(0)))
      assert(e.getMessage.contains("'banana'") && e.getMessage.contains(Dispatch.ForceKey))
    }
  }

  test("the decision record keeps the last MaxKept per session, and drain empties it") {
    forced("auto") { s =>
      for (i <- 0 until Dispatch.MaxKept + 10) Dispatch.pick(s, s"g$i", 1L)(BigInt(0))
      val kept = Dispatch.drain(s)
      assert(kept.size == Dispatch.MaxKept)
      assert(kept.head.name == "g10" && kept.last.name == s"g${Dispatch.MaxKept + 9}")
      assert(Dispatch.drain(s).isEmpty)
    }
  }
}
