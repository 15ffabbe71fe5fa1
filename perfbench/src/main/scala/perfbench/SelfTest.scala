package perfbench

/** Self-tests of the harness's own arithmetic; exits 1 on a failure.
  * The planted-fault test needs a whole run and lives in `run.py
  * --self-test`. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // tail rule: the highest order statistic with >= 10 samples above it
    for ((n, want, pct) <- Seq((11, 1.0, 100.0 / 11), (20, 10.0, 50.0), (100, 90.0, 90.0),
                              (1000, 990.0, 99.0))) {
      val t = Stats.tail((1 to n).map(_.toDouble).reverse)
      check(s"tail of $n samples", t.value == want && t.beyond == 10 &&
        math.abs(t.percentile - pct) < 1e-9, s"got $t")
    }
    val small = Stats.tail(Seq(3.0, 1.0, 2.0))
    check("tail of 3 samples is the unsupported maximum",
      small.value == 3.0 && small.beyond == 0 && small.percentile == 100.0, s"got $small")
    check("median of even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "")

    // attribution: chunk 7 is due at 1.5 s and lands while drain A
    // (1.0–4.0 s) runs; A's file listing predates it, so its marker is
    // committed by drain B (4.0–6.0 s) and its latency runs to B's end
    val s = 1000000000L
    val a = Drain(1 * s, 4 * s, Set(6), failed = false)
    val b = Drain(4 * s, 6 * s, Set(7), failed = false)
    val got = Drive.attribute(Map(6 -> 1 * s / 2, 7 -> 3 * s / 2), Seq(a, b))
    check("chunk landing during a drain is charged to the next drain",
      got == Right(Map(6 -> (4 * s - s / 2), 7 -> (6 * s - 3 * s / 2))), s"got $got")
    check("a chunk committed twice is an error",
      Drive.attribute(Map(6 -> 0L), Seq(a, a)).isLeft, "accepted")
    check("a chunk never committed is an error",
      Drive.attribute(Map(8 -> 0L), Seq(a, b)).isLeft, "accepted")

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
