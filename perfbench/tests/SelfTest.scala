package perfbench

/** Harness self-test: an op that throws and an op whose output check fails
  * both count as attempted and failed, lower the ok ratio, and never
  * contribute a time. Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) { failures += 1; System.err.println("FAIL: " + what) }

  def main(args: Array[String]): Unit = {
    val tally = new Harness.Tally
    val ops: Seq[(() => Unit, () => Option[String])] = Seq(
      (() => Thread.sleep(5), () => None),
      (() => { Thread.sleep(50); throw new IllegalStateException("boom") }, () => None),
      (() => Thread.sleep(50), () => Some("wrong row count")),
      (() => Thread.sleep(50), () => throw new RuntimeException("check crashed")),
      (() => Thread.sleep(5), () => None))
    var i = 0
    val rounds = Harness.closedLoop(ops.size, limitS = 60.0, System.nanoTime()) { () =>
      val (op, check) = ops(i)
      tally.add(Harness.attempt(op, check))
      i += 1
    }
    expect(rounds == ops.size, s"closed loop ran $rounds of ${ops.size} ops")
    expect(tally.attempted == 5, s"attempted ${tally.attempted}, expected 5")
    expect(tally.failures.size == 3, s"failed ${tally.failures.size}, expected 3")
    expect(tally.times.size == 2, s"${tally.times.size} times recorded, expected 2")
    expect(tally.times.forall(_ < 0.045), s"a failed op's time leaked into ${tally.times}")
    expect(math.abs(tally.okRatio - 0.4) < 1e-12, s"ok ratio ${tally.okRatio}, expected 0.4")
    expect(tally.failures.exists(_.contains("boom")), "the thrown cause is not reported")
    expect(tally.failures.exists(_.contains("wrong row count")), "the check's cause is not reported")

    // the time limit stops a loop early, but never before its first round
    val cut = Harness.closedLoop(100, limitS = 0.05, System.nanoTime()) { () => Thread.sleep(20) }
    expect(cut >= 2 && cut <= 4, s"a 0.05 s limit let $cut rounds of 20 ms run")
    expect(Harness.closedLoop(5, limitS = 0.0, System.nanoTime()) { () => () } == 1, "no first round")

    expect(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median")
    expect(Harness.quantile(Seq(0.0, 10.0), 0.9) == 9.0, "quantile interpolation")
    expect(Harness.driftRatio(Seq(1.0, 1.0, 1.0, 2.0, 2.0, 2.0)) == 2.0, "drift ratio")
    // self time: a 10 ms span with children covering 2-5 and 4-7 ms
    val ms = 1000000L
    expect(Tracer.uncoveredMs(0, 10 * ms, Seq((2 * ms, 5 * ms), (4 * ms, 7 * ms))) == 5.0, "self time")

    if (failures > 0) sys.exit(1)
    println("perfbench self-test: ok")
  }
}
