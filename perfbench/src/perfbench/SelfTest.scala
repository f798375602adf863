package perfbench

/** The benchmark's own test, no Spark needed: a call that throws is
  * counted as attempted and failed under its error class, is not a
  * latency sample, and turns the result incorrect.
  */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val ops = new Ops
    expect(ops.call("read")(21 * 2).contains(42), "a returning call yields its value")
    val thrown: Option[Int] = ops.call("read")(throw new IllegalStateException("injected"))
    expect(thrown.isEmpty, "a throwing call yields no value")
    ops.call("write")(Thread.sleep(5))
    expect(ops.attempted == 3, s"attempted=${ops.attempted}, want 3")
    expect(ops.failed == 1, s"failed=${ops.failed}, want 1")
    expect(ops.errors == Map("java.lang.IllegalStateException" -> 1L),
      s"errors=${ops.errors}")
    expect(ops.ms("read").size == 1, s"read samples=${ops.ms("read")}, want 1")
    expect(ops.ms("write").forall(_ >= 5.0), "latency is measured in ms")
    expect(math.abs(ops.failRatio - 1.0 / 3) < 1e-12, s"fail_ratio=${ops.failRatio}")

    val r = new Report
    r.put("op_p50_ms", Stats.median(ops.ms("read", "write")), "ms")
    val line = r.json(correct = ops.failed == 0, ops.attempted, ops.failed, Seq("op_p50_ms"))
    expect(line.startsWith("""{"correct": false, "attempted": 3, "failed": 1, """), line)

    expect(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5, "median interpolates")
    expect(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6, "p90 interpolates")
    println("perfbench self-test passed: the injected failure is counted, not timed")
  }
}
