package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** Warmup must never break a run (it is best-effort), but a degraded
  * warmup must SAY so: silently swallowing the failure re-absorbs
  * first-compile codegen cost into the first measured query — the
  * bench-anomaly class rounds 3/4 spent turns diagnosing. */
class WarmupSpec extends SparkSpec {

  test("degraded warmup logs to stderr instead of failing the run") {
    val buf = new ByteArrayOutputStream()
    Console.withErr(new PrintStream(buf, true, "UTF-8")) {
      Warmup.run(spark, "/nonexistent/sf-dir")
    }
    val err = buf.toString("UTF-8")
    assert(err.contains("[warmup] DEGRADED"), s"missing degraded notice: $err")
    // one line that counts the failures and names the first: every
    // table under the missing dir fails to resolve, while the queries
    // still warm over the smoke tables
    val lines = err.linesIterator.filter(_.contains("[warmup] DEGRADED")).toList
    assert(lines.size == 1, s"expected one degraded line: $err")
    val Line = """\[warmup\] DEGRADED: (\d+) of (\d+) queries failed \(first: ([^:]+): (.+)\)""".r
    lines.head match {
      case Line(n, total, first, msg) =>
        assert(n.toInt == Tables.all.size, lines.head)
        assert(total.toInt == Tables.all.size + SparkEntry.queries.size, lines.head)
        assert(first == Tables.all.head, lines.head)
        assert(msg.contains("/nonexistent/sf-dir"), lines.head)
      case other => fail(s"malformed degraded line: $other")
    }
  }

  test("healthy warmup is silent and side-effect free") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val buf = new ByteArrayOutputStream()
    Console.withErr(new PrintStream(buf, true, "UTF-8")) {
      Warmup.run(spark, "/root/testdata/sf0.001")
    }
    assert(!buf.toString("UTF-8").contains("DEGRADED"))
    // Warmup runs every suite query and drains after each one, and
    // drain-time release handles are blocking, so the queries' own
    // blocks (IVF index, fixpoint final snapshot, c8 encoding, PageRank
    // edges, LM model) are gone when run() returns. The fixpoint's MID-loop releases of superseded snapshots
    // are intentionally non-blocking (no barrier inside the timed loop),
    // so those removals may still be in flight — allow them a bounded
    // grace period instead of asserting instantaneous cleanup.
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime < deadline) Thread.sleep(100)
    assert(leaked.isEmpty)
  }
}
