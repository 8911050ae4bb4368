package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout line and Verify's `run_meta.json` must stay
  * machine-parseable JSON whatever the sf dir carries — the dir path and
  * the load stamps interpolate into both. Parsed back with json4s (ships
  * with Spark) so "valid" means a real parser accepts it. */
class SuiteJsonSpec extends AnyFunSuite {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse

  private val hostile = "/data/sf\"0.01\\x\ty"

  test("Bench's compact line survives a hostile sf dir (quote, backslash, tab)") {
    val t = Bench.Totals(value = 12.5, nOk = 100, nFailed = 1,
      steadyTotal = 10.25, envelopeTotal = 9.0,
      loadStart = "0.50 0.40 0.30 1/200 42", loadEnd = "0.60 0.45 0.31 2/201 43",
      window = "idle", failures = Seq("q\"x", "v2_entry"), sf = hostile)
    val j = parse(t.compactLine)
    assert((j \ "sf") == JString(hostile))
    assert((j \ "n_ok") == JInt(100))
    assert((j \ "n_failed") == JInt(1))
    assert((j \ "value") == JDouble(12.5))
    assert((j \ "steady_total") == JDouble(10.25))
    assert((j \ "envelope_total") == JDouble(9.0))
    assert((j \ "loadavg_start") == JString("0.50 0.40 0.30 1/200 42"))
    assert((j \ "loadavg_end") == JString("0.60 0.45 0.31 2/201 43"))
    assert((j \ "window") == JString("idle"))
    assert((j \ "failures") == JArray(List(JString("q\"x"), JString("v2_entry"))))
    // the file artifact ends in the same fields
    val tail = parse("{" + t.stamps + "}")
    assert((tail \ "sf") == JString(hostile))
  }

  test("Verify's run_meta survives a hostile sf dir and build commit") {
    val j = parse(Verify.runMeta(hostile, cpus = 4, shufflePartitions = 8,
      sparkVersion = "4.1.0", buildCommit = "ref\tunknown"))
    assert((j \ "sf_dir") == JString(hostile))
    assert((j \ "cpus") == JInt(4))
    assert((j \ "shuffle_partitions") == JInt(8))
    assert((j \ "codegen_cache_max_entries") == JInt(SparkEntry.CodegenCacheEntries))
    assert((j \ "spark_version") == JString("4.1.0"))
    assert((j \ "build_commit") == JString("ref\tunknown"))
  }
}
