package graft
import org.apache.spark.sql.SparkSession
import graft.ops.JsonOut.q

/** Benchmark main (driver contract). Runs every query in
  * `SparkEntry.queries` against $SPARK_GRAFT_SF_DIR and prints ONE JSON
  * line. Fixes from round-1 VERDICT:
  *   - results are written to the `noop` sink, not `.count()`ed, so
  *     Catalyst cannot prune away the projected work being measured;
  *   - an untimed warmup pass of the suite absorbs first-query
  *     session/codegen cost;
  *   - failures surface as `null` per-query values plus a "failures"
  *     list instead of being swallowed as fast successes (r8 ADVICE:
  *     negative sentinels corrupted naive sums).
  *
  * Round-9 (r8 ADVICE): the JSON line is also written to a FILE
  * ($SPARK_GRAFT_BENCH_OUT, default `bench_out.json` in cwd) so the
  * artifact survives sbt stdout truncation, and a System.gc() runs
  * between timed windows — on a 24g single-JVM heap the explode-heavy
  * queries otherwise leave enough garbage that a full GC lands inside
  * the NEXT query's timed window (the r8 4-8× second-iteration spikes).
  *
  * Round-8 (VERDICT r7 #1): the artifact is now self-adjudicating.
  * This virtualized host shows ±30-50% run-to-run variance (r7's driver
  * sample read 170 s where four calm-box runs read 36-45 s), so a
  * single one-shot number cannot defend itself. Each query is therefore
  * timed repeatedly: `queries` keeps the one-shot first-run numbers
  * (and their sum stays the headline `value`, for continuity with
  * BENCH_r1..r7), while `steady` carries the best of two further
  * iterations (r12) — JIT/codegen already rammed, so it approximates
  * the Probe steady state — and `loadavg_start`/`loadavg_end` stamp
  * host contention. A reader seeing first≫steady at high loadavg can
  * attribute the gap to the host, not the engine, without re-running
  * anything. The bench never waits for the host to go idle: on a
  * 4-core box the suite's own previous pass keeps the 1-min loadavg
  * above any fixed gate, so a wait mostly waits on the bench itself.
  * The load stamps and the `window` label carry the contention signal
  * instead, and the best-of-two steady number absorbs it (contention
  * only ever adds time).
  */
object Bench {
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "" }

  /** The run's totals and stamps. Both outputs carry them: the compact
    * stdout line the driver reads, and the tail of the file artifact.
    * Every string goes through [[graft.ops.JsonOut.q]] (an sf dir or a
    * loadavg read may carry any character), and numbers render with
    * `Locale.ROOT` so a comma-decimal locale cannot break the line. */
  private[graft] final case class Totals(value: Double, nOk: Int,
      nFailed: Int, steadyTotal: Double, envelopeTotal: Double,
      loadStart: String, loadEnd: String, window: String,
      failures: Seq[String], sf: String) {
    def stamps: String =
      s""""loadavg_start":${q(loadStart)},"loadavg_end":${q(loadEnd)},""" +
        s""""window":${q(window)},"failures":${failures.map(q).mkString("[", ",", "]")},""" +
        s""""sf":${q(sf)}"""
    def compactLine: String = {
      def f3(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
      s"""{"metric":"total","value":${f3(value)},"unit":"sec","n_ok":$nOk,""" +
        s""""n_failed":$nFailed,"steady_total":${f3(steadyTotal)},""" +
        s""""envelope_total":${f3(envelopeTotal)},$stamps}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.sessionBuilder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    // r15 VERDICT #6: two rounds in a row the checked-in per-round
    // artifact was a loaded-box window that read as a regression until
    // the idle pair was consulted. Mark the artifact itself: the window
    // is "contended" when the 15-min loadavg is >= 1.0 (a high 15-min
    // average means the box was busy for a chunk of the preceding
    // quarter hour and likely still is).
    // Sampled BEFORE the warmup: the signal wanted is FOREIGN load, and
    // at sf>=1 the suite's own multi-minute warmup pushes the 15-min
    // average past 1.0 on a perfectly isolated box (the first sf1 pair
    // started at 15-min 0.98 and would have self-stamped "contended").
    // Readers must prefer an idle artifact of the same build over a
    // contended one (BASELINE.md).
    // "idle" must be EARNED by a real sub-1.0 reading: a failed
    // /proc/loadavg read or parse (non-Linux host) stamps "unknown",
    // never the preferred comparison label (r16 ADVICE).
    val window = try {
      if (loadavg().split(" ")(2).toDouble >= 1.0) "contended" else "idle"
    } catch { case _: Throwable => "unknown" }

    // Untimed warmup: one pass of the whole suite over the smoke tables,
    // in this session, so first runs do not pay first compiles (see
    // graft.Warmup).
    Warmup.run(spark, sfDir)

    val loadStart = loadavg()
    var failures = List.empty[String]
    // Option = success; None = failed (emitted as JSON null, never a
    // negative duration a naive sum would absorb).
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { run(fn); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          if (!failures.contains(name)) failures ::= name
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // outside the timed window: session hygiene, not query work —
      // releases checkpoint blocks the query deferred (ops.Releases),
      // then collects the just-dropped garbage NOW so the pause cannot
      // land inside the next timed window
      graft.ops.Releases.drain()
      System.gc()
      if (ok) Some(sec) else None
    }
    // steady = BEST of two post-warm iterations (r11 VERDICT #7): a
    // contended host only ever ADDS time, so min-of-2 tracks the
    // engine where a single sample tracks the box. Both must succeed
    // for the query to count as ok (min of one failure = None).
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = names.map { case (name, fn) =>
      val first = timed(name, fn)
      val s1 = timed(name, fn)
      val s2 = timed(name, fn)
      val steady = for (a <- s1; b <- s2) yield math.min(a, b)
      (name, first, steady)
    }
    // Whole-suite re-runs + min envelope (r12 VERDICT #5): two rounds
    // running, the single checked-in artifact was the round's WORST
    // same-build sample (r11: 56.1 s artifact over a 48.7-51.3 s
    // engine; r12: 51.9 over 44.1-49.5). The artifact now carries its
    // own distribution: `steady_runs` = the pass-1 steady total plus
    // one post-warm total per extra whole-suite pass, and `envelope` =
    // the per-query MIN across every post-warm sample — the number a
    // reader should quote as the engine's, with the spread right next
    // to it. Extra passes are one iteration per query (JIT/codegen
    // already rammed by pass 1).
    val extraPasses = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt - 1)
    val extras: Seq[Map[String, Option[Double]]] = (1 to extraPasses).map { _ =>
      names.map { case (name, fn) => name -> timed(name, fn) }.toMap
    }
    val loadEnd = loadavg()
    def jnum(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    def jmap(f: ((String, Option[Double], Option[Double])) => Option[Double]): String =
      results.map(r => q(r._1) + ":" + jnum(f(r))).mkString("{", ",", "}")
    val qs = jmap(_._2)
    val st = jmap(_._3)
    // per-query min over ALL post-warm samples (pass-1 steady + extras)
    val envelope: Seq[(String, Option[Double])] = results.map { case (name, _, steady) =>
      val samples = steady.toSeq ++ extras.flatMap(_.getOrElse(name, None))
      name -> (if (samples.isEmpty) None else Some(samples.min))
    }
    val env = envelope.map { case (n, v) => q(n) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    // per-extra-pass per-query samples (r13): lets a reader (and the
    // builder) see WHERE a drifting pass total goes — uniform
    // multiplicative drift is the host/JVM, per-query spikes are a leak
    val passesJson = extras.map { m =>
      names.map { case (n, _) => q(n) + ":" + jnum(m.getOrElse(n, None)) }
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    val envelopeTotal = envelope.flatMap(_._2).sum
    val runTotals = results.flatMap(_._3).sum +: extras.map(_.values.flatten.sum)
    val runsJson = runTotals.map(_.toString).mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val steadyTotal = results.flatMap(_._3).sum
    // n_ok/n_failed (r9 ADVICE): the totals sum only SUCCESSFUL
    // queries, so a round with a failing heavy query would otherwise
    // report a smaller, better-looking total that is silently
    // incomparable with a clean round's — the counts make partial sums
    // self-describing. A query counts ok only if BOTH timed runs
    // succeeded; `value` sums successful FIRST runs and `steady_total`
    // successful STEADY runs, so each sum carries its own count
    // (n_ok_first / n_ok_steady — r10 ADVICE: with only the combined
    // n_ok, neither sum was self-describing when exactly one of a
    // query's two runs failed).
    val nOk = results.count(r => r._2.isDefined && r._3.isDefined)
    val nOkFirst = results.count(_._2.isDefined)
    val nOkSteady = results.count(_._3.isDefined)
    val totals = Totals(total, nOk, results.length - nOk, steadyTotal,
      envelopeTotal, loadStart, loadEnd, window, failures.sorted, sfDir)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","n_ok":$nOk,"n_failed":${results.length - nOk},"n_ok_first":$nOkFirst,"n_ok_steady":$nOkSteady,"protocol":"steady=min of 2 post-warm runs; no idle-wait, load stamps only; steady_runs=whole-suite pass totals, envelope=per-query min over all post-warm samples (r13)","queries":$qs,"steady":$st,"steady_total":$steadyTotal,"steady_runs":$runsJson,"pass_queries":$passesJson,"envelope":$env,"envelope_total":$envelopeTotal,${totals.stamps}}"""
    // The full diagnostic object above is ~16 KB at 101 queries (first +
    // steady + per-pass + envelope maps), and a reader that keeps only
    // the last few KB of stdout truncates it mid-line. So stdout gets a
    // compact line of totals only (value, counts, steady and envelope
    // totals, load stamps, window, failures, sf; ~300 chars without
    // failures), and the full object, with every per-query map, goes to
    // the file artifact ($SPARK_GRAFT_BENCH_OUT). Nothing is measured
    // differently; only where each representation lands.
    println(totals.compactLine)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
