package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: the LAST stdout line is ONE compact
  * JSON object `{"metric":"total","value":N,"unit":"sec","complete":B,
  * "degraded":B,"sf":"…","errors":[…]}` — and NOTHING per-query. Rounds 4 and 5 both
  * lost driver-side perf tracking because the per-query map (~4.5 KB at
  * 106 queries) was kept on that line and the driver's 2000-char tail
  * capture truncated the head. Per-query times + telemetry live ONLY in
  * the file artifact (SPARK_GRAFT_BENCH_OUT, default bench_out.json);
  * the compact line is printed last, after spark.stop(), so no log noise
  * can follow it.
  *
  * Methodology (round-4 hardening — the r3 driver run recorded 5-11x
  * outliers on queries whose code and plans were byte-identical to their
  * fast r2 selves, i.e. measurement noise, not plan cost):
  *  - every pass drives each query through [[Harness.consume]] (a noop-
  *    sink write of every output column, so no join is dead code and the
  *    timed plan is the plan that produces the result; the file artifact
  *    says `"consumer":"noop"`);
  *  - one untimed warm-up pass (JVM/codegen/scan setup + session caches);
  *  - N timed passes (SPARK_GRAFT_BENCH_RUNS, default 3), per-query
  *    seconds = min across passes — steady-state cost, robust to a GC
  *    pause or OS hiccup landing in one pass;
  *  - a query that THROWS in a timed pass records null for that pass (and
  *    an error flag in telemetry) instead of masquerading as a fast run;
  *  - per-query telemetry in the file artifact (gc_ms = driver-JVM GC
  *    time attributed to the query's first timed pass, cached_mb =
  *    block-manager storage in use after it, raw runs[] so the min is
  *    auditable) so an anomalous figure is diagnosable from the artifact.
  */
object Bench {
  import Harness.jstr

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** 1-minute system load average (-1.0 where the platform hides it) —
    * sampled at bench start and end so a contended run is visible in
    * the artifact itself instead of re-litigated from PERF.md narrative
    * every round (the r10/r11/r12 adjudication tax). */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** MACHINE-EPOCH probe: a fixed, registry-independent CPU workload
    * (xxhash64 folded over a 200M range, 32 fixed slices) timed in the
    * same session as the bench — the r11 controlled-A/B trick made a
    * permanent part of the artifact. Two runs of the SAME code on the
    * same data whose probe times differ by the same factor as their
    * totals are the same plan on a different machine epoch; a total
    * that moves while the probe holds is a real regression. min of 3
    * in-session repeats (same robustness argument as the per-query
    * min). Comparable only between runs with equal `cpus` — recorded
    * alongside. */
  private def epochProbeSecs(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        .select(xxhash64(col("id")).as("h"))
        // xor fold: order-free and can never overflow (a SUM of full-
        // range hashes trips ANSI long-overflow within one partition)
        .agg(expr("bit_xor(h)")).head()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Load gate limits (see `main`): the highest 1-minute load average
    * at bench start, the slowest post-warm-up epoch probe, and how many
    * times each gate sleeps and re-probes before the run is stamped
    * `degraded`. */
  private val MaxLoad = 4.0
  private val MaxProbe = 0.12
  private val GateRetries = 3
  private val GateSleepSecs = 45

  private def storageMb(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024 * 1024)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    // LOAD GATE (r15 — closes the r14 adjudication hole: every r14
    // artifact landed on a ~2.6× slower machine epoch, so "did this
    // round make it faster?" had no evidence either way; the artifact
    // recorded the epoch honestly but never ACTED on it). Two gates:
    //
    //  1. PRE-WARMUP, on the 1-minute load average only (the r14 driver
    //     run started at load 10.38 — its own artifact). The START epoch
    //     probe is deliberately NOT gated: measured across all 15 dated
    //     artifacts it reads 0.18–0.38 s on fast AND slow epochs alike
    //     (JVM/JIT warm-up dominates it), so it cannot discriminate.
    //  2. POST-WARMUP, on a FRESH epoch probe taken after the warm-up
    //     pass — the steady-state reading that DOES discriminate
    //     (fast band 0.067–0.087 s, r14's slow epoch 0.10–0.16 s) —
    //     immediately before the timed passes, which are all that
    //     matters for comparability.
    //
    // Each gate sleeps and re-probes a bounded number of times; if the
    // machine never cools, the run proceeds but `degraded:true` is
    // stamped on BOTH the compact line and the file artifact so no
    // consumer mistakes a contended total for a regression (or a
    // parity) again. Every attempt lands in the artifact's gate trail.
    var gateAttempts = List.empty[(String, Double, Double)] // newest first
    def gate(phase: String, hot: () => Boolean,
        sample: () => (Double, Double)): Boolean = {
      var s = sample(); gateAttempts ::= ((phase, s._1, s._2))
      var retriesLeft = GateRetries
      var isHot = hot()
      while (isHot && retriesLeft > 0) {
        System.err.println(f"[bench] $phase gate hot (load=${s._1}%.2f " +
          f"probe=${s._2}%.3fs; limits load $MaxLoad%.1f / warm probe " +
          f"$MaxProbe%.2fs) — sleeping ${GateSleepSecs}s " +
          s"($retriesLeft retries left)")
        Thread.sleep(GateSleepSecs * 1000L)
        retriesLeft -= 1
        s = sample(); gateAttempts ::= ((phase, s._1, s._2))
        isHot = hot()
      }
      isHot
    }
    var lastLoad = -1.0
    var lastProbe = -1.0
    val hotPre = gate("pre_warmup",
      () => lastLoad >= 0 && lastLoad > MaxLoad,
      () => { lastLoad = loadAvg; lastProbe = epochProbeSecs(spark)
              (lastLoad, lastProbe) })
    val loadStart = lastLoad
    val probeStart = lastProbe
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // Warm-up pass: the first run of each query pays 0.5-2 s of one-time
    // JVM/codegen/scan-setup cost at local[*], which dominates sub-second
    // queries and made round-2 totals swing 46 s vs 66.9 s run-to-run.
    // The timed passes below measure steady-state per-query cost; shared
    // cached frames (taxi pipeline, shingles) warm exactly once, like any
    // long-lived session. NonFatal only: a fatal JVM error (OOM,
    // LinkageError) must propagate, not leave a compromised JVM timing
    // the passes below.
    queries.foreach { case (_, fn) =>
      try Harness.consume(fn(spark, sfDir)) catch { case NonFatal(_) => () }
    }
    // gate 2: the post-warmup probe is the first epoch reading taken in
    // a hot JVM — the only one comparable across rounds; it guards the
    // timed passes below. PROBE-ONLY by design: the load average here is
    // self-induced (the warm-up pass just saturated every core — measured
    // 9.07 decaying to 2.04 over the retry sleeps), so gating on it
    // burns bounded-retry sleeps on our own wake and would stamp
    // `degraded` on an idle machine; the probe measures what the timed
    // passes will actually see.
    val hotWarm = gate("post_warmup",
      () => lastProbe > MaxProbe,
      () => { lastLoad = loadAvg; lastProbe = epochProbeSecs(spark)
              (lastLoad, lastProbe) })
    val probeWarm = lastProbe
    val degraded = hotPre || hotWarm
    if (degraded)
      System.err.println("[bench] gate exhausted — running DEGRADED " +
        "(artifact is stamped; totals are not comparable to a fast epoch)")
    val gateJson = gateAttempts.reverse
      .map { case (ph, l, p) =>
        s"""{"phase":${jstr(ph)},"load_avg":$l,"probe_secs":$p}""" }
      .mkString("[", ",", "]")
    // 3 passes ≈ +30 s wall for a min() that survives one contended pass
    // AND one GC/compaction hiccup — the r3 recorded figure was wrecked by
    // exactly that class of noise
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    // pass-major order (every query once, then again) so back-to-back
    // repeats don't share a warmer cache than the single-pass queries see.
    // Per (query, pass): Right(seconds) on success, Left(error) on throw —
    // a failing query must never contribute a deceptively fast "time".
    val timesPerRun: Seq[Map[String, (Either[String, Double], Long, Long)]] =
      (0 until runs).map { _ =>
        queries.map { case (name, fn) =>
          val g0 = gcMs
          val t0 = System.nanoTime()
          val r: Either[String, Double] =
            try { Harness.consume(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
            catch { case NonFatal(e) =>
              Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
          name -> ((r, gcMs - g0, storageMb(spark)))
        }.toMap
      }
    // per-query min over SUCCESSFUL passes; None when every pass failed
    val results: Seq[(String, Option[Double])] = queries.map { case (name, _) =>
      val ok = timesPerRun.flatMap(_(name)._1.toOption)
      name -> (if (ok.isEmpty) None else Some(ok.min))
    }
    val errors = results.collect { case (n, None) => n }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(_.toString) }.mkString("{", ",", "}")
    // `value` sums SUCCESSFUL queries only, so on a partial run it would
    // read as a round-over-round speedup — `complete` makes a broken run
    // unmistakable to any consumer comparing totals, and the errors array
    // names the culprits
    val total = results.flatMap(_._2).sum
    val complete = errors.isEmpty
    if (!complete)
      System.err.println(s"[bench] INCOMPLETE: ${errors.size} queries failed " +
        s"every pass (${errors.mkString(", ")}) — total excludes them")
    // Compact stdout line: NO per-query map. At 106+ queries the map alone
    // is ~4.5 KB and overflowed the driver's 2000-char tail capture in r4
    // AND r5, truncating the head (`"metric":"total"`) and leaving
    // `"parsed": null`. The map lives only in the file artifact below.
    // The errors array is CAPPED too — a mass-failure run (the case where
    // complete:false matters most) would otherwise put a KB of query
    // names on this line and re-trigger the same truncation; the full
    // list is in the file artifact. Line stays ≤ ~400 chars always.
    val errsCompact =
      (errors.take(3).map(jstr) ++
        (if (errors.size > 3) Seq(jstr(s"...and ${errors.size - 3} more")) else Nil))
        .mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","complete":$complete,"degraded":$degraded,"n_errors":${errors.size},"sf":"$sfDir","errors":$errsCompact}"""
    val telemetry = queries.map { case (name, _) =>
      val (_, gc, mb) = timesPerRun.head(name)
      val all = timesPerRun.map(_(name)._1.fold(_ => "null", _.toString))
        .mkString("[", ",", "]")
      val errs = timesPerRun.flatMap(_(name)._1.left.toOption).distinct
      val errField =
        if (errs.isEmpty) ""
        else s""","errors":${errs.map(jstr).mkString("[", ",", "]")}"""
      s""""$name":{"gc_ms":$gc,"cached_mb":$mb,"runs":$all$errField}"""
    }.mkString("{", ",", "}")
    // end-of-run machine context: the probe repeats AFTER the timed
    // passes so a mid-run epoch shift (another tenant landing) shows as
    // start/end probe divergence inside one artifact
    val probeEnd = epochProbeSecs(spark)
    val loadEnd = loadAvg
    val machine =
      s""""cpus":${Harness.cpus},"codegen_cache_entries":${Harness.CodegenCacheEntries},"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"epoch_probe_secs_start":$probeStart,"epoch_probe_secs_warm":$probeWarm,"epoch_probe_secs_end":$probeEnd,"degraded":$degraded,"gate_attempts":$gateJson"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","complete":$complete,"queries":$qs,"sf":"$sfDir","errors":${errors.map(jstr).mkString("[", ",", "]")},"consumer":"noop","runs":$runs,"heap_mb":$maxHeapMb,$machine,"telemetry":$telemetry}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.writeString(Paths.get(out), full + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] file write failed: $e") }
    // dated side copy: the driver run overwrites bench_out.json, which
    // cost r10 and r12 their in-round per-query snapshots — every run
    // also lands under bench_runs/ with a UTC timestamp, so any two runs
    // remain diffable after the fact
    try {
      Files.writeString(
        Harness.datedRunPath(Paths.get(out).toAbsolutePath.getParent, "bench"),
        full + "\n")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] dated copy failed: $e") }
    spark.stop()
    // the driver greps stdout's tail for this line — it must be LAST
    println(compact)
  }
}
