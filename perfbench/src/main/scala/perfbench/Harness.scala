package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `run.py` generates the inputs, then starts it as
  *
  *   perfbench.Harness <workload> <workDir> <seconds> <trace 0|1>
  *
  * Every iteration runs in a fresh session (SparkContext included), so the
  * program's session caches start cold; between iterations every persisted
  * RDD is unpersisted and outputs go to a fresh directory.
  *
  * Both modes start with one set-up round, timed from JVM entry: a fresh
  * session plus one untimed warm-up iteration, so it pays session start,
  * class loading and JIT (`setup_s`).
  *
  * Untraced (trace 0): then timed iterations, at least one, until
  * `seconds` have passed. Reports the end-to-end metrics.
  *
  * Traced (trace 1): then pairs of untraced and traced iterations for
  * `seconds` and one more untraced iteration (traced = a per-job-group
  * task-metric listener and spans around each call), then one iteration
  * decomposed into stages
  * by prefix differencing. Reports the per-layer metrics, the
  * reconciliation of stage self-times against the traced end-to-end time,
  * and the tracing overhead against the untraced iterations. Spans are
  * written to `<workDir>/spans.json` at exit.
  *
  * Both modes end with the workload's reference result, if it has one
  * (an untimed second result for an input the iterations cover once).
  * Every result over the same input must carry the same fingerprint.
  *
  * Writes `<workDir>/result.json`: attempted/failed iteration counts, the
  * check failures, the metrics and a raw-sample artifact. */
object Harness {
  private val entryNs = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val Array(wname, work, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val w = Workload(wname, work)
    val spans = new Spans(s"$wname-${java.util.UUID.randomUUID().toString.take(8)}")
    val failures = ArrayBuffer.empty[String]
    val fingerprints = ArrayBuffer.empty[(String, String, String)]
    var attempted = 0
    var failed = 0

    /** One iteration in a fresh session. Returns the outcome, the seconds
      * since `t0`, and the engine/session-cache readings; None if it threw. */
    def session(kind: String, traced: Boolean, t0: Long = System.nanoTime())(
        body: (SparkSession, String, Option[Traced]) => Outcome)
        : Option[(Outcome, Double, Map[String, Double])] = {
      attempted += 1
      val id = s"$kind-$attempted"
      val out = s"$work/out/$id"
      val spark = Session.start(cores, work)
      val tr = if (traced) {
        val l = new GroupListener
        spark.sparkContext.addSparkListener(l)
        Some(new Traced(spans, l, id))
      } else None
      val gc0 = Proc.gcSeconds
      val (r0, w0) = Proc.io
      try {
        // a traced session is the root span of the calls made in it
        val o = Spans.timed(tr.map(_.spans), id, "")(body(spark, out, tr))._1
        val since = Workload.seconds(t0)
        val (r1, w1) = Proc.io
        val (rdds, mb) = Session.cacheFootprint(spark)
        val engine = tr.map { t =>
          JobGroup.drain(spark)
          val g = t.listener.all
          Map("spark.jobs" -> g.jobs.toDouble, "spark.tasks" -> g.tasks.toDouble,
            "spark.task_s" -> g.taskSeconds,
            "spark.shuffle_bytes" -> g.shuffleBytes.toDouble,
            "spark.spill_bytes" -> g.spillBytes.toDouble)
        }.getOrElse(Map.empty) ++ Map(
          "jvm.gc_s" -> (Proc.gcSeconds - gc0),
          "io.read_bytes" -> (r1 - r0).toDouble, "io.write_bytes" -> (w1 - w0).toDouble,
          "session_cache.persisted_rdds" -> rdds.toDouble,
          "session_cache.persisted_mb" -> mb)
        System.err.println(f"[harness] $id: ${o.wallS}%.3f s timed, $since%.3f s in all")
        failures ++= o.failures.map(f => s"$id: $f")
        if (o.failures.nonEmpty) failed += 1
        if (o.fingerprint.nonEmpty) fingerprints += ((id, o.input, o.fingerprint))
        Some((o, since, engine))
      } catch {
        case NonFatal(e) =>
          failures += s"$id threw: $e"
          failed += 1
          e.printStackTrace()
          None
      } finally {
        Session.release(spark)
        Tree.delete(out)
      }
    }

    def iterate(kind: String, traced: Boolean) =
      session(kind, traced)((s, out, t) => w.iteration(s, out, t))

    val setup = session("setup", traced = false, entryNs)((s, out, _) => w.warmup(s, out))
      .map(_._2)

    val metrics = LinkedHashMap.empty[String, Double]
    val artifact = LinkedHashMap[String, Any]("setup_s" -> setup)
    val started = System.nanoTime()
    def more(done: Int) = done < 1 || Workload.seconds(started) < seconds

    if (!trace) {
      val its = ArrayBuffer.empty[Outcome]
      var tried = 0
      while (more(tried)) {
        tried += 1
        iterate("timed", traced = false).foreach(its += _._1)
      }
      val walls = its.map(_.wallS).toSeq
      val batches = its.flatMap(_.latencies).toSeq
      metrics ++= Seq(
        "setup_s" -> setup.getOrElse(0.0),
        "records_per_s" -> (if (walls.nonEmpty) w.records / Quant.median(walls) else 0.0),
        "batch_p50_s" -> Quant.median(batches))
      artifact ++= Seq("iterations_s" -> walls, "batches_s" -> batches,
        "batch_samples" -> batches.size)
    } else {
      val plain = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[(Outcome, Double, Map[String, Double])]
      var pairs = 0
      while (more(pairs)) {
        pairs += 1
        iterate("untraced", traced = false).foreach(plain += _._1.wallS)
        iterate("traced", traced = true).foreach(traced += _)
      }
      // iterations still speed up as the JVM warms, so untraced ones on both
      // sides of the traced ones keep run order out of the overhead
      iterate("untraced", traced = false).foreach(plain += _._1.wallS)
      val e2e = Quant.median(traced.map(_._1.wallS).toSeq)
      // the traced iteration nearest the median supplies the layer readings
      val rep = traced.sortBy(x => math.abs(x._1.wallS - e2e)).headOption
      rep.foreach { case (o, _, engine) => metrics ++= o.layers ++ engine }
      val stages = session("decompose", traced = true) { (s, out, t) =>
        Outcome(0.0, Nil, "", "", w.decompose(s, out, t.get, cores))
      }.map(_._1.layers).getOrElse(Map.empty)
      metrics ++= stages
      // the self-times of the iteration's own stages, else of its batches
      val ownStages = stages.keys.exists(_.startsWith(w.layer + "."))
      val selfSum =
        if (ownStages) Workload.selfSum(w.layer, stages)
        else rep.map(_._1.batches.sum).getOrElse(0.0)
      if (ownStages) metrics += s"${w.layer}.unattributed_s" -> (e2e - selfSum)
      val untraced = Quant.median(plain.toSeq)
      metrics ++= Seq(
        "jvm.peak_rss_mb" -> Proc.peakRssMb,
        "trace.e2e_s" -> e2e,
        "trace.self_sum_s" -> selfSum,
        "trace.reconcile_ratio" -> (if (e2e > 0) selfSum / e2e else 0.0),
        "trace.overhead_ratio" -> (if (untraced > 0) e2e / untraced - 1.0 else 0.0))
      artifact ++= Seq("untraced_s" -> plain.toSeq, "traced_s" -> traced.map(_._1.wallS).toSeq)
      Files.write(Paths.get(s"$work/spans.json"), spans.toJson.getBytes(StandardCharsets.UTF_8))
    }

    w.reference.foreach(f => session("reference", traced = false)((s, out, _) => f(s, out)))
    val mismatched = Checks.fingerprintMismatches(fingerprints.toSeq)
    if (mismatched.nonEmpty) {
      failures ++= mismatched
      failed = attempted
    }
    artifact ++= Seq(
      "workload" -> w.name, "trace" -> trace, "cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "fingerprints" -> fingerprints.map { case (id, in, fp) => s"$id $in $fp" }.toSeq,
      "input" -> w.stamp)
    val result = Json.obj(
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq, "metrics" -> metrics.toMap,
      "artifact" -> artifact.toMap)
    Files.write(Paths.get(s"$work/result.json"), result.getBytes(StandardCharsets.UTF_8))
  }
}

object Checks {
  /** One message per input whose results (id, input, fingerprint) do not
    * all carry the same fingerprint. */
  def fingerprintMismatches(results: Seq[(String, String, String)]): Seq[String] =
    results.groupBy(_._2).toSeq.sortBy(_._1).collect {
      case (input, rs) if rs.map(_._3).distinct.size > 1 =>
        s"output fingerprint over $input differs across results: " +
          rs.map { case (id, _, fp) => s"$id=$fp" }.mkString(", ")
    }
}
