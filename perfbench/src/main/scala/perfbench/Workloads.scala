package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import graft.etl.{CsvSource, Dedup, EtlConfig, Normalize, ParseValidate, Pipeline, Sinks, Stats}
import graft.ext.TextOps
import graft.streaming.StreamingOps

/** What one iteration produced: its timed seconds, output-check failures,
  * the input it ran over and a fingerprint of its output (every outcome
  * over the same input must carry the same fingerprint), per-layer
  * readings and, for a stream, per-batch seconds. */
final case class Outcome(
    wallS: Double,
    failures: Seq[String],
    input: String,
    fingerprint: String,
    layers: Map[String, Double] = Map.empty,
    batches: Seq[Double] = Nil) {
  /** Per-batch latencies: a stream's micro-batches, else the iteration. */
  def latencies: Seq[Double] = if (batches.nonEmpty) batches else Seq(wallS)
}

/** Tracing context of one traced session: spans, the per-group listener
  * and the parent span name for calls made under it. */
final class Traced(val spans: Spans, val listener: GroupListener, val parent: String) {
  /** Time `body` as a span and job group `name`; returns its seconds and
    * the group's task metrics (after draining the listener bus). */
  def call[T](spark: SparkSession, name: String)(body: => T): (T, Double, GroupTotals) = {
    val (out, s) = spans.record(name, parent)(JobGroup(spark, name)(body))
    JobGroup.drain(spark)
    (out, s.seconds, listener.group(name))
  }
}

trait Workload {
  def name: String
  /** Prefix of the per-layer metrics of the program layer it exercises. */
  def layer: String
  /** Input records (lines or documents) one timed iteration processes. */
  def records: Long
  /** The untimed warm-up iteration of the set-up round. */
  def warmup(spark: SparkSession, out: String): Outcome = iteration(spark, out, None)
  /** One end-to-end iteration; when traced, its calls run under job groups. */
  def iteration(spark: SparkSession, out: String, traced: Option[Traced]): Outcome
  /** Per-stage self-times by prefix differencing (empty when the workload
    * has no stage decomposition). */
  def decompose(spark: SparkSession, out: String, t: Traced, cores: Int): Map[String, Double] =
    Map.empty
  /** An untimed second result for an input that the run's iterations
    * cover only once, so its fingerprint still has something to match. */
  def reference: Option[(SparkSession, String) => Outcome] = None
  def stamp: Map[String, Any]
}

object Workload {
  def apply(name: String, work: String): Workload = {
    val input = s"$work/input"
    val exp = Json.readFlat(s"$input/expected.json")
    name match {
      case "etl_stream" => new EtlStream(s"$input/stream", s"$input/stream.csv", exp)
      case "curate" => new Curate(s"$input/corpus", exp)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Stage self-times from cumulative prefix readings: stage k's numbers
    * are prefix k minus prefix k-1. */
  def differenced(prefix: String, cores: Int,
      stages: Seq[(String, Double, GroupTotals)]): Map[String, Double] = {
    val self = stages.zip((("", 0.0, GroupTotals())) +: stages).map {
      case ((n, s, g), (_, s0, g0)) => (n, s - s0, g - g0)
    }
    selfMetrics(prefix, cores, self)
  }

  /** Sum of the stage self-times `<prefix>.<stage>.s` in `metrics`. */
  def selfSum(prefix: String, metrics: Map[String, Double]): Double =
    metrics.collect { case (k, v) if k.startsWith(prefix + ".") && k.endsWith(".s") => v }.sum

  /** Wall seconds, task seconds, core utilization (task seconds per
    * wall second per core), shuffle and spill bytes and jobs per stage. */
  def selfMetrics(prefix: String, cores: Int,
      stages: Seq[(String, Double, GroupTotals)]): Map[String, Double] =
    stages.flatMap { case (n, s, g) =>
      Seq(s"$prefix.$n.s" -> s, s"$prefix.$n.task_s" -> g.taskSeconds,
        s"$prefix.$n.core_util" -> (if (s > 0) g.taskSeconds / (s * cores) else 0.0),
        s"$prefix.$n.shuffle_bytes" -> g.shuffleBytes.toDouble,
        s"$prefix.$n.spill_bytes" -> g.spillBytes.toDouble,
        s"$prefix.$n.jobs" -> g.jobs.toDouble)
    }.toMap
}

/** The batch path: `Pipeline.run` (what `EtlMain` calls) over one headed
  * taxi CSV into a parquet trips sink, the duplicates CSV and the six
  * counters. Outcomes name their input `tag`. */
final class TaxiBatch(input: String, expected: Map[String, String], tag: String) {
  private def config(out: String) = EtlConfig(inputCsvPath = input,
    duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips")

  def run(spark: SparkSession, out: String): Outcome = {
    val t0 = System.nanoTime()
    val stats = Pipeline.run(spark, config(out))
    val wall = Workload.seconds(t0)
    val (n, fp) = Fingerprint(spark.read.parquet(s"$out/trips"))
    val dupRows = spark.read.option("header", "true").csv(s"$out/duplicates").count()
    Outcome(wall, EtlChecks.counters(stats, expected) ++
      EtlChecks.equal("trips rows", n, stats.inserted) ++
      EtlChecks.equal("duplicates.csv rows", dupRows, stats.duplicatesFileRows),
      tag, fp)
  }

  /** Stage self-times by prefix differencing, plus `etl.unattributed_s`
    * against one traced `Pipeline.run` made first in the same session. */
  def decompose(spark: SparkSession, out: String, t: Traced, cores: Int): Map[String, Double] = {
    val e2e = t.call(spark, "etl.e2e")(Pipeline.run(spark, config(s"$out/e2e")))._2
    val c = config(out)
    def read() = CsvSource.read(spark, c.inputCsvPath, c.delimiter)
    def parsed() = ParseValidate.parse(read(), c.inputDateTimeFormat)
    def normalized() = Normalize.normalize(parsed(), c.enableTimeZoneConversion, c.inputTimeZoneId)
    def stage(group: String, name: String)(body: => Unit) = {
      val (_, s, g) = t.call(spark, group)(body)
      (name, s, g)
    }
    def prefix(name: String)(body: => Unit) = stage(s"etl.prefix.$name", name)(body)
    // annotate() runs the source's plan-time jobs, so it is forced inside
    // the persist prefix like the other prefixes' reads
    lazy val annotated = Pipeline.annotate(spark, c).persist(StorageLevel.MEMORY_AND_DISK)
    val prefixes = Seq(
      prefix("source")(Workload.noop(read())),
      prefix("parse_validate")(Workload.noop(parsed())),
      prefix("normalize")(Workload.noop(normalized())),
      prefix("dedup")(Workload.noop(Dedup.withFirstWins(normalized()))),
      prefix("persist")(annotated.count()))
    val sinks = Seq(
      stage("etl.sink_inserted", "sink_inserted")(Sinks.writeInserted(annotated, c.insertedPath)),
      stage("etl.sink_duplicates", "sink_duplicates")(
        Sinks.writeDuplicates(annotated, c.duplicatesCsvPath)),
      stage("etl.stats", "stats")(Stats.compute(annotated)))
    annotated.unpersist()
    val stages = Workload.differenced("etl", cores, prefixes) ++
      Workload.selfMetrics("etl", cores, sinks)
    stages + ("etl.unattributed_s" -> (e2e - Workload.selfSum("etl", stages)))
  }
}

object EtlChecks {
  def equal(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  def counters(s: Stats.EtlStats, exp: Map[String, String]): Seq[String] =
    Seq("total" -> s.total, "parsed" -> s.parsed, "invalid" -> s.invalid,
      "duplicates" -> s.duplicates, "inserted" -> s.inserted,
      "duplicatesFile" -> s.duplicatesFileRows)
      .flatMap { case (k, got) => equal(s"counter $k", got, exp(k).toLong) }

  def rowLayers(s: Stats.EtlStats): Map[String, Double] = Map(
    "etl.rows_in" -> s.total.toDouble, "etl.rows_parsed" -> s.parsed.toDouble,
    "etl.rows_invalid" -> s.invalid.toDouble,
    "etl.rows_duplicate" -> s.duplicates.toDouble,
    "etl.rows_inserted" -> s.inserted.toDouble)
}

/** `StreamingOps.runTaxiEtlStream` over a watched directory of headerless
  * canonical-order files, as `EtlStreamMain` runs it. Closed loop with one
  * client: the next file is dropped only after `processAllAvailable` has
  * returned for the previous one, so each file is one micro-batch.
  * The same records as one headed CSV (`batchCsv`) go through the batch
  * path: once untimed as the reference (it must write the same trips as
  * the stream), and in the traced run decomposed into `etl.<stage>`. */
final class EtlStream(dir: String, batchCsv: String, expected: Map[String, String])
    extends Workload {
  val name = "etl_stream"
  val layer = "streaming"
  private val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
    .filter(_.endsWith(".csv")).sorted.toIndexedSeq
  private val warmupFiles = expected("warmup_files").toInt
  val records: Long = expected("total").toLong
  def stamp: Map[String, Any] = Map("input_lines" -> records,
    "input_files" -> files.size, "warmup_files" -> warmupFiles,
    "input_bytes" -> Tree.bytes(dir))

  /** A set-up round streams only the first `warmup_files` files. */
  override def warmup(spark: SparkSession, out: String): Outcome =
    stream(spark, out, warmupFiles, None, "warmup_")

  def iteration(spark: SparkSession, out: String, traced: Option[Traced]): Outcome =
    stream(spark, out, files.size, traced, "")

  private val colIdx = CsvSource.RequiredColumns.zipWithIndex.toMap

  private def stream(spark: SparkSession, out: String, n: Int,
      traced: Option[Traced], expPrefix: String): Outcome = {
    val watch = Paths.get(s"$out/in")
    val stage = Paths.get(s"$out/stage")
    Files.createDirectories(watch)
    Files.createDirectories(stage)
    val progress = ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.synchronized(progress += e.progress)
    }
    spark.streams.addListener(listener)
    val counters = new StreamingOps.TaxiStreamCounters
    val config = EtlConfig(inputCsvPath = watch.toString,
      duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips")
    val w0 = Proc.io._2
    val t0 = System.nanoTime()
    def start() = StreamingOps.runTaxiEtlStream(
      spark.readStream.text(watch.toString), config, colIdx,
      seenKeysPath = s"$out/seen_keys", counters = counters,
      checkpointDir = s"$out/checkpoint")
    /** Drop file i and wait until its micro-batch has committed. */
    def batch(q: StreamingQuery, i: Int): Double = {
      val name = Paths.get(files(i)).getFileName
      Files.copy(Paths.get(files(i)), stage.resolve(name))
      Spans.timed(traced.map(_.spans), s"streaming.batch.$i", "streaming.query") {
        Files.move(stage.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
        // a trigger that listed the directory just before the drop reports
        // "no new data"; wait until this file's batch has run
        val since = System.nanoTime()
        while (!q.recentProgress.exists(p => p.batchId >= i && p.numInputRows > 0)) {
          if (Workload.seconds(since) > 120)
            throw new IllegalStateException(s"batch $i did not run within 120 s")
          q.processAllAvailable()
        }
      }._2
    }
    val ((latencies, runId), _) = Spans.timed(traced.map(_.spans), "streaming.query",
        traced.fold("")(_.parent)) {
      val q = start()
      try ((0 until n).map(batch(q, _)), q.runId.toString) finally q.stop()
    }
    val wall = Workload.seconds(t0)
    val w1 = Proc.io._2
    spark.streams.removeListener(listener)
    // the stream thread runs its jobs under the query's run id as job group
    val perBatch = traced.map { t =>
      JobGroup.drain(spark)
      val g = t.listener.group(runId)
      Map("streaming.jobs_per_batch" -> g.jobs.toDouble / n,
        "streaming.task_s_per_batch" -> g.taskSeconds / n)
    }.getOrElse(Map.empty)

    val s = counters.snapshot
    val (rows, fp) = Fingerprint(StreamingOps.committedTrips(spark, config.insertedPath))
    val dupRows = spark.read.option("header", "true").csv(config.duplicatesCsvPath).count()
    val exp = Seq("total", "parsed", "invalid", "duplicates", "inserted")
      .map(k => k -> expected(expPrefix + k)).toMap +
      ("duplicatesFile" -> expected(expPrefix + "duplicates"))
    val ps = progress.synchronized(progress.toList)
    val failures = EtlChecks.counters(s, exp) ++
      EtlChecks.equal("trips rows", rows, s.inserted) ++
      EtlChecks.equal("duplicates.csv rows", dupRows, s.duplicates) ++
      EtlChecks.equal("micro-batches", ps.size.toLong, n.toLong)

    def median(key: String) = Quant.median(ps.map(p =>
      Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0))) / 1000.0
    val outBytes = Tree.bytes(config.insertedPath) + Tree.bytes(config.duplicatesCsvPath)
    val layers = EtlChecks.rowLayers(s) ++ Map(
      "streaming.add_batch_s" -> median("addBatch"),
      "streaming.planning_s" -> median("queryPlanning"),
      "streaming.get_batch_s" -> median("getBatch"),
      "streaming.wal_commit_s" -> median("walCommit"),
      "streaming.latency_slope_ms" -> Quant.slope(latencies) * 1000.0,
      "streaming.dup_csv_bytes" -> Tree.bytes(config.duplicatesCsvPath).toDouble,
      "streaming.state_bytes" -> (Tree.bytes(s"$out/seen_keys") +
        Tree.bytes(config.duplicatesCsvPath + "._state")).toDouble,
      "streaming.checkpoint_files" -> Tree.count(s"$out/checkpoint").toDouble,
      "streaming.output_files" -> Tree.dataFiles(config.insertedPath).toDouble,
      "streaming.write_amp" -> (if (outBytes > 0) (w1 - w0).toDouble / outBytes else 0.0)) ++
      perBatch
    Outcome(wall, failures, s"$n files", fp, layers, latencies)
  }

  private val batch = new TaxiBatch(batchCsv, expected, s"${files.size} files")

  override def reference: Option[(SparkSession, String) => Outcome] = Some(batch.run)

  override def decompose(spark: SparkSession, out: String, t: Traced,
      cores: Int): Map[String, Double] = batch.decompose(spark, out, t, cores)
}

/** `TextOps.curationTrainingOrder` (staged quality gate -> exact and
  * near-duplicate dedup -> training order) over a derived corpus, with
  * the shards written as parquet, one directory per shard. The kept set
  * must equal the program's DuckDB oracle over the same corpus. */
final class Curate(corpus: String, expected: Map[String, String]) extends Workload {
  val name = "curate"
  val layer = "ext"
  val records: Long = expected("docs").toLong
  def stamp: Map[String, Any] = Map("input_docs" -> records,
    "input_bytes" -> Tree.bytes(corpus), "oracle_kept" -> expected("kept").toLong)

  private def shardWrite(df: DataFrame, out: String): Unit =
    df.write.partitionBy("shard_id").parquet(s"$out/shards")

  def iteration(spark: SparkSession, out: String, traced: Option[Traced]): Outcome = {
    val t0 = System.nanoTime()
    traced match {
      case Some(t) => t.call(spark, "ext.e2e")(
        shardWrite(TextOps.curationTrainingOrder(spark, corpus), out))
      case None => shardWrite(TextOps.curationTrainingOrder(spark, corpus), out)
    }
    val wall = Workload.seconds(t0)
    val rows = spark.read.parquet(s"$out/shards")
      .select(col("doc_id"), col("global_pos"), col("shard_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val digest = Curate.digest(rows.toSeq)
    val failures =
      if (digest == expected("digest")) Nil
      else Seq(s"kept set differs from the oracle: ${rows.length} rows " +
        s"(oracle ${expected("kept")}), digest $digest vs ${expected("digest")}")
    Outcome(wall, failures, "corpus", digest,
      Map("ext.docs_in" -> records.toDouble, "ext.docs_kept" -> rows.length.toDouble))
  }

  override def decompose(spark: SparkSession, out: String, t: Traced,
      cores: Int): Map[String, Double] = {
    def stage(n: String)(body: => Unit) = {
      val (_, s, g) = t.call(spark, s"ext.$n")(body)
      (n, s, g)
    }
    // the component frames are session-cached, so each later stage reuses
    // the earlier ones exactly as the composed call does
    val direct = Seq(
      stage("quality_mixer")(Workload.noop(TextOps.qualityMixer(spark, corpus))),
      stage("quality_prune")(Workload.noop(TextOps.qualityPrunePerSource(spark, corpus))),
      stage("staged_keepers")(Workload.noop(TextOps.curationPipelineStaged(spark, corpus))))
    val ordered = Seq(
      stage("training_order")(Workload.noop(TextOps.curationTrainingOrder(spark, corpus))),
      stage("shard_write")(shardWrite(TextOps.curationTrainingOrder(spark, corpus), out)))
    // the ext layer reports no spill metric
    (Workload.selfMetrics("ext", cores, direct) ++ Workload.differenced("ext", cores, ordered))
      .filter { case (k, _) => !k.endsWith(".spill_bytes") }
  }
}

object Curate {
  /** The digest run.py computes over the DuckDB oracle's rows. */
  def digest(rows: Seq[(Long, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (d, p, s) => md.update(s"$d,$p,$s\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Quant {
  /** Median by linear interpolation, as Python's `statistics.median`. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Least-squares slope of xs against their index. */
  def slope(xs: Seq[Double]): Double = {
    val n = xs.size
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = xs.sum / n
      xs.indices.map(i => (i - mx) * (xs(i) - my)).sum /
        xs.indices.map(i => (i - mx) * (i - mx)).sum
    }
  }
}
