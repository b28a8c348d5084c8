package graft.streaming

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming semantics, driven through MemoryStream micro-batches: state
  * must carry ACROSS batches (that is what distinguishes streaming dedup
  * from a per-batch dropDuplicates). */
class StreamingOpsSpec extends SparkSpec {

  import spark.implicits._

  test("taxi ETL runs as a stream: parse + normalize + cross-batch dedup") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val colIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap
    val out = tmpDir("taxistreamlines")
    val counters = new StreamingOps.TaxiStreamCounters
    val q = StreamingOps.runTaxiEtlStream(
      input.toDS().toDF("value"),
      graft.etl.EtlConfig(inputCsvPath = "",
        duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips"),
      colIdx, s"$out/seen_keys", counters, s"$out/ckpt")
    try {
      input.addData(
        "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47",
        "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,9.9,Y,1,2,3,4", // dup key
        "bad-date,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47",        // invalid
        "")                                                               // blank
      q.processAllAvailable()
      // second batch: same key again -> the seen-keys state drops it
      input.addData("01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,0.1,N,9,9,1,1")
      q.processAllAvailable()
    } finally q.stop()
    val rows = StreamingOps.committedTrips(spark, s"$out/trips").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[java.sql.Timestamp]("tpep_pickup_datetime") ==
      java.sql.Timestamp.valueOf("2020-01-01 05:28:15")) // EST->UTC applied
    assert(rows(0).getAs[Int]("TravelTimeSeconds") == 288)
    assert(counters.snapshot == graft.etl.Stats.EtlStats(
      total = 4, parsed = 3, invalid = 1, duplicates = 2, inserted = 1,
      duplicatesFileRows = 2))
  }

  test("streaming taxi pipeline: three consumers reproduce the golden stats") {
    val referenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"
    assume(new java.io.File(referenceCsv).exists())
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(referenceCsv)).asScala.toSeq
    // header resolved the same way as batch: CI name -> index, then data
    // lines numbered in file order with blanks not consuming a number
    val header = lines.head.stripPrefix("﻿").split(",", -1)
      .iterator.zipWithIndex
      .foldLeft(Map.empty[String, Int]) { case (m, (n, i)) =>
        val k = n.trim.toLowerCase
        if (m.contains(k)) m else m + (k -> i)
      }
    val colIdx = graft.etl.CsvSource.RequiredColumns
      .map(c => c -> header(c.toLowerCase)).toMap
    val data = lines.drop(1).filter(_.trim.nonEmpty).zipWithIndex
      .map { case (l, i) => (i + 1L, l) }

    val out = tmpDir("taxistream")
    val counters = new StreamingOps.TaxiStreamCounters
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runTaxiEtlStream(
      input.toDS().toDF("line_number", "value"),
      graft.etl.EtlConfig(inputCsvPath = "",
        duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips"),
      colIdx, s"$out/seen_keys", counters, s"$out/ckpt")
    try {
      // three micro-batches in file order: the 15 golden duplicates and
      // their winners straddle batch boundaries, exercising the
      // cross-batch seen-keys state, not just the within-batch window
      data.grouped(10000).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      assert(counters.snapshot == graft.etl.Stats.EtlStats(
        total = 30000, parsed = 29855, invalid = 145,
        duplicates = 15, inserted = 29840, duplicatesFileRows = 15))
      val trips = spark.read.parquet(s"$out/trips")
      assert(trips.count() == 29840)
      assert(trips.columns.contains("TravelTimeSeconds"))
      val dupCsv = spark.read.option("header", "true").csv(s"$out/duplicates")
      assert(dupCsv.count() == 15)
      assert(dupCsv.columns.head == "LineNumber")
    } finally q.stop()
  }

  test("taxi sink is exactly-once: crash at every write boundary, replay, golden stats") {
    val referenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"
    assume(new java.io.File(referenceCsv).exists())
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(referenceCsv)).asScala.toSeq
    val header = lines.head.stripPrefix("﻿").split(",", -1)
      .iterator.zipWithIndex
      .foldLeft(Map.empty[String, Int]) { case (m, (n, i)) =>
        val k = n.trim.toLowerCase
        if (m.contains(k)) m else m + (k -> i)
      }
    val colIdx = graft.etl.CsvSource.RequiredColumns
      .map(c => c -> header(c.toLowerCase)).toMap
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    // three deterministic micro-batches straddling the golden duplicates,
    // annotated EXACTLY as the streaming query would annotate them —
    // foreachBatch replay after a checkpoint restart redelivers the same
    // (dataframe, batchId), which is what invoking the processor directly
    // with fixed frames models
    val batches = lines.drop(1).filter(_.trim.nonEmpty).zipWithIndex
      .map { case (l, i) => (i + 1L, l) }
      .grouped(10000).toSeq.zipWithIndex
      .map { case (chunk, b) =>
        (b.toLong, StreamingOps.annotateTaxiLines(
          chunk.toDF("line_number", "value"), config, colIdx))
      }
    val golden = graft.etl.Stats.EtlStats(
      total = 30000, parsed = 29855, invalid = 145,
      duplicates = 15, inserted = 29840, duplicatesFileRows = 15)
    val out = tmpDir("taxieo")
    val (trips, dups) = (s"$out/trips", s"$out/duplicates")

    // crash points that bracket every write: after the inserted append,
    // after the side-state, after the CSV rebuild, and after the marker
    val crashes = Seq("after-inserted", "after-dupstate", "after-csv", "after-marker")
    var armed: Option[String] = None
    def processor(counters: StreamingOps.TaxiStreamCounters) =
      StreamingOps.taxiSink(trips, dups, counters,
        faultPoint = p => if (armed.contains(p)) {
          armed = None
          throw new RuntimeException(s"injected crash $p")
        })
    // batch 0 commits cleanly on a fresh processor; every later batch is
    // first attempted by a "process" that crashes at one boundary, then a
    // RESTARTED processor (fresh instance + fresh counters = checkpoint
    // recovery) replays the SAME batch before moving on — batch ids cycle
    // through all four crash points across the three batches
    var lastCounters = new StreamingOps.TaxiStreamCounters
    var p = processor(lastCounters)
    batches.foreach { case (b, df) =>
      crashes.zipWithIndex.foreach { case (site, i) =>
        if ((b + i) % 2 == 0) { // alternate which attempts crash, cover all
          armed = Some(site)
          try { p.apply(df, b); armed = None } catch {
            case e: RuntimeException if e.getMessage.startsWith("injected") =>
              // "kill" the stream: restart = new processor + new counters
              lastCounters = new StreamingOps.TaxiStreamCounters
              p = processor(lastCounters)
          }
        }
      }
      p.apply(df, b) // the replay/commit attempt that must converge
    }
    // final restart: counters must reconstruct from the commit log alone
    val finalCounters = new StreamingOps.TaxiStreamCounters
    val pf = processor(finalCounters)
    pf.apply(batches.last._2, batches.last._1) // replay of a committed batch: no-op
    assert(finalCounters.snapshot == golden)
    assert(lastCounters.snapshot == golden)
    // kept set identical to the batch pipeline's winners, exactly once
    val streamed = StreamingOps.committedTrips(spark, trips)
    assert(streamed.count() == 29840)
    val streamKeys = streamed
      .select("tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count")
      .collect().map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString))
    assert(streamKeys.length == streamKeys.toSet.size, "double-applied batch")
    val batchRun = graft.etl.Pipeline.annotate(spark, config.copy(
      inputCsvPath = referenceCsv))
    val batchKeys = graft.etl.Sinks.insertedRows(batchRun)
      .select("tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count")
      .collect().map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString))
    assert(streamKeys.toSet == batchKeys.toSet)
    // duplicates CSV: the golden 15, exactly once, despite crash-replays
    val dupCsv = spark.read.option("header", "true").csv(dups)
    assert(dupCsv.count() == 15)
    assert(dupCsv.columns.head == "LineNumber")
  }

  /** The taxi stream twins' input: seeded lines numbered in file order,
    * and what `Pipeline.run` makes of the same lines as one headed CSV —
    * its counters, its trips rows and its duplicates-file lines. */
  private final class TaxiBatchRun(val lines: Seq[(Long, String)],
      val stats: graft.etl.Stats.EtlStats, val trips: Seq[String], val dupCsv: Seq[String])

  private def taxiBatchRun(n: Int, seed: Long): TaxiBatchRun = {
    val lines = graft.etl.TaxiLines(n, seed)
    val dir = tmpDir("taxibatch")
    val stats = graft.etl.Pipeline.run(spark, graft.etl.EtlConfig(
      inputCsvPath = graft.etl.TaxiLines.writeCsv(dir, lines),
      duplicatesCsvPath = s"$dir/duplicates", insertedPath = s"$dir/trips"))
    // the input mix the twins exist for: parse- and normalize-invalid
    // rows, and duplicates
    assert(stats.parsed < stats.total && stats.invalid > stats.total - stats.parsed &&
      stats.duplicates > 0, s"seeded mix lacks a row class: $stats")
    new TaxiBatchRun(lines.zipWithIndex.map { case (l, i) => (i + 1L, l) }, stats,
      rowStrings(spark.read.parquet(s"$dir/trips")), csvPartLines(s"$dir/duplicates"))
  }

  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def csvPartLines(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"expected one part file in $dir, got $parts")
    java.nio.file.Files.readAllLines(parts.head).asScala.toSeq
  }

  private val canonicalIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap

  test("taxi stream over seeded lines: three consumers match Pipeline.run") {
    implicit val sqlCtx = spark.sqlContext
    val batch = taxiBatchRun(300, seed = 7L)
    val out = tmpDir("taxistreamseeded")
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips")
    val counters = new StreamingOps.TaxiStreamCounters
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runTaxiEtlStream(input.toDS().toDF("line_number", "value"),
      config, canonicalIdx, s"$out/seen_keys", counters, s"$out/ckpt")
    try {
      // three micro-batches in file order: duplicate groups straddle the
      // boundaries, so the cross-batch seen-keys state decides them
      batch.lines.grouped(100).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(counters.snapshot == batch.stats)
    assert(rowStrings(StreamingOps.committedTrips(spark, config.insertedPath)) == batch.trips)
    assert(csvPartLines(config.duplicatesCsvPath) == batch.dupCsv)
  }

  test("taxi sink over seeded lines is exactly-once: crash at every fault point, replay matches Pipeline.run") {
    import StreamingOps.KeyedStreamState.CompactEvery
    val batch = taxiBatchRun(300, seed = 11L)
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    // seventeen micro-batches annotated EXACTLY as the streaming query
    // would annotate them — a checkpoint restart redelivers the same
    // (frame, batchId), which invoking the processor directly models.
    // 2 × CompactEvery + 1 batches: the trips output compacts once
    val batches = batch.lines.grouped(18).toSeq.zipWithIndex.map { case (chunk, b) =>
      (b.toLong, StreamingOps.annotateTaxiLines(
        chunk.toDF("line_number", "value"), config, canonicalIdx))
    }
    assert(batches.size == 2 * CompactEvery + 1)
    val out = tmpDir("taxieoseeded")
    val (trips, dups) = (s"$out/trips", s"$out/duplicates")
    // every batch's first attempt crashes at one of the four write
    // boundaries (each boundary is hit at least four times over the
    // seventeen batches); the trips compaction — the seen-keys state's
    // only compaction — crashes once, between its range rename and the
    // deletes of the dirs the range absorbed, so later batches look their
    // keys up in a range AND the stale dirs it covers
    val sites = Seq("after-inserted", "after-dupstate", "after-csv", "after-marker")
    val compactSite = "compact-after-range"
    var armed: Option[String] = None
    var compactArmed = true
    def processor(counters: StreamingOps.TaxiStreamCounters) =
      StreamingOps.taxiSink(trips, dups, counters,
        faultPoint = p => if (armed.contains(p) || (compactArmed && p == compactSite)) {
          if (p == compactSite) compactArmed = false else armed = None
          throw new RuntimeException(s"injected crash $p")
        })
    var counters = new StreamingOps.TaxiStreamCounters
    var p = processor(counters)
    batches.foreach { case (b, df) =>
      armed = Some(sites((b % sites.size).toInt))
      var committed = false
      while (!committed) {
        try { p.apply(df, b); committed = true } catch {
          case e: RuntimeException if e.getMessage.startsWith("injected") =>
            // "kill" the stream: restart = new processor + new counters
            counters = new StreamingOps.TaxiStreamCounters
            p = processor(counters)
        }
      }
      assert(armed.isEmpty, s"batch $b never reached $armed")
    }
    assert(!compactArmed, "the trips output never compacted")
    assert(stateDirNames(trips).exists(_.startsWith(StreamingOps.RangePrefix)))
    // a final restart rebuilds the counters from the commit log alone
    val finalCounters = new StreamingOps.TaxiStreamCounters
    processor(finalCounters).apply(batches.last._2, batches.last._1)
    assert(finalCounters.snapshot == batch.stats)
    assert(counters.snapshot == batch.stats)
    // kept rows and the duplicates file equal the batch pipeline's,
    // exactly once
    assert(rowStrings(StreamingOps.committedTrips(spark, trips)) == batch.trips)
    assert(csvPartLines(dups) == batch.dupCsv)
  }

  test("a taxi micro-batch without duplicates runs one SQL execution") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    def annotate(from: Long, lines: Seq[String]) = StreamingOps.annotateTaxiLines(
      lines.zipWithIndex.map { case (l, i) => (from + i, l) }
        .toDF("line_number", "value"), config, canonicalIdx)
    val out = tmpDir("taxiexecs")
    val p = StreamingOps.taxiSink(s"$out/trips", s"$out/duplicates",
      new StreamingOps.TaxiStreamCounters)
    // batch 0 also writes the first (empty) duplicates file
    p.apply(annotate(1L, Seq(
      "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47")), 0L)
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.incrementAndGet()
    }
    val batch1 = annotate(2L, Seq(
      "01/02/2020 01:00:00 AM,01/02/2020 01:10:00 AM,2,3.4,Y,10,20,30,4",
      "01/03/2020 02:00:00 AM,01/03/2020 02:20:00 AM,1,2.0,N,11,21,12,2",
      "bad-date,01/03/2020 02:20:00 AM,1,2.0,N,11,21,12,2"))
    // batch 2 repeats batch 0's and batch 1's keys: the lookup in the
    // committed trips and the duplicates side-state read both run
    val batch2 = annotate(5L, Seq(
      "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,7.7,N,1,2,3,4",
      "01/02/2020 01:00:00 AM,01/02/2020 01:10:00 AM,2,1.0,N,5,6,7,8"))
    // the sink reads only parquet it wrote, with the schema it wrote
    val (_, inferred) = inferenceJobs {
      spark.listenerManager.register(listener)
      try {
        p.apply(batch1, 1L)
        ListenerBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      p.apply(batch2, 2L)
    }
    // the inserted-rows write, which also yields the counters; no
    // emptiness probe, counter aggregate, seen-keys write or checkpoint
    assert(executions.get == 1, s"${executions.get} SQL executions")
    assert(inferred == 0, s"$inferred schema-inference jobs")
    assert(StreamingOps.committedTrips(spark, s"$out/trips").count() == 3)
    assert(spark.read.option("header", "true").csv(s"$out/duplicates").count() == 2)
  }

  /** `body`'s result and the number of parquet schema-inference jobs it
    * ran: inference is a job over a parallelized list of footers. */
  private def inferenceJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.scope.exists(_.name == "parallelize"))))
          n.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val r = body
      ListenerBus.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("keyed state scan keeps a bounded partition count across compaction") {
    import StreamingOps.KeyedStreamState.CompactEvery
    val out = tmpDir("statepartitions")
    val log = new StreamingOps.CommitLog(spark, s"$out/kept")
    val st = new StreamingOps.KeyedStreamState(spark, s"$out/state", Seq("keys"),
      log.committed())
    // the scans and the compaction read with the schema the appends wrote
    val (keys, inferred) = inferenceJobs {
      // every increment arrives as several files, as a shuffled write leaves it
      (0 to CompactEvery).foreach { b =>
        st.append(b, Map("keys" -> spark.range(b * 100L, b * 100L + 100L, 1, 4).toDF("k")))
        log.commit(b, Array(1L))
        st.compactIfDue()
      }
      st.table("keys")
    }
    assert(inferred == 0, s"$inferred schema-inference jobs")
    assert(keys.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism,
      s"${keys.rdd.getNumPartitions} partitions after ${CompactEvery + 1} appends")
    assert(keys.count() == 100L * (CompactEvery + 1))
    assert(keys.distinct().count() == 100L * (CompactEvery + 1))
  }

  test("keyed state: a zero-row increment leaves no directory and the state empty") {
    val out = tmpDir("stateempty")
    val log = new StreamingOps.CommitLog(spark, s"$out/kept")
    val st = new StreamingOps.KeyedStreamState(spark, s"$out/state", Seq("a", "b"),
      log.committed())
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs(t: String): Seq[String] = {
      val tp = new org.apache.hadoop.fs.Path(s"$out/state/$t")
      if (!fs.exists(tp)) Seq.empty
      else fs.listStatus(tp).map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq
    }
    // the writer leaves a schema-only part file for a zero-row frame with
    // partitions; emptiness must come from the rows, not from the files
    val none = spark.range(0, 100, 1, 4).toDF("k").filter($"k" < 0)
    st.append(0, Map("a" -> none, "b" -> none))
    log.commit(0, Array(0L))
    assert(st.isEmpty)
    assert(batchDirs("a").isEmpty && batchDirs("b").isEmpty)
    val some = spark.range(0, 10, 1, 2).toDF("k")
    st.append(1, Map("a" -> some, "b" -> some))
    log.commit(1, Array(10L))
    assert(!st.isEmpty && batchDirs("a") == Seq("batch_id=1"))
    val err = intercept[IllegalArgumentException] {
      st.append(2, Map("a" -> some, "b" -> none))
    }
    assert(err.getMessage.contains("diverged on emptiness"))
  }

  test("minhash ingest batches that band nothing leave no state directory") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val out = tmpDir("mhnothing")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stateDirs: Seq[String] = Seq("bands", "shingles").flatMap { t =>
      val tp = new org.apache.hadoop.fs.Path(s"$out/state/$t")
      if (!fs.exists(tp)) Seq.empty
      else fs.listStatus(tp).map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq
    }
    try {
      // batch 1 keeps a doc too short to band: the state stays empty
      input.addData((1L, "ok"))
      q.processAllAvailable()
      assert(stateDirs.isEmpty)
      input.addData((2L, base))
      q.processAllAvailable()
      assert(stateDirs.size == 2)
      // batch 3 keeps nothing: its only doc is a near-dup of kept doc 2
      input.addData((3L, near))
      q.processAllAvailable()
      assert(stateDirs.size == 2)
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L))
    } finally q.stop()
  }

  test("a leftover seen_keys tree is ignored") {
    implicit val sqlCtx = spark.sqlContext
    val batch = taxiBatchRun(300, seed = 13L)
    val out = tmpDir("taxileftover")
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips")
    val (first, second) = batch.lines.splitAt(150)
    def run(lines: Seq[(Long, String)], ckpt: String): StreamingOps.TaxiStreamCounters = {
      val counters = new StreamingOps.TaxiStreamCounters
      val input = MemoryStream[(Long, String)]
      val q = StreamingOps.runTaxiEtlStream(input.toDS().toDF("line_number", "value"),
        config, canonicalIdx, s"$out/seen_keys", counters, ckpt)
      try lines.grouped(50).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      } finally q.stop()
      counters
    }
    run(first, s"$out/ckpt1")
    // a seen-keys tree in both layouts earlier versions kept: flat batch
    // dirs, and a `seen` table claiming that every key was seen. Read, it
    // would fail the stream or mark every row of the restart a duplicate
    val keys = StreamingOps.committedTrips(spark, config.insertedPath)
      .select(graft.etl.Sinks.tripKeyCols.map { case (a, t) => $"$t".as(a) }: _*)
    keys.write.parquet(s"$out/seen_keys/batch_id=0")
    StreamingOps.annotateTaxiLines(batch.lines.toDF("line_number", "value"),
        config, canonicalIdx)
      .select(graft.etl.Sinks.tripKeyCols.map(k => $"${k._1}"): _*)
      .write.parquet(s"$out/seen_keys/seen/batch_id=0")
    // restart over the existing output with a fresh checkpoint: no
    // committed key is admitted again, and the counters rebuilt from the
    // commit log plus the second half equal the batch pipeline's
    val counters = run(second, s"$out/ckpt2")
    assert(counters.snapshot == batch.stats)
    assert(rowStrings(StreamingOps.committedTrips(spark, config.insertedPath)) == batch.trips)
    assert(csvPartLines(config.duplicatesCsvPath) == batch.dupCsv)
  }

  test("streaming minhash ingest dedup drops near-dups of previously kept docs") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2" // jaccard ~0.9 vs base
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val out = tmpDir("mhstream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: 2 loses to 1 inside the batch cluster
      input.addData((1L, base), (2L, near))
      q.processAllAvailable()
      // batch 2: 3 is a near-dup of KEPT doc 1 (cross-batch state), 4 is novel
      input.addData((3L, near), (4L, other))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 4L))
    } finally q.stop()
  }

  test("batch incremental dedup reproduces the ingest stream's second-batch verdicts") {
    // THE batch/stream equivalence law: feeding the stream batch1 then
    // batch2 must agree with the batch operator run as
    // incrIngestDedup(base = stream's kept-after-batch1, incr = batch2) —
    // same policy, two execution models, spec-pinned so they cannot fork.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def doc(lo: Int): String = (lo until lo + 40).map(i => s"w$i").mkString(" ")
    def zdoc(lo: Int): String = (lo until lo + 40).map(i => s"z$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val batch1 = Seq((1L, doc(1)), (2L, doc(1) + " x1 x2"), (3L, other))
    val batch2 = Seq(
      (10L, doc(3)),          // near-dup of kept 1 → dropped cross-batch
      (11L, other + " y1 y2"), // near-dup of kept 3 → dropped cross-batch
      (12L, zdoc(1)), (13L, zdoc(5)), // in-batch pair → 13 loses to 12
      (14L, "a b"))           // shingle-less → kept
    val out = tmpDir("incrlaw")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    val streamKept2 =
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        val kept1 = StreamingOps.committedKept(spark, s"$out/kept")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept1 == Set(1L, 3L)) // 2 lost its in-batch cluster
        input.addData(batch2: _*)
        q.processAllAvailable()
        StreamingOps.committedKept(spark, s"$out/kept")
          .select("doc_id").collect().map(_.getLong(0)).toSet -- kept1
      } finally q.stop()
    val batchVerdicts = graft.ext.DedupOps.incrIngestDedup(
        StreamingOps.committedKept(spark, s"$out/kept")
          .filter($"doc_id" < 10L).select("doc_id", "text"),
        batch2.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchKept = batchVerdicts.collect { case (id, "kept") => id }.toSet
    assert(batchKept == streamKept2,
      s"stream kept $streamKept2, batch operator kept $batchKept")
    assert(batchVerdicts(10L) == "dropped_base" &&
      batchVerdicts(11L) == "dropped_base" &&
      batchVerdicts(13L) == "dropped_batch")
  }

  test("filtered ingest: Gopher gate drops junk before dedup; near-dups still deduped") {
    implicit val sqlCtx = spark.sqlContext
    // quality docs: a 20-token vocabulary (incl. >= 2 Gopher stopwords)
    // walked in three stride orders — 60 words, passes every rule; the
    // near-dup appends two tokens (shingle Jaccard ~ 0.95, still passes)
    val vocab = (Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d"))
    def walk(v: Vector[String]) =
      Seq(1, 3, 7).flatMap(k => (0 until 20).map(i => v((i * k) % 20))).mkString(" ")
    val good = walk(vocab)
    val goodNear = good + " x1 x2"
    val otherGood = walk(Vector("the", "and") ++ (1 to 18).map(i => f"item$i%02d"))
    val junk = "tiny doc here" // fails the 50-word floor
    val out = tmpDir("fmhstream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      graft.ext.TextOps.gopherPrefilter(input.toDS().toDF("doc_id", "text")),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: junk is gated out BEFORE the sink (never kept, never state)
      input.addData((1L, good), (2L, junk))
      q.processAllAvailable()
      // batch 2: 3 near-dups KEPT doc 1 (cross-batch state), 4 is novel
      input.addData((3L, goodNear), (4L, otherGood))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 4L))
      // the junk doc left no trace in the band state either: a later
      // byte-identical resend must be gated again, not matched to state
      input.addData((5L, junk))
      q.processAllAvailable()
      val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(1L, 4L))
    } finally q.stop()
  }

  test("safety-gated ingest: severe-term doc gated before dedup; near-dups still deduped") {
    implicit val sqlCtx = spark.sqlContext
    // quality-passing construction (the filtered-ingest vocabulary walk:
    // 60 words, distinct bigrams, stopwords) — the safety gate must act
    // on its OWN tiers, not piggyback on quality junk
    val vocab = (Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d"))
    def walk(v: Vector[String]) =
      Seq(1, 3, 7).flatMap(k => (0 until 20).map(i => v((i * k) % 20))).mkString(" ")
    val good = walk(vocab)
    val goodNear = good + " x1 x2"
    val otherGood = walk(Vector("the", "and") ++ (1 to 18).map(i => f"item$i%02d"))
    // severe tier: ONE occurrence of a severe term ("dup") drops the doc
    // even though every quality gate would pass it
    val severe = good + " dup"
    // moderate tier: 7 moderate hits in 67 tokens (flag_milli = 104)
    // breach the ratio cut
    val moderate = good + " slow big slow big slow big slow"
    val out = tmpDir("sfmhstream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      graft.ext.TextOps.safetyPrefilter(input.toDS().toDF("doc_id", "text")),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: the severe doc is gated out BEFORE the sink (never
      // kept, never state) even though it near-dups doc 1
      input.addData((1L, good), (2L, severe), (3L, moderate))
      q.processAllAvailable()
      // batch 2: 4 near-dups KEPT doc 1 (cross-batch band state), 5 is
      // novel — the dedup machinery is fully live behind the gate
      input.addData((4L, goodNear), (5L, otherGood))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L), kept.toString)
      // the gated docs left no trace in the band state: byte-identical
      // resends must be gated again, not matched to state
      input.addData((6L, severe), (7L, moderate))
      q.processAllAvailable()
      val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(1L, 5L), kept2.toString)
    } finally q.stop()
  }

  test("gated multimodal ingest: text gate drops junk blobs before the " +
      "media sink; cross-container media near-dups still deduped") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = (Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d"))
    def walk(ks: Seq[Int]) =
      ks.flatMap(k => (0 until 20).map(i => vocab((i * k) % 20))).mkString(" ")
    val good = walk(Seq(1, 3, 7))
    val otherGood = walk(Seq(9, 11, 13)) // same vocab, disjoint strides:
                                         // quality-passing, media-unrelated
    val junk = "tiny doc here"           // fails the 50-word floor
    def blob(id: Long, text: String): Array[Byte] =
      graft.functions.MediaBytes.synth(id, UTF8String.fromString(text))
    val out = tmpDir("fmediastream")
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = StreamingOps.runMediaDedupStream(
      graft.ext.TextOps.gopherPrefilter(input.toDS().toDF("doc_id", "text", "blob"))
        .select($"doc_id", $"blob"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: 301 (bmp) carries the SAME payload as 300 (png) — an
      // in-batch cross-container media dup, loses to 300; 302's junk
      // text is gated out BEFORE the sink (blob never hashed or stated)
      input.addData((300L, good, blob(300L, good)),
        (301L, good, blob(301L, good)), (302L, junk, blob(302L, junk)))
      q.processAllAvailable()
      // batch 2: 303 carries KEPT 300's payload again (cross-batch
      // media dup — dropped via the band state); 304 is novel and kept
      input.addData((303L, good, blob(303L, good)),
        (304L, otherGood, blob(304L, otherGood)))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(300L, 304L), kept.toString)
      // the junk doc left no trace in the band state: a byte-identical
      // payload resent with GOOD text must be judged on its own (novel
      // — nothing with the junk payload was ever admitted to state)...
      input.addData((305L, good + " tail tokens here now", blob(305L, junk)))
      q.processAllAvailable()
      val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(300L, 304L, 305L), kept2.toString)
      // ...and junk text is still gated regardless of its blob
      input.addData((306L, junk, blob(306L, junk)))
      q.processAllAvailable()
      val kept3 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept3 == Set(300L, 304L, 305L), kept3.toString)
    } finally q.stop()
  }

  test("batch incremental SEMANTIC dedup reproduces the emb stream's " +
      "second-batch verdicts") {
    // the incr_ingest_dedup law's embedding twin: stream batch1 then
    // batch2 must agree with incrIngestSemDedup(base = kept-after-batch1,
    // incr = batch2) at the stream's 0.8 threshold
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val c35 = math.cos(math.toRadians(35)).toFloat
    val s35 = math.sin(math.toRadians(35)).toFloat
    def e(i: Int): Array[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a }
    def inPlane(i: Int, j: Int): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = c35; a(j) = s35; a
    }
    val batch1 = Seq((1L, e(0)), (2L, e(0).map(_ * 2f)), (3L, e(1)))
    val batch2 = Seq(
      (10L, inPlane(0, 4)),  // cos .819 vs kept 1 → dropped cross-batch
      (12L, e(2)), (14L, inPlane(2, 5)), // in-batch pair → 14 loses to 12
      (16L, e(3)))           // novel → kept
    val out = tmpDir("semincrlaw")
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.runEmbDedupStream(
      input.toDS().toDF("vec_id", "embedding"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    val streamKept2 =
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        val kept1 = StreamingOps.committedKept(spark, s"$out/kept")
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert(kept1 == Set(1L, 3L)) // 2 lost its in-batch cluster
        input.addData(batch2: _*)
        q.processAllAvailable()
        StreamingOps.committedKept(spark, s"$out/kept")
          .select("vec_id").collect().map(_.getLong(0)).toSet -- kept1
      } finally q.stop()
    val batchVerdicts = graft.ext.SimilarityOps.incrIngestSemDedup(
        StreamingOps.committedKept(spark, s"$out/kept")
          .filter($"vec_id" < 10L).select("vec_id", "embedding"),
        batch2.toDF("vec_id", "embedding"),
        threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchKept = batchVerdicts.collect { case (id, "kept") => id }.toSet
    assert(batchKept == streamKept2,
      s"stream kept $streamKept2, batch operator kept $batchKept")
    assert(batchVerdicts(10L) == "dropped_base" &&
      batchVerdicts(14L) == "dropped_batch")
  }

  test("media ingest stream keeps what a driver-side brute force over the dense dHash keeps") {
    import graft.functions.MediaBytes
    import graft.ext.JsonMediaOps.{MediaBandCoverDense, MediaBandsDense, MediaHammingMaxDense}
    // the pigeonhole contract of hammingBands: a pair within
    // MediaHammingMaxDense bits disagrees on at most that many of the
    // MediaBandsDense disjoint bands, so it shares one and the stream's
    // band joins meet every pair the brute force counts
    assert(MediaBandsDense > MediaHammingMaxDense)
    val rnd = new scala.util.Random(29)
    def payload() = Array.fill(400)((32 + rnd.nextInt(95)).toByte)
    // k re-drawn bytes move the gradient bits of their segments only:
    // one byte is at most 2 bits, eight usually land past the threshold
    def edit(p: Array[Byte], k: Int): Array[Byte] = {
      val q = p.clone()
      (0 until k).foreach(_ => q(rnd.nextInt(q.length)) = (32 + rnd.nextInt(95)).toByte)
      q
    }
    val containers = Seq[Array[Byte] => Array[Byte]](
      MediaBytes.png(33, 44, _), MediaBytes.bmp(33, 44, _), MediaBytes.wav(_))
    val roots = Seq.fill(6)(payload())
    var next = 0L
    def blobs(ps: Seq[Array[Byte]]): Seq[(Long, Array[Byte])] = ps.map { p =>
      next += 1
      (next, containers((next % 3).toInt)(p))
    }
    // batch 0: roots 0-3, each with a 1-, 3- and 8-byte edit;
    // batch 1: further edits of roots 0-3 against the kept ones, and
    // roots 4-5 with their own edit families
    val batches = Seq(
      blobs(roots.take(4).flatMap(r => Seq(r, edit(r, 1), edit(r, 3), edit(r, 8)))),
      blobs(roots.take(4).flatMap(r => Seq(edit(r, 1), edit(r, 2), edit(r, 8))) ++
        roots.drop(4).flatMap(r => Seq(r, edit(r, 1), edit(r, 1), edit(r, 6)))))

    val out = tmpDir("mediabrute")
    val sink = StreamingOps.mediaSink(s"$out/state", s"$out/kept", MediaHammingMaxDense)
    batches.zipWithIndex.foreach { case (rows, b) => sink.apply(rows.toDF("doc_id", "blob"), b) }
    val streamKept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // brute force: drop a blob near any kept blob, then keep the minimum
    // id of each in-batch component of the survivors
    def near(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b) <= MediaHammingMaxDense
    var kept = Map.empty[Long, Long]
    var crossDrops, inBatchLosers = 0
    for (rows <- batches) {
      val hashes = rows.map { case (id, blob) => id -> MediaBytes.dhashDense64(blob) }
      val survivors = hashes.filter { case (_, h) => !kept.values.exists(near(h, _)) }
      crossDrops += hashes.size - survivors.size
      val label = scala.collection.mutable.Map(survivors.map { case (id, _) => id -> id }: _*)
      var changed = true
      while (changed) {
        changed = false
        for ((a, ha) <- survivors; (b, hb) <- survivors; if a != b && near(ha, hb);
             if label(b) < label(a)) { label(a) = label(b); changed = true }
      }
      val keepers = survivors.filter { case (id, _) => label(id) == id }
      inBatchLosers += survivors.size - keepers.size
      kept ++= keepers
    }
    // the fixture reaches both drop paths, and its band joins meet pairs
    // past the threshold, which the inline verification must reject
    def bands(h: Long): Seq[Long] = (0 until MediaBandsDense).map { i =>
      val lo = i * MediaBandCoverDense / MediaBandsDense
      val hi = (i + 1) * MediaBandCoverDense / MediaBandsDense
      (h >>> lo) & ((1L << (hi - lo)) - 1)
    }
    val bandedFar = batches.flatten.map { case (_, blob) => MediaBytes.dhashDense64(blob) }
      .combinations(2).count { case Seq(x, y) =>
        !near(x, y) && bands(x).zip(bands(y)).exists { case (a, b) => a == b } }
    assert(crossDrops > 0 && inBatchLosers > 0 && bandedFar > 0,
      s"cross $crossDrops, in-batch $inBatchLosers, band-sharing far pairs $bandedFar")
    assert(streamKept == kept.keySet,
      s"stream kept ${streamKept.toSeq.sorted}, brute force ${kept.keySet.toSeq.sorted}")
  }

  test("a minhash micro-batch above the hot-key cap keeps what the batch policy keeps") {
    import graft.ext.DedupOps
    // 600 identical docs and 500 distinct ones: 1100 docs exceed
    // MinHashBandDfCap, so the in-batch self-join runs through
    // subSaltHotKeys, which incrIngestDedup's self-join always runs
    val same = (1 to 40).map(i => s"w$i").mkString(" ")
    val rows = (1 to 600).map(i => (i.toLong, same)) ++ (601 to 1100).map(i =>
      (i.toLong, (0 until 12).map(j => s"d${i}t$j").mkString(" ")))
    assert(rows.size > DedupOps.MinHashBandDfCap)
    val batch = rows.toDF("doc_id", "text")
    val out = tmpDir("mhhotkey")
    StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6).apply(batch, 0L)
    val streamKept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchKept = DedupOps.incrIngestDedup(batch.limit(0), batch)
      .filter($"status" === "kept").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept,
      s"stream kept ${streamKept.size} docs, batch policy ${batchKept.size}")
    assert(streamKept == Set(1L) ++ (601L to 1100L))
  }

  test("streaming embedding ingest dedup drops vector near-dups across batches") {
    implicit val sqlCtx = spark.sqlContext
    // unit-direction fixtures in 8 dims: v2 = scaled v1 (cosine 1.0),
    // v3 orthogonal to v1, v4 ~ v1 with small noise (cosine > 0.9)
    val v1 = Array(1f, 2f, 3f, 4f, 0f, 0f, 0f, 0f)
    val v2 = v1.map(_ * 2.5f)
    val v3 = Array(0f, 0f, 0f, 0f, 1f, 2f, 3f, 4f)
    val v4 = Array(1.05f, 2.05f, 2.95f, 4.02f, 0.1f, 0f, 0f, 0f)
    val out = tmpDir("embstream")
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.runEmbDedupStream(
      input.toDS().toDF("vec_id", "embedding"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: 2 loses to 1 inside the batch cluster (cosine 1.0)
      input.addData((1L, v1), (2L, v2))
      q.processAllAvailable()
      // batch 2: 4 is a near-dup of KEPT vector 1 (cross-batch state),
      // 3 is orthogonal — novel
      input.addData((3L, v3), (4L, v4))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
    } finally q.stop()
  }

  test("minhash state bootstraps from the changelog after a restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val out = tmpDir("mhrestart")
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingOps.runMinhashDedupStream(
      in1.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt1")
    try {
      in1.addData((1L, base))
      q1.processAllAvailable()
    } finally q1.stop()
    // NEW stream, same state path: the in-memory store is gone with the
    // first query — doc 2 must still be caught as a dup of KEPT doc 1,
    // via the one-time changelog bootstrap
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.runMinhashDedupStream(
      in2.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt2")
    try {
      in2.addData((2L, near))
      q2.processAllAvailable()
      val kept = spark.read.parquet(s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L))
    } finally q2.stop()
  }

  test("fresh checkpoint over an existing commit log processes new batches (no silent skip)") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val out = tmpDir("mhfreshckpt")
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingOps.runMinhashDedupStream(
      in1.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt1")
    try {
      in1.addData((1L, base))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart with a FRESH checkpoint dir: micro-batch ids restart at 0,
    // which already exists in the commit log from the first run. The r9
    // bare-batch-id protocol treated the new batch 0 as committed and
    // SILENTLY SKIPPED it (docs 2 and 5 never processed). Epoch scoping
    // must process it: 2 dropped as a near-dup of KEPT doc 1 (the state
    // survives the restart), 5 kept as novel.
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.runMinhashDedupStream(
      in2.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt2")
    try {
      in2.addData((2L, near), (5L, other))
      q2.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L))
    } finally q2.stop()
    // epoch resolution is STABLE per checkpoint dir (a restart replays
    // under the same epoch, so the idempotent-replay protocol holds) and
    // FRESH (max committed + 1) for a new checkpoint over the same log
    val e1 = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt1", s"$out/kept")
    val e2 = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt2", s"$out/kept")
    assert(e1 != e2)
    assert(e2 == StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt2", s"$out/kept"))
    assert(StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt3", s"$out/kept")
      == math.max(e1, e2) + 1)
  }

  test("minhash ingest keeps docs too short to shingle without tripping state invariants") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val out = tmpDir("mhtiny")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: a normal doc plus a 2-token doc (no shingles, no bands —
      // it must be KEPT, and must not append a shingles state row beside
      // an empty bands increment)
      input.addData((1L, base), (2L, "hi there"))
      q.processAllAvailable()
      // batch 2: ONLY a tiny doc — the whole-batch-kept fast path with
      // zero banded docs (state append must be a clean no-op)
      input.addData((3L, "ok"))
      q.processAllAvailable()
      // batch 3: state still works — a near-dup of kept doc 1 is caught
      input.addData((4L, near), (5L, "yo hey"))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 3L, 5L))
    } finally q.stop()
  }

  test("committed read views surface the sink schema when nothing is committed") {
    import spark.implicits._
    val out = tmpDir("ckzero")
    // uncommitted debris only (a crashed batch's directory, no marker):
    // the view must expose the schema with ZERO rows — downstream
    // .select("doc_id") used to throw on the schema-less emptyDataFrame
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$out/kept/batch_id=1")
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
    assert(kept.select("doc_id").count() == 0)
    // nothing on disk at all: no schema to surface, but still zero rows
    assert(StreamingOps.committedKept(spark, s"$out/kept_nothing").count() == 0)
  }

  test("legacy flat state changelog fails loudly at bootstrap instead of starting empty") {
    import spark.implicits._
    val out = tmpDir("mhlegacy")
    // pre-r9 layout: table content directly under state/<table>, not
    // batch_id=-versioned — the commit-filtered bootstrap cannot see it
    Seq((1L, "h", 0L)).toDF("doc_id", "band_key", "band")
      .write.parquet(s"$out/state/bands")
    val e = intercept[IllegalStateException] {
      new StreamingOps.KeyedStreamState(
        spark, s"$out/state", Seq("bands", "shingles"),
        new StreamingOps.CommitLog(spark, s"$out/kept").committed())
    }
    assert(e.getMessage.contains("legacy flat changelog"))
  }

  test("MinHash state from another permutation family, or unstamped, fails loudly at restart") {
    import StreamingOps.KeyedStreamState.SchemeFile
    val out = tmpDir("mhscheme")
    val stamp = new org.apache.hadoop.fs.Path(s"$out/state/$SchemeFile")
    val fs = stamp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = novelDocBatches(2)
    StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
      .apply(batches.head._2, batches.head._1)
    assert(fs.isFile(stamp), "the first batch stamps the state")
    // a restart under the same family bootstraps and keeps going
    StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
      .apply(batches(1)._2, batches(1)._1)
    // a state written before the stamp existed, and one stamped by
    // another family: their band keys cannot match this build's
    for (restamp <- Seq(() => fs.delete(stamp, false), () => {
        val o = fs.create(stamp, true)
        try o.writeBytes("other-family") finally o.close()
      })) {
      restamp()
      val e = intercept[IllegalStateException] {
        StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
          .apply(batches(1)._2, batches(1)._1)
      }
      assert(e.getMessage.contains(graft.functions.MinHashSignature.SchemeId), e.getMessage)
    }
  }

  /** Drive a sink through (batchId, frame) pairs, crashing once at every
    * armed boundary before the committing attempt — each "crash" kills
    * the sink and "restarts" it via `fresh()` (a new instance =
    * checkpoint-recovery bootstrap from the commit log + state changelog),
    * then REPLAYS the same batch, exactly as a restarted stream would. */
  private def crashReplayDrive(
      batches: Seq[(Long, org.apache.spark.sql.DataFrame)],
      sites: Seq[String],
      fresh: (String => Unit) => StreamingOps.ExactlyOnceSink): Unit = {
    var armed: Option[String] = None
    val fault: String => Unit = p => if (armed.contains(p)) {
      armed = None
      throw new RuntimeException(s"injected crash $p")
    }
    var sink = fresh(fault)
    batches.foreach { case (b, df) =>
      sites.foreach { site =>
        armed = Some(site)
        try { sink.apply(df, b); armed = None } catch {
          case e: RuntimeException if e.getMessage.startsWith("injected") =>
            sink = fresh(fault)
        }
      }
      sink.apply(df, b) // converging replay (no-op if the marker landed)
    }
  }

  /** One ingest stream's exactly-once fixture: a sink factory over
    * (state path, kept path, fault hook), three micro-batches that hold
    * an in-batch loser, cross-batch dups of kept rows and novelty, the id
    * column, the kept ids after the three batches, and a probe batch with
    * the ids of it that a fresh sink over the same state keeps. */
  private final case class IngestFixture(
      name: String,
      sink: (String, String, String => Unit) => StreamingOps.ExactlyOnceSink,
      batches: Seq[(Long, org.apache.spark.sql.DataFrame)],
      idCol: String,
      expected: Set[Long],
      probe: org.apache.spark.sql.DataFrame,
      probeKept: Set[Long])

  private def minhashFixture: IngestFixture = {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val nearOther = (100 to 138).map(i => s"v$i").mkString(" ") + " y1"
    val third = (200 to 240).map(i => s"u$i").mkString(" ")
    // in-batch loss (2→1), cross-batch dup-of-kept (3→1, 5→4), novelty (4, 6)
    IngestFixture("mh",
      (st, kept, fp) => StreamingOps.minhashSink(st, kept, 0.6, faultPoint = fp),
      Seq(
        0L -> Seq((1L, base), (2L, near)),
        1L -> Seq((3L, near), (4L, other)),
        2L -> Seq((5L, nearOther), (6L, third)))
        .map { case (b, rows) => (b, rows.toDF("doc_id", "text")) },
      "doc_id", Set(1L, 4L, 6L),
      Seq((7L, near), (8L, nearOther),
        (9L, (300 to 340).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
      Set(9L))
  }

  private def embFixture: IngestFixture = {
    val v1 = Array(1f, 2f, 3f, 4f, 0f, 0f, 0f, 0f)
    val v2 = v1.map(_ * 2.5f) // cosine 1.0 vs v1 — in-batch loser
    val v3 = Array(0f, 0f, 0f, 0f, 1f, 2f, 3f, 4f) // orthogonal — novel
    val v4 = Array(1.05f, 2.05f, 2.95f, 4.02f, 0.1f, 0f, 0f, 0f) // ~v1 — cross-batch dup
    val v5 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f) // novel direction
    IngestFixture("emb",
      (st, kept, fp) => StreamingOps.embSink(st, kept, 0.8, 32, 8, 42L, faultPoint = fp),
      Seq(
        0L -> Seq((1L, v1), (2L, v2)),
        1L -> Seq((3L, v3), (4L, v4)),
        2L -> Seq((5L, v5)))
        .map { case (b, rows) => (b, rows.toDF("vec_id", "embedding")) },
      "vec_id", Set(1L, 3L, 5L),
      // near-dup of kept 1 dropped, novelty kept
      Seq((6L, v4), (7L, Array(0f, 1f, 0f, -1f, 0f, 1f, 0f, -1f)))
        .toDF("vec_id", "embedding"),
      Set(7L))
  }

  private def mediaFixture: IngestFixture = {
    import graft.functions.MediaBytes
    val rnd = new scala.util.Random(13)
    def payload() = Array.fill(400)((32 + rnd.nextInt(95)).toByte)
    val p1 = payload()
    val p4 = payload()
    val p6 = payload()
    // blob 2: same payload as 1 in a DIFFERENT container — in-batch
    // loser (the hash sees through the format); blob 3: trailing-append
    // near-dup of 1 — cross-batch dup-of-kept; blob 5: near-dup of 4
    val batches = Seq(
      0L -> Seq((1L, MediaBytes.png(33, 44, p1)), (2L, MediaBytes.wav(p1))),
      1L -> Seq((3L, MediaBytes.bmp(33, 44, p1 ++ " dup".getBytes("UTF-8"))),
        (4L, MediaBytes.wav(p4))),
      2L -> Seq((5L, MediaBytes.png(33, 44, p4 ++ " x".getBytes("UTF-8"))),
        (6L, MediaBytes.bmp(33, 44, p6))))
      .map { case (b, rows) => (b, rows.toDF("doc_id", "blob")) }
    IngestFixture("media",
      (st, kept, fp) => StreamingOps.mediaSink(st, kept, 2, faultPoint = fp),
      batches, "doc_id", Set(1L, 4L, 6L),
      // a near-dup of kept 6 is dropped; a novel blob is kept
      Seq((7L, MediaBytes.wav(p6 ++ " y".getBytes("UTF-8"))),
        (8L, MediaBytes.png(33, 44, payload()))).toDF("doc_id", "blob"),
      Set(8L))
  }

  /** The exactly-once contract of one ingest sink: an uncrashed reference
    * run keeps `expected`; a run crashed at every fault point of every
    * batch, restarted and replayed keeps the same set, each id once; and a
    * fresh sink bootstrapped from that run's changelog still drops the
    * probe's near-dups of kept rows and keeps its novelty. */
  private def assertExactlyOnce(fx: IngestFixture): Unit = {
    val sites = Seq("after-kept", "after-state", "after-marker")
    def kept(root: String): Seq[Long] = StreamingOps.committedKept(spark, s"$root/kept")
      .select(fx.idCol).collect().map(_.getLong(0)).toSeq

    val ref = tmpDir(s"${fx.name}refrun")
    val refSink = fx.sink(s"$ref/state", s"$ref/kept", _ => ())
    fx.batches.foreach { case (b, df) => refSink.apply(df, b) }
    assert(kept(ref).toSet == fx.expected)

    val out = tmpDir(s"${fx.name}crash")
    crashReplayDrive(fx.batches, sites, fp => fx.sink(s"$out/state", s"$out/kept", fp))
    val crashed = kept(out)
    assert(crashed.toSet == fx.expected, s"crashed run diverged: $crashed")
    assert(crashed.length == crashed.toSet.size, s"double-applied batch: $crashed")

    fx.sink(s"$out/state", s"$out/kept", _ => ()).apply(fx.probe, fx.batches.size.toLong)
    assert(kept(out).toSet == fx.expected ++ fx.probeKept)
  }

  test("minhash ingest is exactly-once: crash at every boundary, replay converges") {
    assertExactlyOnce(minhashFixture)
  }

  test("embedding ingest is exactly-once: crash at every boundary, replay converges") {
    assertExactlyOnce(embFixture)
  }

  test("media ingest is exactly-once: crash at every boundary, replay converges") {
    assertExactlyOnce(mediaFixture)
  }

  test("ingest micro-batches run a bounded number of Spark jobs") {
    // jobs per `apply` over the exactly-once fixtures' three batches, on
    // the broadcast, unsalted branch that StreamBench's micro-batches
    // take. Each bound is the count measured when every stream still had
    // its own per-batch function: MinHash 28/36/36, embeddings 23/24/15,
    // media 20/19/19
    val budgets = Seq(
      minhashFixture -> Seq(28, 36, 36),
      embFixture -> Seq(23, 24, 15),
      mediaFixture -> Seq(20, 19, 19))
    for ((fx, budget) <- budgets) {
      val out = tmpDir(s"${fx.name}jobs")
      val sink = fx.sink(s"$out/state", s"$out/kept", _ => ())
      val counts = fx.batches.map { case (b, df) => jobs(sink.apply(df, b)) }
      assert(counts.zip(budget).forall { case (n, cap) => n <= cap },
        s"${fx.name} jobs per batch $counts, budget $budget")
      assert(StreamingOps.committedKept(spark, s"$out/kept")
        .select(fx.idCol).collect().map(_.getLong(0)).toSet == fx.expected)
    }
  }

  /** One novel doc per batch — every batch kept, every append non-empty,
    * so CompactEvery appends deterministically trigger disk compaction. */
  private def novelDocBatches(n: Int): Seq[(Long, org.apache.spark.sql.DataFrame)] =
    (0 until n).map { i =>
      val text = (i * 100 to i * 100 + 12).map(w => s"w$w").mkString(" ")
      (i.toLong, Seq((i + 1L, text)).toDF("doc_id", "text"))
    }

  private def stateDirNames(root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  test("state changelog compacts on disk to snapshot + bounded tail; snapshot carries early state") {
    import StreamingOps.KeyedStreamState.{CompactEvery, SnapPrefix}
    val out = tmpDir("mhcompact")
    val n = CompactEvery + 2 // one compaction, then a short tail
    val p = StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
    novelDocBatches(n).foreach { case (b, df) => p.apply(df, b) }
    for (t <- Seq("bands", "shingles")) {
      val names = stateDirNames(s"$out/state/$t")
      val snaps = names.filter(_.startsWith(SnapPrefix))
      assert(snaps.size == 1, s"$t: expected one snapshot, got $names")
      val upTo = snaps.head.stripPrefix(SnapPrefix).toLong
      val tail = names.filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
      assert(tail.forall(_ > upTo), s"$t: superseded dirs not cleaned: $names")
      assert(tail.size <= CompactEvery, s"$t: unbounded tail: $names")
    }
    // the snapshot (not the deleted batch_id= dirs) must carry batch 0's
    // state: a fresh processor bootstraps from it and still drops a
    // near-dup of the FIRST kept doc while admitting novelty
    val nearFirst = (0 to 10).map(w => s"w$w").mkString(" ") + " zz"
    val novel = (900 to 912).map(w => s"q$w").mkString(" ")
    val p2 = StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
    p2.apply(Seq((50L, nearFirst), (51L, novel)).toDF("doc_id", "text"), n.toLong)
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1 to n).map(_.toLong).toSet + 51L, s"got $kept")
  }

  test("crash mid-compaction: partial snapshot bootstraps without double-count, next compact self-heals") {
    import StreamingOps.KeyedStreamState.{CompactEvery, SnapPrefix}
    // uncrashed reference state size for the no-double-count assertion
    val ref = tmpDir("mhcompref")
    val refP = StreamingOps.minhashSink(s"$ref/state", s"$ref/kept", 0.6)
    novelDocBatches(CompactEvery + 1).foreach { case (b, df) => refP.apply(df, b) }
    val refBands = {
      val ids = new StreamingOps.CommitLog(spark, s"$ref/kept").committed()
      val st = new StreamingOps.KeyedStreamState(spark, s"$ref/state",
        Seq("bands", "shingles"), ids)
      st.table("bands").count()
    }

    for (site <- Seq("compact-after-snap:bands", "compact-after-snapshots")) {
      val out = tmpDir("mhcompcrash")
      var armed: Option[String] = Some(site)
      val fault: String => Unit = s => if (armed.contains(s)) {
        armed = None; throw new RuntimeException(s"injected crash $s")
      }
      val batches = novelDocBatches(CompactEvery + 1)
      val p = StreamingOps.minhashSink(
        s"$out/state", s"$out/kept", 0.6, faultPoint = fault)
      // the CompactEvery-th batch's post-commit compaction crashes at
      // `site`, leaving a renamed snapshot AND its superseded batch dirs
      val crashed = batches.indexWhere { case (b, df) =>
        try { p.apply(df, b); false }
        catch { case e: RuntimeException if e.getMessage.startsWith("injected") => true }
      }
      assert(crashed == CompactEvery - 1, s"$site: crashed at batch $crashed")
      // restart: the crashed batch replays as a no-op (its marker landed
      // before the compaction), then the stream carries on
      val p2 = StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
      batches.drop(crashed).foreach { case (b, df) => p2.apply(df, b) }
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == (1 to CompactEvery + 1).map(_.toLong).toSet,
        s"$site: kept diverged: $kept")
      // bootstrap must read snapshot + tail only — surviving superseded
      // batch_id= dirs (cleanup never ran) are invisible, not doubled
      val ids = new StreamingOps.CommitLog(spark, s"$out/kept").committed()
      val st = new StreamingOps.KeyedStreamState(spark, s"$out/state",
        Seq("bands", "shingles"), ids)
      val (bandCount, bandDistinct) =
        (st.table("bands").count(), st.table("bands").distinct().count())
      assert(bandCount == refBands,
        s"$site: state rows $bandCount != uncrashed $refBands (double-count?)")
      assert(bandCount == bandDistinct, s"$site: duplicate state rows")
      if (site == "compact-after-snapshots") {
        // stale dirs left by the crash die on the NEXT compaction
        val more = (0 to CompactEvery).map { i =>
          val text = (5000 + i * 100 to 5000 + i * 100 + 12)
            .map(w => s"m$w").mkString(" ")
          (CompactEvery + 1L + i, Seq((100L + i, text)).toDF("doc_id", "text"))
        }
        val p3 = StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
        more.foreach { case (b, df) => p3.apply(df, b) }
        for (t <- Seq("bands", "shingles")) {
          val names = stateDirNames(s"$out/state/$t")
          val snaps = names.filter(_.startsWith(SnapPrefix))
          assert(snaps.size == 1, s"$t after heal: $names")
          val upTo = snaps.head.stripPrefix(SnapPrefix).toLong
          assert(names.filter(_.startsWith("batch_id="))
            .map(_.stripPrefix("batch_id=").toLong).forall(_ > upTo),
            s"$t: stale dirs survived the healing compact: $names")
        }
      }
    }
  }

  test("commit markers roll up into per-epoch watermarks: bounded count AND bytes, exact sums, debris tolerated") {
    import StreamingOps.CommitLog.RollupPrefix
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    val root = tmpDir("commitroll")
    val log = new StreamingOps.CommitLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(s"$root/_commits")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_commits"))
        .filter(_.isFile).map(_.getPath.getName).toSeq
    def rollupBytes: Long = files.filter(_.startsWith(RollupPrefix))
      .map(n => fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$root/_commits/$n")).getLen).sum
    def deltasOf(id: Long) = Array(id * 10, id + 1)
    // sums over 0..upTo must be exact whatever the watermark/tail split
    def assertExact(upTo: Long): Unit = {
      val got = log.committed()
      (0L to upTo).foreach(id => assert(got.contains(id), s"id $id lost"))
      assert(!got.contains(upTo + 1))
      assert(got.maxId == upTo)
      val want = (0L to upTo).map(deltasOf)
        .foldLeft(Array.empty[Long])(StreamingOps.CommitLog.addDeltas)
      assert(got.deltaSums.sameElements(want),
        s"sums ${got.deltaSums.mkString(",")} != ${want.mkString(",")}")
    }

    (0L until 2L * keep).foreach(id => log.commit(id, deltasOf(id)))
    log.compact(keep) // 16 markers >= 2*keepTail: absorb all but the tail
    assert(files.count(_.startsWith(RollupPrefix)) == 1)
    assert(files.size == keep + 1, s"unbounded _commits: $files")
    assertExact(2L * keep - 1)
    val bytesAfterFirst = rollupBytes

    // crash debris: an absorbed marker whose file survived the cleanup —
    // watermark-covered, so invisible (sums NOT double-counted), then
    // deleted by the next compaction
    log.commit(0L, deltasOf(0L))
    assertExact(2L * keep - 1)
    ((2L * keep) until (3L * keep - 1)).foreach(id => log.commit(id, deltasOf(id)))
    log.compact(keep) // tail back at 2*keepTail: debris absorbed + deleted
    assert(!files.contains("0"), s"debris marker survived: $files")
    assert(files.size == keep + 1, s"unbounded _commits: $files")
    assertExact(3L * keep - 2)
    // one epoch = one watermark line: bytes must NOT grow with batches
    // (modulo the sums' digit count), unlike the absorbed batch count
    assert(rollupBytes <= bytesAfterFirst + 8,
      s"roll-up bytes grew with batch count: $bytesAfterFirst -> $rollupBytes")

    // epoch resolution reads THROUGH the roll-up: a fresh checkpoint over
    // this log must claim an epoch above every rolled-up id's epoch
    val epoch = StreamingOps.CommitLog.resolveEpoch(
      spark, tmpDir("commitrollckpt"), root)
    assert(epoch == 1L, s"expected epoch 1 over epoch-0 roll-up, got $epoch")
  }

  test("a roll-up line that is not a watermark fails loudly") {
    import StreamingOps.CommitLog.RollupPrefix
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    val root = tmpDir("commitrollbad")
    val dir = new org.apache.hadoop.fs.Path(s"$root/_commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // exact `id:deltas` lines: no current writer produces them, and
    // reading past them would drop batches 0..3 from the committed view
    val rollup = s"${RollupPrefix}3"
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, rollup), true)
    try out.write((0L to 3L).map(id => s"$id:${id * 10},${id + 1}")
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val log = new StreamingOps.CommitLog(spark, root)
    val e = intercept[IllegalStateException](log.committed())
    assert(e.getMessage.contains(rollup), e.getMessage)
    // compaction refuses too, and deletes nothing
    (4L until 4L + 2L * keep).foreach(id => log.commit(id, Array(id * 10, id + 1)))
    val before = fs.listStatus(dir).map(_.getPath.getName).toSet
    val c = intercept[IllegalStateException](log.compact(keep))
    assert(c.getMessage.contains(rollup), c.getMessage)
    assert(fs.listStatus(dir).map(_.getPath.getName).toSet == before)
  }

  test("output compaction bin-packs committed batch dirs into per-epoch ranges; view identical; debris self-heals") {
    import spark.implicits._
    import StreamingOps.CommitLog
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    val root = tmpDir("outcompact")
    val log = new StreamingOps.CommitLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirNames: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
    def view: Set[(Long, String)] = StreamingOps.committedKept(spark, root)
      .as[(Long, String)].collect().toSet
    // two epochs, each with keep+2 committed batches: the absorb set
    // spans both, so compaction must seal one range PER EPOCH, never
    // across (a resumed old-epoch checkpoint commits between its own
    // epoch's ids — a cross-epoch range would straddle them)
    val ids = (0L until (keep + 2L)).map(CommitLog.pack(0, _)) ++
      (0L until (keep + 2L)).map(CommitLog.pack(1, _))
    ids.foreach { id =>
      Seq((id, s"doc$id")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$root/batch_id=$id")
      log.commit(id, Array(1L))
    }
    // plus uncommitted debris above epoch 1's committed max: never
    // absorbed, never visible
    val debrisId = CommitLog.pack(1, keep + 2L)
    Seq((999L, "debris")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/batch_id=$debrisId")
    val before = view
    assert(before.size == ids.size)
    def isCommitted: Long => Boolean = { val c = log.committed(); c.contains }

    StreamingOps.compactOutput(spark, root, isCommitted, keep)
    val ranges = dirNames.filter(_.startsWith("range="))
    assert(ranges.size == 2, s"expected one range per epoch: $dirNames")
    ranges.foreach { r =>
      val Array(lo, hi) = r.stripPrefix("range=").split('-').map(_.toLong)
      assert((lo >>> CommitLog.BatchBits) == (hi >>> CommitLog.BatchBits),
        s"range spans epochs: $r")
    }
    // absorbed dirs deleted; keep-tail + the inert debris dir remain
    val tailDirs = dirNames.filter(_.startsWith("batch_id="))
    assert(tailDirs.size == keep + 1, s"tail not bounded: $tailDirs")
    assert(tailDirs.contains(s"batch_id=$debrisId"))
    assert(view == before, "committed view changed under compaction")

    // crash debris: an absorbed dir recreated with garbage is covered by
    // a range — invisible to the view — and the next pass deletes it
    val victim = ids.head
    Seq((victim, "GARBAGE")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/batch_id=$victim")
    assert(view == before, "covered debris leaked into the view")
    StreamingOps.compactOutput(spark, root, isCommitted, keep)
    assert(!dirNames.contains(s"batch_id=$victim"), "covered debris survived")
    assert(view == before)
  }

  test("a checkpoint with offsets but no epoch file fails loudly") {
    val out = tmpDir("noepoch")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new StreamingOps.CommitLog(spark, s"$out/kept")
    (0L to 3L).foreach(id => log.commit(id, Array(1L)))
    // Spark stream state without the `_graft_epoch` the stream start
    // publishes first: any epoch claimed here could replay a committed
    // batch under an id its marker does not match
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/ckpt/offsets"))
    val epochFile = new org.apache.hadoop.fs.Path(s"$out/ckpt/_graft_epoch")
    val e = intercept[IllegalStateException] {
      StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt", s"$out/kept")
    }
    assert(e.getMessage.contains(epochFile.toString), e.getMessage)
    assert(!fs.exists(epochFile), "the refused checkpoint was re-epoched")
    // a genuinely fresh checkpoint still claims a new epoch
    assert(StreamingOps.CommitLog.resolveEpoch(
      spark, s"$out/ckpt2", s"$out/kept") == 1L)
  }

  test("epoch file publishes by rename; a torn/corrupt file fails loudly") {
    val out = tmpDir("tornepoch")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a claim leaves no tmp debris and the published file round-trips
    val e = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt", s"$out/kept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$out/ckpt/.tmp_graft_epoch")), "tmp file left behind after publish")
    assert(StreamingOps.CommitLog.resolveEpoch(
      spark, s"$out/ckpt", s"$out/kept") == e)
    // a corrupt epoch file (empty, or a truncated decimal that would
    // silently parse SMALLER and collide with committed ids) must fail
    // with an actionable message, never be guessed around
    for (content <- Seq("", "12x")) {
      val p = new org.apache.hadoop.fs.Path(s"$out/ckpt2/_graft_epoch")
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true)
      try o.write(content.getBytes("UTF-8")) finally o.close()
      val ex = intercept[IllegalStateException] {
        StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt2", s"$out/kept")
      }
      assert(ex.getMessage.contains("delete the file"), ex.getMessage)
    }
  }

  test("stale epoch-claim tmp orphans are reaped on resolve; a fresh " +
      "in-flight tmp is left alone") {
    val out = tmpDir("tmporphan")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ck = s"$out/ckpt"
    fs.mkdirs(new org.apache.hadoop.fs.Path(ck))
    // a crash between create and rename left this behind two minutes ago
    val stale = new org.apache.hadoop.fs.Path(s"$ck/.tmp_graft_epoch_stale")
    fs.create(stale, true).close()
    fs.setTimes(stale, System.currentTimeMillis() - 120000L, -1)
    // a CONCURRENT resolver's tmp is seconds old — must survive the reap
    // (deleting it would fail that resolver's rename while the epoch
    // file is still unpublished)
    val fresh = new org.apache.hadoop.fs.Path(s"$ck/.tmp_graft_epoch_fresh")
    fs.create(fresh, true).close()
    val e = StreamingOps.CommitLog.resolveEpoch(spark, ck, s"$out/kept")
    assert(!fs.exists(stale), "stale orphan survived the reap")
    assert(fs.exists(fresh), "live in-flight tmp was reaped")
    // the published claim is stable on re-resolution
    assert(StreamingOps.CommitLog.resolveEpoch(spark, ck, s"$out/kept") == e)
  }

  test("zero-row (footerless) committed batch dirs: views stay readable, compaction skips them") {
    import spark.implicits._
    val root = tmpDir("footerless")
    val log = new StreamingOps.CommitLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batch 0 committed but wrote only _SUCCESS (a zero-row batch)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batch_id=0"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/batch_id=0/_SUCCESS"), true).close()
    log.commit(0L, Array(0L))
    // only the footerless dir: the view must return zero rows, not throw
    assert(StreamingOps.committedKept(spark, root).count() == 0)
    Seq((1L, "a")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/batch_id=1")
    log.commit(1L, Array(1L))
    assert(StreamingOps.committedKept(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // compaction over a group containing the footerless dir must not
    // poison schema inference — and deletes it (zero rows by construction)
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    (2L until 2L + 2L * keep).foreach { id =>
      Seq((id, s"d$id")).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/batch_id=$id")
      log.commit(id, Array(1L))
    }
    val c = log.committed()
    StreamingOps.compactOutput(spark, root, c.contains _, keep)
    val names = stateDirNames(root)
    assert(names.exists(_.startsWith("range=")), s"no range: $names")
    assert(!names.contains("batch_id=0"), s"footerless dir survived: $names")
    assert(StreamingOps.committedKept(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet == (1L until 2L + 2L * keep).toSet)
  }

  test("ingest stream long enough to trigger output compaction: ranges appear, kept set unchanged") {
    import StreamingOps.KeyedStreamState.CompactEvery
    val out = tmpDir("mhoutcompact")
    val n = 2 * CompactEvery + 1 // crosses the 2×-tail hysteresis once
    val p = StreamingOps.minhashSink(s"$out/state", s"$out/kept", 0.6)
    novelDocBatches(n).foreach { case (b, df) => p.apply(df, b) }
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1 to n).map(_.toLong).toSet, s"kept diverged: $kept")
    val names = stateDirNames(s"$out/kept")
    assert(names.exists(_.startsWith("range=")),
      s"no range dir after $n batches: $names")
    assert(names.count(_.startsWith("batch_id=")) <= CompactEvery + 1,
      s"batch-dir tail not bounded: $names")
  }

  test("taxi sink under a new epoch processes restarted batch ids, keeps cross-epoch state") {
    import spark.implicits._
    val colIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    val lineA = "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47"
    val lineB = "01/02/2020 01:00:00 AM,01/02/2020 01:10:00 AM,2,3.4,Y,10,20,30,4"
    def annotate(lines: Seq[String]) = StreamingOps.annotateTaxiLines(
      lines.zipWithIndex.map { case (l, i) => (i + 1L, l) }
        .toDF("line_number", "value"), config, colIdx)
    val out = tmpDir("taxiepoch")
    val (trips, dups) = (s"$out/trips", s"$out/duplicates")
    // epoch 1 (first stream start): batch 0 inserts lineA's trip
    val c1 = new StreamingOps.TaxiStreamCounters
    StreamingOps.taxiSink(trips, dups, c1, epoch = 1L)(
      annotate(Seq(lineA)), 0L)
    // epoch 2 (checkpoint lost — batch ids restart at 0): the batch MUST
    // be processed (bare-batch-id logs would silently skip it), lineB
    // inserted, and lineA recognized as a duplicate of the EPOCH-1 kept
    // key via the cross-epoch committed trips output
    val c2 = new StreamingOps.TaxiStreamCounters
    StreamingOps.taxiSink(trips, dups, c2, epoch = 2L)(
      annotate(Seq(lineB, lineA)), 0L)
    assert(c2.snapshot == graft.etl.Stats.EtlStats(
      total = 3, parsed = 3, invalid = 0, duplicates = 1, inserted = 2,
      duplicatesFileRows = 1))
    assert(StreamingOps.committedTrips(spark, trips).count() == 2)
    val dupCsv = spark.read.option("header", "true").csv(dups)
    assert(dupCsv.count() == 1)
  }
}
