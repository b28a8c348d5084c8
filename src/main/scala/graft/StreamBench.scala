package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Streaming throughput micro-benchmark (r4 verdict item: the streaming
  * family was correctness-tested but never timed). End-to-end rates,
  * measured over MemoryStream micro-batch replays at the harness scale
  * factor — every stream runs the full production loop per batch (all
  * sinks, state reads/appends, checkpoint commits), so the rows/s figures
  * are honest pipeline numbers, not map-only throughput:
  *
  *  - taxi_rows_per_s: the reference ETL's three-consumer stream
  *    ([[StreamingOps.runTaxiEtlStream]]) over the SCALED taxi corpus
  *    (graft.queries.TaxiScaled — 500k lines at sf0.1), cross-batch
  *    seen-keys dedup included;
  *  - minhash_docs_per_s: LSH ingest dedup
  *    ([[StreamingOps.runMinhashDedupStream]]) over `documents`,
  *    band-table state joins + verified-Jaccard filtering included;
  *  - filtered / safetyfiltered: the MinHash stream behind the Gopher
  *    quality gate / the safety gate (`TextOps.gopherPrefilter`,
  *    `TextOps.safetyPrefilter`) over the same corpus;
  *  - emb / media / mediafiltered: the embedding and perceptual-hash
  *    ingest-dedup streams, the last behind the Gopher gate.
  *
  * SPARK_GRAFT_STREAM_ONLY (comma list of taxi, minhash, filtered,
  * safetyfiltered, emb, media, mediafiltered) restricts the run — the sf1
  * growth measurement runs the media stream alone at 10× the recorded
  * scale without paying the other six.
  * The media section samples state-dir / checkpoint / output sizes at
  * 25/50/75/100% of the batch sequence (`media_growth` in the JSON): the
  * bounded-lifecycle claim — content bytes grow with KEPT data, file
  * counts stay compaction-bounded — made observable mid-run rather than
  * asserted from the final listing alone.
  *
  * Output: one JSON line on stdout (last) + SPARK_GRAFT_STREAM_BENCH_OUT
  * (default `bench_runs/stream_bench_<UTC yyyyMMdd_HHmmss>.json`, like
  * Bench's dated copies, so a run never replaces the recorded
  * `stream_bench.json`); recorded per-round in PERF.md. Driver
  * collects the replay source once — that is the BENCH HARNESS feeding
  * the stream (a production deployment reads Kafka/files), not part of
  * the measured pipeline.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark: SparkSession = Harness.session("graft-stream-bench")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def tmp(p: String): String =
      Files.createTempDirectory(p).toString

    // micro-batch count per stream (default 5 — the recorded contract).
    // Raise past 16 (2x the compaction tail) to exercise the commit-log
    // roll-up, state snapshot, and output range compaction end to end.
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "5").toInt

    val allStreams = Seq("taxi", "minhash", "filtered", "safetyfiltered",
      "emb", "media", "mediafiltered")
    // Harness.only rejects an empty selection, which would emit a
    // malformed, all-skipped bench record
    val only: Set[String] = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .fold(allStreams)(Harness.only(_, allStreams.contains)).toSet

    val fields = scala.collection.mutable.ListBuffer.empty[String]

    // post-run dir telemetry: the bounded-lifecycle claim, observable
    def dirStats(label: String, root: String): Unit = {
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(rp)) {
        val names = fs.listStatus(rp).map(_.getPath.getName)
        val commits = new org.apache.hadoop.fs.Path(s"$root/_commits")
        val nMarkers = if (fs.exists(commits))
          fs.listStatus(commits).count(_.isFile) else 0
        System.err.println(s"[stream-bench] $label: batch_dirs=" +
          names.count(_.startsWith("batch_id=")) +
          s" ranges=${names.count(_.startsWith("range="))}" +
          s" commit_files=$nMarkers")
      }
    }

    /** Recursive (bytes, files) under a root — the growth-sample unit. */
    def duSize(root: String): (Long, Long) = {
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(rp)) (0L, 0L)
      else {
        var bytes = 0L; var files = 0L
        val it = fs.listFiles(rp, true)
        while (it.hasNext) { val f = it.next(); bytes += f.getLen; files += 1 }
        (bytes, files)
      }
    }

    // ---- taxi ETL stream over the scaled corpus -----------------------
    if (only("taxi")) {
      val glob = queries.TaxiScaled.ensureGenerated(spark, sfDir)
      val header = spark.read.textFile(glob).head()
      val colIdx = header.split(",").zipWithIndex
        .map { case (n, i) => n.trim.toLowerCase -> i }.toMap
      val taxiIdx = graft.etl.CsvSource.RequiredColumns
        .map(c => c -> colIdx(c.toLowerCase)).toMap
      val lines = spark.read.textFile(glob).filter(col("value") =!= header)
        .collect().zipWithIndex.map { case (l, i) => (i + 1L, l) }
      val taxiOut = tmp("streambench_taxi")
      val counters = new StreamingOps.TaxiStreamCounters
      val taxiIn = MemoryStream[(Long, String)]
      val taxiQ = StreamingOps.runTaxiEtlStream(
        taxiIn.toDS().toDF("line_number", "value"),
        graft.etl.EtlConfig(inputCsvPath = "",
          duplicatesCsvPath = s"$taxiOut/duplicates", insertedPath = s"$taxiOut/trips"),
        taxiIdx, s"$taxiOut/seen_keys", counters, s"$taxiOut/ckpt")
      val taxiBatch = math.max(1, lines.length / nBatches)
      val t0 = System.nanoTime()
      try {
        lines.grouped(taxiBatch).foreach { chunk =>
          taxiIn.addData(chunk.toIndexedSeq)
          taxiQ.processAllAvailable()
        }
      } finally taxiQ.stop()
      val taxiSecs = (System.nanoTime() - t0) / 1e9
      dirStats("taxi_trips", s"$taxiOut/trips")
      val taxiRate = lines.length / taxiSecs
      fields += s""""taxi_rows":${lines.length},"taxi_secs":$taxiSecs,"taxi_rows_per_s":$taxiRate,"taxi_inserted":${counters.inserted.sum}"""
    }

    lazy val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect()
    lazy val docBatch = math.max(1, docs.length / nBatches)

    // ---- MinHash LSH ingest-dedup stream over documents ---------------
    if (only("minhash")) {
      val dedupOut = tmp("streambench_dedup")
      val docIn = MemoryStream[(Long, String)]
      val dedupQ = StreamingOps.runMinhashDedupStream(
        docIn.toDS().toDF("doc_id", "text"),
        s"$dedupOut/state", s"$dedupOut/kept", s"$dedupOut/ckpt")
      val t1 = System.nanoTime()
      try {
        docs.grouped(docBatch).foreach { chunk =>
          docIn.addData(chunk.toIndexedSeq)
          dedupQ.processAllAvailable()
        }
      } finally dedupQ.stop()
      val dedupSecs = (System.nanoTime() - t1) / 1e9
      val dedupRate = docs.length / dedupSecs
      val kept = StreamingOps.committedKept(spark, s"$dedupOut/kept").count()
      dirStats("minhash_kept", s"$dedupOut/kept")
      fields += s""""minhash_docs":${docs.length},"minhash_secs":$dedupSecs,"minhash_docs_per_s":$dedupRate,"minhash_kept":$kept"""
    }

    // ---- Gopher-gated MinHash ingest (filter-then-dedup) ---------------
    // same corpus, same batch split — the delta vs the unfiltered loop is
    // the gate's cost minus the dedup work the gated-out docs never do
    if (only("filtered")) {
      val filtOut = tmp("streambench_filtdedup")
      val filtIn = MemoryStream[(Long, String)]
      val filtQ = StreamingOps.runMinhashDedupStream(
        graft.ext.TextOps.gopherPrefilter(filtIn.toDS().toDF("doc_id", "text")),
        s"$filtOut/state", s"$filtOut/kept", s"$filtOut/ckpt")
      val t1b = System.nanoTime()
      try {
        docs.grouped(docBatch).foreach { chunk =>
          filtIn.addData(chunk.toIndexedSeq)
          filtQ.processAllAvailable()
        }
      } finally filtQ.stop()
      val filtSecs = (System.nanoTime() - t1b) / 1e9
      val filtRate = docs.length / filtSecs
      val filtKept = StreamingOps.committedKept(spark, s"$filtOut/kept").count()
      dirStats("filtered_kept", s"$filtOut/kept")
      fields += s""""filtered_secs":$filtSecs,"filtered_docs_per_s":$filtRate,"filtered_kept":$filtKept"""
    }

    // ---- safety-gated MinHash ingest (safety-filter-then-dedup) --------
    // same corpus, same batch split — the delta vs `minhash` is the
    // lexicon gate's cost (a stateless scan-bounded projection) minus
    // the dedup work the gated-out docs never do
    if (only("safetyfiltered")) {
      val sfOut = tmp("streambench_safetydedup")
      val sfIn = MemoryStream[(Long, String)]
      val sfQ = StreamingOps.runMinhashDedupStream(
        graft.ext.TextOps.safetyPrefilter(sfIn.toDS().toDF("doc_id", "text")),
        s"$sfOut/state", s"$sfOut/kept", s"$sfOut/ckpt")
      val t1c = System.nanoTime()
      try {
        docs.grouped(docBatch).foreach { chunk =>
          sfIn.addData(chunk.toIndexedSeq)
          sfQ.processAllAvailable()
        }
      } finally sfQ.stop()
      val sfSecs = (System.nanoTime() - t1c) / 1e9
      val sfRate = docs.length / sfSecs
      val sfKept = StreamingOps.committedKept(spark, s"$sfOut/kept").count()
      dirStats("safetyfiltered_kept", s"$sfOut/kept")
      fields += s""""safetyfiltered_secs":$sfSecs,"safetyfiltered_docs_per_s":$sfRate,"safetyfiltered_kept":$sfKept"""
    }

    // ---- hyperplane-LSH embedding ingest-dedup stream over embeddings --
    if (only("emb")) {
      val vecs = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect()
      val embOut = tmp("streambench_emb")
      val vecIn = MemoryStream[(Long, Array[Float])]
      val embQ = StreamingOps.runEmbDedupStream(
        vecIn.toDS().toDF("vec_id", "embedding"),
        s"$embOut/state", s"$embOut/kept", s"$embOut/ckpt")
      val vecBatch = math.max(1, vecs.length / nBatches)
      val t2 = System.nanoTime()
      try {
        vecs.grouped(vecBatch).foreach { chunk =>
          vecIn.addData(chunk.toIndexedSeq)
          embQ.processAllAvailable()
        }
      } finally embQ.stop()
      val embSecs = (System.nanoTime() - t2) / 1e9
      val embRate = vecs.length / embSecs
      val embKept = StreamingOps.committedKept(spark, s"$embOut/kept").count()
      dirStats("emb_kept", s"$embOut/kept")
      fields += s""""emb_vecs":${vecs.length},"emb_secs":$embSecs,"emb_vecs_per_s":$embRate,"emb_kept":$embKept"""
    }

    // ---- perceptual-hash media ingest-dedup stream over blobs ----------
    // blobs synthesized from the documents corpus (the media family's
    // construction), streamed as (doc_id, blob) — the dHash-banded
    // exactly-once ingest at the production operating point
    if (only("media")) {
      val blobs = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          graft.functions.MediaFunctions.synthMedia(col("doc_id"), col("text"))
            .as("blob"))
        .as[(Long, Array[Byte])].collect()
      val mediaOut = tmp("streambench_media")
      val blobIn = MemoryStream[(Long, Array[Byte])]
      val mediaQ = StreamingOps.runMediaDedupStream(
        blobIn.toDS().toDF("doc_id", "blob"),
        s"$mediaOut/state", s"$mediaOut/kept", s"$mediaOut/ckpt")
      val blobBatch = math.max(1, blobs.length / nBatches)
      val groups = blobs.grouped(blobBatch).toSeq
      // quartile sample points over the batch sequence (always includes
      // the final batch): the mid-run growth record. ceil, not integer
      // division — with 5 batches the marks are 2/3/4/5 (40/60/80/100%),
      // the closest-from-above quartiles, never a skipped 75% point
      val marks = Set(1, 2, 3, 4)
        .map(q => math.ceil(groups.size * q / 4.0).toInt).filter(_ > 0)
      val samples = scala.collection.mutable.ListBuffer.empty[String]
      val t3 = System.nanoTime()
      try {
        groups.zipWithIndex.foreach { case (chunk, i) =>
          blobIn.addData(chunk.toIndexedSeq)
          mediaQ.processAllAvailable()
          if (marks(i + 1)) {
            val (sb, sf) = duSize(s"$mediaOut/state")
            val (kb, kf) = duSize(s"$mediaOut/kept")
            val (cb, cf) = duSize(s"$mediaOut/ckpt")
            val s = s"""{"after_batches":${i + 1},"state_bytes":$sb,"state_files":$sf,"kept_bytes":$kb,"kept_files":$kf,"ckpt_bytes":$cb,"ckpt_files":$cf}"""
            System.err.println(s"[stream-bench] media_growth $s")
            samples += s
          }
        }
      } finally mediaQ.stop()
      val mediaSecs = (System.nanoTime() - t3) / 1e9
      val mediaRate = blobs.length / mediaSecs
      val mediaKept = StreamingOps.committedKept(spark, s"$mediaOut/kept").count()
      dirStats("media_kept", s"$mediaOut/kept")
      fields += s""""media_blobs":${blobs.length},"media_secs":$mediaSecs,"media_blobs_per_s":$mediaRate,"media_kept":$mediaKept,"media_batches":${groups.size},"media_growth":[${samples.mkString(",")}]"""
    }

    // ---- Gopher-gated media ingest (filter-then-media-dedup) -----------
    // same blob corpus and batch split as the ungated media loop: the
    // delta is the text gate's cost minus the dHash/banding/state work
    // the gated-out docs' blobs never pay (the `filtered` vs `minhash`
    // text-gate protocol, applied verbatim to the multimodal stream)
    if (only("mediafiltered")) {
      val rows = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"),
          graft.functions.MediaFunctions.synthMedia(col("doc_id"), col("text"))
            .as("blob"))
        .as[(Long, String, Array[Byte])].collect()
      val mfOut = tmp("streambench_mediafilt")
      val mfIn = MemoryStream[(Long, String, Array[Byte])]
      val mfQ = StreamingOps.runMediaDedupStream(
        graft.ext.TextOps.gopherPrefilter(mfIn.toDS().toDF("doc_id", "text", "blob"))
          .select(col("doc_id"), col("blob")),
        s"$mfOut/state", s"$mfOut/kept", s"$mfOut/ckpt")
      val mfBatch = math.max(1, rows.length / nBatches)
      val t4 = System.nanoTime()
      try {
        rows.grouped(mfBatch).foreach { chunk =>
          mfIn.addData(chunk.toIndexedSeq)
          mfQ.processAllAvailable()
        }
      } finally mfQ.stop()
      val mfSecs = (System.nanoTime() - t4) / 1e9
      val mfRate = rows.length / mfSecs
      val mfKept = StreamingOps.committedKept(spark, s"$mfOut/kept").count()
      dirStats("mediafiltered_kept", s"$mfOut/kept")
      fields += s""""mediafiltered_blobs":${rows.length},"mediafiltered_secs":$mfSecs,"mediafiltered_blobs_per_s":$mfRate,"mediafiltered_kept":$mfKept"""
    }

    val line =
      s"""{"metric":"stream_bench","sf":"$sfDir",${fields.mkString(",")}}"""
    try {
      val out = sys.env.get("SPARK_GRAFT_STREAM_BENCH_OUT").map(Paths.get(_))
        .getOrElse(Harness.datedRunPath(Paths.get("").toAbsolutePath, "stream_bench"))
      Files.writeString(out, line + "\n")
    } catch { case NonFatal(e) => System.err.println(s"[stream-bench] write failed: $e") }
    spark.stop()
    println(line)
  }
}
