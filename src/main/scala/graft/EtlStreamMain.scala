package graft

import graft.etl.{CsvSource, EtlConfig}
import graft.streaming.StreamingOps

/** Streaming CLI for the taxi ETL: watches a directory of headerless
  * delimited files (canonical 9-column order) and runs the FULL
  * three-consumer pipeline continuously — trips parquet, duplicates side
  * CSV, and the six run counters (printed as JSON on exit), matching the
  * batch `EtlMain` surface over an unbounded source.
  *
  * Dedup is first-ARRIVAL-wins: a directory stream has no global file
  * order, so the ordinal is a per-batch arrival surrogate
  * (monotonically_increasing_id — stable within the batch that computes
  * it, which is all the within-batch window needs; cross-batch order is
  * the batch sequence itself, via the committed trips output).
  *
  * Usage: EtlStreamMain <inputDir> <outputDir> [--follow]
  * Without --follow, drains everything currently available
  * (processAllAvailable) and exits; with it, follows the directory until
  * killed.
  */
object EtlStreamMain {
  def main(args: Array[String]): Unit = {
    val Array(inputDir, outputDir, rest @ _*) = args: @unchecked
    val spark = Harness.session("graft-etl-stream")
    val colIdx = CsvSource.RequiredColumns.zipWithIndex.toMap
    val counters = new StreamingOps.TaxiStreamCounters
    val q = StreamingOps.runTaxiEtlStream(
      spark.readStream.text(inputDir),
      EtlConfig(inputCsvPath = inputDir,
        duplicatesCsvPath = s"$outputDir/duplicates",
        insertedPath = s"$outputDir/trips"),
      colIdx,
      seenKeysPath = s"$outputDir/seen_keys",
      counters = counters,
      checkpointDir = s"$outputDir/checkpoint")
    if (rest.contains("--follow")) q.awaitTermination()
    else { q.processAllAvailable(); q.stop() } // drain-and-exit default
    val s = counters.snapshot
    println(s"""{"total":${s.total},"parsed":${s.parsed},"invalid":${s.invalid},"duplicates":${s.duplicates},"inserted":${s.inserted}}""")
    spark.stop()
  }
}
