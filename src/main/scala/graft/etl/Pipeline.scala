package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** O1 — end-to-end pipeline driver
  * (TaxiEtl/TaxiEtl.Application/Services/TripEtlPipelineService.cs:58-194).
  *
  * The reference's per-row pull loop becomes one lazily-planned DataFrame
  * DAG with three consumers: the inserted-rows sink, the duplicates sink
  * and the six counters. The annotated frame is persisted once
  * (MEMORY_AND_DISK) and read by two actions: the inserted-rows write,
  * which also yields the counters through an `Observation` attached ahead
  * of its filter, and the duplicates write. At cluster scale the same
  * structure holds; the persist spills to disk instead of OOMing.
  */
object Pipeline {

  /** Build the fully-annotated frame (raw + typed + errors + dup rank)
    * without running anything. */
  def annotate(spark: SparkSession, config: EtlConfig): DataFrame =
    Dedup.withFirstWins(parseNormalize(
      CsvSource.read(spark, config.inputCsvPath, config.delimiter), config))

  /** The sharded scale path: same parse/normalize/dedup stages over a
    * directory/glob of CSV shards, with (src_file, byte_offset) as the
    * file-order ordinal — no global line-number count job (see
    * [[CsvSource.readSharded]]). */
  def annotateSharded(spark: SparkSession, config: EtlConfig): DataFrame =
    Dedup.withFirstWins(parseNormalize(
      CsvSource.readSharded(spark, config.inputCsvPath, config.delimiter), config),
      orderCols = Seq(CsvSource.SrcFileCol, CsvSource.ByteOffsetCol))

  /** raw_* columns → typed + error columns (parse, then normalize) — the
    * per-row stages, shared with the streaming taxi sink. */
  def parseNormalize(raw: DataFrame, config: EtlConfig): DataFrame =
    Normalize.normalize(ParseValidate.parse(raw, config.inputDateTimeFormat),
      config.enableTimeZoneConversion, config.inputTimeZoneId)

  /** Run the full ETL: write inserted rows + duplicates side output, return
    * the six counters (observed during the inserted-rows write). */
  def run(spark: SparkSession, config: EtlConfig): Stats.EtlStats = {
    val annotated = annotate(spark, config).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (observed, counters) = Stats.observe(annotated)
      Sinks.writeInserted(observed, config.insertedPath)
      Sinks.writeDuplicates(annotated, config.duplicatesCsvPath)
      counters()
    } finally annotated.unpersist()
  }
}
