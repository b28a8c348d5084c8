package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1/A3 — first-occurrence-wins dedup on
  * (pickup_utc, dropoff_utc, passenger_count)
  * (TaxiEtl/TaxiEtl.Application/Services/TripDuplicateDetectorService.cs:36-58,
  * pipeline branch TripEtlPipelineService.cs:129-155; the author equates it
  * to ROW_NUMBER OVER (PARTITION BY key ORDER BY file order) at
  * README.md:84-87 — that is literally what this is).
  *
  * Only rows that survived parse+normalize register a key — invalid rows
  * never reach the detector in the reference (`TripEtlPipelineService.cs:82-131`).
  *
  * Scale design: one hash exchange on the dedup key; state lives in the
  * shuffle, not on the driver — this removes the reference's acknowledged
  * ~10 GB in-memory-HashSet failure mode (README.md:77-78). Invalid rows
  * are given singleton partitions (keyed by line_number) instead of sharing
  * a null-key partition, so a 100 TB run with many unparsable rows cannot
  * produce one skewed reducer.
  */
object Dedup {

  val DupRankCol = "dup_rank"

  /** @param orderCols the file-order ordinal — `line_number` for the
    *   single-file source, `(src_file, byte_offset)` for the sharded
    *   scale path. Invalid rows get singleton window partitions keyed by
    *   their own ordinal (null for valid rows — they all share it and are
    *   partitioned by the dedup key alone). */
  def withFirstWins(
      df: DataFrame,
      orderCols: Seq[String] = Seq(CsvSource.LineNumberCol)): DataFrame = {
    val singleton = orderCols.map(c =>
      when(Normalize.valid, lit(null)).otherwise(col(c)))
    val w = Window
      .partitionBy(singleton ++ Seq(
        col("pickup_utc"), col("dropoff_utc"), col("passenger_count")): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn(DupRankCol,
      when(Normalize.valid, row_number().over(w)).otherwise(lit(null).cast("int")))
  }
}
