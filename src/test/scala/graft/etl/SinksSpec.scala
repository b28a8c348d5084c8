package graft.etl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Sink behaviors that GoldenStatsSpec's single-run e2e cannot see:
  * duplicates-file append-across-runs (reference
  * CsvDuplicateTripWriter.cs:56-109) and the JDBC bulk sink (reference
  * SqlBulkTripInserterService.cs:57-129) against embedded Derby — the
  * closest in-container stand-in for the reference's SQL Server target. */
class SinksSpec extends SparkSpec {

  private val referenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"

  private def annotated = Pipeline.annotate(spark, EtlConfig(
    inputCsvPath = referenceCsv, duplicatesCsvPath = "", insertedPath = ""))

  /** The twins' input: seeded lines (duplicates, invalid rows) in one
    * headed CSV, annotated like the reference sample. */
  private def annotatedSeeded(prefix: String) = Pipeline.annotate(spark,
    EtlConfig(inputCsvPath = TaxiLines.writeCsv(tmpDir(prefix),
      TaxiLines(3000, seed = 11L)), duplicatesCsvPath = "", insertedPath = ""))

  private def readCsvLines(dir: String): Seq[String] = {
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(part.size == 1, s"expected one part file, got $part")
    Files.readAllLines(part.head).asScala.toSeq
  }

  test("duplicates sink appends across runs with a single header") {
    val df = annotated.persist()
    try {
      val dir = tmpDir("dups") + "/duplicates.csv"
      Sinks.writeDuplicates(df, dir)
      val first = readCsvLines(dir)
      assert(first.head.startsWith("LineNumber,"), first.head)
      assert(first.count(_.startsWith("LineNumber,")) == 1)
      val run1Rows = first.tail
      assert(run1Rows.size == 15) // golden duplicate count

      Sinks.writeDuplicates(df, dir)
      val second = readCsvLines(dir)
      // one header, first run's rows verbatim in order, second run appended
      assert(second.count(_.startsWith("LineNumber,")) == 1)
      assert(second.size == 1 + 2 * run1Rows.size)
      assert(second.slice(1, 1 + run1Rows.size) == run1Rows)
      assert(second.drop(1 + run1Rows.size) == run1Rows)
    } finally df.unpersist()
  }

  test("JDBC sink: inserted rows bulk-load into embedded Derby with batchsize") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    Sinks.writeInsertedJdbc(annotated, url, "TRIPS", batchSize = 5000)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "TRIPS").load()
    assert(back.count() == 29840) // golden inserted count
    assert(back.columns.length == 10)
    assert(back.columns.contains("TRAVELTIMESECONDS") ||
      back.columns.contains("TravelTimeSeconds"))
  }

  test("duplicates sink over seeded lines appends across runs with a single header") {
    val df = annotatedSeeded("dupsseed").persist()
    try {
      val want = Stats.compute(df)
      assert(want.duplicates > 0)
      val dir = tmpDir("dups") + "/duplicates.csv"
      Sinks.writeDuplicates(df, dir)
      val first = readCsvLines(dir)
      assert(first.head.startsWith("LineNumber,"), first.head)
      assert(first.count(_.startsWith("LineNumber,")) == 1)
      val run1Rows = first.tail
      assert(run1Rows.size == want.duplicatesFileRows)
      // the annotated duplicates, in line order
      val dupLines = df.filter(Stats.isDuplicate())
        .select(CsvSource.LineNumberCol).collect().map(_.getLong(0)).sorted.toSeq
      assert(run1Rows.map(_.takeWhile(_ != ',').toLong) == dupLines)

      Sinks.writeDuplicates(df, dir)
      val second = readCsvLines(dir)
      assert(second.count(_.startsWith("LineNumber,")) == 1)
      assert(second.size == 1 + 2 * run1Rows.size)
      assert(second.slice(1, 1 + run1Rows.size) == run1Rows)
      assert(second.drop(1 + run1Rows.size) == run1Rows)
    } finally df.unpersist()
  }

  test("JDBC sink over seeded lines: inserted rows bulk-load into embedded Derby") {
    val url = "jdbc:derby:memory:graftseeddb;create=true"
    val df = annotatedSeeded("jdbcseed").persist()
    try {
      Sinks.writeInsertedJdbc(df, url, "TRIPS", batchSize = 500)
      val back = spark.read.format("jdbc")
        .option("url", url).option("dbtable", "TRIPS").load()
      assert(back.count() == Stats.compute(df).inserted)
      // the exact inserted rows, compared as text (Derby's column types
      // are not Spark's)
      def asText(t: DataFrame) = t.select(t.columns.map(col(_).cast("string")): _*)
      val want = Sinks.insertedRows(df)
      assert(back.columns.toSeq == want.columns.toSeq)
      assert(asText(back).exceptAll(asText(want)).isEmpty)
      assert(asText(want).exceptAll(asText(back)).isEmpty)
    } finally df.unpersist()
  }
}
