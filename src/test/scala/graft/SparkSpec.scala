package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.CsvSource

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * test run fast; suites must not mutate global conf destructively). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Build a CsvSource-shaped frame (line_number + raw_*) directly, in the
    * canonical 9-column order, for parser/normalizer tests. */
  def rawDf(rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(
      StructField(CsvSource.LineNumberCol, LongType, nullable = false) +:
        CsvSource.RequiredColumns.map(c =>
          StructField(CsvSource.rawCol(c), StringType, nullable = true)))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq((i + 1L) +: r.map(v => v: Any))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, numSlices = 2), schema)
  }

  /** A fully valid raw row in canonical column order; override fields via
    * the map (0=pickup .. 8=tip). */
  def validRow(overrides: Map[Int, String] = Map.empty): Seq[String] = {
    val base = Seq(
      "01/01/2020 12:28:15 AM", "01/01/2020 12:33:03 AM", "1", "1.2",
      "N", "238", "239", "6", "1.47")
    base.zipWithIndex.map { case (v, i) => overrides.getOrElse(i, v) }
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs `body` starts, counted by job group so no other thread's
    * jobs are included (broadcast jobs inherit the group). */
  def jobs(body: => Unit): Int = {
    import org.apache.spark.graft.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"spark-spec-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      body
      ListenerBus.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
