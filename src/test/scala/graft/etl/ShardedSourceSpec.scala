package graft.etl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The sharded (100 TB) ingestion path: (src_file, byte_offset) ordinals,
  * per-file header drop, header-drift fail-fast — and golden-stats parity
  * with the single-file pipeline on the reference's own 30k CSV. */
class ShardedSourceSpec extends SparkSpec {

  private val referenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"

  private val fullHeader =
    "tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,trip_distance," +
      "store_and_fwd_flag,PULocationID,DOLocationID,fare_amount,tip_amount"

  test("sharded read: per-file headers dropped, byte offsets as ordinals, blanks skipped") {
    val dir = Files.createTempDirectory("shards")
    Files.writeString(dir.resolve("s0.csv"), fullHeader + "\nA,B,1,2,N,3,4,5,6\n\nC,D,1,2,N,3,4,5,6")
    Files.writeString(dir.resolve("s1.csv"), fullHeader + "\nE,F,1,2,N,3,4,5,6")
    val out = CsvSource.readSharded(spark, dir.toString)
      .orderBy(CsvSource.SrcFileCol, CsvSource.ByteOffsetCol).collect()
    assert(out.length == 3) // two headers + one blank line dropped
    assert(out.map(_.getAs[String]("raw_tpep_pickup_datetime")).toSeq == Seq("A", "C", "E"))
    // every data row's offset is past its file's header line
    assert(out.forall(_.getAs[Long](CsvSource.ByteOffsetCol) > 0L))
  }

  test("sharded read fails fast on header drift between shards") {
    val dir = Files.createTempDirectory("shards_drift")
    Files.writeString(dir.resolve("s0.csv"), fullHeader + "\nA,B,1,2,N,3,4,5,6")
    // reordered columns in the second shard
    Files.writeString(dir.resolve("s1.csv"),
      "tip_amount," + fullHeader.split(",").dropRight(1).mkString(",") +
        "\n9,A,B,1,2,N,3,4,5")
    val e = intercept[IllegalArgumentException](
      CsvSource.readSharded(spark, dir.toString).collect())
    assert(e.getMessage.contains("header drift"), e.getMessage)
  }

  test("sharded pipeline reproduces the golden stats and the exact inserted rows") {
    // split the reference CSV into 4 shards, each with its own header copy
    val lines = Files.readAllLines(Paths.get(referenceCsv)).asScala.toSeq
    val header = lines.head
    val data = lines.tail
    val dir = Files.createTempDirectory("taxi_shards")
    val per = (data.size + 3) / 4
    data.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      Files.writeString(dir.resolve(f"shard-$i%02d.csv"),
        (header +: chunk).mkString("\n"))
    }
    val config = EtlConfig(inputCsvPath = dir.toString,
      duplicatesCsvPath = "", insertedPath = "")
    val sharded = Pipeline.annotateSharded(spark, config).persist()
    try {
      val s = Stats.compute(sharded)
      assert(s == Stats.EtlStats(30000, 29855, 145, 15, 29840, 15))
      // shard names sort in original order, so first-wins winners are
      // IDENTICAL to the single-file run — compare the inserted rows
      val single = Pipeline.annotate(spark,
        config.copy(inputCsvPath = referenceCsv))
      val a = Sinks.insertedRows(sharded)
      val b = Sinks.insertedRows(single)
      assert(a.count() == 29840)
      assert(a.exceptAll(b).count() == 0)
      assert(b.exceptAll(a).count() == 0)
    } finally sharded.unpersist()
  }

  test("sharded pipeline over seeded lines matches the single-file run") {
    // 4 shards of seeded lines, each with its own header copy, against
    // the same lines as one file
    val lines = TaxiLines(3000, seed = 13L)
    val dir = Files.createTempDirectory("taxi_shards_seeded")
    lines.grouped((lines.size + 3) / 4).zipWithIndex.foreach { case (chunk, i) =>
      Files.writeString(dir.resolve(f"shard-$i%02d.csv"),
        (TaxiLines.Header +: chunk).mkString("\n"))
    }
    val config = EtlConfig(inputCsvPath = dir.toString,
      duplicatesCsvPath = "", insertedPath = "")
    val sharded = Pipeline.annotateSharded(spark, config).persist()
    try {
      val single = Pipeline.annotate(spark, config.copy(inputCsvPath =
        TaxiLines.writeCsv(tmpDir("taxi_single_seeded"), lines)))
      val s = Stats.compute(sharded)
      assert(s == Stats.compute(single))
      assert(s.duplicates > 0 && s.invalid > 0)
      val a = Sinks.insertedRows(sharded)
      val b = Sinks.insertedRows(single)
      assert(a.count() == s.inserted)
      assert(a.exceptAll(b).count() == 0)
      assert(b.exceptAll(a).count() == 0)
    } finally sharded.unpersist()
  }
}
