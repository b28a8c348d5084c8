package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Layout properties are measured, not inferred: the files a box
  * predicate can skip under each sort order, and the bins a compaction
  * pass assigns. */
class LayoutsSpec extends SparkSpec {

  test("z-order layout: box predicates prune files on BOTH dimensions") {
    import spark.implicits._
    // a full 64x64 grid, split into 16 range partitions (= files at scale)
    // under two sort orders; a "file" serves a box query iff its min/max
    // ranges overlap the box on both dims — the data-skipping model
    val pts = for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong)
    val df = pts.toDF("x", "y")
      .withColumn("z", Layouts.zorderValue(col("x"), col("y")))
    def fileRanges(sortCols: Seq[String]): Array[(Long, Long, Long, Long)] =
      df.repartitionByRange(16, sortCols.map(col): _*)
        .groupBy(spark_partition_id().as("p"))
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .collect()
        .map(r => (r.getAs[Long]("x0"), r.getAs[Long]("x1"),
          r.getAs[Long]("y0"), r.getAs[Long]("y1")))
    def served(rs: Array[(Long, Long, Long, Long)],
        box: (Long, Long, Long, Long)): Int =
      rs.count { case (x0, x1, y0, y1) =>
        x1 >= box._1 && x0 <= box._2 && y1 >= box._3 && y0 <= box._4 }

    val byX = fileRanges(Seq("x", "y"))
    val byZ = fileRanges(Seq("z"))
    // y-only box: the x-sorted layout cannot prune at all (every file
    // spans all y); the z-sorted layout bounds y per file
    val yBox = (0L, 63L, 8L, 15L)
    assert(served(byX, yBox) == 16, s"x-sort unexpectedly pruned y: ${served(byX, yBox)}")
    assert(served(byZ, yBox) <= 8, s"z-sort did not bound y ranges: ${byZ.mkString(",")}")
    // 2-d box: z-order serves it from no more files than the x-major sort
    val box2d = (8L, 15L, 8L, 15L)
    assert(served(byZ, box2d) <= served(byX, box2d),
      s"z=${served(byZ, box2d)} x=${served(byX, box2d)}")
  }

  test("compaction bins: sequential fill by exclusive cumulative offset") {
    import spark.implicits._
    val inv = Seq(("a", 1L, 100L), ("b", 1L, 200L), ("c", 1L, 50L),
        ("d", 1L, 300L), ("e", 1L, 10L))
      .toDF("file_key", "n_rows", "bytes")
    val got = Layouts.assignBins(inv, target = 256L).collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    // cum_before: a=0, b=100, c=300, d=350, e=650 -> bins 0,0,1,1,2
    assert(got === Seq(("a", 0L), ("b", 0L), ("c", 1L), ("d", 1L), ("e", 2L)))
  }

  test("compaction plan invariants: bins contiguous, spill bounded by one file") {
    val rows = Layouts.compactionPlan(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // bin ids are non-decreasing in file_key order and start at 0
    val bins = rows.map(_._3)
    assert(bins.head === 0L)
    assert(bins.zip(bins.tail).forall { case (a, b) => b >= a })
    // each bin's total exceeds target by at most its last file (the
    // sequential-fill spill contract)
    rows.groupBy(_._3).values.foreach { fs =>
      val total = fs.map(_._2).sum
      assert(total <= Layouts.TargetBinBytes + fs.map(_._2).max,
        s"bin over-packed: $total")
    }
  }
}
