package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Physical data layout — the Spark analog of the reference's index DDL
  * (TaxiEtl/script.sql:55-97). SQL Server gets point and range seeks from
  * B-tree indexes; a Spark warehouse gets them from how its files are laid
  * out and sized:
  *
  *  - Z-order ([[zorderValue]], [[zorderSql]]): sorting by the Morton
  *    interleave of two columns gives each file tight min/max ranges on
  *    BOTH, so a 2-d box predicate skips files on either column.
  *  - Compaction ([[assignBins]], [[compactionPlan]]): a small-file
  *    inventory bin-packed into target-sized output files by sequential
  *    fill, the deterministic core of an OPTIMIZE pass.
  */
object Layouts {

  /** Bits per dimension for [[zorderValue]] (16+16 → one positive
    * 32-bit z-value in a long). Shared with the `zorder_keys` oracle. */
  val ZBits = 16

  /** Z-order (Morton) interleave of two dimensions — the clustering key
    * behind multi-dimensional data skipping (Delta OPTIMIZE ZORDER,
    * Iceberg sort orders). Sorting/range-partitioning 100 TB by a single
    * column gives tight min/max file ranges on THAT column only; sorting
    * by the interleaved key gives useful ranges on BOTH dimensions at
    * once, so a 2-d box predicate prunes files on either column.
    *
    * Each dimension is first folded into [[ZBits]] bits with a
    * non-negative mod (callers bucketize real values to ints); the
    * interleave itself is a fixed fan of shift/mask/or terms — pure
    * projection, whole-stage codegen, no shuffle. */
  def zorderValue(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftBridge.column(zorderExpr(
      org.apache.spark.sql.GraftBridge.expression(x),
      org.apache.spark.sql.GraftBridge.expression(y)))

  /** The same interleave as a raw Catalyst expression tree — shared by
    * the Column wrapper above and the `zorder_value` SQL registration in
    * GraftExtensions (a Column-composed tree cannot be injected as a SQL
    * function: it carries unresolved ColumnNode wrappers). */
  def zorderExpr(x: Expression, y: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      BitwiseAnd, BitwiseOr, Cast, Literal, Pmod, ShiftLeft}
    import org.apache.spark.sql.types.LongType
    val m = 1L << ZBits
    val xm = Pmod(Cast(x, LongType), Literal(m))
    val ym = Pmod(Cast(y, LongType), Literal(m))
    (0 until ZBits).foldLeft(Literal(0L): Expression) { (acc, i) =>
      BitwiseOr(
        BitwiseOr(acc,
          ShiftLeft(BitwiseAnd(xm, Literal(1L << i)), Literal(i))),
        ShiftLeft(BitwiseAnd(ym, Literal(1L << i)), Literal(i + 1)))
    }
  }

  /** Target compacted-file size for [[compactionPlan]] and the per-row
    * storage overhead added to payload bytes — shared with the oracle.
    * 64 KiB binds on the harness inventory (~150 logical files of ~8 KiB
    * at sf0.01 → ~18 bins) and keeps binding as sf grows. */
  val TargetBinBytes = 65536L
  val RowOverheadBytes = 64L

  /** Sequential bin assignment over a file inventory: files sorted by
    * key, each file lands in the bin its exclusive cumulative byte
    * offset falls into (`cum_before div target`) — the deterministic
    * core of an OPTIMIZE/compaction pass (bins may spill past target by
    * at most one file, the standard sequential-fill contract).
    *
    * The prefix sum is the two-pass distributed pattern (partition-local
    * window + O(#partitions) driver bases, like
    * [[graft.ext.TextOps.seqPackGlobal]]): no single-reducer window even
    * though the INVENTORY is metadata-scale (one row per file — ~10⁶
    * rows for a 100 TB table of 100 MB files, never data-scale).
    * localCheckpoint pins the pid→row mapping pass 2 depends on. */
  def assignBins(inventory: DataFrame, target: Long = TargetBinBytes): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val inv = inventory
      .repartitionByRange(col("file_key"))
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint()
    // order partition bases by pid: RangePartitioning assigns lower key
    // ranges to lower partition ids by construction (it is what makes
    // Dataset.sort = repartitionByRange + local sort globally sorted), so
    // pid order IS key order — no driver-side key comparator needed, and
    // assignBins works for any orderable key type (the previous
    // getAs[String] path threw ClassCastException on non-string keys).
    val subs = inv.groupBy(col("pid"))
      .agg(sum(col("bytes")).as("sub"))
      .collect()
      .sortBy(_.getAs[Int]("pid"))
    val bases = subs.toSeq.scanLeft((0, 0L)) { case ((_, acc), r) =>
      (r.getAs[Int]("pid"), acc + r.getAs[Long]("sub"))
    }.sliding(2).collect { case Seq((_, base), (pid, _)) => (pid, base) }.toSeq
    val spark = inventory.sparkSession
    import spark.implicits._
    val baseDf = bases.toDF("pid", "base")
    val w = W.partitionBy(col("pid")).orderBy(col("file_key"))
      .rowsBetween(W.unboundedPreceding, -1)
    inv.join(broadcast(baseDf), "pid")
      .withColumn("cum_before",
        col("base") + coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"cum_before div $target"))
      .select(col("file_key"), col("n_rows"), col("bytes"), col("bin_id"))
      .orderBy(col("file_key"))
  }

  /** Registered query: compaction plan for the events table's logical
    * small-file inventory — one "file" per (event_type, day) with bytes
    * = payload + per-row overhead. The inventory aggregate is the only
    * data-scale operation (one map-side-combined shuffle). */
  def compactionPlanFrom(events: DataFrame, target: Long = TargetBinBytes): DataFrame =
    assignBins(
      events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(coalesce(length(col("props")), lit(0)) + RowOverheadBytes)
            .cast("long").as("bytes"))
        .select(concat_ws("/", col("event_type"), col("day")).as("file_key"),
          col("n_rows"), col("bytes")),
      target)

  def compactionPlan(spark: SparkSession, sfDir: String): DataFrame =
    compactionPlanFrom(graft.Tables.events(spark, sfDir))

  val oracles: Map[String, String] = Map(
    "compaction_plan" ->
      s"""WITH inv AS (
         |  SELECT event_type || '/' || CAST(CAST(ts AS DATE) AS VARCHAR) AS file_key,
         |    CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(COALESCE(length(props), 0) + $RowOverheadBytes) AS BIGINT) AS bytes
         |  FROM events GROUP BY 1
         |)
         |SELECT file_key, n_rows, bytes,
         |  CAST(COALESCE(SUM(bytes) OVER (ORDER BY file_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    // $TargetBinBytes AS BIGINT) AS bin_id
         |FROM inv ORDER BY file_key""".stripMargin,
  )

  /** The same interleave as ANSI SQL for the DuckDB oracle (generated
    * from the same constants, so the two sides cannot drift). */
  def zorderSql(xExpr: String, yExpr: String): String = {
    val m = 1L << ZBits
    // DuckDB (Postgres-style) gives &, |, << EQUAL precedence, left-
    // associative — every term must be fully parenthesized or the ors
    // re-associate into the shifts
    val terms = (0 until ZBits).flatMap { i =>
      Seq(s"(((((($xExpr) % $m + $m) % $m) & ${1L << i})) << $i)",
        s"(((((($yExpr) % $m + $m) % $m) & ${1L << i})) << ${i + 1})")
    }
    terms.mkString("(", " | ", ")")
  }
}
