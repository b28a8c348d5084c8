package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core analytic query surface.
  *
  * Re-expresses the reference's declared queries (README.md:21-25,
  * provisioned by indexes in TaxiEtl/script.sql:55-97) over the harness
  * tables, plus the join/window vocabulary a real user of such a pipeline
  * needs. Reference operator ids follow SURVEY.md §2.
  *
  * Cross-engine determinism: every floating-point aggregate is computed as
  * an EXACT decimal sum (order-independent, identical in Spark and DuckDB)
  * and only then cast to double — so the driver's hash compare cannot be
  * broken by summation order. Raw double columns are passed through
  * untouched.
  *
  * Scale notes (100 TB):
  *  - aggregations are plain hash aggregates (partial + final, one shuffle);
  *  - top-k compiles to TakeOrderedAndProject (per-partition heaps, no
  *    global sort);
  *  - small dimension joins are explicitly broadcast;
  *  - the fact-fact join shuffles on the join key only, and AQE handles
  *    skew/size re-planning at runtime.
  */
object CoreQueries {

  /** Exact, order-independent sum of a double column: decimal(18,2) sum
    * cast back to double. Identical bit-for-bit across engines. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Deterministic average built from the exact sum (NOT avg(), whose
    * accumulation order varies across engines/partitionings). */
  private def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** A1/A2 analog — TPC-H Q1-shaped aggregate over lineitem.
    * Reference shape: run-counter aggregation + group-avg
    * (TripEtlPipelineService.cs:174-193; README.md:22). */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** T1 — top-100 by a measure (reference: top-100 longest rides by
    * trip_distance, README.md:23, index script.sql:71-83). Compiles to
    * TakeOrderedAndProject: per-partition heaps, no global sort. */
  def q2TopkPrice(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .limit(100)
  }

  /** T2 — top-100 by a derived duration column (reference: top-100 by the
    * persisted computed column TravelTimeSeconds, README.md:24,
    * script.sql:44,85-97). Here: seconds-into-day derived from the event
    * timestamp, materialized in the projection exactly like the
    * reference's persisted computed column. */
  def q3TopkDuration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(
        $"event_id",
        (unix_timestamp($"ts") - unix_timestamp(date_trunc("day", $"ts")))
          .cast("long").as("secs_into_day"))
      .orderBy($"secs_into_day".desc, $"event_id".asc)
      .limit(100)
  }

  /** T3 — point filter on a key column (reference: search by PULocationID,
    * README.md:25, index script.sql:55-68). The predicate is pushed to the
    * parquet scan (PushedFilters); at scale the table would be
    * partitioned/bucketed by this key for pruning. */
  def q4PointFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_suppkey" === 3)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity",
        $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** A2 — group-avg + argmax: "which group has the highest average value"
    * (reference Q1: highest avg tip_amount by PULocationID, README.md:22). */
  def q5ArgmaxAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(davg($"value").as("avg_value"))
      .orderBy($"avg_value".desc, $"event_type".asc)
      .limit(1)
  }

  /** Rollup: subtotals per (returnflag, linestatus), per returnflag, and
    * grand total — grouping-set aggregation over the fact table (absent in
    * the reference, SURVEY §2.4; a single pass with grouping-id
    * expansion). Null ordering is pinned explicitly because engines
    * default differently. */
  def q6Rollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Full CUBE over the same pair of dimensions — all four grouping
    * sets in one pass (Spark expands to a single expand+aggregate, not
    * four scans; the exact-decimal sums make every stratum
    * hash-checkable). */
  def q13Cube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Exact distinct counts per group (the oracle-checkable face of
    * cardinality estimation; the HLL variant is asserted within error
    * bounds in tests — HLL sketches are implementation-specific and can
    * never hash-match across engines). */
  def q7CountDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count_distinct($"l_partkey").as("n_parts"),
        count_distinct($"l_suppkey").as("n_supps"))
      .orderBy($"l_returnflag")
  }

  /** PIVOT — long-to-wide conditional aggregation (order counts and
    * revenue per priority, one column pair per order status). The pivot
    * values are ENUMERATED, not discovered: an unpinned `.pivot(col)`
    * runs a driver-side distinct job first and the output schema becomes
    * data-dependent — both wrong at 100 TB. With pinned values this is
    * one partial+final hash aggregate, exactly a GROUP BY. */
  def q10Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val statuses = Seq("F", "O", "P")
    Tables.orders(spark, sfDir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)).as("cnt"), dsum($"o_totalprice").as("revenue"))
      .select($"o_orderpriority" +: statuses.flatMap(s => Seq(
        coalesce(col(s"${s}_cnt"), lit(0L)).as(s"cnt_$s"),
        coalesce(col(s"${s}_revenue"), lit(0.0)).as(s"revenue_$s"))): _*)
      .orderBy($"o_orderpriority")
  }

  /** INTERSECT / set-op coverage: priorities that appear among BOTH
    * fulfilled and open orders (INTERSECT is a hash semi-join after
    * per-side distinct — one shuffle per side on the full row). */
  def q11Intersect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    o.filter($"o_orderstatus" === "F").select($"o_orderpriority")
      .intersect(o.filter($"o_orderstatus" === "O").select($"o_orderpriority"))
      .orderBy($"o_orderpriority")
  }

  /** Value HISTOGRAM with fixed-width bins — binning in exact integer
    * arithmetic (cents div width-in-cents), never float division whose
    * boundary ulps could flip a bin cross-engine. One partial+final hash
    * aggregate; bins are the natural partition key for a distribution
    * scan at any scale. */
  /** Single width constant shared with the registered oracle SQL — a
    * parameter here with a hardcoded oracle would let the two silently
    * diverge. */
  val HistogramWidthCents = 1000

  def q12Histogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = HistogramWidthCents
    Tables.events(spark, sfDir)
      .select(($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      // `div`, not Column./ — the latter is DOUBLE division, which loses
      // exactness past 2^53 (same trap Tables.events' ns->us div avoids)
      .select(expr(s"(cents - pmod(cents, $w)) div $w").cast("long").as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"))
      .orderBy($"bin")
  }

  /** Tumbling event-time windows in BATCH via the same `window()` function
    * Structured Streaming uses for windowed aggregation.
    * Pure hash aggregate on (hour, type): partial+final, no shuffle
    * beyond the group keys. */
  def tumblingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"event_type", $"n")
      .orderBy("win_start", "event_type")
  }

  /** SLIDING event-time windows (width 2h, slide 1h) — every event lands
    * in exactly two windows; same `window()` function as streaming, so
    * batch/stream window semantics stay provably aligned (the oracle
    * enumerates both covering starts per event). */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"event_type", $"n")
      .orderBy("win_start", "event_type")
  }

  /** Declarative data-quality checks (the Deequ/dbt-tests capability):
    * each check is a predicate audited in ONE pass — a single aggregate
    * of conditional counts over the scan — plus a referential-integrity
    * check as a broadcast anti-join count. Output is (check, n_violations)
    * so a pipeline can gate on violations == 0. At 100 TB the row checks
    * stay one scan regardless of how many checks are declared; the FK
    * check shuffles only the anti-join misses. */
  def dqChecks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    def cnt(bad: Column) = sum(when(bad, 1L).otherwise(0L))
    val rowChecks = li.agg(
      cnt($"l_quantity".isNull || $"l_quantity" <= 0).as("quantity_positive"),
      cnt($"l_extendedprice" < 0).as("price_non_negative"),
      cnt($"l_discount" < 0 || $"l_discount" > 1).as("discount_in_unit_range"),
      cnt(!$"l_returnflag".isin("A", "N", "R")).as("returnflag_in_domain"),
      cnt($"l_shipdate".isNull).as("shipdate_not_null"))
    val orphans = li.join(Tables.orders(spark, sfDir)
        .select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("orderkey_references_order"))
    val long = rowChecks.selectExpr(
      "stack(5, 'quantity_positive', quantity_positive," +
        " 'price_non_negative', price_non_negative," +
        " 'discount_in_unit_range', discount_in_unit_range," +
        " 'returnflag_in_domain', returnflag_in_domain," +
        " 'shipdate_not_null', shipdate_not_null) AS (check_name, n_violations)")
    long.unionByName(orphans.select(
        lit("orderkey_references_order").as("check_name"),
        $"orderkey_references_order".as("n_violations")))
      .orderBy("check_name")
  }

  /** Incremental aggregate (materialized-view) maintenance: yesterday's
    * per-key aggregate STATE (count + exact decimal sum over the base
    * slice) is merged with a delta slice's partial state — never
    * rescanning the base rows — and must equal the full recompute, which
    * is exactly what the oracle computes over all of events. The split is
    * deterministic (event_id % 10). Decimal sums make the merge
    * order-insensitive, so the refreshed view is bit-identical to the
    * from-scratch aggregate cross-engine.
    *
    * At 100 TB this is the only sane refresh: O(|delta| + |state|) work,
    * with state keyed/partitioned by the group key so the merge is a
    * co-partitioned aggregate, not a base-table scan. */
  def incrAggRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value".cast("decimal(18,2)").as("v"))
    def state(df: DataFrame): DataFrame = df.groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("s"))
    val baseState = state(ev.filter($"event_id" % 10 =!= 0))
    val deltaState = state(ev.filter($"event_id" % 10 === 0))
    baseState.unionByName(deltaState)
      .groupBy($"event_type")
      .agg(sum($"cnt").cast("long").as("cnt"), sum($"s").as("s"))
      .select($"event_type", $"cnt", $"s".cast("double").as("sum_value"))
      .orderBy($"event_type")
  }

  /** Z-order clustering keys over events — (user_id, value-cents) Morton
    * interleave via [[graft.plans.Layouts.zorderValue]]. The key a 100 TB
    * table would be range-sorted by so file-level min/max statistics prune
    * 2-d box predicates on EITHER column; here the keys themselves are the
    * registered result (pure codegen projection, no shuffle), and
    * LayoutsSpec asserts the pruning property on a sorted layout. */
  def zorderKeys(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_id", $"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .select($"event_id",
        graft.plans.Layouts.zorderValue($"user_id", $"cents").as("zval"))
      .orderBy($"event_id")
  }

  /** Approximate distinct (HLL++) next to the exact value — rows-only in
    * the driver check; the relative-error contract is test-asserted. */
  def q8ApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count_distinct($"l_partkey").as("exact_parts"),
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** Correlated subquery through the SQL entry path: orders priced at
    * more than 1.5x their customer's average. Catalyst decorrelates the
    * per-row subquery into an aggregate + join — the query shape that
    * separates a real optimizer from per-row re-execution. The inner
    * average uses the exact-decimal-sum formulation on both engines so
    * the threshold comparison is bit-deterministic. */
  def q9Correlated(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o.o_orderkey, o.o_custkey FROM orders_v o
        |WHERE o.o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin)
  }

  /** Broadcast dimension join: orders ⋈ customer ⋈ nation → revenue per
    * nation. Both dims are broadcast explicitly — at 100 TB the fact side
    * never shuffles for this query shape. (Joins are absent in the
    * reference — SURVEY §2.7 — this is the north-star extension
    * vocabulary.) */
  def j1JoinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, sfDir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"n_name")
  }

  /** Fact-fact shuffle join: lineitem ⋈ orders on the order key. One
    * shuffle per side on the join key; AQE converts to broadcast when the
    * build side turns out small, and splits skewed partitions. */
  def j2JoinShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Anti join: customers with no completed high-value order. The filter on
    * the right side is pushed below the join (Catalyst PushDownPredicates),
    * so only the qualifying key set shuffles/broadcasts. */
  def j3JoinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bigOrders = Tables.orders(spark, sfDir)
      .filter($"o_orderstatus" === "F" && $"o_totalprice" > 150000)
    Tables.customer(spark, sfDir)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Window: per-user running total ordered by event id (the reference's
    * only window-shaped computation is W1 first-wins dedup; this is the
    * general analytic-window surface). One hash exchange on user_id. */
  def w1RunningSum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    Tables.events(spark, sfDir)
      .select(
        $"event_id", $"user_id",
        sum($"value".cast("decimal(18,2)")).over(w).cast("double")
          .as("running_value"))
      .orderBy($"event_id")
  }

  /** Window: top-3 orders per customer by totalprice (ROW_NUMBER — the
    * exact operator the reference's README equates its dedup to,
    * README.md:84-87). */
  def w2RankInGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey",
        row_number().over(w).cast("long").as("rn"))
      .filter($"rn" <= 3)
      .orderBy($"o_custkey", $"rn")
  }

  /** W1/A3 analog — first-occurrence-wins dedup, winners. Key =
    * (user_id, event_type), "file order" = event_id (the stable ordinal;
    * reference: TripDuplicateDetectorService.cs:36-49 +
    * TripEtlPipelineService.cs:129-155 → ROW_NUMBER per README.md:84-87).
    * One hash exchange on the dedup key; no driver-side state — this is
    * exactly what removes the reference's acknowledged ~10 GB HashSet
    * failure mode (README.md:77-78). */
  def dedupFirstWins(spark: SparkSession, sfDir: String): DataFrame =
    dedupSplit(spark, sfDir, winners = true)

  /** W1 side output — the duplicate rows that lost (rn > 1), matching the
    * reference's duplicates.csv branch (TripEtlPipelineService.cs:138-140). */
  def dedupLosers(spark: SparkSession, sfDir: String): DataFrame =
    dedupSplit(spark, sfDir, winners = false)

  private def dedupSplit(spark: SparkSession, sfDir: String, winners: Boolean): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"event_id")
    val ranked = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value",
        row_number().over(w).as("rn"))
    (if (winners) ranked.filter($"rn" === 1) else ranked.filter($"rn" > 1))
      .drop("rn")
      .orderBy($"event_id")
  }

  /** MERGE INTO / SCD-1 upsert, expressed relationally: the new snapshot
    * is (base ANTI-JOIN updates) ∪ updates — matched keys take the
    * update's values, unmatched keys keep the base row, brand-new keys
    * insert. The reference's sink is append-only (SqlBulkCopy); this is
    * the companion every warehouse needs. The "updates" batch is derived
    * deterministically from the data (every 10th order re-priced +1000,
    * plus key-shifted inserts) so the DuckDB oracle replays it exactly.
    *
    * Scale shape: one shuffle on the merge key for the anti join; at
    * 100 TB base and updates are bucketed on o_orderkey (plans/Layouts)
    * so the anti join is exchange-free and the union is a metadata op. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast("decimal(18,2)").as("o_totalprice"))
    val updates = base.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice" + 1000).cast("decimal(18,2)").as("o_totalprice"))
      .union(base.filter($"o_orderkey" % 10 === 1)
        .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_custkey",
          $"o_totalprice"))
    base.join(updates.select($"o_orderkey"), Seq("o_orderkey"), "left_anti")
      .union(updates)
      .select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast("double").as("o_totalprice"))
      .orderBy($"o_orderkey")
  }

  /** SCD-2 upsert — the history-keeping sibling of [[mergeUpsert]]: a
    * matched key CLOSES its current row (valid_to = the new version) and
    * opens a fresh one, an unmatched key stays open at version 0, and a
    * brand-new key opens at version 1. Same deterministic update batch as
    * SCD-1 so the oracle replays it.
    *
    * Plan shape: one semi + one anti join on the merge key (both the same
    * shuffle), three unions (metadata ops). At 100 TB with base and
    * updates bucketed on the key the joins are exchange-free, and the
    * version columns make time-travel a partition filter. */
  def scd2Upsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast("decimal(18,2)").as("o_totalprice"))
    val updates = base.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice" + 1000).cast("decimal(18,2)").as("o_totalprice"))
      .union(base.filter($"o_orderkey" % 10 === 1)
        .select(($"o_orderkey" + 100000000L).as("o_orderkey"), $"o_custkey",
          $"o_totalprice"))
    val updateKeys = updates.select($"o_orderkey")
    val closed = base.join(updateKeys, Seq("o_orderkey"), "left_semi")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        lit(0).as("valid_from"), lit(1).cast("int").as("valid_to"))
    val stillOpen = base.join(updateKeys, Seq("o_orderkey"), "left_anti")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        lit(0).as("valid_from"), lit(null).cast("int").as("valid_to"))
    val opened = updates
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        lit(1).as("valid_from"), lit(null).cast("int").as("valid_to"))
    closed.union(stillOpen).union(opened)
      .select($"o_orderkey", $"o_custkey",
        $"o_totalprice".cast("double").as("o_totalprice"),
        $"valid_from", $"valid_to")
      .orderBy($"o_orderkey", $"valid_from")
  }
}
