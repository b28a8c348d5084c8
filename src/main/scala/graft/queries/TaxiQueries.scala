package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{CsvSource, EtlConfig, Normalize, ParseValidate, Pipeline, Sinks, Stats}

/** The reference's own surface, run end-to-end on its bundled 30,000-row
  * CSV and exposed as driver-checkable relational results. The DuckDB
  * oracles replicate the full pipeline (naive-split read → parse-validate →
  * EST→UTC normalize → first-wins dedup) in SQL — so these rows verify the
  * ENTIRE ETL, not just the final counters.
  *
  * Queries Q1–Q4 are the four analytic queries declared in
  * /root/reference/README.md:21-25 and provisioned by the indexes in
  * TaxiEtl/script.sql:55-97, executed here over the inserted-trips result.
  *
  * All timestamps are emitted as formatted strings (cross-engine parquet
  * timestamp-logical-type differences would otherwise break the hash
  * compare); integer-ish columns are emitted as BIGINT on both sides.
  */
object TaxiQueries {

  val ReferenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"

  private def config = EtlConfig(
    inputCsvPath = ReferenceCsv,
    duplicatesCsvPath = "", insertedPath = "") // sinks unused here

  /** Annotated frame over the reference CSV (sfDir is ignored — this
    * surface is pinned to the reference's own data). Cached per session:
    * seven registered queries consume this frame, and without the persist
    * each would re-run the whole text-scan + parse + window (measured
    * ~2 s/query at bench time — the classic share-the-scan pattern).
    * Entries evict on session end ([[graft.SessionFrameCache]]). */
  private val cache = new graft.SessionFrameCache[Unit]

  private def annotated(spark: SparkSession): DataFrame =
    cache.getOrElseUpdate(spark, ()) { Pipeline.annotate(spark, config) }

  private def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  private def trips(spark: SparkSession): DataFrame =
    annotated(spark).filter(Stats.isInserted()).select(
      fmtTs(col("pickup_utc")).as("pickup_utc"),
      fmtTs(col("dropoff_utc")).as("dropoff_utc"),
      col("passenger_count").cast("long").as("passenger_count"),
      // DECIMAL columns are cast to DOUBLE: the driver hashes engine-native
      // representations, and Spark's parquet Decimal vs DuckDB's float64
      // client materialization hash-differ even on equal values. DOUBLE is
      // exact for these ≤3-fractional-digit magnitudes after correctly-
      // rounded conversion on both engines.
      col("trip_distance").cast("double").as("trip_distance"),
      col("store_and_fwd_flag"),
      col("pulocation_id").cast("long").as("pulocation_id"),
      col("dolocation_id").cast("long").as("dolocation_id"),
      col("fare_amount").cast("double").as("fare_amount"),
      col("tip_amount").cast("double").as("tip_amount"),
      col("travel_time_seconds").cast("long").as("travel_time_seconds"))

  /** A1 — the six golden counters as a single relational row
    * (README.md:44). */
  def stats(spark: SparkSession, sfDir: String): DataFrame =
    Stats.asDataFrame(annotated(spark))

  /** The inserted dbo.Trips rows (S5 result set). */
  def tripsQuery(spark: SparkSession, sfDir: String): DataFrame =
    trips(spark).orderBy(col("pickup_utc"), col("dropoff_utc"), col("passenger_count"))

  /** O4 — per-row diagnostics: every data row classified as
    * invalid_parse / invalid_normalize / duplicate / inserted. The oracle
    * replays the classification per line in SQL, so this checks the
    * pipeline's decision for EACH of the 30,000 rows, not just the six
    * aggregate counters. */
  def rowStatus(spark: SparkSession, sfDir: String): DataFrame =
    annotated(spark).select(
      col(graft.etl.CsvSource.LineNumberCol).as("line_number"),
      Stats.statusCol.as("status"))
      .orderBy("line_number")

  /** O4/P2 — the reject report: line_number + the exact first-error-wins
    * message for every invalid row (reference messages from
    * TripRowParserService.cs:26-156 / TripRowNormalizerService.cs:70-167).
    * The oracle rebuilds each message in SQL, so the 145 invalid rows
    * verify message TEXT and field precedence, not just the counts. */
  def rejects(spark: SparkSession, sfDir: String): DataFrame =
    annotated(spark)
      .filter(col(ParseValidate.ParseErrorCol).isNotNull ||
        col(Normalize.NormErrorCol).isNotNull)
      .select(
        col(CsvSource.LineNumberCol).as("line_number"),
        coalesce(col(ParseValidate.ParseErrorCol), col(Normalize.NormErrorCol))
          .as("error"))
      .orderBy("line_number")

  /** S4 — duplicates side output: raw pre-parse strings + LineNumber
    * (SURVEY §7.4 H5). */
  def duplicates(spark: SparkSession, sfDir: String): DataFrame =
    Sinks.duplicateRows(annotated(spark)).orderBy(col("LineNumber"))

  /** Q1 — which pickup location has the highest average tip
    * (README.md:22; covering index script.sql:55-68). */
  def q1AvgTipByPu(spark: SparkSession, sfDir: String): DataFrame =
    trips(spark)
      .groupBy(col("pulocation_id"))
      // Sum in exact decimal (double→decimal(10,2) round-trips losslessly for
      // these values), THEN cast: double summation order differs per engine.
      .agg((sum(col("tip_amount").cast("decimal(10,2)")).cast("double") /
        count(lit(1))).as("avg_tip"))
      .orderBy(col("avg_tip").desc, col("pulocation_id").asc)
      .limit(1)

  /** Q2 — top 100 longest rides by distance (README.md:23). The dedup key
    * is unique per inserted row, so it is the deterministic tiebreaker. */
  def q2Top100Distance(spark: SparkSession, sfDir: String): DataFrame =
    trips(spark)
      .select(col("trip_distance"), col("pickup_utc"), col("dropoff_utc"),
        col("passenger_count"))
      .orderBy(col("trip_distance").desc, col("pickup_utc"), col("dropoff_utc"),
        col("passenger_count"))
      .limit(100)

  /** Q3 — top 100 by travel time (README.md:24; computed column
    * script.sql:44). */
  def q3Top100TravelTime(spark: SparkSession, sfDir: String): DataFrame =
    trips(spark)
      .select(col("travel_time_seconds"), col("pickup_utc"), col("dropoff_utc"),
        col("passenger_count"))
      .orderBy(col("travel_time_seconds").desc, col("pickup_utc"), col("dropoff_utc"),
        col("passenger_count"))
      .limit(100)

  /** Q4 — point search by PULocationID (README.md:25). */
  def q4FilterByPu(spark: SparkSession, sfDir: String): DataFrame =
    trips(spark)
      .filter(col("pulocation_id") === 238)
      .select(col("pickup_utc"), col("dropoff_utc"), col("passenger_count"),
        col("fare_amount"), col("tip_amount"))
      .orderBy(col("pickup_utc"), col("dropoff_utc"), col("passenger_count"))

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------

  /** Shared oracle prefix: the full pipeline in SQL. `row_number() OVER ()`
    * reflects file order for DuckDB's insertion-order-preserving CSV scan —
    * validated against an independent first-wins simulation (identical
    * winner/loser line numbers on all 15 duplicate groups). */
  val oracleCte: String =
    s"""WITH raw AS (
       |  SELECT *, row_number() OVER () AS line_number
       |  FROM read_csv('$ReferenceCsv', header=true, all_varchar=true, quote='', sep=',')
       |),
       |parsed AS (
       |  SELECT line_number,
       |    tpep_pickup_datetime AS raw_pickup, tpep_dropoff_datetime AS raw_dropoff,
       |    passenger_count AS raw_pc, trip_distance AS raw_dist,
       |    store_and_fwd_flag AS raw_flag, PULocationID AS raw_pu,
       |    DOLocationID AS raw_do, fare_amount AS raw_fare, tip_amount AS raw_tip,
       |    try_strptime(trim(tpep_pickup_datetime), '%m/%d/%Y %I:%M:%S %p') AS pickup_ts,
       |    try_strptime(trim(tpep_dropoff_datetime), '%m/%d/%Y %I:%M:%S %p') AS dropoff_ts,
       |    CASE WHEN regexp_matches(trim(passenger_count), '^[+-]?[0-9]+$$')
       |         THEN TRY_CAST(trim(passenger_count) AS BIGINT) END AS pc,
       |    TRY_CAST(replace(trim(trip_distance), ',', '') AS DECIMAL(9,3)) AS dist,
       |    trim(store_and_fwd_flag) AS flag_t,
       |    CASE WHEN regexp_matches(trim(PULocationID), '^[+-]?[0-9]+$$')
       |         THEN TRY_CAST(trim(PULocationID) AS BIGINT) END AS pu,
       |    CASE WHEN regexp_matches(trim(DOLocationID), '^[+-]?[0-9]+$$')
       |         THEN TRY_CAST(trim(DOLocationID) AS BIGINT) END AS dol,
       |    TRY_CAST(replace(trim(fare_amount), ',', '') AS DECIMAL(10,2)) AS fare,
       |    TRY_CAST(replace(trim(tip_amount), ',', '') AS DECIMAL(10,2)) AS tip
       |  FROM raw
       |),
       |flagged AS (
       |  SELECT *,
       |    (pickup_ts IS NOT NULL AND dropoff_ts IS NOT NULL
       |     AND pc IS NOT NULL AND pc BETWEEN 0 AND 255
       |     AND dist IS NOT NULL AND dist >= 0
       |     AND flag_t IS NOT NULL AND flag_t <> ''
       |     AND pu IS NOT NULL AND pu BETWEEN 0 AND 2147483647
       |     AND dol IS NOT NULL AND dol BETWEEN 0 AND 2147483647
       |     AND fare IS NOT NULL AND fare >= 0
       |     AND tip IS NOT NULL AND tip >= 0) AS parse_ok
       |  FROM parsed
       |),
       |norm AS (
       |  SELECT *,
       |    (pickup_ts AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS pickup_utc,
       |    (dropoff_ts AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS dropoff_utc,
       |    CASE WHEN upper(flag_t)='N' THEN 'No'
       |         WHEN upper(flag_t)='Y' THEN 'Yes' END AS flag_n
       |  FROM flagged WHERE parse_ok
       |),
       |valid AS (
       |  SELECT * FROM norm WHERE flag_n IS NOT NULL AND dropoff_utc >= pickup_utc
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY pickup_utc, dropoff_utc, pc ORDER BY line_number) AS rn
       |  FROM valid
       |),
       |trips AS (
       |  SELECT strftime(pickup_utc, '%Y-%m-%d %H:%M:%S') AS pickup_utc,
       |         strftime(dropoff_utc, '%Y-%m-%d %H:%M:%S') AS dropoff_utc,
       |         pc AS passenger_count, CAST(dist AS DOUBLE) AS trip_distance,
       |         flag_n AS store_and_fwd_flag, pu AS pulocation_id,
       |         dol AS dolocation_id, CAST(fare AS DOUBLE) AS fare_amount,
       |         CAST(tip AS DOUBLE) AS tip_amount,
       |         date_diff('second', pickup_utc, dropoff_utc) AS travel_time_seconds
       |  FROM ranked WHERE rn = 1
       |)
       |""".stripMargin

  /** SQL fragment for one field of the first-error-wins chain: empty check
    * then the field's own invalid condition, with the reference's exact
    * message text (TripRowParserService.cs:26-156). */
  private def fieldErrSql(field: String, raw: String, badCond: String): String =
    s"""    WHEN coalesce(trim($raw), '') = '' THEN '$field value is missing or empty'
       |    WHEN $badCond THEN 'invalid $field value: ''' || trim($raw) || ''''""".stripMargin

  /** The reject-report oracle: parse errors rebuilt per field in
    * declaration order, then the normalize chain on parse-ok rows. */
  private val rejectsSql: String = oracleCte +
    s""", perr AS (
       |  SELECT line_number, CASE
       |${fieldErrSql("tpep_pickup_datetime", "raw_pickup", "pickup_ts IS NULL")}
       |${fieldErrSql("tpep_dropoff_datetime", "raw_dropoff", "dropoff_ts IS NULL")}
       |${fieldErrSql("passenger_count", "raw_pc", "pc IS NULL OR pc < 0 OR pc > 255")}
       |${fieldErrSql("trip_distance", "raw_dist", "dist IS NULL OR dist < 0")}
       |${fieldErrSql("store_and_fwd_flag", "raw_flag", "FALSE")}
       |${fieldErrSql("PULocationID", "raw_pu", "pu IS NULL OR pu < 0 OR pu > 2147483647")}
       |${fieldErrSql("DOLocationID", "raw_do", "dol IS NULL OR dol < 0 OR dol > 2147483647")}
       |${fieldErrSql("fare_amount", "raw_fare", "fare IS NULL OR fare < 0")}
       |${fieldErrSql("tip_amount", "raw_tip", "tip IS NULL OR tip < 0")}
       |  END AS pe FROM parsed
       |)
       |SELECT * FROM (
       |  SELECT p.line_number, COALESCE(p.pe,
       |    CASE WHEN n.flag_n IS NULL
       |           THEN 'invalid store_and_fwd_flag value: ''' || n.flag_t || ''''
       |         WHEN n.dropoff_utc < n.pickup_utc
       |           THEN 'domain validation failed: dropoff is earlier than pickup'
       |    END) AS error
       |  FROM perr p LEFT JOIN norm n USING (line_number)
       |) WHERE error IS NOT NULL ORDER BY line_number""".stripMargin

  val oracles: Map[String, String] = Map(
    "taxi_rejects" -> rejectsSql,
    "taxi_stats" -> (oracleCte +
      """SELECT (SELECT count(*) FROM raw) AS total,
        |  (SELECT count(*) FROM flagged WHERE parse_ok) AS parsed,
        |  (SELECT count(*) FROM raw) - (SELECT count(*) FROM valid) AS invalid,
        |  (SELECT count(*) FROM ranked WHERE rn > 1) AS duplicates,
        |  (SELECT count(*) FROM ranked WHERE rn = 1) AS inserted,
        |  (SELECT count(*) FROM ranked WHERE rn > 1) AS duplicates_file""".stripMargin),
    "taxi_trips" -> (oracleCte +
      """SELECT * FROM trips
        |ORDER BY pickup_utc, dropoff_utc, passenger_count""".stripMargin),
    "taxi_row_status" -> (oracleCte +
      """SELECT f.line_number,
        |  CASE WHEN NOT f.parse_ok THEN 'invalid_parse'
        |       WHEN n.flag_n IS NULL OR n.dropoff_utc < n.pickup_utc
        |         THEN 'invalid_normalize'
        |       WHEN r.rn > 1 THEN 'duplicate'
        |       ELSE 'inserted' END AS status
        |FROM flagged f
        |LEFT JOIN norm n USING (line_number)
        |LEFT JOIN ranked r USING (line_number)
        |ORDER BY f.line_number""".stripMargin),
    "taxi_duplicates" -> (oracleCte +
      """SELECT r.line_number AS "LineNumber",
        |  p.raw_pickup AS tpep_pickup_datetime, p.raw_dropoff AS tpep_dropoff_datetime,
        |  p.raw_pc AS passenger_count, p.raw_dist AS trip_distance,
        |  p.raw_flag AS store_and_fwd_flag, p.raw_pu AS "PULocationID",
        |  p.raw_do AS "DOLocationID", p.raw_fare AS fare_amount, p.raw_tip AS tip_amount
        |FROM (SELECT line_number FROM ranked WHERE rn > 1) r
        |JOIN parsed p USING (line_number)
        |ORDER BY r.line_number""".stripMargin),
    "taxi_q1_avg_tip_by_pu" -> (oracleCte +
      """SELECT pulocation_id,
        |  CAST(SUM(CAST(tip_amount AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*) AS avg_tip
        |FROM trips GROUP BY pulocation_id
        |ORDER BY avg_tip DESC, pulocation_id LIMIT 1""".stripMargin),
    "taxi_q2_top100_distance" -> (oracleCte +
      """SELECT trip_distance, pickup_utc, dropoff_utc, passenger_count
        |FROM trips
        |ORDER BY trip_distance DESC, pickup_utc, dropoff_utc, passenger_count
        |LIMIT 100""".stripMargin),
    "taxi_q3_top100_travel_time" -> (oracleCte +
      """SELECT travel_time_seconds, pickup_utc, dropoff_utc, passenger_count
        |FROM trips
        |ORDER BY travel_time_seconds DESC, pickup_utc, dropoff_utc, passenger_count
        |LIMIT 100""".stripMargin),
    "taxi_q4_filter_by_pu" -> (oracleCte +
      """SELECT pickup_utc, dropoff_utc, passenger_count, fare_amount, tip_amount
        |FROM trips WHERE pulocation_id = 238
        |ORDER BY pickup_utc, dropoff_utc, passenger_count""".stripMargin),
  )
}
