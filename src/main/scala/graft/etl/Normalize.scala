package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F1/F2/F3/P3/P4 — normalization of parsed rows
  * (TaxiEtl/TaxiEtl.Application/Services/TripRowNormalizerService.cs:70-191,
  * TaxiEtl/TaxiEtl.Domain/Entities/Trip.cs:58-106).
  *
  *  - F1 timezone: wall-clock EST → UTC via the DST-aware zone
  *    ("Eastern Standard Time" == America/New_York). .NET throws on
  *    DST-gap-nonexistent local times (`:81-96`) where Spark's
  *    to_utc_timestamp silently shifts — reproduced with an explicit
  *    round-trip gap check (SURVEY §7.4 H4). Toggle off ⇒ wall clock is
  *    stamped as UTC unchanged (`:174-191`).
  *  - F2 flag: trim+upper then N→No / Y→Yes, anything else ⇒ invalid row
  *    (`:138-167`).
  *  - P3 invariant: dropoff >= pickup, else "domain validation failed"
  *    (Trip.cs:69-95 surfaced at `:109-135`).
  *  - F3: travel_time_seconds — derived once at write time, the analog of
  *    the persisted computed column (script.sql:44).
  *
  * Error precedence follows the reference's statement order: pickup tz →
  * dropoff tz → flag → domain.
  */
object Normalize {

  val NormErrorCol = "norm_error"

  /** A valid row: it passed both parse and normalize. The one definition
    * behind first-wins ranking and the counters. */
  def valid: Column =
    col(ParseValidate.ParseErrorCol).isNull && col(NormErrorCol).isNull

  def normalize(
      df: DataFrame,
      convertToUtc: Boolean = true,
      tzId: String = "America/New_York"): DataFrame = {

    /** EST→UTC with .NET ambiguity semantics: for fall-back wall-clock
      * times that occur twice, Spark's to_utc_timestamp resolves to the
      * EARLIER instant (daylight offset) while .NET
      * TimeZoneInfo.ConvertTimeToUtc resolves to STANDARD time
      * (TripRowNormalizerService.cs:81-96 inherits that default). Detect
      * ambiguity by round-trip: the local time L is ambiguous iff the
      * instant one hour after Spark's resolution maps back to the same
      * wall clock (i.e. the zone fell back in between) — then take the
      * later (standard) instant. Assumes the zone's DST shift is one hour,
      * true for America/New_York and every zone the reference targets. */
    def toUtc(c: Column): Column =
      if (!convertToUtc) c
      else {
        val daylight = to_utc_timestamp(c, tzId)
        val standard = daylight + expr("INTERVAL '1' HOUR")
        when(from_utc_timestamp(standard, tzId) === c, standard)
          .otherwise(daylight)
      }

    /** True when the local wall-clock time does not exist in tzId (DST
      * spring-forward gap): converting to UTC and back does not round-trip. */
    def inDstGap(c: Column): Column =
      if (convertToUtc) from_utc_timestamp(to_utc_timestamp(c, tzId), tzId) =!= c
      else lit(false)

    // one projection computes the UTC instants and the normalized flag; the
    // errors and travel time reference those attributes
    val flagU = upper(col(ParseValidate.FlagTrimmedCol))
    val converted = df.withColumns(Map(
      "pickup_utc" -> toUtc(col("pickup_ts")),
      "dropoff_utc" -> toUtc(col("dropoff_ts")),
      "store_and_fwd_flag" -> when(flagU === "N", "No").when(flagU === "Y", "Yes")))
    val pickupUtc = col("pickup_utc")
    val dropoffUtc = col("dropoff_utc")

    val err = when(col(ParseValidate.ParseErrorCol).isNotNull, lit(null).cast("string"))
      .otherwise(coalesce(
        when(inDstGap(col("pickup_ts")),
          concat(lit("invalid tpep_pickup_datetime: nonexistent local time '"),
            col("pickup_ts").cast("string"), lit("'"))),
        when(inDstGap(col("dropoff_ts")),
          concat(lit("invalid tpep_dropoff_datetime: nonexistent local time '"),
            col("dropoff_ts").cast("string"), lit("'"))),
        when(col("store_and_fwd_flag").isNull,
          concat(lit("invalid store_and_fwd_flag value: '"),
            col(ParseValidate.FlagTrimmedCol), lit("'"))),
        when(dropoffUtc < pickupUtc,
          lit("domain validation failed: dropoff is earlier than pickup"))))

    converted.withColumns(Map(
      "travel_time_seconds" ->
        (unix_timestamp(dropoffUtc) - unix_timestamp(pickupUtc)).cast("int"),
      NormErrorCol -> err))
  }
}
