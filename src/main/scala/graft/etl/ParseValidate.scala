package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import CsvSource.rawCol

/** P1/P2/P4/F5 — typed parse + validate with first-error-wins semantics
  * (TaxiEtl/TaxiEtl.Application/Services/TripRowParserService.cs:26-156).
  *
  * Field order (the first failing field produces the row's error, later
  * fields are not evaluated — `:34-139`): pickup → dropoff →
  * passenger_count → trip_distance → store_and_fwd_flag → PULocationID →
  * DOLocationID → fare_amount → tip_amount.
  *
  * Semantics matched:
  *  - all fields trimmed before parsing (`:174,230,268,306,342`);
  *  - timestamps: exact configured format, else lenient invariant-culture
  *    style multi-format parse (`:160-213`);
  *  - integers: strict digit strings (byte.TryParse / int.TryParse reject
  *    "1.0"), bounds 0..255 for passenger_count (TINYINT), >= 0 for
  *    location ids (`:232-246`);
  *  - decimals: NumberStyles.Float | AllowThousands — thousands separators
  *    stripped before an exact decimal cast, exponent notation accepted
  *    (`:308-312`); non-negative bounds on distance/fare/tip
  *    (`:59,71,121,133` — README.md:60-61 claims negatives pass; the code
  *    rejects them and the code wins, SURVEY §1.4).
  *
  * Everything is native Column expressions (try_to_timestamp / try_cast /
  * when) — zero UDFs, so the whole stage stays inside WholeStageCodegen
  * and Catalyst can push/prune around it. The stage is three projections
  * — trimmed fields, typed values, errors — so each field is trimmed and
  * parsed once per row: the 14-format lenient timestamp parse appears
  * once per timestamp column in the optimized plan (PlanAuditSpec pins
  * this), and the errors reuse the parsed values.
  */
object ParseValidate {

  val ParseErrorCol = "parse_error"

  /** Lenient fallback formats approximating invariant-culture
    * DateTime.TryParse for the formats that occur in taxi-style data. The
    * golden-stats run uses no configured format (appsettings.json has no
    * InputDateTimeFormat), so this path is the one the reference exercised.
    *
    * Coverage contract: the invariant culture accepts more shapes than any
    * finite format list; this list covers US-style 12/24-hour (with and
    * without seconds / fractional seconds), ISO date and 'T' forms (again
    * ± seconds/fractions), and bare dates. Offset-suffixed ISO forms
    * (+05:00 / Z) are intentionally excluded: the reference treats inputs
    * as wall-clock EST, so an explicit offset would be silently discarded
    * — rejecting them is the safer divergence (documented here as the
    * supported subset). Order matters: earlier formats win, and the
    * fractional variants precede their whole-second prefixes so the
    * fraction is consumed, not rejected. */
  private val LenientFormats = Seq(
    "M/d/yyyy h:mm:ss.SSS a", "M/d/yyyy h:mm:ss a", "M/d/yyyy h:mm a",
    "M/d/yyyy H:mm:ss.SSS", "M/d/yyyy H:mm:ss", "M/d/yyyy H:mm",
    "yyyy-M-d H:mm:ss.SSS", "yyyy-M-d H:mm:ss", "yyyy-M-d H:mm",
    "yyyy-M-d'T'H:mm:ss.SSS", "yyyy-M-d'T'H:mm:ss", "yyyy-M-d'T'H:mm",
    "M/d/yyyy", "yyyy-M-d")

  private def parseTs(c: Column, fmt: Option[String]): Column = fmt match {
    case Some(f) => try_to_timestamp(c, lit(f))
    case None    => coalesce(LenientFormats.map(f => try_to_timestamp(c, lit(f))): _*)
  }

  /** Strict integral string (reference uses byte/int.TryParse: no decimals,
    * optional sign). */
  private def parseIntStrict(c: Column): Column =
    when(c.rlike("^[+-]?[0-9]+$"), c.try_cast("long"))

  /** Decimal with .NET NumberStyles.Float|AllowThousands: strip thousands
    * separators, accept exponent notation; exact decimal cast (overflow →
    * null → invalid). */
  private def parseDecimal(c: Column, precision: Int, scale: Int): Column =
    regexp_replace(c, ",", "").try_cast(s"decimal($precision,$scale)")

  private def empty(c: Column): Column = c.isNull || c === ""

  /** Append typed columns + `parse_error` to a CsvSource DataFrame. The
    * errors reference the trimmed and typed attributes of the projections
    * below them; one projection would embed every parse twice, once for
    * the value and once for its error test. */
  def parse(df: DataFrame, fmt: Option[String] = None): DataFrame = {
    val fields = CsvSource.RequiredColumns
    def t(field: String): Column = col(trimmedCol(field))
    val intFields = Seq("passenger_count", "PULocationID", "DOLocationID")
    def long(field: String): Column = col(s"_long_$field")

    val trimmed = df.withColumns(
      fields.map(f => trimmedCol(f) -> trim(col(rawCol(f)))).toMap)
    val typed = trimmed.withColumns(Map(
      "pickup_ts" -> parseTs(t("tpep_pickup_datetime"), fmt),
      "dropoff_ts" -> parseTs(t("tpep_dropoff_datetime"), fmt),
      "trip_distance" -> parseDecimal(t("trip_distance"), 9, 3),
      "fare_amount" -> parseDecimal(t("fare_amount"), 10, 2),
      "tip_amount" -> parseDecimal(t("tip_amount"), 10, 2)) ++
      intFields.map(f => s"_long_$f" -> parseIntStrict(t(f))))

    val pc = long("passenger_count")
    val dist = col("trip_distance")
    val fare = col("fare_amount")
    val tip = col("tip_amount")

    def fieldError(field: String, bad: Column): Column =
      when(empty(t(field)), lit(s"$field value is missing or empty"))
        .when(bad, concat(lit(s"invalid $field value: '"), t(field), lit("'")))

    // First-error-wins: a when-chain evaluates in declaration order, so the
    // field order above is the error precedence (TripRowParserService.cs:34-139).
    val err = coalesce(
      fieldError("tpep_pickup_datetime", col("pickup_ts").isNull),
      fieldError("tpep_dropoff_datetime", col("dropoff_ts").isNull),
      fieldError("passenger_count", pc.isNull || pc < 0 || pc > 255),
      fieldError("trip_distance", dist.isNull || dist < 0),
      fieldError("store_and_fwd_flag", lit(false)),
      fieldError("PULocationID", dOvBad(long("PULocationID"))),
      fieldError("DOLocationID", dOvBad(long("DOLocationID"))),
      fieldError("fare_amount", fare.isNull || fare < 0),
      fieldError("tip_amount", tip.isNull || tip < 0))

    typed.withColumns(Map(
      "passenger_count" -> pc.cast("int"),
      "pulocation_id" -> dOv2Int(long("PULocationID")),
      "dolocation_id" -> dOv2Int(long("DOLocationID")),
      ParseErrorCol -> err))
      .drop(fields.map(trimmedCol).filter(_ != FlagTrimmedCol) ++
        intFields.map(f => s"_long_$f"): _*)
  }

  /** The trimmed store_and_fwd_flag; [[Normalize]] maps it to No/Yes. */
  val FlagTrimmedCol = "flag_trimmed"

  private def trimmedCol(field: String): String =
    if (field == "store_and_fwd_flag") FlagTrimmedCol else s"_trimmed_$field"

  /** int.TryParse bounds: outside Int32 → parse failure. */
  private def dOvBad(v: Column): Column =
    v.isNull || v < 0 || v > Int.MaxValue

  private def dOv2Int(v: Column): Column = v.cast("int")
}
