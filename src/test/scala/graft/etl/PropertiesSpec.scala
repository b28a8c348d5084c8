package graft.etl

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based tests (an upgrade over the reference's example-based
  * suite, SURVEY §5.2): generated raw rows are run through the real
  * pipeline and compared against an independent row-at-a-time Scala model
  * of the parse semantics. Generators are sampled with fixed seeds (no
  * scalatest-scalacheck bridge in the offline cache). */
class PropertiesSpec extends SparkSpec {

  private def samples[A](g: Gen[A], seeds: Seq[Long]): Seq[A] =
    seeds.map(s => g.pureApply(Gen.Parameters.default, Seed(s)))

  // --- generators ------------------------------------------------------
  private val validDate = Gen.choose(0L, 364L * 24 * 3600).map { s =>
    val base = java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0).plusSeconds(s)
    base.format(java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy hh:mm:ss a"))
  }
  private val badDate = Gen.oneOf("not-a-date", "13/45/2020 99:99:99 XX", "", "2020")
  private val validInt = Gen.choose(0, 255).map(_.toString)
  private val badInt = Gen.oneOf("-1", "256", "abc", "1.5", "")
  private val validDec = Gen.choose(0, 99999999).map(c => f"${c / 100}%d.${c % 100}%02d")
  private val decWithComma = Gen.choose(100000, 999999).map(c => s"${c / 1000},${c % 1000}.25")
  private val badDec = Gen.oneOf("-0.01", "oops", "")
  private val flag = Gen.oneOf("N", "Y", " n ", "y", "Z", "")

  private case class RawRow(pickup: String, dropoff: String, pc: String,
      dist: String, fl: String, pu: String, dol: String, fare: String, tip: String)

  private val rowGen: Gen[RawRow] = for {
    p <- Gen.frequency(8 -> validDate, 2 -> badDate)
    d <- Gen.frequency(8 -> validDate, 2 -> badDate)
    pc <- Gen.frequency(8 -> validInt, 2 -> badInt)
    di <- Gen.frequency(6 -> validDec, 2 -> decWithComma, 2 -> badDec)
    f <- flag
    pu <- Gen.frequency(8 -> validInt, 2 -> badInt)
    dl <- Gen.frequency(8 -> validInt, 2 -> badInt)
    fa <- Gen.frequency(8 -> validDec, 2 -> badDec)
    ti <- Gen.frequency(8 -> validDec, 2 -> badDec)
  } yield RawRow(p, d, pc, di, f, pu, dl, fa, ti)

  // --- independent model of the parse semantics ------------------------
  private def modelErrorField(r: RawRow): Option[String] = {
    def dateOk(s: String) = try {
      java.time.LocalDateTime.parse(s.trim,
        java.time.format.DateTimeFormatter.ofPattern("M/d/yyyy h:mm:ss a")); true
    } catch { case _: Exception => false }
    def intOk(s: String, max: Long) = {
      val t = s.trim
      t.matches("[+-]?[0-9]+") &&
        (try { val v = t.toLong; v >= 0 && v <= max } catch { case _: Exception => false })
    }
    def decOk(s: String) = try {
      BigDecimal(s.trim.replace(",", "")) >= 0
    } catch { case _: Exception => false }
    if (!dateOk(r.pickup)) Some("tpep_pickup_datetime")
    else if (!dateOk(r.dropoff)) Some("tpep_dropoff_datetime")
    else if (!intOk(r.pc, 255)) Some("passenger_count")
    else if (!decOk(r.dist)) Some("trip_distance")
    else if (r.fl.trim.isEmpty) Some("store_and_fwd_flag")
    else if (!intOk(r.pu, Int.MaxValue)) Some("PULocationID")
    else if (!intOk(r.dol, Int.MaxValue)) Some("DOLocationID")
    else if (!decOk(r.fare)) Some("fare_amount")
    else if (!decOk(r.tip)) Some("tip_amount")
    else None
  }

  test("parse-validate agrees with an independent model on generated rows") {
    for (rows <- samples(Gen.listOfN(120, rowGen), Seq(1L, 7L, 42L, 99L, 1234L))) {
      val df = ParseValidate.parse(rawDf(rows.map(r =>
        Seq(r.pickup, r.dropoff, r.pc, r.dist, r.fl, r.pu, r.dol, r.fare, r.tip))))
      val got = df.orderBy(CsvSource.LineNumberCol)
        .select(ParseValidate.ParseErrorCol).collect()
        .map(r => Option(r.getString(0)))
      rows.zip(got).foreach { case (r, err) =>
        (modelErrorField(r), err) match {
          case (None, None) => ()
          case (Some(f), Some(msg)) => assert(msg.contains(f), s"$r -> $msg")
          case (m, e) => fail(s"model=$m engine=$e for $r")
        }
      }
    }
  }

  test("dedup is idempotent: re-deduping the winners changes nothing") {
    for (rows <- samples(Gen.listOfN(60, rowGen), Seq(5L, 77L))) {
      val ann = Dedup.withFirstWins(Normalize.normalize(ParseValidate.parse(
        rawDf(rows.map(r =>
          Seq(r.pickup, r.dropoff, r.pc, r.dist, r.fl, r.pu, r.dol, r.fare, r.tip))))))
      val winners = ann.filter(Stats.isInserted())
      val re = Dedup.withFirstWins(winners.drop(Dedup.DupRankCol))
      assert(re.filter(
        org.apache.spark.sql.functions.col(Dedup.DupRankCol) > 1).count() == 0)
    }
  }
}
