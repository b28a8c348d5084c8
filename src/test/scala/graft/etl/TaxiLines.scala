package graft.etl

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.util.Random

/** Seeded taxi CSV lines in canonical column order, for tests that must
  * run without the reference sample: mostly valid trips, plus
  * parse-invalid rows (every 37th line), normalize-invalid rows (every
  * 41st: flag `X`, dropoff before pickup, or a pickup in the DST gap) and
  * duplicates (every 23rd line repeats the key of a valid trip 20-60
  * lines earlier, with other fields changed), so duplicate groups
  * straddle any batch boundary of a few dozen lines. */
object TaxiLines {

  val Header: String = CsvSource.RequiredColumns.mkString(",")

  private val fmt = DateTimeFormatter.ofPattern("M/d/yyyy h:mm:ss a",
    java.util.Locale.US)

  def apply(n: Int, seed: Long): IndexedSeq[String] = {
    val rnd = new Random(seed)
    val start = LocalDateTime.of(2020, 3, 7, 22, 0)
    // (pickup, dropoff, passenger_count) of every valid trip so far
    val keys = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    def cents(max: Int): String =
      "%.2f".formatLocal(java.util.Locale.US, rnd.nextInt(max) / 100.0)
    def rest(pc: Int, flag: String): String =
      Seq(pc, cents(2000), flag, 1 + rnd.nextInt(265),
        1 + rnd.nextInt(265), cents(5000), cents(5000)).mkString(",")
    (1 to n).map { i =>
      val pickup = start.plusMinutes(i * 3L + rnd.nextInt(3))
      val dropoff = pickup.plusSeconds(60L + rnd.nextInt(3600))
      val pc = 1 + rnd.nextInt(4)
      val flag = if (rnd.nextBoolean()) "N" else " y"
      if (i % 37 == 0) {
        val ok = Seq(fmt.format(pickup), fmt.format(dropoff), "1", "1.0", "N",
          "1", "2", "3.00", "0.50")
        (i / 37 % 4 match {
          case 0 => ok.updated(0, "not-a-date")
          case 1 => ok.updated(1, "")
          case 2 => ok.updated(2, "1.5")
          case _ => ok.updated(3, "-2.00")
        }).mkString(",")
      }
      else if (i % 41 == 0) i / 41 % 3 match {
        case 0 => s"${fmt.format(pickup)},${fmt.format(dropoff)},${rest(pc, "X")}"
        case 1 => s"${fmt.format(dropoff)},${fmt.format(pickup)},${rest(pc, "N")}"
        case _ => s"3/8/2020 2:30:00 AM,3/8/2020 3:10:00 AM,${rest(pc, "N")}"
      }
      else if (i % 23 == 0 && keys.size > 60) {
        val (p, d, c) = keys(keys.size - 20 - rnd.nextInt(40))
        s"$p,$d,${rest(c, "N")}"
      } else {
        val key = (fmt.format(pickup), fmt.format(dropoff), pc)
        keys += key
        s"${key._1},${key._2},${rest(pc, flag)}"
      }
    }
  }

  /** Write `lines` as a headed CSV file and return its path. */
  def writeCsv(dir: String, lines: Seq[String]): String = {
    val p = java.nio.file.Paths.get(dir, "trips.csv")
    java.nio.file.Files.write(p, (Header +: lines).mkString("\n").getBytes("UTF-8"))
    p.toString
  }
}
