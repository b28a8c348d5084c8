package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, monotonically_increasing_id, when}

/** Shows that the benchmark's output checks fire: over a small taxi input
  * (`<workDir>/input`), a clean iteration must pass and each planted fault
  * must be reported. `run.py --self-test` starts it as
  *
  *   perfbench.SelfTest <workDir>
  *
  * and exits with its status (0: every check behaved). */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val csv = s"$work/input/taxi.csv"
    val expected = Json.readFlat(s"$work/input/expected.json")
    val spark = Session.start(Runtime.getRuntime.availableProcessors(), work)
    val wrong = ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = {
      System.err.println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) wrong += what
    }
    try {
      val out = s"$work/out/clean"
      val clean = new TaxiBatch(csv, expected, "taxi.csv").run(spark, out)
      expect("a clean iteration passes its output checks", clean.failures.isEmpty)

      val off = expected + ("inserted" -> (expected("inserted").toLong + 1).toString)
      val miscounted = new TaxiBatch(csv, off, "taxi.csv").run(spark, s"$work/out/miscounted")
      expect("a counter that differs from the generator's is reported",
        miscounted.failures.exists(_.startsWith("counter inserted")))

      val trips = spark.read.parquet(s"$out/trips")
      val (_, dropped) = Fingerprint(trips.limit(trips.count().toInt - 1))
      val (_, changed) = Fingerprint(trips.withColumn("passenger_count",
        when(monotonically_increasing_id() === 0, col("passenger_count") + 1)
          .otherwise(col("passenger_count"))))
      def results(fps: (String, String)*) =
        fps.zipWithIndex.map { case ((in, fp), i) => (s"r$i", in, fp) }
      val fp = clean.fingerprint
      expect("equal fingerprints over one input pass",
        Checks.fingerprintMismatches(results("taxi.csv" -> fp, "taxi.csv" -> fp)).isEmpty)
      expect("a missing trips row is reported",
        Checks.fingerprintMismatches(results("taxi.csv" -> fp, "taxi.csv" -> dropped)).nonEmpty)
      expect("a changed trips value is reported",
        Checks.fingerprintMismatches(results("taxi.csv" -> fp, "taxi.csv" -> changed)).nonEmpty)
      expect("results over different inputs are not compared",
        Checks.fingerprintMismatches(results("taxi.csv" -> fp, "other" -> changed)).isEmpty)
    } finally {
      Session.release(spark)
      Tree.delete(s"$work/out")
    }
    System.exit(if (wrong.isEmpty) 0 else 1)
  }
}
