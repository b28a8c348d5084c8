package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional build-loop filter (driver leaves it unset → full dump):
    // SPARK_GRAFT_ONLY=q1_agg,seg_dedup restricts the dump to those names.
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .fold(SparkEntry.queries.keys.toSeq)(Harness.only(_, SparkEntry.queries.keySet))
    selected.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jstr(k)}: ${Harness.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
