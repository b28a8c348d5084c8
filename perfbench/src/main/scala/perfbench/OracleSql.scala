package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the program's DuckDB oracle for `curation_training_order` to the
  * given file, so the benchmark checks the curated set against the SQL the
  * program itself ships. */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)),
      graft.SparkEntry.oracleSql("curation_training_order").getBytes(StandardCharsets.UTF_8))
}
