package graft

import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** What every CLI main shares: the local session, the one consumer that
  * times a query, the name-list parser, the dated artifact path and the
  * JSON string escape. */
object Harness {

  /** Local cores: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Compiled-codegen-class cache size (static conf, Spark default 100
    * entries). One pass of the 187-row registry compiles >1000 distinct
    * whole-stage/expression fragments, so at the default every pass
    * evicts every other pass's classes and re-pays Janino compilation
    * for EVERY stage of EVERY query — measured: rows that run in 0.24 s
    * back-to-back (warm cache) cost 3.7-12 s per bench pass under the
    * 100-entry thrash. Any long-lived multi-query session wants the same
    * sizing. Every recorded bench artifact ran with this value. */
  val CodegenCacheEntries = 8192

  /** The local session every main runs in: `cpus` cores and as many
    * shuffle partitions, UTC session time, no UI, WARN logging. */
  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materialize every row and column of `df` once and return its row
    * count: one `noop`-sink write, the count observed in the same pass.
    * Unlike `count()`, the write reads every output column, so Catalyst
    * cannot drop a row-preserving join whose outputs a bare count would
    * never read — the timed plan is the plan that produces the result. */
  def consume(df: DataFrame): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** The names a comma list selects, in the order given. An unknown name
    * or an empty selection throws: a typo must not yield a vacuously
    * partial run that exits 0. */
  def only(list: String, known: String => Boolean): Seq[String] = {
    val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
    require(names.nonEmpty, s"'$list' selects no name")
    val unknown = names.filterNot(known)
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(", ")}")
    names
  }

  /** `<dir>/bench_runs/<name>_<UTC yyyyMMdd_HHmmss>.json`, with the
    * directory created: the dated artifact path of one run, so that no
    * run replaces another's (or a recorded) artifact. */
  def datedRunPath(dir: Path, name: String): Path = {
    val ts = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .format(LocalDateTime.now(ZoneOffset.UTC))
    val runs = Files.createDirectories(dir.resolve("bench_runs"))
    runs.resolve(s"${name}_$ts.json")
  }

  /** Full JSON string escape — backslash, quote and EVERY control char.
    * Exception messages can embed quoted input text (\f, \b, NULs from
    * native layers) and builder-authored SQL can hold tabs or CRs; a
    * partial escape would corrupt the artifact a reader json-loads. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
