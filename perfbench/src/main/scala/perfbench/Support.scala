package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal JSON writing and reading for the harness's own small files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))

  /** The flat `{"key": number-or-string}` objects run.py writes. */
  def readFlat(path: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    "\"([^\"]+)\"\\s*:\\s*(\"[^\"]*\"|[-0-9.eE]+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
  }
}

/** Process-level readings: memory high-water mark, I/O, GC. */
object Proc {
  private def statusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** (read_bytes, write_bytes) from /proc/self/io: bytes this process made
    * the storage layer fetch or send, page cache included on write. */
  def io: (Long, Long) = {
    val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0
}

/** File-tree helpers for input sizes, per-iteration output dirs and the
  * streaming size metrics. */
object Tree {
  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).map(Files.size).sum
  def count(root: String): Long = files(root).size.toLong
  /** Data files only: no hidden or underscore-prefixed names. */
  def dataFiles(root: String): Long = files(root).count { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }.toLong

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/** Order-independent content fingerprint of a frame: xxhash64 of every
  * row over all columns, folded with bit_xor, plus the row count. */
object Fingerprint {
  def apply(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), java.lang.Long.toHexString(r.getLong(1)))
  }
}

/** The Spark session the program's own entry points build (`EtlMain`,
  * `EtlStreamMain`): local[cores], shuffle partitions = cores, UTC session
  * time zone, no UI. Scratch space stays inside the benchmark's work
  * directory. */
object Session {
  def start(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session-cache footprint: (persisted RDDs, MB held in memory + disk). */
  def cacheFootprint(spark: SparkSession): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (spark.sparkContext.getPersistentRDDs.size.toLong,
      infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
  }

  /** Unpersist everything and end the SparkContext, so the program's
    * session caches (evicted on application end) start cold next time. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
