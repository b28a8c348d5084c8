package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated harness tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory at call time so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench)
  * — and, on a real cluster, at any path. Parquet scans give Catalyst
  * column pruning + predicate pushdown for free; nothing here should
  * ever force a full materialization.
  */
object Tables {
  /** Per session: (path, its files' (path, length, mtime)) → the schema
    * `spark.read.parquet` inferred for it. Inference is a footer-reading
    * Spark job per read; a file set that has not changed since has the
    * same schema, so every later read of it passes the schema instead. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Map[(String, Seq[(String, Long, Long)]), StructType]])

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path) // fails as it always did
    else {
      val files = fs.listFiles(p, true)
      val key = (path, Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted)
      val cache = schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap())
      Option(cache.get(key)).fold {
        val df = spark.read.parquet(path)
        cache.put(key, df.schema)
        df
      }(spark.read.schema(_).parquet(path))
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = t(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = t(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = t(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = t(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = t(spark, sfDir, "region")
  /** events.ts arrives in two physical encodings, sniffed per read:
    *
    *  - parquet TIMESTAMP(NANOS) (older driver generations, and the
    *    ScaleProbe-derived sf1 dir, which writes raw long nanos):
    *    Spark's vectorized reader rejects NANOS by default, so the
    *    legacy conf reads it as a long, converted here to a microsecond
    *    TimestampType with exact integer division (a double-based
    *    division would lose ulps at 1e18 ns);
    *  - parquet timestamp[us] without isAdjustedToUTC (current driver
    *    generation), surfacing as TIMESTAMP_NTZ: cast to TimestampType —
    *    wall-clock-identical under the UTC session timezone, and keeps
    *    every downstream query/oracle on the same type as before. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // inferred afresh: the schema depends on the conf above, which the
    // per-session schema cache in `t` does not key on
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")
}
