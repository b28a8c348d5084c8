package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class TablesSpec extends SparkSpec {

  import spark.implicits._

  test("a table's schema is inferred once per session and file set") {
    val dir = tmpDir("tables")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val again = try {
      Tables.documents(spark, dir)
      ListenerBus.drain(spark.sparkContext)
      assert(jobs.get == 1, "the first read infers the schema")
      val df = Tables.documents(spark, dir)
      ListenerBus.drain(spark.sparkContext)
      assert(jobs.get == 1, "a read of the same files infers nothing")
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(again.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // rewritten files take their own schema, not the cached one
    Seq((2L, "b", 0.5)).toDF("doc_id", "text", "score").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text", "score"))
  }
}
