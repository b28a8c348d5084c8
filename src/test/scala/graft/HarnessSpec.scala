package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.util.QueryExecutionListener

/** The shared measurement path: [[Harness.consume]] materializes the plan
  * that produces the result, where `count()` may not, and [[Harness.only]]
  * rejects selections that would make a partial run look complete. */
class HarnessSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size

  test("consume keeps a unique-keyed left join that count() eliminates") {
    val left = spark.range(100).toDF("id")
    // one row per key: the join preserves the left side's rows exactly
    val right = spark.range(300).select((col("id") % 50).as("id"), col("id").as("v"))
      .groupBy("id").agg(max("v").as("v"))
    val df = left.join(right, Seq("id"), "left")
    assert(joins(df.groupBy().count().queryExecution.optimizedPlan) <
      joins(df.queryExecution.optimizedPlan))

    val executed = new AtomicReference[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.set(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val rows = try {
      val n = Harness.consume(df)
      ListenerBus.drain(spark.sparkContext)
      n
    } finally spark.listenerManager.unregister(listener)
    assert(rows == 100)
    assert(executed.get != null, "the noop write reported no execution")
    val kept = collectWithSubqueries(executed.get.executedPlan) { case j: BaseJoinExec => j }
    assert(kept.nonEmpty, executed.get.executedPlan.toString)
  }

  test("consume counts an empty frame as zero rows") {
    assert(Harness.consume(spark.range(0).toDF("id")) == 0L)
  }

  test("only keeps the given order and rejects unknown names and empty selections") {
    val known = Set("a", "b", "c")
    assert(Harness.only(" c, a ,c", known) == Seq("c", "a"))
    intercept[IllegalArgumentException](Harness.only("a,typo", known))
    intercept[IllegalArgumentException](Harness.only(" , ", known))
    intercept[IllegalArgumentException](Harness.only("", known))
  }
}
