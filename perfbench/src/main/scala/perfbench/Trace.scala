package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary: `parent` names the span that
  * caused it, `run` identifies the benchmark run all spans belong to. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once, when the benchmark ends. */
final class Spans(val run: String) {
  private val buf = ArrayBuffer.empty[Span]

  def record[T](name: String, parent: String = "")(body: => T): (T, Span) = {
    val start = System.nanoTime()
    val out = body
    val s = Span(name, start, System.nanoTime(), parent, run)
    buf.synchronized(buf += s)
    (out, s)
  }

  def all: Seq[Span] = buf.synchronized(buf.toList)

  def toJson: String = all.map { s =>
    Json.obj("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "run" -> s.run)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Spans {
  /** Seconds `body` took, recorded as a span when tracing is on. */
  def timed[T](spans: Option[Spans], name: String, parent: String)(body: => T): (T, Double) =
    spans match {
      case Some(s) => val (out, span) = s.record(name, parent)(body); (out, span.seconds)
      case None =>
        val start = System.nanoTime()
        val out = body
        (out, (System.nanoTime() - start) / 1e9)
    }
}

/** Task metrics summed over the jobs of one job group. */
final case class GroupTotals(
    jobs: Long = 0, tasks: Long = 0, taskNs: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: GroupTotals): GroupTotals = GroupTotals(jobs - o.jobs,
    tasks - o.tasks, taskNs - o.taskNs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes)
  def +(o: GroupTotals): GroupTotals = GroupTotals(jobs + o.jobs,
    tasks + o.tasks, taskNs + o.taskNs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes)
  def taskSeconds: Double = taskNs / 1e9
}

/** Aggregates task metrics per job group. Jobs started with no group land
  * under the empty group. Shuffle bytes are bytes written by map tasks;
  * spill bytes are bytes spilled to disk. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  private def add(group: String, d: GroupTotals): Unit =
    totals.merge(group, d, (a: GroupTotals, b: GroupTotals) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    add(g, GroupTotals(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    add(g, if (m == null) GroupTotals(tasks = 1) else GroupTotals(
      tasks = 1, taskNs = m.executorRunTime * 1000000L,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled))
  }

  def group(g: String): GroupTotals = totals.getOrDefault(g, GroupTotals())

  def all: GroupTotals = {
    var t = GroupTotals()
    totals.values.forEach(v => t = t + v)
    t
  }
}

/** Runs a call under a job group so the listener attributes its jobs. */
object JobGroup {
  def apply[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
}
