package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * For each named registered query (default: all), runs one UNTIMED
  * warm pass (session caches + codegen, the Bench warm-up convention),
  * then one timed [[Harness.consume]] pass with a listener attached, and
  * writes `<outDir>/<name>.txt` containing the formatted physical plan plus
  * the run's job/stage/task counts, summed task time, and shuffle
  * bytes — the plan-shape evidence OPTIMIZATION_r16.md cites. A
  * compact `name secs jobs stages tasks taskSecs shuffleMB` line per
  * query goes to stdout for quick ranking.
  *
  * Usage: runMain graft.Profile <sfDir> <outDir> [name[,name...]]
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length > 2) Harness.only(args.drop(2).mkString(","), SparkEntry.queries.keySet)
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session("graft-profile")
    Files.createDirectories(Paths.get(outDir))

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass: session caches + codegen paths heat exactly once.
      // NonFatal only — a fatal JVM error (OOM, LinkageError) must
      // propagate, not leave a compromised JVM timing the next pass
      // (r16 ADVICE item 4)
      try Harness.consume(fn(spark, sfDir))
      catch { case NonFatal(_) => () }
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // the listener bus is async: drain it so neither the reset nor the
      // snapshot races in-flight task-end events
      ListenerBus.drain(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0L); shufR.set(0L); shufW.set(0L)
      val t0 = System.nanoTime()
      val n = try Right(Harness.consume(df))
        catch { case NonFatal(e) => Left(e.getMessage) }
      val secs = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark.sparkContext)
      val summary = f"$name%-42s ${secs}%7.3f s  jobs=${jobs.get}%-3d " +
        f"stages=${stages.get}%-4d tasks=${tasks.get}%-5d " +
        f"taskTime=${taskMs.get / 1000.0}%8.2f s  " +
        f"shufR=${shufR.get / 1048576.0}%8.2f MB shufW=${shufW.get / 1048576.0}%8.2f MB  " +
        s"rows=${n.fold(e => s"ERR($e)", _.toString)}"
      println(summary)
      Files.writeString(Paths.get(s"$outDir/$name.txt"),
        s"== $name ==\n$summary\n\n$plan\n")
    }
    spark.stop()
  }
}
