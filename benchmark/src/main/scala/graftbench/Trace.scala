package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One recorded span: a layer call made by the benchmark, or an op root. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. When disabled, `span` just runs its body, so
  * the untraced run pays nothing for the calls it wraps.
  */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span name: duration minus what its children cover. */
  def selfNs: Map[String, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupMapReduce(_.name)(s => s.durNs - childNs(s.id))(_ + _)
  }

  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.durNs / 1e6).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark job, stage and task totals, attributed to benchmark operations by
  * the job group the benchmark sets around each one.
  */
final class JobStats extends SparkListener {
  final class Totals {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
    def +=(o: Totals): Unit = {
      jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
      inputBytes += o.inputBytes
    }
  }
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val perGroup = mutable.HashMap.empty[String, Totals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      e.stageIds.foreach(s => stageGroup(s) = g)
      perGroup.getOrElseUpdate(g, new Totals).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (g <- stageGroup.get(e.stageId); if m != null) {
      val t = perGroup(g)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Totals summed over the given job groups. */
  def total(groups: Set[String]): Totals = synchronized {
    val out = new Totals
    groups.flatMap(perGroup.get).foreach(out += _)
    out
  }
}

/** Bytes allocated by every live JVM thread so far. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  def total(): Long = {
    val ids = mx.getAllThreadIds
    mx.getThreadAllocatedBytes(ids).iterator.filter(_ > 0).sum
  }
}

/** SQL metrics summed over an executed plan, through AQE query stages. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def sum(df: DataFrame, names: Set[String]): Map[String, Long] = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    val acc = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    foreach(plan) { p =>
      p.metrics.foreach { case (k, m) => if (names(k)) acc(k) += m.value }
    }
    acc.toMap.withDefaultValue(0L)
  }
}
