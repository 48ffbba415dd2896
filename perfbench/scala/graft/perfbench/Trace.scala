package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder: each span is (id, parent, name, start, end)
  * in nanoseconds from the start of the run. Spans stay in memory and are
  * written once, at exit; with tracing off `span` is a plain call. The
  * harness is single-threaded, so a stack gives the parent. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var on = false
  private var nextId = 0

  def start(enabled: Boolean): Unit = on = enabled
  def stop(): Unit = on = false

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val s = System.nanoTime() - t0
      stack.push(id)
      try body finally {
        stack.pop()
        spans += Span(id, parent, name, s, System.nanoTime() - t0)
      }
    }

  def write(p: Path, runId: String): Unit =
    Files.writeString(p, spans.sortBy(_.id).map { s =>
      Harness.mapper.writeValueAsString(Map("run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
    }.mkString("", "\n", if (spans.isEmpty) "" else "\n"))
}

/** Scheduler roll-up keyed by the `perfbench.phase` local property the
  * harness sets around each timed operation: jobs, stages, tasks, task
  * metrics and per-stage task durations (for skew). */
final class PhaseListener extends SparkListener {
  private final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }
  private val aggs = mutable.LinkedHashMap[String, Agg]()
  private val stagePhase = mutable.Map[Int, String]()

  private def agg(p: String) = aggs.getOrElseUpdate(p, new Agg)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val p = Option(j.properties).flatMap(ps =>
      Option(ps.getProperty(PhaseListener.Key))).getOrElse("untimed")
    agg(p).jobs += 1
    j.stageIds.foreach(stagePhase(_) = p)
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    agg(stagePhase.getOrElse(s.stageInfo.stageId, "untimed")).stages += 1
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stagePhase.getOrElse(t.stageId, "untimed"))
    a.tasks += 1
    a.stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) += t.taskInfo.duration
    val m = t.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def render(as: Iterable[Agg]): Map[String, Any] = {
    val skews = as.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = math.max(s(s.size / 2), 1L)
      s.last.toDouble / med
    }.toSeq.sorted
    Map(
      "jobs" -> as.map(_.jobs).sum, "stages" -> as.map(_.stages).sum,
      "tasks" -> as.map(_.tasks).sum,
      "executor_run_s" -> as.map(_.runMs).sum / 1e3,
      "executor_cpu_s" -> as.map(_.cpuNs).sum / 1e9,
      "gc_s" -> as.map(_.gcMs).sum / 1e3,
      "shuffle_read_bytes" -> as.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> as.map(_.shuffleWrite).sum,
      "spill_bytes" -> as.map(_.spill).sum,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)))
  }

  /** Totals over every timed operation (untimed checks excluded). */
  def summary(): Map[String, Any] = synchronized {
    render(aggs.filter(_._1 != "untimed").values)
  }

  def phases(): Map[String, Any] = synchronized {
    aggs.map { case (p, a) => p -> render(Seq(a)) }.toMap
  }
}

object PhaseListener {
  val Key = "perfbench.phase"
}

/** The scheduling floor, measured in-session as `graft.Bench` does: a
  * one-stage count over a tiny range is pure job-launch latency, and a
  * two-stage one adds one stage's latency. Minimum of five. */
object Floors {
  def measure(spark: org.apache.spark.sql.SparkSession): Map[String, Any] = {
    def minOf(body: => Unit): Double =
      (1 to 5).map(_ => Harness.seconds(body)).min
    val one = minOf(spark.range(1000L).count(): Unit)
    val two = minOf(spark.range(1000L).repartition(2).count(): Unit)
    Map("floor_ms_per_job" -> one * 1e3,
      "floor_ms_per_stage" -> math.max(two - one, 0.0) * 1e3)
  }

  /** Tracing overhead: a fixed probe of shuffle jobs timed untraced and
    * traced (listener attached, spans on), alternating, best of three. */
  def tracingOverhead(spark: org.apache.spark.sql.SparkSession): Double = {
    def probe(): Unit = (1 to 3).foreach { i =>
      spark.range(0L, 200000L, 1L, 4).selectExpr(s"id % ${90 + i} AS k")
        .groupBy("k").count().collect()
    }
    val sc = spark.sparkContext
    val pairs = (1 to 3).map { _ =>
      val off = Harness.seconds(probe())
      val l = new PhaseListener
      sc.addSparkListener(l)
      Trace.start(enabled = true)
      val on = Harness.seconds(Trace.span("trace.probe") { probe() })
      Trace.stop()
      org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
      sc.removeSparkListener(l)
      (off, on)
    }
    pairs.map(_._2).min / pairs.map(_._1).min - 1
  }
}
