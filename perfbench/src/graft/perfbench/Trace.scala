package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each graft layer.
  *
  * A span is (id, parent, name, op, start, end, counters); spans live in
  * memory and are written once the run ends. While a span is open its id
  * is the thread's Spark job group, so [[JobListener]] can attribute every
  * Spark job to the innermost span that caused it. With `on == false` a
  * span is a plain call: that is how the untraced run and the untraced
  * half of a traced run execute. */
final class Tracer(sc: SparkContext) {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds, on the clock Spark stamps job events with. */
  def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                   val start: Double) {
    var end: Double = 0.0
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var on: Boolean = false
  /** Id of the op being run; -1 outside the timed phase. */
  var op: Int = -1

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(spans.size + 1, stack.headOption.fold(0)(_.id), name, op, nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.GroupKey, s.id.toString)
      sc.setLocalProperty(Tracer.DescriptionKey, name)
      try f
      finally {
        s.end = nowMs
        stack = stack.tail
        val parent = stack.headOption
        sc.setLocalProperty(Tracer.GroupKey, parent.map(_.id.toString).orNull)
        sc.setLocalProperty(Tracer.DescriptionKey, parent.map(_.name).orNull)
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.counters(key) = s.counters.getOrElse(key, 0.0) + v)

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_ms" -> s.start, "end_ms" -> s.end, "counters" -> s.counters))
}

object Tracer {
  /** Spark's job-group and job-description local properties. */
  val GroupKey = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"
}

/** Per-job totals from Spark's own task metrics, keyed by the job group
  * (= span id) the job was submitted under. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    var end: Long = 0L
    var tasks, failedTasks = 0L
    var runMs, gcMs, shuffleBytes, spillBytes, bytesRead, recordsRead, bytesWritten = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.GroupKey))).getOrElse("")
    val j = new Job(e.jobId, group, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesRead += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }

  /** Call after the listener bus is drained. */
  def records: Seq[Map[String, Any]] = jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map(
    "job" -> j.id, "span" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end,
    "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks, "task_s" -> j.runMs / 1e3,
    "gc_s" -> j.gcMs / 1e3, "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
    "bytes_read" -> j.bytesRead, "records_read" -> j.recordsRead,
    "bytes_written" -> j.bytesWritten))
}
