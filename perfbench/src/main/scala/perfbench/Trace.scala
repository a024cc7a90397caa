package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task counters summed over a set of Spark tasks. */
final class Counters {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L

  def clear(): Unit = {
    tasks = 0; cpuNs = 0; gcMs = 0; schedMs = 0; shuffleWriteBytes = 0
    spillBytes = 0; recordsRead = 0; recordsWritten = 0; bytesWritten = 0
  }

  def add(o: Counters): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedMs += o.schedMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    recordsWritten += o.recordsWritten; bytesWritten += o.bytesWritten
  }

  def cpuMs: Double = cpuNs / 1e6
}

/** One Spark job as the listener saw it: when it was submitted, the job
  * group it ran under, and the counters of its tasks. */
final class JobRecord(val startMs: Long, val group: String) {
  val counters = new Counters
}

/** Collects per-job task counters. Spark delivers listener events on its
  * own thread, so the maps are concurrent and readers call [[Tracer.drain]]
  * first. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new JobRecord(e.time, group))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (m != null && job != null) job.synchronized {
      val c = job.counters
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      c.recordsWritten += m.outputMetrics.recordsWritten
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }
}

/** A traced interval around one call into an engine layer. `request` is
  * shared by every span of one measured operation; `parent` is -1 for the
  * operation's root span. */
final class Span(val id: Long, val name: String, val parent: Long, val request: Long,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val counters = new Counters
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def ms: Double = (endNs - startNs) / 1e6
  /** Add `v` to a named count or time recorded on this span. */
  def note(key: String, v: Double): Unit = attrs(key) = attrs.getOrElse(key, 0.0) + v
}

object Span {
  /** A span that is never recorded, for calls made with tracing off. */
  def off(name: String): Span = new Span(-1L, name, -1L, -1L, 0L, 0L)
}

/** Span recorder. Every measured operation gets a root span (also when
  * tracing is off — the root spans are what task counters of the untraced
  * run are attributed to); with tracing on, [[span]] records one child span
  * per layer call and runs it under its own Spark job group. Spans stay in
  * memory until [[attribute]] and the dump at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  /** Whether [[span]] records layer spans; switched per operation. */
  var enabled = false
  val listener = new JobListener
  sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextRequest = 0L

  private def open(name: String, request: Long): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1L)
    val s = new Span(spans.size.toLong, name, parent, request, System.nanoTime(),
      System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Run one measured operation under a fresh request id. */
  def op[A](name: String)(f: Span => A): A = {
    nextRequest += 1
    val s = open(name, nextRequest)
    try f(s) finally close(s)
  }

  /** Run `f` as a child span named after the engine layer it calls into;
    * with tracing off `f` gets a span that is never recorded. */
  def span[A](name: String)(f: Span => A): A =
    if (!enabled || stack.isEmpty) f(Span.off(name))
    else {
      val s = open(name, stack.head.request)
      try f(s) finally close(s)
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Give every span the counters of the jobs it ran (again, from scratch,
    * on every call). A job belongs to the
    * span named by its job group; jobs submitted from threads the span does
    * not own (streaming micro-batches) go to the innermost span open when
    * the job started. Jobs outside every span are returned unattributed.
    */
  def attribute(): Counters = {
    drain()
    spans.foreach(_.counters.clear())
    val byId = spans.map(s => s"pb-${s.id}" -> s).toMap
    val outside = new Counters
    listener.jobs.values().asScala.foreach { j =>
      val owner = Option(j.group).flatMap(byId.get).orElse(
        spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => -s.startNs).headOption)
      owner match {
        case Some(s) => s.counters.add(j.counters)
        case None => outside.add(j.counters)
      }
    }
    outside
  }

  /** Counters of all jobs that started inside [fromMs, toMs]. */
  def countersBetween(fromMs: Long, toMs: Long): Counters = {
    drain()
    val c = new Counters
    listener.jobs.values().asScala
      .filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .foreach(j => c.add(j.counters))
    c
  }

  /** Span duration minus the time its direct children cover (children of
    * one span run one after another on the client thread). */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  /** Counters of `s` and every span below it. */
  def subtree(s: Span): Counters = {
    val c = new Counters
    c.add(s.counters)
    spans.filter(_.parent == s.id).foreach(k => c.add(subtree(k)))
    c
  }

  /** Every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms,
        "self_ms" -> selfMs(s), "tasks" -> s.counters.tasks,
        "task_cpu_ms" -> s.counters.cpuMs, "records_read" -> s.counters.recordsRead,
        "records_written" -> s.counters.recordsWritten,
        "shuffle_write_bytes" -> s.counters.shuffleWriteBytes,
        "spill_bytes" -> s.counters.spillBytes) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
