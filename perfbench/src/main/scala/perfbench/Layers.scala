package perfbench

import scala.collection.immutable.ListMap

/** Per-layer metrics from the traced operations of a run, and the
  * workload-named report of the end-to-end numbers.
  *
  * Every per-layer metric is reported on every workload — 0 where the
  * workload does not call the layer — so runs of different workloads share
  * one schema. Times and counts are means per call of the layer unless the
  * name says otherwise; "self" is a span's duration minus its child spans.
  * The exec metrics sum the whole window.
  */
object Layers {
  private val MB = 1048576.0

  /** Every per-layer metric name with its unit, in report order. */
  val units: ListMap[String, String] = ListMap(
    "sources.self_ms" -> "ms", "sources.rows_read" -> "rows",
    "dims.self_ms" -> "ms", "dims.plan_ms" -> "ms", "dims.task_cpu_ms" -> "ms",
    "dims.shuffle_mb" -> "MB",
    "fact.self_ms" -> "ms", "fact.plan_ms" -> "ms", "fact.task_cpu_ms" -> "ms",
    "fact.shuffle_mb" -> "MB", "fact.spill_mb" -> "MB", "fact.rows_scanned_per_row_out" -> "ratio",
    "warehouse.write.self_ms" -> "ms", "warehouse.write.bytes_per_row" -> "B/row",
    "warehouse.write.files" -> "count",
    "warehouse.cache.build_ms" -> "ms", "warehouse.cache.mb" -> "MB",
    "plan.p50_ms" -> "ms", "plan.share" -> "ratio",
    "olap.exec_p50_ms" -> "ms", "olap.task_cpu_ms" -> "ms", "olap.n_tasks" -> "count",
    "olap.rows_scanned_per_row_returned" -> "ratio",
    "stream.append_self_ms" -> "ms", "stream.noop_ms" -> "ms",
    "stream.rows_scanned_per_row_appended" -> "ratio", "stream.files_written" -> "count",
    "stream.bytes_written_per_row" -> "B/row",
    "read.self_ms" -> "ms", "read.files_scanned" -> "count", "read.after_compaction_ms" -> "ms",
    "compaction.self_ms" -> "ms", "compaction.bytes_rewritten_mb" -> "MB",
    "compaction.files_in" -> "count", "compaction.files_out" -> "count",
    "dedup.lsh_self_ms" -> "ms", "dedup.cc_self_ms" -> "ms", "dedup.task_cpu_ms" -> "ms",
    "dedup.shuffle_mb" -> "MB", "dedup.pairs_out" -> "count",
    "similarity.self_ms" -> "ms", "similarity.task_cpu_ms" -> "ms",
    "similarity.recall_at_10" -> "fraction",
    "exec.task_cpu_util" -> "fraction", "exec.gc_ms" -> "ms", "exec.sched_delay_ms" -> "ms",
    "exec.spill_mb" -> "MB", "exec.n_tasks" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_share" -> "ratio")

  def metrics(r: Run, traced: Set[Long], exec: Counters, windowS: Double,
              untracedMs: Seq[Double], tracedMs: Seq[Double]): ListMap[String, Double] = {
    val t = r.tracer
    val spans = t.spans.filter(s => traced(s.request)).toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    def named(ns: String*) = spans.filter(s => ns.contains(s.name))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    /** Mean of `f` per call of the layer (spans named `n`). */
    def perCall(n: String)(f: Span => Double) = ratio(named(n).map(f).sum, named(n).size)
    def attr(n: String, k: String) = named(n).map(_.attrs.getOrElse(k, 0.0)).sum
    def counters(ns: String*): Counters = {
      val c = new Counters
      named(ns: _*).flatMap(subtree).foreach(s => c.add(s.counters))
      c
    }
    /** Planning time inside the layer's spans, per call of the layer. */
    def planMs(n: String) = ratio(
      spans.filter(s => s.name == "plan" && byId.get(s.parent).exists(_.name == n)).map(_.ms).sum,
      named(n).size)
    def self(n: String) = perCall(n)(t.selfMs)
    def cpuMs(ns: String*) = ratio(counters(ns: _*).cpuMs, named(ns: _*).size)
    def shuffleMb(ns: String*) = ratio(counters(ns: _*).shuffleWriteBytes / MB, named(ns: _*).size)
    val write = counters("warehouse.write")
    val stream = counters("stream")
    val requests = named("olap", "similarity", "read")
    val requestPlans =
      spans.filter(s => s.name == "plan" && byId.get(s.parent).exists(requests.contains)).map(_.ms)
    val olapExec = named("olap").map(s => s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)
    val overhead = Run.median(tracedMs) - Run.median(untracedMs)
    val values = Map(
      "sources.self_ms" -> self("sources"),
      "sources.rows_read" -> perCall("sources")(_.attrs.getOrElse("rows_out", 0.0)),
      "dims.self_ms" -> self("dims"),
      "dims.plan_ms" -> planMs("dims"),
      "dims.task_cpu_ms" -> cpuMs("dims"),
      "dims.shuffle_mb" -> shuffleMb("dims"),
      "fact.self_ms" -> self("fact"),
      "fact.plan_ms" -> planMs("fact"),
      "fact.task_cpu_ms" -> cpuMs("fact"),
      "fact.shuffle_mb" -> shuffleMb("fact"),
      "fact.spill_mb" -> ratio(counters("fact").spillBytes / MB, named("fact").size),
      "fact.rows_scanned_per_row_out" ->
        ratio(attr("fact", "rows_scanned"), attr("fact", "rows_out")),
      "warehouse.write.self_ms" -> self("warehouse.write"),
      "warehouse.write.bytes_per_row" -> ratio(write.bytesWritten, write.recordsWritten),
      "warehouse.write.files" -> perCall("warehouse.write")(_.attrs.getOrElse("files", 0.0)),
      "warehouse.cache.build_ms" -> self("warehouse.cache"),
      "plan.p50_ms" -> Run.median(requestPlans),
      "plan.share" -> ratio(requestPlans.sum, requests.map(_.ms).sum),
      "olap.exec_p50_ms" -> Run.median(olapExec),
      "olap.task_cpu_ms" -> cpuMs("olap"),
      "olap.n_tasks" -> ratio(counters("olap").tasks, named("olap").size),
      "olap.rows_scanned_per_row_returned" ->
        ratio(attr("olap", "rows_scanned"), attr("olap", "rows_returned")),
      "stream.append_self_ms" -> self("stream"),
      "stream.rows_scanned_per_row_appended" ->
        ratio(stream.recordsRead, attr("stream", "rows_appended")),
      "stream.files_written" -> perCall("stream")(_.attrs.getOrElse("files", 0.0)),
      "stream.bytes_written_per_row" -> ratio(stream.bytesWritten, stream.recordsWritten),
      "read.self_ms" -> self("read"),
      "read.files_scanned" -> perCall("read")(_.attrs.getOrElse("files_scanned", 0.0)),
      "dedup.lsh_self_ms" -> self("dedup.lsh"),
      "dedup.cc_self_ms" -> self("dedup.cc"),
      "dedup.task_cpu_ms" ->
        ratio(counters("dedup.lsh", "dedup.cc").cpuMs, named("dedup.lsh").size),
      "dedup.shuffle_mb" ->
        ratio(counters("dedup.lsh", "dedup.cc").shuffleWriteBytes / MB, named("dedup.lsh").size),
      "dedup.pairs_out" -> perCall("dedup.lsh")(_.attrs.getOrElse("pairs_out", 0.0)),
      "similarity.self_ms" -> self("similarity"),
      "similarity.task_cpu_ms" -> cpuMs("similarity"),
      "exec.task_cpu_util" -> ratio(exec.cpuMs, windowS * 1000 * r.cores),
      "exec.gc_ms" -> exec.gcMs.toDouble,
      "exec.sched_delay_ms" -> exec.schedMs.toDouble,
      "exec.spill_mb" -> exec.spillBytes / MB,
      "exec.n_tasks" -> exec.tasks.toDouble,
      "trace.overhead_ms" -> overhead,
      "trace.overhead_share" -> ratio(overhead, Run.median(untracedMs)))
    // values measured outside the operations win over the span-derived ones
    ListMap(units.keys.toSeq.map(k => k -> r.extras.getOrElse(k, values.getOrElse(k, 0.0))): _*)
  }

  /** The workload's named numbers with set-up time, failure ratio, live
    * heap and the number of latency samples. */
  def report(w: Workload, e2e: Map[String, Double], latencies: Seq[Double], r: Run,
             roots: Seq[Span], windowS: Double): ListMap[String, Any] =
    ListMap(("setup_s" -> e2e("setup_s")) +: w.report(e2e, latencies, roots, windowS) ++: Seq(
      "failed_ops_ratio" -> (if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted),
      "heap_live_mb" -> e2e("heap_live_mb"), "samples" -> latencies.size): _*)
}
