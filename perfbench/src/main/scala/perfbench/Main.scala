package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM over inputs `run.py` staged in the run
  * directory, and writes `result.json` there: end-to-end metrics,
  * per-layer metrics, host telemetry, the check tally, and the engine
  * outputs the DuckDB oracle must compare. `run.py` builds this program,
  * launches it, runs the oracle comparison and prints the final result
  * line; set-up time there includes the staging.
  *
  * Phases: session start; the workload's prepare step; the measured
  * window, a closed loop of one client; then the output checks. With
  * `--trace 1` some operations of the window are traced and the rest are
  * not, so the per-layer numbers and the tracing overhead come from one
  * run.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val steal0 = Host.stealMs
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startupS = (System.currentTimeMillis() - Host.jvmStartMs) / 1000.0
    try {
      val tracer = new Tracer(spark.sparkContext)
      val r = new Run(o, spark, tracer)
      val result = run(r, startupS, steal0)
      Files.write(Paths.get(o.runDir, "result.json"), result.getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def run(r: Run, startupS: Double, steal0: Long): String = {
    val o = r.o
    val t = r.tracer
    val w = Workload(o.workload, r)
    val gc0 = Host.gcMs
    (1 to 5).foreach(_ => Host.canaryUs)
    val canaryStart = Host.canaryUs
    val (_, prepareMs) = Run.time(w.prepare())
    val setupS = startupS + prepareMs / 1000.0

    // measured window: a closed loop, one client, whole blocks only, until
    // the run's seconds are spent (or, for a workload that is not timed,
    // the fewest operations a run needs). A traced run mixes untraced and
    // traced operations (Workload.traceOp) and needs three: the first may
    // run on a cold JVM, so the tracing overhead compares the later ones
    // only.
    val ops = mutable.ArrayBuffer.empty[(Span, Double)]
    val tracedRequests = mutable.HashSet.empty[Long]
    var rows = 0L
    var consecutiveFailures = 0
    val minOps = if (o.trace) 3 else 1
    val windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var n = 0
    while (consecutiveFailures < 3 && (n < minOps || n % w.blockSize != 0 ||
      !o.smoke && w.timed && elapsedS < o.seconds)) {
      t.enabled = o.trace && w.traceOp(n)
      r.attempted += 1
      try {
        var root: Span = null
        val (k, ms) = Run.time(t.op(w.opName) { s =>
          root = s
          if (t.enabled) tracedRequests += s.request
          w.op(s)
        })
        rows += k
        ops += root -> ms
        consecutiveFailures = 0
      } catch {
        case e: Exception =>
          r.fail(s"${w.opName} $n: $e")
          consecutiveFailures += 1
      }
      n += 1
    }
    t.enabled = false
    val windowS = elapsedS
    val windowEndMs = System.currentTimeMillis()
    val heapLiveMb = Host.heapLiveMb
    val canaryEnd = Host.canaryUs
    val nOps = ops.size

    val (_, finishMs) = Run.time(w.finish())
    t.attribute()
    val exec = t.countersBetween(windowStartMs, windowEndMs)

    val roots = ops.map(_._1).toSeq
    val latencies = ops.collect { case (s, ms) if w.measured(s) => ms }.toSeq
    val e2e = ListMap(
      "setup_s" -> setupS,
      "op_p50_ms" -> Run.percentile(latencies, 0.5),
      "ops_per_s" -> nOps / windowS,
      "rows_per_s" -> w.rowsPerS(rows, windowS, roots),
      "heap_live_mb" -> heapLiveMb)
    val (tracedOps, untracedOps) =
      ops.drop(1).partition { case (s, _) => tracedRequests(s.request) }
    def opMs(xs: Seq[(Span, Double)]) = xs.collect { case (s, ms) if w.measured(s) => ms }
    val layers = Layers.metrics(r, tracedRequests.toSet, exec, windowS,
      opMs(untracedOps.toSeq), opMs(tracedOps.toSeq))
    val report = Layers.report(w, e2e, latencies, r, roots, windowS)
    val telemetry = Seq(
      "startup_s" -> startupS,
      "prepare_ms" -> prepareMs,
      "finish_ms" -> finishMs, "window_s" -> windowS, "ops" -> nOps,
      "traced_ops" -> tracedOps.size,
      "rows" -> rows, "cores" -> r.cores, "jvm_gc_ms" -> (Host.gcMs - gc0),
      "host_steal_ms" -> { val s1 = Host.stealMs; if (steal0 < 0 || s1 < 0) -1L else s1 - steal0 },
      "canary_start_us" -> canaryStart, "canary_end_us" -> canaryEnd)
    if (o.trace) t.dump(Paths.get(o.runDir, "spans.jsonl"))
    Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> r.attempted, "failed" -> r.failed, "failures" -> r.failures,
      "end_to_end" -> e2e, "per_layer" -> layers, "report" -> report,
      "telemetry" -> ListMap(telemetry: _*),
      "per_layer_units" -> Layers.units, "oracle" -> r.oracle))
  }
}
