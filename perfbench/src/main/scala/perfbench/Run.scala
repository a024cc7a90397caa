package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      runDir: String, smoke: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("run-dir"), m.getOrElse("smoke", "0") == "1")
  }
}

/** State shared by the phases of one run: the session, the tracer, the
  * check tally, and what the oracle comparison after the run needs. */
final class Run(val o: Opts, val base: SparkSession, val tracer: Tracer) {
  var spark: SparkSession = base
  val stageDir = s"${o.runDir}/stage"
  val cores: Int = base.sparkContext.defaultParallelism

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Per-layer values a workload measures outside the op spans. */
  val extras = mutable.LinkedHashMap.empty[String, Double]
  /** Engine outputs for the DuckDB oracle to compare after the run. */
  val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** One output check: counts as an attempted operation, a false result or
    * an exception as a failed one. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Exception => fail(s"$what: $e"); return }
    if (!pass) fail(what)
  }

  /** A new session over the shared context with every cached frame
    * dropped, so nothing a previous phase built can serve this one. */
  def freshSession(): SparkSession = {
    base.catalog.clearCache()
    spark = base.newSession()
    spark
  }

  def span[A](name: String)(f: Span => A): A = tracer.span(name)(f)

  /** DuckDB views over the staged copies of `tables`. */
  def stagedViews(tables: Seq[String]): Map[String, Seq[String]] =
    tables.map(t => t -> Seq(s"$stageDir/$t.parquet/*.parquet")).toMap

  /** Ask for `dir`'s parquet files to be compared with the DuckDB mirror of
    * engine query `query`, evaluated over `views` (table → parquet files).
    * The comparison covers the oracle's columns only. */
  def oracleCheck(query: String, dir: String, views: Map[String, Seq[String]]): Unit =
    oracle += Map("query" -> query, "sql" -> graft.SparkEntry.oracleSql(query),
      "files" -> s"$dir/*.parquet", "views" -> views)
}

object Run {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolation percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Order-free content digest: row count and the wrapping sum of one
    * xxhash64 per row over the columns in name order, doubles rounded to
    * four decimals so that partial sums added in another order compare
    * equal. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          graft.functions.GraftFunctions.detRound(col(f.name).cast("double"), 4)
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Order-free digest of collected rows. */
  def rowsDigest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Files of a parquet dataset directory, hidden files excluded. */
  def dataFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
}

/** Sums of SQL metrics over the leaf scans of an executed plan, looking
  * through adaptive query stages. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def scanMetric(plan: SparkPlan, name: String): Long =
    collect(plan) { case l: LeafExecNode => l.metrics.get(name).map(_.value).getOrElse(0L) }.sum

  /** Rows the plans that filled the cached frames under `plan` scanned. */
  def cachedScanRows(plan: SparkPlan): Long =
    collect(plan) { case s: InMemoryTableScanExec =>
      scanMetric(s.relation.cachedPlan, "numOutputRows")
    }.sum
}
