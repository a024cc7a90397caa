package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Warehouse
import graft.functions.GraftFunctions.detRound
import graft.operators.{Compaction, Dedup, Fact, Olap, Similarity}
import graft.sources.Crm
import graft.streaming.FactStream

/** One benchmark workload over inputs staged in the run directory. The
  * runner calls [[prepare]] once, then [[op]] in a closed loop, one
  * client, until the run's seconds are spent (see [[timed]]), and
  * [[finish]] once. */
abstract class Workload(val r: Run) {
  /** Name of the measured operation's root span. */
  def opName: String
  /** The window ends only after a whole block of operations, so every run
    * measures the same mix. */
  def blockSize: Int = 1
  /** Whether the window runs until the run's seconds are spent; if not, it
    * is one operation (three in a traced run). */
  def timed: Boolean = true
  /** Build the state the operations are served from. */
  def prepare(): Unit
  /** One measured operation under `root`; returns the rows of work done. */
  def op(root: Span): Long
  /** Output checks and per-layer values measured outside the operations. */
  def finish(): Unit
  /** Whether an operation counts toward the latency percentiles. */
  def measured(root: Span): Boolean = true
  /** In a traced run, whether the `n`-th operation of the window is traced:
    * every other one, starting untraced. */
  def traceOp(n: Int): Boolean = n % 2 == 1
  /** Rows of work per second: by default over the whole window. */
  def rowsPerS(rows: Long, windowS: Double, roots: Seq[Span]): Double = rows / windowS
  /** The end-to-end numbers under the names of the operations this
    * workload measures. */
  def report(e2e: Map[String, Double], latencies: Seq[Double], roots: Seq[Span],
             windowS: Double): Seq[(String, Any)]

  protected def spark: SparkSession = r.spark

  /** Build `df` and force its Catalyst analysis and physical planning in
    * a `plan` span; an action on the returned frame reuses that plan. */
  protected def planned(df: => DataFrame): DataFrame =
    r.span("plan") { _ => val d = df; d.queryExecution.executedPlan; d }

  /** Row count of `df` with the counting plan built in a `plan` span. */
  protected def plannedCount(df: DataFrame): Long =
    planned(df.groupBy().count()).collect()(0).getLong(0)
}

object Workload {
  val WarehouseTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem")
  val DimTables = Seq("dim_localidade", "dim_categoria_cliente", "dim_categoria_produto",
    "dim_fornecedor", "dim_cliente", "dim_produto", "dim_vendedor", "dim_loja",
    "dim_promocao", "dim_tempo")

  def apply(name: String, r: Run): Workload = name match {
    case "etl_full_load" => new EtlFullLoad(r)
    case "star_query_mix" => new StarQueryMix(r)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The paper's job: the full star-schema build plus its parquet load, in
  * a fresh session with the cache cleared, so the `Warehouse` memo cannot
  * serve it. The job runs once per process in production, so the window is
  * exactly one load on a cold JVM, however long it takes: it pays the class
  * loading, JIT and code generation a batch run pays. A traced run adds two
  * loads on the warm JVM, one traced and one not, for the tracing overhead.
  */
final class EtlFullLoad(r: Run) extends Workload(r) {
  import Workload._
  val opName = "load"
  private val out = s"${r.o.runDir}/dw"
  private var dwRows = 0L
  private val loads = mutable.ArrayBuffer.empty[(Span, Double)]

  override def timed: Boolean = false

  def prepare(): Unit = ()

  def op(root: Span): Long = {
    val s = r.freshSession()
    val (_, ms) = Run.time(
      if (!r.tracer.enabled) Warehouse.build(s, r.stageDir).write(out) else tracedLoad(s))
    loads += root -> ms
    0L
  }

  /** Each layer's output is materialized before the next layer runs, so
    * every span owns its own work: the CRM frames, then the cached dims,
    * then the cached fact, then the write. */
  private def tracedLoad(s: SparkSession): Unit = {
    val dir = r.stageDir
    r.span("sources") { sp =>
      Seq(Crm.localidade(s, dir), Crm.categoriaCliente(s, dir), Crm.categoriaProduto(s, dir),
        Crm.fornecedores(s, dir), Crm.cliente(s, dir), Crm.produto(s, dir),
        Crm.vendedor(s, dir), Crm.lojas(s, dir), Crm.promocoes(s, dir), Crm.vendas(s, dir),
        Crm.itemVendas(s, dir)).foreach(f => sp.note("rows_out", f.cache().count()))
    }
    val w = r.span("warehouse.cache")(_ => Warehouse.build(s, dir))
    r.span("dims") { _ =>
      w.tables.filter(_._1 != "fato_vendas").foreach { case (_, df) => plannedCount(df) }
    }
    r.span("fact") { sp =>
      val c = planned(w.fatoVendas.groupBy().count())
      sp.note("rows_out", c.collect()(0).getLong(0))
      sp.note("rows_scanned", PlanStats.cachedScanRows(c.queryExecution.executedPlan))
    }
    r.span("warehouse.write") { sp =>
      w.write(out)
      sp.note("files", w.tables.map { case (n, _) => Run.dataFiles(s"$out/$n").size }.sum)
    }
  }

  /** Warehouse rows written per second of loading. */
  override def rowsPerS(rows: Long, windowS: Double, roots: Seq[Span]): Double =
    loads.size * dwRows / math.max(1e-9, loads.map(_._2).sum / 1000)

  def report(e2e: Map[String, Double], latencies: Seq[Double], roots: Seq[Span],
             windowS: Double): Seq[(String, Any)] =
    Seq("load_p50_s" -> e2e("op_p50_ms") / 1000, "load_rows_per_s" -> e2e("rows_per_s"))

  /** Every load wrote the rows the last load's tables hold, and the oracle
    * compares those tables with the engine's DuckDB SQL. */
  def finish(): Unit = {
    dwRows = (DimTables :+ "fato_vendas").map(t => spark.read.parquet(s"$out/$t").count()).sum
    r.tracer.attribute()
    loads.zipWithIndex.foreach { case ((sp, _), i) =>
      r.check(s"load $i wrote $dwRows rows")(r.tracer.subtree(sp).recordsWritten == dwRows)
    }
    val staged = r.stagedViews(WarehouseTables)
    (DimTables :+ "fato_vendas").foreach(t => r.oracleCheck(s"q_$t", s"$out/$t", staged))
  }
}

/** A day of platform traffic from one closed-loop client, against the
  * warehouse cached in set-up. The client sends blocks of thirteen
  * operations in seeded order:
  *  - each of the five star-join rollup templates, over the cached fact
  *    and dims, and each of the engine's four OLAP operators, over the
  *    cached source tables (analyst reads);
  *  - two nearest-neighbour searches of a seeded batch of query vectors
  *    (`Similarity.ivfTopK`, interactive reads);
  *  - one near-duplicate report over the document corpus
  *    (`Dedup.minhashLshPairs`, then `connectedComponents`);
  *  - one append round: a seeded chunk of new orders lands in the stream
  *    source, `FactStream.incrementalFactTo` appends it to an on-disk
  *    target, and an aggregate read of that target follows from disk,
  *    bypassing the cache. The warehouse holds the other half of the
  *    orders, so appends never duplicate it.
  * Every block holds the same mix, so a run that fits more blocks in its
  * window measures the same thing. Set-up ends with one operation of every
  * template, the report and an append round outside the window, so the JIT
  * has compiled every operation's paths before the window opens. Latency
  * percentiles cover the eleven reads of a block; rows per second is the
  * throughput of the write and curation paths: appended fact rows plus
  * curated documents per second of append rounds and reports.
  */
final class StarQueryMix(r: Run) extends Workload(r) {
  import Workload._
  import StarQueryMix._
  val opName = "request"
  override def blockSize: Int = 13

  private var w: Warehouse = _
  private var raw: Map[String, DataFrame] = Map.empty
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var nDocs = 0L
  private val firstDigest = mutable.HashMap.empty[String, String]
  private val annAnswers = mutable.HashMap.empty[Seq[Long], Array[org.apache.spark.sql.Row]]
  private var pairsFound = 0L

  private val arrivals = s"${r.o.runDir}/arrivals"
  private val pending = s"${r.o.runDir}/chunks"
  private val target = s"${r.o.runDir}/target"
  private var next = 0
  private var rowsOnDisk = 0L
  private val arrived = mutable.ArrayBuffer.empty[String]

  private val rng = new scala.util.Random(r.o.seed)
  private def poolOf(n: Int)(draw: => Request): IndexedSeq[Request] = IndexedSeq.fill(n)(draw)
  // the staged orders are dated 1995-01 to 2001-08
  private def year = 1995 + rng.nextInt(7)

  // Each read template draws from a small seeded parameter pool, so reads
  // repeat within a run and every repeat is checked against its first
  // answer.
  private lazy val templates: IndexedSeq[IndexedSeq[Request]] = {
    def f = w.fatoVendas
    val revenue = Seq(sum(col("valor_final")).as("receita"), sum(col("lucro_bruto")).as("lucro"),
      count(lit(1)).as("itens"))
    def rollup(df: org.apache.spark.sql.RelationalGroupedDataset) = {
      val a = df.agg(revenue.head, revenue.tail: _*)
      a.withColumn("receita", detRound(col("receita"), 2))
        .withColumn("lucro", detRound(col("lucro"), 2))
    }
    val vectorIds = emb.select(col("vec_id")).orderBy(xxhash64(col("vec_id"), lit(r.o.seed)))
      .limit(3 * AnnBatch).collect().map(_.getLong(0)).grouped(AnnBatch).toIndexedSeq
    IndexedSeq(
      poolOf(3) { val y = year
        Request(s"by_seller/$y", StarJoin, () =>
          rollup(f.filter(col("ano_particao") === y).join(w.dimVendedor, "sk_vendedor")
            .groupBy("sk_vendedor", "nome_padronizado"))) },
      poolOf(3) { val y = year
        Request(s"by_store/$y", StarJoin, () =>
          rollup(f.filter(col("ano_particao") === y).join(w.dimLoja, "sk_loja")
            .groupBy("nome_padronizado", "tipo_loja"))) },
      poolOf(3) { val store = 1 + rng.nextInt(25)
        Request(s"by_category/$store", StarJoin, () =>
          rollup(f.filter(col("sk_loja") === store).join(w.dimProduto, "sk_produto")
            .join(w.dimCategoriaProduto, "sk_categoria_produto")
            .groupBy("sk_categoria_produto", "nome_categoria_produto"))) },
      poolOf(3) { val y = year; val c = 1 + rng.nextInt(25)
        Request(s"top_products/$y-$c", StarJoin, () =>
          rollup(f.filter(col("ano_particao") === y)
            .join(w.dimProduto.filter(col("sk_categoria_produto") === c), "sk_produto")
            .groupBy("sk_produto", "nome_produto"))
            .orderBy(col("receita").desc, col("sk_produto")).limit(10)) },
      poolOf(3) { val y = year
        Request(s"region_years/$y", StarJoin, () =>
          rollup(f.filter(col("ano_particao") >= y).as("f")
            .join(w.dimLoja.select("sk_loja", "sk_localidade"), "sk_loja")
            .join(w.dimLocalidade.select("sk_localidade", "regiao").as("l"), "sk_localidade")
            .rollup(col("l.regiao"), col("f.ano_particao")))) },
      poolOf(3) {
        val seg =
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(rng.nextInt(5))
        val cut = f"$year%d-${1 + rng.nextInt(12)}%02d-15"
        Request(s"pricing/$seg/$cut", OlapOperator, () =>
          Olap.pricingSummary(raw("customer"), raw("orders"), raw("lineitem"), seg, cut, 10)) },
      poolOf(3) { val a = year; val b = year
        Request(s"set_ops/$a-$b", OlapOperator, () =>
          Olap.customerYearSetOps(raw("orders"), a, b)) },
      poolOf(3) { val lag = Seq(1, 7, 30)(rng.nextInt(3))
        Request(s"autocorr/$lag", OlapOperator, () => Olap.revenueAutocorr(raw("orders"), lag)) },
      poolOf(3) {
        val reg = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(rng.nextInt(5))
        Request(s"regional/$reg", OlapOperator, () => Olap.regionalRevenue(raw("region"),
          raw("nation"), raw("customer"), raw("supplier"), raw("orders"), raw("lineitem"), reg))
      },
      vectorIds.map { ids =>
        Request(s"ann/${ids.head}", Search, () =>
          Similarity.ivfTopK(emb, emb.filter(col("vec_id").isin(ids: _*)), 10), ids.toSeq)
      })
  }

  private val DedupReport = Request("near_duplicates", NearDupReport, () => null)
  private val AppendRound = Request("append", Append, () => null)

  /** One block: each star and OLAP template once, two vector searches, one
    * near-duplicate report and one append round, shuffled. */
  private def block(): Seq[Request] = {
    val reads = (0 to 8) ++ Seq(9, 9)
    rng.shuffle(reads.map(k => templates(k)(rng.nextInt(templates(k).size))) ++
      Seq(DedupReport, AppendRound))
  }

  /** One operation of every template, then the report and an append
    * round, outside the window. */
  private lazy val warmUp: Seq[Request] = templates.map(_.head) ++ Seq(DedupReport, AppendRound)

  private lazy val sequence: BufferedIterator[Request] =
    Iterator.continually(block()).flatten.buffered
  private var readsSeen = 0

  /** Reads alternate between untraced and traced; the once-a-block report
    * and append are always traced, so their layers are measured. */
  override def traceOp(n: Int): Boolean =
    if (sequence.head.kind == NearDupReport || sequence.head.kind == Append) true
    else { readsSeen += 1; readsSeen % 2 == 0 }

  /** Build the warehouse and materialize its cached frames; cache the raw
    * tables the OLAP operators read, the documents and the embeddings, so
    * every read is served from memory. Then the warm-up operations: their
    * answers are the first answers later repeats must match. */
  def prepare(): Unit = {
    val s = r.freshSession()
    val (_, ms) = Run.time {
      w = Warehouse.build(s, r.stageDir)
      w.tables.foreach(_._2.count())
    }
    r.extras("warehouse.cache.build_ms") = ms
    raw = WarehouseTables.map(n => n -> Crm.table(s, r.stageDir, n).cache()).toMap
    raw.values.foreach(_.count())
    docs = s.read.parquet(s"${r.stageDir}/documents.parquet").cache()
    emb = s.read.parquet(s"${r.stageDir}/embeddings.parquet").cache()
    nDocs = docs.count()
    emb.count()
    warmUp.foreach(q => run(q, Span.off(opName)))
  }

  override def measured(root: Span): Boolean = root.attrs.contains("read")

  def op(root: Span): Long = run(sequence.next(), root)

  private def run(q: Request, root: Span): Long =
    q.kind match {
      case Append => appendRound(root)
      case NearDupReport => dedupReport(root)
      case _ =>
        root.note("read", 1)
        read(q)
        0L
    }

  /** Appended fact rows plus curated documents per second of append rounds
    * and near-duplicate reports. */
  override def rowsPerS(rows: Long, windowS: Double, roots: Seq[Span]): Double =
    rows / math.max(1e-9, roots.flatMap(s => s.attrs.get("append_ms") ++
      s.attrs.get("dedup_ms")).sum / 1000)

  private def read(q: Request): Unit = {
    val rows = r.span(if (q.kind == Search) "similarity" else "olap") { sp =>
      val df = planned(q.build())
      val out = df.collect()
      sp.note("rows_returned", out.length)
      if (r.tracer.enabled && q.kind != Search)
        sp.note("rows_scanned",
          PlanStats.scanMetric(df.queryExecution.executedPlan, "numOutputRows"))
      out
    }
    if (q.kind == Search) annAnswers(q.ids) = rows
    same(q.key, rows)
  }

  private def same(key: String, rows: Array[org.apache.spark.sql.Row]): Unit = {
    val d = Run.rowsDigest(rows)
    firstDigest.get(key) match {
      case None => firstDigest(key) = d
      case Some(first) => r.check(s"repeat of $key matches its first answer")(d == first)
    }
  }

  /** Near-duplicate pairs of the corpus and the clusters they form. */
  private def dedupReport(root: Span): Long = {
    val (_, ms) = Run.time {
      val pairs = r.span("dedup.lsh") { sp =>
        val p = Dedup.minhashLshPairs(docs, "doc_id", "text")
        val rows = p.collect()
        sp.note("pairs_out", rows.length)
        pairsFound = rows.length
        same("LSH pair set", rows)
        p
      }
      r.span("dedup.cc") { _ =>
        same("duplicate clusters",
          Dedup.connectedComponents(docs, "doc_id", pairs, "doc_id_a", "doc_id_b").collect())
      }
      pairs.unpersist()
    }
    root.note("dedup_ms", ms)
    nDocs
  }

  /** Move the next chunk's single part file into the stream's source
    * directory, where the file source picks it up. */
  private def arrive(): Unit = {
    val part = Run.dataFiles(s"$pending/chunk=$next").filter(_.getName.endsWith(".parquet"))
    require(part.size == 1, s"order chunk $next has ${part.size} part files")
    val to = new File(f"$arrivals/orders_$next%03d.parquet")
    require(part.head.renameTo(to), s"cannot move order chunk $next")
    arrived += to.getPath
    next += 1
  }

  private def append(): Unit =
    FactStream.incrementalFactTo(spark, arrivals, w.dimTempo, w.dimCliente, w.dimProduto,
      w.dimVendedor, w.dimLoja, target)

  /** Row count of the target from a per-year-and-store aggregate over its
    * parquet files. */
  private def readTarget(sp: Span, dir: String): Long = {
    val df = planned(spark.read.parquet(dir)
      .groupBy("ano_particao", "sk_loja").agg(count(lit(1)).as("n"), sum("valor_final")))
    val n = df.collect().map(_.getLong(2)).sum
    sp.note("files_scanned", PlanStats.scanMetric(df.queryExecution.executedPlan, "numFiles"))
    n
  }

  private def appendRound(root: Span): Long = {
    arrive()
    val filesBefore = Run.dataFiles(s"$target/data").size
    val (stream, appendMs) = Run.time(r.span("stream") { sp =>
      append()
      sp.note("files", Run.dataFiles(s"$target/data").size - filesBefore)
      sp
    })
    val (total, readMs) = Run.time(r.span("read")(readTarget(_, s"$target/data")))
    root.note("append_ms", appendMs)
    root.note("read_ms", readMs)
    root.note("rows_appended", total - rowsOnDisk)
    val appended = total - rowsOnDisk
    rowsOnDisk = total
    stream.note("rows_appended", appended)
    appended
  }

  def finish(): Unit = {
    val (_, noopMs) = Run.time(append())
    r.extras("stream.noop_ms") = noopMs
    r.check("a re-invoke with no new orders appends nothing") {
      spark.read.parquet(s"$target/data").count() == rowsOnDisk
    }
    val batch = Fact.fatoVendasNoSk(
      Crm.vendasFrom(spark.read.schema(FactStream.ordersSchema).parquet(arrived.toSeq: _*)),
      Crm.itemVendas(spark, arrivals), w.dimTempo, w.dimCliente, w.dimProduto, w.dimVendedor,
      w.dimLoja)
    r.check("the appended target equals the batch fact over the same orders") {
      Run.digest(spark.read.parquet(s"$target/data")) == Run.digest(batch)
    }
    r.tracer.op("compaction") { _ =>
      val (stats, ms) = Run.time(Compaction.compact(spark, s"$target/data", s"$target/compacted",
        8L * 1024 * 1024))
      r.extras ++= Seq("compaction.self_ms" -> ms, "compaction.files_in" -> stats.nFilesIn.toDouble,
        "compaction.files_out" -> stats.nFilesOut.toDouble,
        "compaction.bytes_rewritten_mb" -> stats.bytesOut / 1048576.0)
      r.check("compaction keeps every row") { stats.rows == rowsOnDisk && !stats.skipped }
    }
    val (compacted, readMs) = Run.time(readTarget(Span.off("read"), s"$target/compacted"))
    r.extras("read.after_compaction_ms") = readMs
    r.check("the compacted target holds the appended rows")(compacted == rowsOnDisk)

    r.check("LSH finds near-duplicate pairs")(pairsFound > 0)
    val queries = annAnswers.keys.flatten.toSeq
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id").isin(queries: _*)), 10)
      .collect().groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val found = annAnswers.values.flatten.groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val recall = exact.map { case (q, truth) =>
      found.getOrElse(q, Set.empty[Long]).intersect(truth).size.toDouble / truth.size
    }.sum / math.max(1, exact.size)
    r.extras("similarity.recall_at_10") = recall
    // the search runs with the engine's default probe count, which trades
    // recall for speed; the floor catches a broken search (a random answer
    // scores 10 / corpus size)
    r.check(f"IVF recall@10 against brute force is at least 0.1 (measured $recall%.3f)") {
      recall >= 0.1
    }
    r.extras("warehouse.cache.mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    // the oracle mirrors the fact over exactly the orders that arrived
    r.oracleCheck("q_fato_vendas", s"$target/data",
      r.stagedViews(WarehouseTables) ++ Map("orders" -> arrived.toSeq))
  }

  /** Read latency percentiles (the p90 has fewer than ten samples beyond
    * it, so it is reported here and not gated), and the throughput of the
    * append and curation paths over their own time. */
  override def report(e2e: Map[String, Double], latencies: Seq[Double], roots: Seq[Span],
                      windowS: Double): Seq[(String, Any)] = {
    def p50(k: String) = Run.median(roots.flatMap(_.attrs.get(k)))
    val dedupS = roots.flatMap(_.attrs.get("dedup_ms")).sum / 1000
    val stream = roots.filter(_.attrs.contains("append_ms"))
    Seq("query_p50_ms" -> e2e("op_p50_ms"), "query_p90_ms" -> Run.percentile(latencies, 0.9),
      "queries_per_s" -> latencies.size / windowS,
      "append_p50_ms" -> p50("append_ms"),
      "append_rows_per_s" -> stream.map(_.attrs.getOrElse("rows_appended", 0.0)).sum /
        math.max(1e-9, roots.flatMap(_.attrs.get("append_ms")).sum / 1000),
      "read_p50_ms" -> p50("read_ms"),
      "curation_docs_per_s" ->
        (if (dedupS > 0) roots.count(_.attrs.contains("dedup_ms")) * nDocs / dedupS else 0.0),
      "ann_recall_at_10" -> r.extras.getOrElse("similarity.recall_at_10", 0.0))
  }
}

object StarQueryMix {
  /** Query vectors per nearest-neighbour search. */
  val AnnBatch = 8

  sealed trait Kind
  case object StarJoin extends Kind
  case object OlapOperator extends Kind
  case object Search extends Kind
  case object NearDupReport extends Kind
  case object Append extends Kind

  /** One client operation: a key naming its template and parameters, its
    * kind, for reads the query, and for searches the query vector ids. */
  final case class Request(key: String, kind: Kind, build: () => DataFrame,
                           ids: Seq[Long] = Nil)
}
