package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM health probes. None of these is a benchmark metric: they
  * are stored beside each run's numbers so that a run slowed by a
  * neighbour on the machine can be recognized afterwards. */
object Host {

  /** CPU ms the hypervisor gave to other guests while ours were runnable
    * (`/proc/stat` steal field, USER_HZ = 100); -1 where unreadable. */
  def stealMs: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val t = src.getLines().next().trim.split("\\s+")
        if (t.length > 8 && t(0) == "cpu") t(8).toLong * 10L else -1L
      } finally src.close()
    } catch { case _: Exception => -1L }

  @volatile private var sink = 0L

  /** Wall time of a fixed single-thread arithmetic spin, best of 3, in
    * microseconds: the speed this host runs a constant instruction stream
    * at the moment of the call. It inflates under memory-bandwidth or
    * frequency contention that neither steal nor GC shows. */
  def canaryUs: Long =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var s = 0L
      var j = 0
      while (j < 8000000) { s += j.toLong * j; j += 1 }
      sink = s
      System.nanoTime() - t0
    }.min / 1000L

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still reachable after forced full collections, MB. Spark frees
    * broadcast and shuffle state of collected frames from a cleaner thread
    * after a collection notices them, so collections repeat, with a pause
    * for that thread, until the live heap stops shrinking. */
  def heapLiveMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      Thread.sleep(300)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var now = collect()
    var rounds = 2
    while (last - now > 1.0 && rounds < 8) { last = now; now = collect(); rounds += 1 }
    now
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
