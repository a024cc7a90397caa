package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism normalization (optimization guide §2.4/§2.6).
  *
  * A per-row-heavy pipeline is only as parallel as its narrowest upstream
  * stage, and a stage's width is set by the SOURCE when no exchange sits in
  * between: a table stored as one file with one row group yields exactly ONE
  * scan split, so everything fused above it — explodes, joins against
  * broadcast sides, expression-heavy projections — runs on one core no
  * matter how many the session has (measured r17: q_fato_vendas 6.0 s of
  * summed task time in 6.4 s of wall on local[32]; q_tokenize_artifact
  * 6.8 s in 7.1 s).
  *
  * [[fanOut]] inserts one hash exchange to lift such a pipeline to the
  * session's parallelism — and is an exact no-op when the source already
  * provides at least that many partitions, which is the normal state at
  * scale (a 100 TB table is thousands of splits). It is therefore safe to
  * leave in production code paths: the exchange exists exactly when cores
  * would otherwise sit idle, and the bytes it moves are the bytes one core
  * would otherwise process alone.
  */
object Parallelism {

  /** Turns [[fanOut]] off for a session. This is not an A/B switch: it is
    * how [[graft.streaming.IdempotentFold.foldSession]] keeps fan-out out
    * of micro-batch frames. A production micro-batch arrives as many files
    * (fan-out is a no-op there anyway), while the gate's tiny batches only
    * pay the exchange + per-call planning for nothing (measured r17: +1-3 s
    * per refresh query). */
  val EnabledConf = "spark.graft.fanout.enabled"

  /** Per-session reentrant lock for the save/set/restore of
    * `spark.sql.shuffle.partitions` below (ADVICE r17 medium): two
    * OVERLAPPING calls on one session would interleave their save/restore
    * (A saves 200→sets 4, B saves 4→sets 2, A restores 200, B restores 4 —
    * the session width is permanently clobbered). Serializing the loops on
    * one session is the honest semantics — their per-round widths are
    * session-global state; genuinely concurrent loops belong on session
    * clones (`newSession`, the `runToCompletion`/`foldSession` pattern).
    * Reentrant because loops legitimately nest (pipelineManifest's CC runs
    * inside callers that may size their own loops); the inner call then
    * sizes within the outer's narrowed cap, exactly as the serial
    * semantics always did. Keyed weakly so dead sessions don't pin locks. */
  private val loopLocks =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.locks.ReentrantLock]()
  private def loopLock(s: org.apache.spark.sql.SparkSession) =
    loopLocks.synchronized {
      var l = loopLocks.get(s)
      if (l == null) { l = new java.util.concurrent.locks.ReentrantLock(); loopLocks.put(s, l) }
      l
    }

  /** Run `body` with the session's `spark.sql.shuffle.partitions` sized to
    * the loop inputs' optimizer-estimated bytes — `ceil(bytes/targetBytes)`
    * clamped to `[1, current session width]` — restoring the previous value
    * afterwards (guide §2: make partitioning scale-adaptive, not a constant
    * tuned for one deployment).
    *
    * Iterative fixpoint loops (pagerank, HITS, label-prop, CC, perceptron)
    * run O(rounds × stages-per-round) shuffle stages over state that is
    * bounded by their INPUT size, and each round is materialized through an
    * [[graft.operators.IterState]] checkpoint whose scan forgets
    * partitioning — so AQE never gets to coalesce the per-round exchanges
    * and every tiny stage pays the session's full task count (measured
    * r17: the five graph-loop queries at sf0.1 run 20.7 s with 32-wide
    * rounds vs 17.1 s with 4-wide; per-round state is a few MB). The clamp
    * means a 100 TB input keeps the session's width untouched — the narrow
    * case exists exactly when the data is small relative to the cluster.
    *
    * Results are unchanged by construction: every loop that calls this
    * already sums partitioning-invariant quantized integers (the engines'
    * cross-engine determinism contract), and the full oracle gate re-proves
    * it.
    */
  def withInputSizedShuffle[T](inputs: Seq[DataFrame],
                               targetBytes: Long = 32L << 20,
                               floorN: Int = 1)(body: => T): T = {
    if (inputs.isEmpty) return body
    val session = inputs.head.sparkSession
    val lock = loopLock(session)
    lock.lock()
    try {
      val key = "spark.sql.shuffle.partitions"
      val prev = session.conf.get(key)
      val cap = prev.toInt
      val bytes = inputs.map { df =>
        val raw = df.queryExecution.optimizedPlan.stats.sizeInBytes
        // the optimizer's Long.Max "unknown" default must not size anything,
        // and anything near Long.Max is equally unusable — the old
        // `bytes + targetBytes - 1` ceiling overflowed such values to a
        // NEGATIVE n that max(1, ·) collapsed to width 1 (ADVICE r17 low)
        if (raw.isValidLong && raw.toLong > 0L && raw.toLong < Long.MaxValue / 2)
          raw.toLong
        else 0L
      }.sum
      // overflow-free ceiling division
      val parts = bytes / targetBytes + (if (bytes % targetBytes == 0L) 0L else 1L)
      val n =
        if (bytes <= 0L) cap // unusable stats: leave the session width alone
        else math.min(cap.toLong,
          math.max(math.max(1L, floorN.toLong), parts)).toInt
      if (n >= cap) body
      else {
        session.conf.set(key, n.toString)
        try body finally session.conf.set(key, prev)
      }
    } finally lock.unlock()
  }

  /** Repartition `df` up to the session's default parallelism when its
    * current physical partitioning is narrower, else return it unchanged.
    *
    *  - `keys` non-empty: hash repartition on the keys — deterministic
    *    row→partition assignment (safe under task retry, guide §2.5; no
    *    sort-before-repartition cost). Pass a high-cardinality key.
    *  - `keys` empty: round-robin repartition (pays the deterministic
    *    local sort Spark inserts before round-robin).
    *
    * Streaming frames are returned unchanged (micro-batch sizing is the
    * refresh loops' own concern — IdempotentFold.sizeBatchShuffle).
    * Results are row-set-identical under any partitioning; callers that
    * derive values from physical placement (spark_partition_id,
    * monotonically_increasing_id) must fan out BEFORE deriving, as the
    * Surrogate helpers do via their own exchanges.
    */
  def fanOut(df: DataFrame, keys: Seq[Column] = Nil): DataFrame = {
    if (df.isStreaming) return df
    val session = df.sparkSession
    if (session.conf.get(EnabledConf, "true") != "true") return df
    // target the session's intended shuffle width, not the raw core count:
    // a caller that sized spark.sql.shuffle.partitions for its batch (the
    // refresh loops' per-batch sizing) must not be overridden upward
    val target = math.min(
      session.sparkContext.defaultParallelism,
      session.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val current = df.rdd.getNumPartitions
    if (current >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }
}
