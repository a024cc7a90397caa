package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling (SURVEY.md §7.5 extension).
  *
  * Training-data pipelines need samples and train/eval splits that are
  * REPRODUCIBLE across reruns, engines and cluster layouts — `rand()` (seeded
  * per-partition) changes with partitioning, so the decision here is a pure
  * function of the row's key: keep iff the first 60 bits of md5(key) fall
  * below fraction·2^60. md5 is bit-identical everywhere, which also makes
  * every sample oracle-checkable. Stateless per row — no shuffle, scales
  * embarrassingly.
  */
object Sampling {

  val HashSpace: Long = 1L << 60

  /** The cut point for a fraction, as the literal both engines compare to. */
  def cut(fraction: Double): Long = (fraction * HashSpace).toLong

  /** Keep-predicate: deterministic Bernoulli(fraction) on the key. */
  def keep(key: Column, fraction: Double): Column =
    Dedup.hash60(key.cast("string")) < lit(cut(fraction))

  def sample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(keep(key, fraction))

  /** Disjoint, exhaustive train/eval tag — the md5 interval [0, cut) is the
    * train side, so the split survives reruns and incremental appends. */
  def trainEvalSplit(df: DataFrame, key: Column, trainFraction: Double,
                     splitCol: String = "split"): DataFrame =
    df.withColumn(splitCol,
      when(keep(key, trainFraction), lit("train")).otherwise(lit("eval")))

  /** Leakage-safe train/eval split: the split key is the NEAR-DUPLICATE
    * CLUSTER, not the document — every member of a connected near-dup
    * cluster lands on the same side, so no eval example has a train-side
    * near-duplicate (the cross-split contamination Lee et al. 2022,
    * arXiv:2107.06499 §6.2 measure — the reason production pipelines
    * dedup/cluster BEFORE splitting). Composes two gated operators:
    * [[graft.operators.Dedup.connectedComponents]] over the LSH pair set
    * yields (doc, cluster_id = min reachable doc id); the cluster id then
    * rides the SAME md5-interval keep as [[trainEvalSplit]], so singleton
    * documents (cluster_id = own id) split exactly as the naive per-doc
    * split would and the train mass stays ≈ trainFraction when dup mass
    * is small.
    *
    * Scale: CC is the checkpoint-rotated fixpoint loop already gated at
    * sf100; the split adds one hash per row on its output — no additional
    * shuffle, no window.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       trainFraction: Double): DataFrame =
    Dedup.connectedComponents(docs.select(col(idCol)), idCol, pairs, aCol, bCol)
      .withColumn("split",
        when(keep(col("cluster_id"), trainFraction), lit("train"))
          .otherwise(lit("eval")))
      .select(col(idCol), col("cluster_id"), col("split"))

  /** Deterministic fixed-size "reservoir" per group: the k rows with the
    * smallest md5(key) per group — uniform-ish like a reservoir sample but
    * a pure function of the keys, so it survives reruns, engines and
    * incremental appends (a new row enters the reservoir exactly when its
    * hash beats the current k-th). The per-group window sorts only that
    * group's rows; at 100 TB replace row_number with a per-group top-k
    * aggregate if groups themselves are huge.
    */
  def reservoirPerGroup(df: DataFrame, key: Column, group: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__g")).orderBy(col("__h"), col("__key"))
    df.withColumn("__g", group).withColumn("__key", key)
      .withColumn("__h", Dedup.hash60(key.cast("string")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__g").as("group"), col("rank"), col("__key").as("key"))
  }

  /** Rebalance to a target mix: compute per-stratum Bernoulli fractions
    * FROM THE DATA (fraction = min(1, target_rows / stratum_count)) and
    * apply them with the same deterministic md5 predicate — the "equal
    * share per language/domain" pass of corpus mixing, where the fractions
    * aren't known until the counts are. The fraction is a broadcast-joined
    * per-stratum scalar; the keep decision stays stateless per row.
    * Cross-engine: fraction and cut are the same two IEEE ops from the
    * same integers on either engine, so the sampled set is identical.
    */
  def rebalanceToTarget(df: DataFrame, key: Column, stratum: Column,
                        targetPerStratum: Long): DataFrame = {
    val withS = df.withColumn("__s", stratum)
    val fracs = withS.groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__frac",
        least(lit(1.0), lit(targetPerStratum).cast("double") / col("__n")))
      // explicit floor: CAST(double AS BIGINT) truncates in Spark but
      // ROUNDS in DuckDB — floor-then-cast is identical on both
      .withColumn("__cut", floor(col("__frac") * HashSpace).cast("long"))
    withS.join(broadcast(fracs), Seq("__s"))
      .filter(Dedup.hash60(key.cast("string")) < col("__cut"))
      .drop("__s", "__n", "__frac", "__cut")
  }

  /** Stratified deterministic sampling: each stratum value gets its own
    * Bernoulli fraction (the domain-rebalancing step of corpus curation —
    * e.g. downsample the dominant language, keep the rare ones whole).
    * Rows whose stratum is not in the map are DROPPED. Still one stateless
    * per-row predicate — no shuffle, no per-group pass.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       fractions: Map[String, Double]): DataFrame = {
    val pred = fractions.toSeq.sortBy(_._1).map { case (s, f) =>
      stratum === lit(s) && keep(key, f)
    }.reduceOption(_ || _).getOrElse(lit(false))
    df.filter(pred)
  }

  /** Deterministic fair interleave across sources — the training-ORDER
    * operator: reading the output by `interleave_key` yields sources
    * round-robin (one doc from each source, repeat), each source internally
    * shuffled by the md5 order. `interleave_key = (rank−1)·n_sources +
    * source_idx` is pure arithmetic once the per-source rank exists, so the
    * interleave is reproducible across engines/reruns and needs NO global
    * sort to build — only the final consumer reads in key order.
    *
    * The per-source rank here is a per-source window (fine while no single
    * source dominates); at mega-source scale swap it for the two-pass
    * offset scheme run per source ([[Surrogate.rankedRunningTotal]]'s
    * recipe), which the repo already demonstrates.
    */
  def interleaveBySource(docs: DataFrame, id: String, source: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcIdx = docs.select(col(source).as("source")).distinct()
      .withColumn("source_idx",
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
    val nSrc = srcIdx.agg(count(lit(1)).as("n_sources"))
    val ranked = docs.select(col(id).as("doc_id"), col(source).as("source"))
      .withColumn("rank_in_source", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(Dedup.hash60(col("doc_id").cast("string")), col("doc_id")))
        .cast("long"))
    ranked.join(broadcast(srcIdx), Seq("source")).crossJoin(broadcast(nSrc))
      .withColumn("interleave_key",
        (col("rank_in_source") - 1) * col("n_sources") + col("source_idx"))
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        col("interleave_key"))
  }

  /** Deterministic negative sampling for implicit-feedback training: for
    * each positive (user, item) pair, draw k pseudo-random candidate items
    * — index = md5(user#item#j) mod |items| into the dense 1..N item index
    * ([[Surrogate.zipWithIndexOrdered]], the two-pass rank: no global
    * window) — then anti-filter candidates that happen to be true
    * positives for that user. Collisions are DROPPED, not re-drawn
    * (expected loss ≈ k·|P|/N, negligible when the catalog is large; a
    * re-draw loop would be a driver-side iteration). Same-hash determinism
    * as every sampler here: reruns, engines and partitionings all agree.
    *
    * Output: (user, pos_item, j, neg_item) — one row per surviving draw.
    *
    * Cache ownership — the [[Dedup.minhashLshPairs]] eager contract (r6
    * verdict #7, unified r7): the draw table is materialized HERE, the two
    * build-side caches (distinct positives, dense item index) are released
    * before returning, and the returned (bounded, ≤ k·|P|-row) result is
    * itself cached with a caller-owned lifecycle. No lazy operator leaves
    * hidden caches behind.
    */
  def negativeSample(pos: DataFrame, userCol: Column, itemCol: Column,
                     k: Int): DataFrame = {
    // The distinct positives and the item index are each consumed by
    // multiple branches (candidates + anti-filter; offsets + main + count):
    // caching both measured 1.8x faster than relying on exchange reuse at
    // sf0.1 (11.7 s -> 6.5 s isolated). Both are bounded artifacts (distinct
    // pairs / distinct items), LRU-evictable with the session's storage.
    val p = pos.select(userCol.cast("long").as("user"),
      itemCol.cast("long").as("item")).distinct().cache()
    // Cache the distinct-items input BEFORE zipWithIndexOrdered: its
    // repartitionByRange evaluates the upstream lineage three times (range
    // -sampling job + offsets pass + main pass), and each evaluation is a
    // full distinct-shuffle over p without this cache (r9 profile: the
    // index build was 2.5 s of the ~8 s eager build; this removes two of
    // the three distinct evaluations; current timings in
    // AB_NEGSAMP_r18.json).
    val distinctItems = p.select(col("item")).distinct().cache()
    val items = Surrogate.zipWithIndexOrdered(
      distinctItems, "idx", Seq(col("item"))).cache()
    val n = items.agg(count(lit(1)).as("n_items"))
    val cand = p
      .select(col("user"), col("item"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .crossJoin(broadcast(n))
      .withColumn("idx",
        Dedup.hash60(concat_ws("#", col("user"), col("item"), col("j")))
          % col("n_items") + 1L)
      .select(col("user"), col("item").as("pos_item"),
        col("j").cast("long").as("j"), col("idx"))
    val result = cand
      .join(items.select(col("idx"), col("item").as("neg_item")), Seq("idx"))
      .join(p.select(col("user"), col("item").as("neg_item"),
        lit(true).as("__hit")), Seq("user", "neg_item"), "left")
      .filter(col("__hit").isNull)
      .select(col("user"), col("pos_item"), col("j"), col("neg_item"))
      .cache()
    result.count() // materialize, then release the build-side caches
    p.unpersist()
    distinctItems.unpersist()
    items.unpersist()
    result
  }

  /** Temperature-scaled mixture sampling (the multilingual-corpus mixing
    * rule of XLM-R/mT5: sample language l with probability ∝ (n_l/N)^α,
    * α < 1 flattening the power-law so head languages shrink and tail
    * languages survive). α is fixed at 0.5 so the exponent is `sqrt` — an
    * IEEE-exact operation, which keeps the per-stratum cut byte-identical
    * across engines where a general `pow` would not be.
    *
    * Arithmetic is quantize-before-sum: per-stratum weight
    * s_l = floor(sqrt(n_l)·1e6) is an exact BIGINT on both engines, the
    * normalizer is an integer sum, and the final fraction
    * min(1, budget·s_l / (S·n_l)) is integer products (< 2^53, exact)
    * followed by ONE division — so the sampled id set is a pure function
    * of the counts. Same scale story as [[rebalanceToTarget]]: one tiny
    * count aggregate, fractions broadcast back, keep decision stateless
    * per row.
    */
  def temperatureMix(df: DataFrame, key: Column, stratum: Column,
                     budget: Long): DataFrame = {
    val withS = df.withColumn("__s", stratum)
    val counts = withS.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
      .withColumn("__sw", floor(sqrt(col("__n").cast("double")) * 1e6).cast("long"))
    val total = counts.agg(sum(col("__sw")).as("__swsum"))
    // denominator in DOUBLE: __swsum · __n as a long product overflows
    // around 4e8-row strata (ANSI throw / silent wrap / DuckDB throw —
    // review r5); double degrades gracefully and identically on both engines
    val fracs = counts.crossJoin(broadcast(total))
      .withColumn("__frac",
        least(lit(1.0),
          (lit(budget) * col("__sw")).cast("double")
            / (col("__swsum").cast("double") * col("__n"))))
      .withColumn("__cut", floor(col("__frac") * HashSpace).cast("long"))
      .select(col("__s"), col("__cut"))
    withS.join(broadcast(fracs), Seq("__s"))
      .filter(Dedup.hash60(key.cast("string")) < col("__cut"))
      .drop("__s", "__cut")
  }

  /** Cumulative Poisson(1) CDF cut points in the 60-bit hash space:
    * replicate weight w(u) = #{j : u ≥ cut(j)} is Poisson(1)-distributed
    * for uniform u (inverse-CDF; tail truncated at 7, losing ~8e-5 mass).
    * Computed ONCE here and embedded as the same literals in the DuckDB
    * oracle, so no cross-engine `exp` is ever evaluated.
    */
  val PoissonCuts: Seq[Long] = {
    // p(j) = e^-1 / j!, cumulative, scaled into the hash space
    val pj = (0 until 7).map(j => math.exp(-1.0) / (1 to j).product)
    pj.scanLeft(0.0)(_ + _).tail.map(c => (c * HashSpace).toLong)
  }

  /** Deterministic Poisson bootstrap (the resampling scheme for massive
    * data: each of `b` replicates gives every row an independent
    * Poisson(1) multiplicity, approximating a with-replacement resample
    * without ever materializing one). The multiplicity is a pure function
    * of (row key, replicate): u = md5(key#r) mapped through the Poisson
    * inverse CDF — seven integer comparisons against [[PoissonCuts]], no
    * RNG, so replicates are identical across engines/reruns/partitionings
    * and the whole estimate is oracle-checkable.
    *
    * Emits per replicate: effective row count, exact decimal total of
    * `value` and its mean — the spread across replicates IS the sampling
    * uncertainty of the mean. Scale: one explode (×b) + one map-side
    * combinable aggregate into b groups; weights never leave the row.
    */
  def poissonBootstrap(df: DataFrame, key: Column, value: Column,
                      b: Int = 16): DataFrame = {
    val rep = df
      .select(key.cast("string").as("__k"), value.cast("decimal(18,2)").as("__v"))
      .withColumn("r", explode(sequence(lit(0L), lit((b - 1).toLong))))
      .withColumn("__u", Dedup.hash60(concat_ws("#", col("__k"), col("r"))))
      .withColumn("w",
        PoissonCuts.map(c => when(col("__u") >= c, 1L).otherwise(0L)).reduce(_ + _))
    rep.groupBy(col("r"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("__v")).as("__t"))
      .select(col("r"), col("n_eff"),
        col("__t").cast("double").as("total"),
        // n_eff = 0 (a replicate that drew nothing — only possible on a
        // near-empty input) divides by zero: NaN in Spark, NULL in DuckDB.
        // Pin the cross-engine answer to 0.0.
        when(col("n_eff") === 0, lit(0.0)).otherwise(
          graft.functions.GraftFunctions.detRound(
            col("__t").cast("double") / col("n_eff"), 4)).as("mean"))
  }

  /** Deterministic weighted Bernoulli sampling: row inclusion probability
    * ∝ its weight (keep iff md5(key) < frac·(w/w_max)·2⁶⁰) — the
    * quality-weighted subsampling step ("sample good documents more") that
    * needs no `pow`, no RNG and no sorting: w/w_max is ONE division against
    * the broadcast max, so the kept set is a pure function of (keys,
    * weights) on any engine. `targetFraction` scales the whole acceptance
    * envelope: the max-weight row is kept w.p. `targetFraction`, everything
    * else proportionally below it.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     targetFraction: Double): DataFrame = {
    val wmax = df.agg(max(weight.cast("double")).as("__wmax"))
    df.crossJoin(broadcast(wmax))
      .filter(Dedup.hash60(key.cast("string")) <
        floor(lit(targetFraction) * (weight.cast("double") / col("__wmax"))
          * HashSpace).cast("long"))
      .drop("__wmax")
  }

  /** Leakage-safe group k-fold assignment: fold = md5(group) mod k, so
    * EVERY row of a group (domain, author, conversation…) lands in the same
    * fold — the split that keeps near-duplicate documents from straddling
    * train and validation. Stateless per row (the group key is already on
    * the row): no shuffle, no group table, reproducible across engines,
    * reruns, partitionings and incremental appends.
    */
  def groupKFold(df: DataFrame, group: Column, k: Int,
                 foldCol: String = "fold"): DataFrame = {
    require(k > 0, s"groupKFold needs k > 0, got $k")
    df.withColumn(foldCol, Dedup.hash60(group.cast("string")) % k)
  }
}
