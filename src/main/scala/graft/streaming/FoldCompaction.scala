package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.{ArtifactManifest, Compaction}

/** Small-file compaction for STREAMED artifacts (VERDICT r15 #3 — the
  * natural composition of the round's two families): [[IdempotentFold]]'s
  * keyed appends land one-or-few files per micro-batch, so a long-lived
  * refresh re-creates exactly the small-file problem
  * [[graft.operators.Compaction]] exists to solve — but a plain rewrite
  * would break the fold's replay contract, because a re-delivered batch
  * erases its keyed files before recomputing ([[IdempotentFold.cleanKeyed]]);
  * if those rows had been merged into anonymous parts, the recompute would
  * double them.
  *
  * The safety line is the checkpoint's committed horizon
  * ([[IdempotentFold.committedHorizon]]): Structured Streaming only ever
  * re-delivers a batch missing from the checkpoint's `commits/` log, so a
  * batch at or below the horizon is replay-DEAD — its keyed files can merge
  * into plain parts and its marker can be pruned. Everything above the
  * horizon (a torn in-flight batch) keeps its keyed files verbatim, so a
  * restart still cleans and recomputes it exactly as before. Keyed files
  * from OTHER runs merge only when their commit marker still exists (the
  * marker proves the batch fully landed; replays of it skip on the marker,
  * which is never pruned for foreign runs).
  *
  * Per dataset the rewrite is [[graft.operators.Compaction]]'s shape —
  * size-aware bin-packing (exchange-free coalesce), an in-memory
  * fingerprint publish gate, a content manifest enabling the idempotent
  * skip — plus a crash-safe IN-PLACE swap, since the artifact's location is
  * its identity: build the merged copy at a hidden sibling
  * (`_compact_tmp_<name>`), verify, copy live keyed files in verbatim, then
  * swap via two directory renames with a self-healing recovery path (a
  * crash between the renames is detected on the next run and rolled
  * forward or back by whether the tmp's publish gate had passed).
  *
  * The artifact-level provenance manifest (`_input_manifest.json` at the
  * ARTIFACT dir, with its fold stamp) is never touched — compaction changes
  * the file layout, not the corpus the artifact was built from.
  * Single-runner contract: run only while the stream is stopped, like any
  * OPTIMIZE pass.
  */
object FoldCompaction {

  /** What one dataset's fold-compaction did. `merged` counts the
    * replay-dead files rewritten, `liveKept` every file preserved verbatim
    * (replay-live keyed files AND plain parts already at compaction size),
    * `skipped` the idempotent no-op path. */
  final case class FoldStats(merged: Long, filesOut: Long, liveKept: Long,
                             rows: Long, skipped: Boolean)

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Compact every dataset of a streamed artifact against `checkpointDir`'s
    * committed horizon, then prune the current run's replay-dead markers.
    * `datasetDirs` are the flat parquet datasets the refresh appends to —
    * inside the artifact (`<art>/bands.parquet`) or beside it (the pairs
    * sink); markers are read from (and pruned at) `artifactDir`. */
  def compactArtifact(spark: SparkSession, artifactDir: String,
                      datasetDirs: Seq[String], checkpointDir: String,
                      targetFileBytes: Long): Map[String, FoldStats] = {
    val run = IdempotentFold.runIdentity(spark, checkpointDir)
    val horizon = IdempotentFold.committedHorizon(spark, checkpointDir)
    // independent datasets (distinct dirs, distinct tmp/old siblings;
    // markers only READ here, pruned after all) — overlap the per-dataset
    // rewrites on a bounded pool (guide §2.6, VERDICT r17 #1)
    val stats = new java.util.concurrent.ConcurrentHashMap[String, FoldStats]
    IdempotentFold.inParallel(spark)(datasetDirs.map { d => () =>
      stats.put(d, compactFold(spark, d, run, horizon, targetFileBytes,
        markerDir = Some(artifactDir))): Unit
    }: _*)
    IdempotentFold.pruneMarkers(spark, artifactDir, run, horizon): Unit
    scala.jdk.CollectionConverters.MapHasAsScala(stats).asScala.toMap
  }

  /** Commit markers present under `markerDir`, as (run, batchId) — the
    * proof a foreign run's batch fully landed. */
  private def markerSet(spark: SparkSession, markerDir: String): Set[(String, Long)] = {
    val (fs, p) = fsFor(spark, s"$markerDir/_commits")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .flatMap(st => IdempotentFold.parseMarker(st.getPath.getName)).toSet
  }

  /** Tags of every run that still has commit markers at `artifactDir` —
    * the candidates for [[retireRuns]]. */
  def markerRuns(spark: SparkSession, artifactDir: String): Set[String] =
    markerSet(spark, artifactDir).map(_._1)

  /** Retire DEAD runs' commit markers (VERDICT r16 #4): a long-lived
    * artifact accumulates one `_commits/r<tag>_b<id>` file per (run,
    * batch) forever, because [[IdempotentFold.pruneMarkers]] only prunes
    * the CURRENT run (foreign markers are the merge-safety proof
    * [[compactFold]] relies on). Once a run is dead — its checkpoint
    * deleted or fully merged, so no replay of it can ever arrive — its
    * markers are pure dead weight. The caller names the dead tags; per tag
    * this REFUSES unless every dataset is free of that run's keyed files
    * (unmerged keyed files without their marker would double-count if the
    * run were in fact resumed — run [[compactArtifact]] first, which
    * merges marker-proven foreign files). Returns markers deleted. */
  def retireRuns(spark: SparkSession, artifactDir: String,
                 datasetDirs: Seq[String], runTags: Seq[String]): Int = {
    require(runTags.nonEmpty, "retireRuns: no run tags given")
    runTags.foreach { tag =>
      datasetDirs.foreach { d =>
        val (fs, p) = fsFor(spark, d)
        if (fs.exists(p)) {
          val left = fs.listStatus(p).toSeq.filter { st =>
            st.isFile &&
              IdempotentFold.parseKeyed(st.getPath.getName).exists(_._1 == tag)
          }
          require(left.isEmpty,
            s"refusing to retire run '$tag': $d still holds its keyed files " +
              left.map(_.getPath.getName).take(3).mkString(", ") +
              " — compact the artifact first so they merge under marker proof")
        }
      }
    }
    val (fs, p) = fsFor(spark, s"$artifactDir/_commits")
    if (!fs.exists(p)) 0
    else {
      val dead = fs.listStatus(p).toSeq.filter { st =>
        IdempotentFold.parseMarker(st.getPath.getName)
          .exists { case (r, _) => runTags.contains(r) }
      }
      dead.foreach(st => fs.delete(st.getPath, false))
      dead.size
    }
  }

  /** Compact ONE flat parquet dataset that received [[IdempotentFold]]
    * keyed appends: merge the replay-dead files (small plain parts, own
    * keyed files at or below `horizon`, and marker-proven foreign keyed
    * files) into ~`targetFileBytes` parts, keep every other file verbatim,
    * and swap the result in place. Idempotent: a stored content manifest
    * matching the current merge set makes the call a no-op.
    *
    * Nightly cost is O(new batches), not O(total artifact) (ADVICE r16):
    * plain parts already at ≥ `targetFileBytes`/2 — prior compactions'
    * output, which bin-packing sizes just UNDER the target, hence the
    * half-target keep rule — are retained verbatim, never re-read; only
    * the merge set is decoded, fingerprinted, and rewritten. Retained
    * files ride into the swapped copy as hard links where the FS allows
    * (local), else raw byte copies — never a parquet decode. */
  def compactFold(spark: SparkSession, dir: String, run: String,
                  horizon: Long, targetFileBytes: Long,
                  markerDir: Option[String] = None): FoldStats = {
    val (fs, target) = fsFor(spark, dir)
    val qt = fs.makeQualified(target)
    val name = qt.getName
    val tmp = new Path(qt.getParent, s"_compact_tmp_$name")
    val old = new Path(qt.getParent, s"_compact_old_$name")

    // Self-healing recovery of a crashed swap: the dataset dir missing
    // means we died between the two renames — roll FORWARD when the tmp
    // copy had passed its publish gate (its content manifest exists),
    // otherwise roll BACK to the original.
    if (!fs.exists(qt)) {
      val tmpComplete =
        try ArtifactManifest.read(tmp.toString, spark).nonEmpty
        catch { case _: Exception => false }
      if (fs.exists(tmp) && tmpComplete) {
        require(fs.rename(tmp, qt), s"swap recovery: could not move $tmp to $qt")
        if (fs.exists(old)) fs.delete(old, true): Unit
      } else if (fs.exists(old)) {
        require(fs.rename(old, qt), s"swap recovery: could not restore $old to $qt")
        if (fs.exists(tmp)) fs.delete(tmp, true): Unit
      } else {
        throw new IllegalStateException(
          s"$dir does not exist and no compaction remnants to recover from")
      }
    } else {
      // stale remnants from a crash before the swap began: discard
      if (fs.exists(tmp)) fs.delete(tmp, true): Unit
      if (fs.exists(old)) fs.delete(old, true): Unit
    }

    val markers = markerDir.map(markerSet(spark, _)).getOrElse(Set.empty)
    val files = fs.listStatus(qt).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val (deadAll, live) = files.partition { st =>
      IdempotentFold.parseKeyed(st.getPath.getName) match {
        case None                      => true // plain part (base build / prior compaction)
        case Some((r, id)) if r == run => id <= horizon
        case Some(key)                 => markers.contains(key)
      }
    }
    // Plain parts already at compaction size stay verbatim — the nightly
    // O(new) bound; everything else replay-dead merges.
    val keepBytes = targetFileBytes / 2
    val (keepPlain, dead) = deadAll.partition { st =>
      IdempotentFold.parseKeyed(st.getPath.getName).isEmpty &&
        st.getLen >= keepBytes
    }
    val kept = live ++ keepPlain
    // Nothing to merge — or a single plain runt, which a rewrite would
    // only copy into itself.
    val singlePlainRunt = dead.size == 1 &&
      IdempotentFold.parseKeyed(dead.head.getPath.getName).isEmpty
    if (dead.isEmpty || singlePlainRunt)
      return FoldStats(0L, 0L, kept.size.toLong, 0L, skipped = true)

    val in = spark.read.parquet(dead.map(_.getPath.toString): _*)
    val cols = in.columns.toSeq.map(col)
    val (nIn, hIn) = ArtifactManifest.fingerprintOf(in, cols)

    // Idempotent skip: the stored content manifest fingerprints the MERGE
    // SET as of the last compaction — unchanged content (no newly
    // committed batches since) means nothing to do.
    val alreadyDone =
      try ArtifactManifest.read(dir, spark)
        .exists(m => m.nRows == nIn && m.inputHash == hIn)
      catch { case _: Exception => false }
    if (alreadyDone)
      return FoldStats(dead.size.toLong, dead.size.toLong, kept.size.toLong,
        nIn, skipped = true)

    // Bin-pack exchange-free (Compaction.compact's merge path): the scan
    // already groups small files into splits, so merging is a coalesce.
    val nOut = Compaction.planOutputFiles(dead.map(_.getLen).sum, targetFileBytes)
    val scanParts = in.rdd.getNumPartitions
    val packed = if (nOut <= scanParts) in.coalesce(nOut) else in.repartition(nOut)
    packed.write.mode("overwrite").parquet(tmp.toString)

    // Publish gate, then manifest INTO THE TMP — its presence is also the
    // roll-forward signal for the swap recovery above.
    val (nOutRows, hOut) =
      ArtifactManifest.fingerprintOf(spark.read.parquet(tmp.toString), cols)
    require(nOutRows == nIn && hOut == hIn,
      s"fold compaction of $dir altered content: in (n=$nIn, hash=$hIn) vs " +
        s"read-back (n=$nOutRows, hash=$hOut) — aborted, original untouched")
    ArtifactManifest.writeValues(tmp.toString, nIn, hIn, spark)

    // Retained files (live keyed + compaction-sized plain) ride along
    // verbatim — hard link where the FS allows, else a raw byte copy;
    // never a move, so the original dir stays complete until the swap.
    val hconf = spark.sparkContext.hadoopConfiguration
    kept.foreach { st =>
      val to = new Path(tmp, st.getPath.getName)
      val linked = fs.getScheme == "file" &&
        (try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(to.toUri.getPath),
            java.nio.file.Paths.get(st.getPath.toUri.getPath))
          true
        } catch { case _: Exception => false })
      if (!linked)
        FileUtil.copy(fs, st.getPath, fs, to, false, hconf): Unit
    }

    val outParts = fs.listStatus(tmp).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

    // The swap: two renames. A crash between them leaves the dataset dir
    // missing with a gate-passed tmp — the recovery path rolls it forward.
    require(fs.rename(qt, old), s"could not move $qt aside for swap")
    require(fs.rename(tmp, qt), s"could not move compacted $tmp to $qt")
    fs.delete(old, true)

    FoldStats(dead.size.toLong, (outParts - kept.size).toLong,
      kept.size.toLong, nIn, skipped = false)
  }
}
