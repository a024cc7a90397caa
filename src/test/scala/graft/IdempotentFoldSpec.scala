package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.ArtifactManifest
import graft.streaming.{ArtifactRefresh, IdempotentFold}

/** Pins the run-identity contract (ADVICE r16): UUID-keyed 64-bit run tags,
  * engine adoption of the pre-minted metadata id, wipe-and-recreate at the
  * SAME checkpoint path = a NEW identity (the fixed-nightly-ck-dir ops
  * pattern that silently lost data under path-hash tags), bookkeeping name
  * parsing, and the per-batch shuffle self-sizing (VERDICT r16 #5).
  */
class IdempotentFoldSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val dCols = Seq(col("doc_id"), col("text"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readMeta(ck: String): String = {
    val fs = fsOf(ck)
    val in = fs.open(new Path(ck, "metadata"))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  test("runIdentity: minted id is persisted, adopted by the engine, stable across restarts; a wiped+recreated path is a NEW identity") {
    val ck = tmp("idf_ck")
    fsOf(ck).delete(new Path(ck), true) // start from a NON-existent dir
    val tag1 = IdempotentFold.runIdentity(spark, ck)
    assert(tag1.matches("[0-9a-f]{16}"), s"64-bit hex tag expected: $tag1")
    val metaRaw = readMeta(ck)
    val uuid = """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r
      .findFirstMatchIn(metaRaw).get.group(1)

    // run a real bounded stream on this checkpoint: the engine must ADOPT
    // the pre-minted query id, not replace it
    val src = tmp("idf_src")
    Seq((1L, "a", "pt", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(graft.streaming.EventsStream.documentsSchema).parquet(src)
      .writeStream
      .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     _: Long) => ())
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.id.toString === uuid, "engine must adopt the pre-minted query id")
    assert(IdempotentFold.runIdentity(spark, ck) === tag1,
      "same checkpoint -> same tag across restarts")

    // wipe and recreate at the SAME path -> a NEW identity (ADVICE r16
    // medium: a fixed nightly ck dir that gets wiped must not inherit a
    // dead run's markers)
    fsOf(ck).delete(new Path(ck), true)
    assert(IdempotentFold.runIdentity(spark, ck) !== tag1)
  }

  test("a checkpoint wiped and recreated at the same path is a NEW run: its batches fold instead of being swallowed (ADVICE r16 medium)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(col("doc_id") % 4 >= 2)
    val art = tmp("idf_art")
    graft.operators.Dedup.writeSignatureArtifact(base, "doc_id", "text", art)
    ArtifactManifest.write(art, base.select(dCols: _*), dCols)
    val pairs = tmp("idf_pairs")
    val ck = tmp("idf_fixed_ck") // the "fixed nightly dir" ops pattern
    def deltaDir(mod: Int) = {
      val d = tmp(s"idf_delta$mod")
      docs.filter(col("doc_id") % 4 === mod)
        .repartitionByRange(2, col("doc_id")).write.mode("overwrite").parquet(d)
      d
    }
    ArtifactRefresh.refreshFromStream(spark, deltaDir(0), "doc_id", "text",
      art, pairs, ck)
    val bandsA = spark.read.parquet(s"$art/bands.parquet").count()
    // ops wipe the fixed ck dir; tomorrow's delta reuses the same path —
    // under r16 path-hash tags the old run's b0 marker swallowed this
    fsOf(ck).delete(new Path(ck), true)
    ArtifactRefresh.refreshFromStream(spark, deltaDir(1), "doc_id", "text",
      art, pairs, ck)
    assert(spark.read.parquet(s"$art/bands.parquet").count() > bandsA,
      "the recreated checkpoint's batches must append, not be silently skipped")
    ArtifactManifest.check(art, docs.select(dCols: _*), dCols)
  }

  test("name parsing: only the 16-hex runIdentity form is fold bookkeeping") {
    val run = "deadbeefdeadbeef"
    assert(IdempotentFold.keyedPrefix(run, 12L) === s"r${run}_b12_")
    assert(IdempotentFold.markerName(run, 12L) === s"r${run}_b12")
    assert(IdempotentFold.parseKeyed(s"r${run}_b12_part-0.parquet") === Some((run, 12L)))
    assert(IdempotentFold.parseMarker(s"r${run}_b12") === Some((run, 12L)))
    // plain parts, batch-only names and 8-hex tags are not bookkeeping
    for (n <- Seq("part-00000-c000.snappy.parquet", "b7_part-0.parquet",
                  "rdeadbeef_b3_part-0.parquet"))
      assert(IdempotentFold.parseKeyed(n) === None, n)
    for (n <- Seq("b7", "rdeadbeef_b3", "anything-else"))
      assert(IdempotentFold.parseMarker(n) === None, n)
    // and no such name can be written
    for (bad <- Seq("", "deadbeef", "DEADBEEFDEADBEEF")) {
      intercept[IllegalArgumentException](IdempotentFold.keyedPrefix(bad, 5L))
      intercept[IllegalArgumentException](IdempotentFold.markerName(bad, 5L))
    }
  }

  test("per-batch shuffle self-sizing: derived tracks input bytes, explicit override wins (VERDICT r16 #5)") {
    // pure derivation: floor for tiny, linear ramp, cap for pathological
    assert(IdempotentFold.deriveShufflePartitions(0L) === 8)
    assert(IdempotentFold.deriveShufflePartitions(64L << 20) === 8)
    assert(IdempotentFold.deriveShufflePartitions((64L << 20) * 100) === 100)
    assert(IdempotentFold.deriveShufflePartitions(Long.MaxValue / 2) === 2048)

    // a parquet-backed batch sizes by its real file bytes: same data,
    // larger relative batch (smaller per-partition target) -> more
    // partitions; and a bigger batch -> more partitions at equal target
    val d = tmp("idf_size")
    spark.range(5000).selectExpr("id", "repeat('x', 100) as pad")
      .write.mode("overwrite").parquet(d)
    val d2 = tmp("idf_size2")
    spark.range(100000).selectExpr("id", "repeat('x', 100) as pad")
      .write.mode("overwrite").parquet(d2)
    def bytesOf(p: String) = fsOf(p).listStatus(new Path(p))
      .filter(_.isFile).map(_.getLen).sum
    val s = IdempotentFold.foldSession(spark, None)
    val df = s.read.parquet(d)
    val whole = IdempotentFold.sizeBatchShuffle(df, None, targetBytes = bytesOf(d))
    assert(whole === 8, "a batch at/below one target-partition stays at the floor")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
    val target = math.max(1L, bytesOf(d) / 40)
    val sliced = IdempotentFold.sizeBatchShuffle(df, None, targetBytes = target)
    assert(sliced > 8, "a batch spanning many targets derives more partitions")
    assert(s.conf.get("spark.sql.shuffle.partitions") === sliced.toString)
    val bigger = IdempotentFold.sizeBatchShuffle(
      s.read.parquet(d2), None, targetBytes = target)
    assert(bigger > sliced, "derived partitions must track the batch's size")
    // explicit override wins and the per-batch path never touches conf
    assert(IdempotentFold.sizeBatchShuffle(df, Some(5)) === 5)
    assert(s.conf.get("spark.sql.shuffle.partitions") === bigger.toString)
  }

  test("pruneMarkers prunes the named run at or below the horizon") {
    val art = tmp("idf_prune")
    fsOf(art).mkdirs(new Path(art))
    val runA = "aaaaaaaaaaaaaaaa"
    val runB = "bbbbbbbbbbbbbbbb"
    IdempotentFold.markCommitted(spark, art, runA, 0L)
    IdempotentFold.markCommitted(spark, art, runA, 5L)
    IdempotentFold.markCommitted(spark, art, runB, 1L)
    val n = IdempotentFold.pruneMarkers(spark, art, runA, 3L)
    assert(n === 1, "runA b0 prunes; b5 is above the horizon")
    assert(!IdempotentFold.isCommitted(spark, art, runA, 0L))
    assert(IdempotentFold.isCommitted(spark, art, runA, 5L))
    assert(IdempotentFold.isCommitted(spark, art, runB, 1L),
      "an unnamed run's markers survive")
  }
}
