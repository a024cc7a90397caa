package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Parallelism
import graft.streaming.{EventsStream, IdempotentFold}

/** Focused specs for the r18 optimization internals: the per-caller loop
  * width floor + reentrant session lock (ADVICE r17 medium/low), the
  * bounded-pool overlap of independent per-batch side-effects (VERDICT r17
  * #1), and the derived stream-join state width with validated conf
  * precedence (VERDICT r17 #6 done-condition).
  */
class R18OpsSpec extends SparkSpec {
  import spark.implicits._

  test("withInputSizedShuffle honors the per-caller floor and restores the session width") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val df = Seq(1, 2, 3).toDF("x")
    var seen = -1
    Parallelism.withInputSizedShuffle(Seq(df), floorN = 3) {
      seen = spark.conf.get("spark.sql.shuffle.partitions").toInt
    }
    // tiny input derives width 1; the floor lifts it to 3 (< session 4)
    assert(seen === 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prev)
  }

  test("withInputSizedShuffle is reentrant: a nested loop sizes within the outer width, both restore") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val df = Seq(1).toDF("x")
    Parallelism.withInputSizedShuffle(Seq(df), floorN = 2) {
      val outer = spark.conf.get("spark.sql.shuffle.partitions")
      assert(outer === "2")
      Parallelism.withInputSizedShuffle(Seq(df)) {
        assert(spark.conf.get("spark.sql.shuffle.partitions").toInt <= 2)
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") === outer)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prev)
  }

  test("inParallel runs every task and propagates the first failure's cause") {
    val hits = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    IdempotentFold.inParallel(spark)(
      () => { hits.add(1): Unit },
      () => { hits.add(2): Unit },
      () => { hits.add(3): Unit })
    assert(hits.size === 3)
    val e = intercept[IllegalStateException] {
      IdempotentFold.inParallel(spark)(
        () => (),
        () => throw new IllegalStateException("boom"))
    }
    assert(e.getMessage === "boom")
  }

  test("derivedStatePartitions sizes from input bytes with floor and cap") {
    val dir = Files.createTempDirectory("dsp")
    Files.write(dir.resolve("a.bin"), new Array[Byte](1000))
    Files.write(dir.resolve("b.bin"), new Array[Byte](1000))
    // tiny input derives the floor (the gate's measured-optimal narrow width)
    assert(EventsStream.derivedStatePartitions(spark, s"$dir/*.bin") === 2)
    // a backlog derives its own scale: ceil(2000 / 512) = 4
    assert(EventsStream.derivedStatePartitions(spark, s"$dir/*.bin", targetBytes = 512L) === 4)
    // the cap bounds a pathological burst
    assert(EventsStream.derivedStatePartitions(spark, s"$dir/*.bin", targetBytes = 1L, cap = 8) === 8)
    // no matches → the floor, not a failure
    assert(EventsStream.derivedStatePartitions(spark, s"$dir/none/*.bin") === 2)
  }

  test("statePartitions conf is validated: malformed or non-positive fails naming the conf") {
    val key = "spark.graft.stream.statePartitions"
    try {
      spark.conf.set(key, "abc")
      val e = intercept[IllegalArgumentException] {
        EventsStream.runToCompletion(spark, "sp_bad")(_ => fail("build must not run"))
      }
      assert(e.getMessage.contains(key))
      spark.conf.set(key, "0")
      val e2 = intercept[IllegalArgumentException] {
        EventsStream.runToCompletion(spark, "sp_zero")(_ => fail("build must not run"))
      }
      assert(e2.getMessage.contains(key))
    } finally spark.conf.unset(key)
  }

  test("writeIvfPqIndex with a pre-trained coarse table writes an identical artifact") {
    import graft.operators.Similarity
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f, 2.0f)), (3L, Seq(0.0f, 2.0f, 2.0f, 0.0f)),
      (4L, Seq(3.0f, 0.1f, 0.0f, 3.0f)), (5L, Seq(0.0f, 3.0f, 3.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val retrain = java.nio.file.Files.createTempDirectory("ivfpq_rt").toString
    Similarity.writeIvfPqIndex(emb, retrain, m = 2, dim = 4,
      kCoarse = 2, coarseIters = 2, kPq = 2, pqIters = 1)
    val reuse = java.nio.file.Files.createTempDirectory("ivfpq_ru").toString
    Similarity.writeIvfPqIndex(emb, reuse, m = 2, dim = 4,
      kCoarse = 2, coarseIters = 2, kPq = 2, pqIters = 1,
      coarse = Some(Similarity.kmeansFixedK(emb, k = 2, maxIter = 2)))
    for (t <- Seq("cents", "codebook", "cells", "codes")) {
      val a = spark.read.parquet(s"$retrain/$t.parquet").collect().toSet
      val b = spark.read.parquet(s"$reuse/$t.parquet").collect().toSet
      assert(a === b, s"table $t differs between retrain and coarse-reuse")
    }
  }

  test("statePartitions precedence: the conf override wins over the caller arg") {
    val key = "spark.graft.stream.statePartitions"
    class Abort extends RuntimeException("abort")
    def widthSeenWith(arg: Int): Int = {
      var seen = -1
      intercept[Abort] {
        EventsStream.runToCompletion(spark, "sp_prec", OutputMode.Append(),
          statePartitions = arg) { ss =>
          seen = ss.conf.get("spark.sql.shuffle.partitions").toInt
          throw new Abort
        }
      }
      seen
    }
    try {
      assert(widthSeenWith(7) === 7) // no conf: the caller arg (derived at the gates) applies
      spark.conf.set(key, "3")
      assert(widthSeenWith(7) === 3) // conf set: it wins over the arg
    } finally spark.conf.unset(key)
  }
}
