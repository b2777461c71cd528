package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Exactly-once output under the at-least-once sink contract: replaying a
  * micro-batch must not duplicate rows, and a checkpointed restart must
  * deliver precisely the union of both runs' inputs.
  */
class IdempotentSinkSpec extends SparkSpec {
  import spark.implicits._

  test("replaying a batch leaves output identical (idempotent writes)") {
    val root = tempDir("idem_out").toString + "/t"
    val batch = Seq(1L, 2L, 3L).toDF("v")
    graft.streaming.IdempotentSink.writeBatch(batch, root, 7L)
    graft.streaming.IdempotentSink.writeBatch(batch, root, 7L) // replay
    val rows = spark.read.parquet(root).select("v").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"replay duplicated rows: ${rows.toSeq}")
  }

  test("checkpointed restart emits each input exactly once across runs") {
    val root = tempDir("idem_out2").toString + "/t"
    val ckpt = tempDir("idem_ckpt").toString
    val src = MemoryStream[Long](spark)

    val q1 = graft.streaming.IdempotentSink.start(src.toDF(), root, ckpt)
    src.addData(1L to 5L: _*)
    q1.processAllAvailable()
    q1.stop()

    val q2 = graft.streaming.IdempotentSink.start(src.toDF(), root, ckpt)
    src.addData(6L to 10L: _*)
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(root).select("value").as[Long].collect().sorted
    assert(rows.toSeq == (1L to 10L), s"expected exactly 1..10, got ${rows.toSeq}")
    // The partition column is readable for incremental consumption.
    assert(spark.read.parquet(root).select("batch_id").distinct().count() >= 2)
  }

  test("an input column named batch_id is rejected (would collide with the partition column)") {
    val root = tempDir("idem_guard").toString + "/t"
    val bad = Seq((1L, 2L)).toDF("v", "batch_id")
    intercept[IllegalArgumentException] {
      graft.streaming.IdempotentSink.writeBatch(bad, root, 0L)
    }
  }

  test("compaction preserves data rows exactly, shrinks history, and survives replay") {
    val root = tempDir("idem_compact").toString + "/t"
    // Five batches of keyed rows; batch 4 is the newest (replay candidate).
    (0L to 4L).foreach { b =>
      val batch = (b * 10 until b * 10 + 10).toDF("v")
      graft.streaming.IdempotentSink.writeBatch(batch, root, b)
    }
    val before = spark.read.parquet(root).select("v").as[Long].collect().sorted.toSeq

    // Absorb batches 0..3 into one range-clustered directory.
    val absorbed = graft.streaming.IdempotentSink.compact(spark, root, upTo = 3L, numFiles = 2, "v")
    assert(absorbed == 4, s"expected 4 directories absorbed, got $absorbed")
    val after = spark.read.parquet(root).select("v").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction changed the data rows")
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=3", "batch_id=4"), dirs.toString)

    // Replay of the newest batch AFTER compaction (the only batch the
    // streaming engine can replay) must leave output identical — the two
    // mechanisms never touch the same directory.
    graft.streaming.IdempotentSink.writeBatch((40L until 50L).toDF("v"), root, 4L)
    val replayed = spark.read.parquet(root).select("v").as[Long].collect().sorted.toSeq
    assert(replayed == before, "replay after compaction duplicated or lost rows")

    // upTo beyond the newest id is capped: the newest directory is never absorbed.
    val absorbed2 = graft.streaming.IdempotentSink.compact(spark, root, upTo = 99L, numFiles = 2, "v")
    assert(absorbed2 == 0 || new java.io.File(root, "batch_id=4").isDirectory,
      "compaction absorbed the replayable newest batch")
    assert(spark.read.parquet(root).select("v").as[Long].collect().sorted.toSeq == before)
  }
}
