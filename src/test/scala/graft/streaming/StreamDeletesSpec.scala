package graft.streaming

import graft.SparkSpec
import graft.sinks.TxnParquet
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming CDC apply: within-epoch sequence resolution, cross-epoch
  * delete/re-insert ordering, exactly-once replay, physical fold. */
class StreamDeletesSpec extends SparkSpec {

  private def view(dir: String) =
    TxnParquet.readWithDeletes(spark, dir, Seq("id"))
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq

  test("CDC stream resolves to the event-order state, exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scdc").toString
    val mem = MemoryStream[(Long, String, Long, String)]
    val q = StreamDeletes.applyCdc(
      mem.toDF().toDF("seq", "op", "id", "v"), dir, Seq("id"))
    try {
      // epoch 0: two upserts
      mem.addData((1L, "upsert", 1L, "a"), (2L, "upsert", 2L, "b"))
      q.processAllAvailable()
      assert(view(dir) === Seq(1L -> "a", 2L -> "b"))
      // epoch 1: delete 1; within-epoch delete-then-reinsert of 2
      mem.addData((3L, "delete", 1L, null), (4L, "delete", 2L, null),
        (5L, "upsert", 2L, "b2"))
      q.processAllAvailable()
      assert(view(dir) === Seq(2L -> "b2"))
      // epoch 2: re-insert the deleted key — visible again
      mem.addData((6L, "upsert", 1L, "a2"))
      q.processAllAvailable()
      assert(view(dir) === Seq(1L -> "a2", 2L -> "b2"))
      // epoch 3: plain upsert REPLACES — no duplicate versions
      mem.addData((7L, "upsert", 2L, "b3"))
      q.processAllAvailable()
      assert(view(dir) === Seq(1L -> "a2", 2L -> "b3"))
    } finally q.stop()
    // restart-replay: re-applying epoch 1 is a committed no-op
    StreamDeletes.applyBatch(
      Seq((3L, "delete", 1L, null.asInstanceOf[String]))
        .toDF("seq", "op", "id", "v"), dir, Seq("id"), epochId = 1L)
    assert(view(dir) === Seq(1L -> "a2", 2L -> "b3"))
    // physical fold preserves the resolved state; tombstones reclaimable
    TxnParquet.compactWithDeletes(spark, dir, Seq("id"))
    TxnParquet.vacuum(spark, dir)
    assert(view(dir) === Seq(1L -> "a2", 2L -> "b3"))
  }

  test("CDC apply survives a query restart via checkpoint, exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("scdc_ckpt").toString
    val (inDir, tbl, ckpt) = (s"$base/in", s"$base/tbl", s"$base/ckpt")
    def runOnce(batch: Seq[(Long, String, Long, String)]): Unit = {
      batch.toDF("seq", "op", "id", "v").write.mode("append").parquet(inDir)
      val src = spark.readStream
        .schema(batch.toDF("seq", "op", "id", "v").schema).parquet(inDir)
      val q = StreamDeletes.applyCdc(src, tbl, Seq("id"), Some(ckpt))
      q.processAllAvailable(); q.stop()
    }
    // incarnation 1: two keys land
    runOnce(Seq((1L, "upsert", 1L, "a"), (2L, "upsert", 2L, "b")))
    // incarnation 2 (fresh query off the SAME checkpoint): the file
    // source must resume AFTER the processed files — only the new
    // epoch's delete+upsert applies, and nothing from epoch 0 doubles
    runOnce(Seq((3L, "delete", 1L, null.asInstanceOf[String]),
      (4L, "upsert", 2L, "b2")))
    assert(view(tbl) === Seq(2L -> "b2"))
    // exactly-once bookkeeping: 2 epochs -> ids 0..3, all committed once
    assert(TxnParquet.committedBatches(spark, tbl) === Seq(0L, 1L, 2L, 3L))
  }

  test("a lost checkpoint does not reuse the epochs the table has committed") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("scdc_lost").toString
    val (tbl, ckpt) = (s"$base/tbl", s"$base/ckpt")
    def runOnce(ops: (Long, String, Long, String)*): Unit = {
      val mem = MemoryStream[(Long, String, Long, String)]
      val q = StreamDeletes.applyCdc(mem.toDF().toDF("seq", "op", "id", "v"), tbl,
        Seq("id"), Some(ckpt))
      try { mem.addData(ops); q.processAllAvailable() } finally q.stop()
    }
    runOnce((1L, "upsert", 1L, "a"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce((2L, "upsert", 1L, "a2"), (3L, "upsert", 2L, "b"))
    assert(view(tbl) === Seq(1L -> "a2", 2L -> "b"))
  }

  test("within-batch resolution keeps only each key's last op by seq") {
    import spark.implicits._
    val b = Seq(
      (1L, "upsert", 7L, "x"), (9L, "delete", 7L, null.asInstanceOf[String]),
      (5L, "upsert", 8L, "y"))
      .toDF("seq", "op", "id", "v")
    val last = StreamDeletes.lastOpPerKey(b, Seq("id"))
      .select("id", "op").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(last === Map(7L -> "delete", 8L -> "upsert"))
  }

  test("merged CDC apply: same settled state; upserts never transiently vanish") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scdcm").toString
    val mem = MemoryStream[(Long, String, Long, String)]
    val q = StreamDeletes.applyCdc(
      mem.toDF().toDF("seq", "op", "id", "v"), dir, Seq("id"))
    try {
      mem.addData((1L, "upsert", 1L, "a"), (2L, "upsert", 2L, "b"))
      q.processAllAvailable()
      assert(view(dir) === Seq(1L -> "a", 2L -> "b"))
      mem.addData((3L, "delete", 1L, null), (4L, "delete", 2L, null),
        (5L, "upsert", 2L, "b2"))
      q.processAllAvailable()
      assert(view(dir) === Seq(2L -> "b2"))
      mem.addData((6L, "upsert", 1L, "a2"), (7L, "upsert", 2L, "b3"))
      q.processAllAvailable()
      assert(view(dir) === Seq(1L -> "a2", 2L -> "b3"))
    } finally q.stop()
    // replay idempotence on the merge path
    StreamDeletes.applyBatch(
      Seq((5L, "upsert", 2L, "b2"),
        (3L, "delete", 1L, null.asInstanceOf[String]))
        .toDF("seq", "op", "id", "v"), dir, Seq("id"), epochId = 1L)
    assert(view(dir) === Seq(1L -> "a2", 2L -> "b3"))
    // simulate a crash between an epoch's two commits (delete batch
    // committed, merge not yet) — the upserted key shows its OLD
    // version, never an absence
    StreamDeletes.applyBatch(
      Seq((8L, "delete", 1L, null.asInstanceOf[String]))
        .toDF("seq", "op", "id", "v"), dir, Seq("id"), epochId = 3L)
    // epoch 3 half-applied: tombstone for key 1 at id 6 landed; now
    // an epoch-4 upsert of key 2 commits only its DELETE half (none)
    // while its merge half "crashes" — emulate by writing only the
    // delete batch for an epoch that upserts key 2
    TxnParquet.appendDeletes(
      Seq.empty[Tuple1[Long]].toDF("id"), dir, 8L) // epoch 4: no deletes
    // before the merge at id 9 lands, key 2 still reads b3 (old version)
    assert(view(dir) === Seq(2L -> "b3"))
    TxnParquet.merge(Seq((2L, "b4")).toDF("id", "v"), dir, 9L)
    assert(view(dir) === Seq(2L -> "b4"))
    // physical fold + vacuum preserve the merged state
    TxnParquet.compactWithDeletes(spark, dir, Seq("id"))
    TxnParquet.vacuum(spark, dir)
    assert(view(dir) === Seq(2L -> "b4"))
  }
}
