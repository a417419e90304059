package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A streaming vector ingest maintaining the saved ANN index must leave
  * EXACTLY the index a batch build-and-append leaves — appends are pure
  * per-row functions under frozen quantizers, so micro-batch boundaries
  * cannot show through. */
class StreamIndexSpec extends SparkSpec {

  test("stream-appended index equals the batch-appended index") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val full = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("e"))
    val halfA = full.filter(col("vec_id") % 2 === 0)
    val halfB = full.filter(col("vec_id") % 2 =!= 0)

    val streamDir = Files.createTempDirectory("graft-annidx-stream").toString
    Similarity.saveIndexOf(halfA, streamDir)
    val rows = halfB.as[(Long, Array[Float])].collect()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamIndex.appendStream(streamDir,
      mem.toDF().toDF("vec_id", "e"))
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()

    val batchDir = Files.createTempDirectory("graft-annidx-batch").toString
    Similarity.saveIndexOf(halfA, batchDir)
    Similarity.appendToIndex(spark, batchDir, halfB)

    // identical artifact sets...
    for (art <- Seq("members", "codes", "b0")) {
      val a = spark.read.parquet(s"$streamDir/$art")
      val b = spark.read.parquet(s"$batchDir/$art")
      val cols = a.columns.sorted.toIndexedSeq
      assert(a.count() == b.count(), s"$art row count")
      assert(a.select(cols.map(col): _*).exceptAll(
        b.select(cols.map(col): _*)).isEmpty, s"$art content")
    }
    // ...and identical searches, equal to the full-corpus LSH search
    // (the model-free path admits an exact full-corpus comparison)
    assert(Similarity.searchSavedLsh(spark, sf, streamDir).collect().toSeq ==
      Similarity.lshTopK(spark, sf).collect().toSeq)
    assert(Similarity.searchSavedIvfPq(spark, sf, streamDir).collect().toSeq ==
      Similarity.searchSavedIvfPq(spark, sf, batchDir).collect().toSeq)
  }

  test("a lost checkpoint does not reuse the batch markers the index has") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("e"))
      .filter(col("vec_id") < 270).as[(Long, Array[Float])].collect().sortBy(_._1)
    val dir = Files.createTempDirectory("graft-annidx-lost").toString
    val ckpt = s"$dir/_checkpoint"
    Similarity.saveIndexOf(rows.take(250).toSeq.toDF("vec_id", "e"), dir)
    def runOnce(vs: Seq[(Long, Array[Float])]): Unit = {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = StreamIndex.appendStream(dir, mem.toDF().toDF("vec_id", "e"), Some(ckpt))
      try { mem.addData(vs); q.processAllAvailable() } finally q.stop()
    }
    runOnce(rows.slice(250, 260).toSeq)
    assert(spark.read.parquet(s"$dir/members").count() == 260)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce(rows.slice(260, 270).toSeq)
    assert(spark.read.parquet(s"$dir/members").count() == 270)
  }

  test("a crash-replayed append batch cannot change any saved-index search") {
    // Worst-case delivery fault: a batch is appended, the commit marker is
    // lost, and the whole batch replays — duplicating its per-vector rows.
    // The read-side dedup in every searchSaved* loader must make the
    // duplicate rows unobservable (they'd otherwise occupy rank slots).
    import org.apache.spark.sql.functions.col
    val full = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("e"))
    val halfA = full.filter(col("vec_id") % 2 === 0)
    val halfB = full.filter(col("vec_id") % 2 =!= 0)
    val dir = Files.createTempDirectory("graft-annidx-replay").toString
    Similarity.saveIndexOf(halfA, dir)
    Similarity.appendToIndex(spark, dir, halfB)
    val before = Seq(
      Similarity.searchSavedLsh(spark, sf, dir).collect().toSeq,
      Similarity.searchSavedIvfKmeans(spark, sf, dir).collect().toSeq,
      Similarity.searchSavedIvfPq(spark, sf, dir).collect().toSeq)
    Similarity.appendToIndex(spark, dir, halfB) // the replay
    val after = Seq(
      Similarity.searchSavedLsh(spark, sf, dir).collect().toSeq,
      Similarity.searchSavedIvfKmeans(spark, sf, dir).collect().toSeq,
      Similarity.searchSavedIvfPq(spark, sf, dir).collect().toSeq)
    assert(after == before)
  }
}
