package graft.sinks

import graft.SparkSpec
import java.nio.file.Files

/** TxnParquet commit-marker protocol: idempotent retries, torn-write
  * invisibility, multi-batch union. */
class TxnParquetSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("txnparquet").toString

  test("append is idempotent per batch id") {
    val dir = freshDir()
    val b = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(TxnParquet.append(b, dir, 0L))
    assert(!TxnParquet.append(b, dir, 0L)) // retry skips
    assert(!TxnParquet.append(b, dir, 0L))
    assert(TxnParquet.read(spark, dir).count() == 2L)
  }

  test("a torn write (data without marker) is invisible until recommitted") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a")).toDF("id", "v"), dir, 0L)
    // crash simulation: batch data lands but the marker never does
    Seq((9L, "torn")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L))
    assert(TxnParquet.read(spark, dir).count() == 1L)
    // the retry overwrites the torn directory and commits exactly once
    assert(TxnParquet.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), dir, 1L))
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L, 1L))
    val rows = TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"))) // torn row gone
  }

  test("read unions all committed batches") {
    val dir = freshDir()
    (0L to 4L).foreach(i => TxnParquet.append(Seq((i, s"v$i")).toDF("id", "v"), dir, i))
    val rows = TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows == (0L to 4L).map(i => (i, s"v$i")).toSet)
    intercept[IllegalArgumentException](TxnParquet.read(spark, freshDir()))
  }

  test("compact preserves the committed view and keeps append idempotent") {
    val dir = freshDir()
    (0L to 4L).foreach(i => TxnParquet.append(Seq((i, s"v$i")).toDF("id", "v"), dir, i))
    val before = TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet
    val gen = TxnParquet.compact(spark, dir)
    assert(gen == 0L)
    assert(TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet == before)
    // a late replay of a covered batch id must STILL no-op — its marker
    // outlives its data
    assert(!TxnParquet.append(Seq((99L, "dup")).toDF("id", "v"), dir, 2L))
    assert(TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet == before)
    // appends after the compaction are visible alongside it
    TxnParquet.append(Seq((5L, "v5")).toDF("id", "v"), dir, 5L)
    assert(TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet ==
      before + ((5L, "v5")))
  }

  test("vacuum reclaims covered data; a second compact supersedes the first") {
    val dir = freshDir()
    (0L to 2L).foreach(i => TxnParquet.append(Seq((i, s"v$i")).toDF("id", "v"), dir, i))
    TxnParquet.compact(spark, dir)
    TxnParquet.append(Seq((3L, "v3")).toDF("id", "v"), dir, 3L)
    val gen1 = TxnParquet.compact(spark, dir)
    assert(gen1 == 1L)
    assert(TxnParquet.latestCompaction(spark, dir).map(_._2) ==
      Some(Set(0L, 1L, 2L, 3L)))
    TxnParquet.vacuum(spark, dir)
    // covered batch dirs and the superseded generation are gone…
    assert(!new java.io.File(s"$dir/batch=0").exists())
    assert(!new java.io.File(s"$dir/compact=0").exists())
    // …but the view and the idempotence contract survive
    val rows = TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows == (0L to 3L).map(i => (i, s"v$i")).toSet)
    assert(!TxnParquet.append(Seq((42L, "x")).toDF("id", "v"), dir, 0L))
  }

  test("a torn compaction (data without manifest) is invisible") {
    val dir = freshDir()
    (0L to 1L).foreach(i => TxnParquet.append(Seq((i, s"v$i")).toDF("id", "v"), dir, i))
    // crash simulation: consolidated data lands, the manifest never does
    TxnParquet.read(spark, dir).write.mode("overwrite").parquet(s"$dir/compact=0")
    assert(TxnParquet.latestCompaction(spark, dir).isEmpty)
    val rows = TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows == Set((0L, "v0"), (1L, "v1"))) // no double counting
  }

  test("a batch committed concurrently with compact is read exactly once") {
    val dir = freshDir()
    (0L to 1L).foreach(i => TxnParquet.append(Seq((i, s"v$i")).toDF("id", "v"), dir, i))
    val gen = TxnParquet.compact(spark, dir)
    // the race the manifest protocol must survive: an appender lands a
    // batch AFTER the compactor snapshotted its listing. Simulated by
    // appending after compact() returns — the covered-set semantics are
    // identical (batch 2 is not in gen's manifest), and reading must
    // plan compact=gen PLUS batch=2, each exactly once.
    TxnParquet.append(Seq((2L, "v2")).toDF("id", "v"), dir, 2L)
    val rows = TxnParquet.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows == Set((0L, "v0"), (1L, "v1"), (2L, "v2")))
    assert(TxnParquet.read(spark, dir).count() == 3L)
    // and the NEXT compaction folds it in
    val gen2 = TxnParquet.compact(spark, dir)
    assert(gen2 == gen + 1)
    assert(TxnParquet.latestCompaction(spark, dir).get._2 == Set(0L, 1L, 2L))
    assert(TxnParquet.read(spark, dir).count() == 3L)
  }

  test("additive schema evolution: new column reads as null for old batches") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a")).toDF("id", "v"), dir, 0L)
    TxnParquet.append(Seq((2L, "b", 9.5)).toDF("id", "v", "score"), dir, 1L)
    // merged read sees the union schema, missing column as null
    val merged = TxnParquet.read(spark, dir, mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val byId = merged.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      Option(r.get(r.fieldIndex("score")))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains(9.5))
    // compaction bakes the union schema into one generation: the
    // default (unmerged) read then sees it too
    TxnParquet.compact(spark, dir)
    val after = TxnParquet.read(spark, dir)
    assert(after.columns.sorted.toSeq == Seq("id", "score", "v"))
    assert(after.count() == 2L)
  }

  test("readAsOf pins the snapshot a past reader saw, across later appends and compactions") {
    val dir = freshDir()
    (0L to 2L).foreach(i => TxnParquet.append(Seq((i, s"v$i")).toDF("id", "v"), dir, i))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(TxnParquet.readAsOf(spark, dir, 1L)) == Set(0L, 1L))
    // a compaction covering batch 2 must NOT leak into the asOf=1 view
    TxnParquet.compact(spark, dir)
    TxnParquet.append(Seq((3L, "v3")).toDF("id", "v"), dir, 3L)
    assert(ids(TxnParquet.readAsOf(spark, dir, 1L)) == Set(0L, 1L))
    assert(ids(TxnParquet.readAsOf(spark, dir, 3L)) == Set(0L, 1L, 2L, 3L))
    // a generation covering only <= asOf batches IS used: compact now
    // (covers 0..3), then asOf=3 still reads exactly 0..3 via it
    TxnParquet.compact(spark, dir)
    assert(ids(TxnParquet.readAsOf(spark, dir, 3L)) == Set(0L, 1L, 2L, 3L))
    // out-of-retention: vacuum kills covered batch dirs; a snapshot
    // needing them now fails loudly instead of returning partial rows
    TxnParquet.vacuum(spark, dir)
    intercept[Exception](TxnParquet.readAsOf(spark, dir, 1L).collect())
    // the current view (and asOf at the head) still reads fine
    assert(ids(TxnParquet.read(spark, dir)) == Set(0L, 1L, 2L, 3L))
  }

  test("a second concurrent compactor fails fast while the lease is held") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a")).toDF("id", "v"), dir, 0L)
    // simulate a live holder: the lease marker exists and is fresh
    val lease = new org.apache.hadoop.fs.Path(s"$dir/_compactions/_lease")
    val f = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(lease, false); out.write("holder".getBytes); out.close()
    val e = intercept[IllegalStateException](TxnParquet.compact(spark, dir))
    assert(e.getMessage.contains("another compactor holds the lease"))
    assert(TxnParquet.latestCompaction(spark, dir).isEmpty) // no torn gen
    // holder finishes and releases -> the next compact proceeds
    f.delete(lease, false)
    assert(TxnParquet.compact(spark, dir) == 0L)
    assert(!f.exists(lease)) // released after commit
  }

  test("a crashed compactor's stale lease is stolen after the ttl") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a")).toDF("id", "v"), dir, 0L)
    val lease = new org.apache.hadoop.fs.Path(s"$dir/_compactions/_lease")
    val f = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(lease, false); out.write("dead".getBytes); out.close()
    val old = System.currentTimeMillis() - 60 * 60 * 1000L
    f.setTimes(lease, old, old) // crashed an hour ago
    assert(TxnParquet.compact(spark, dir) == 0L) // default ttl 15 min: stolen
    assert(TxnParquet.read(spark, dir).count() == 1L)
    assert(!f.exists(lease))
  }

  private def hadoopFs(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("steal is atomic: once one stealer renamed the stale marker, a second loses") {
    val dir = freshDir()
    val f = hadoopFs(dir)
    val lease = new org.apache.hadoop.fs.Path(s"$dir/_compactions/_lease")
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_compactions"))
    val out = f.create(lease, false); out.write("dead".getBytes); out.close()
    val old = System.currentTimeMillis() - 60 * 60 * 1000L
    f.setTimes(lease, old, old)
    // stealer A wins the rename and holds a fresh lease with ITS token
    val tokenA = TxnParquet.acquireLease(f, dir, "A", 1000L)
    assert(TxnParquet.holdsLease(f, dir, tokenA))
    // stealer B observes a FRESH lease now (A's) — must NOT steal it:
    // the old delete-then-create race would have blown A's lease away
    val e = intercept[IllegalStateException](
      TxnParquet.acquireLease(f, dir, "B", 1000L))
    assert(e.getMessage.contains("another compactor holds the lease"))
    assert(TxnParquet.holdsLease(f, dir, tokenA)) // A's lease intact
  }

  test("release only deletes the caller's own lease, never a stolen reissue") {
    val dir = freshDir()
    val f = hadoopFs(dir)
    val tokenA = TxnParquet.acquireLease(f, dir, "A", 1000L)
    // A's lease goes stale and B steals it
    val lease = new org.apache.hadoop.fs.Path(s"$dir/_compactions/_lease")
    val old = System.currentTimeMillis() - 10 * 1000L
    f.setTimes(lease, old, old)
    val tokenB = TxnParquet.acquireLease(f, dir, "B", 1000L)
    assert(!TxnParquet.holdsLease(f, dir, tokenA))
    assert(TxnParquet.holdsLease(f, dir, tokenB))
    // A's release is a no-op against B's lease
    TxnParquet.releaseLease(f, dir, tokenA)
    assert(TxnParquet.holdsLease(f, dir, tokenB))
    TxnParquet.releaseLease(f, dir, tokenB)
    assert(!f.exists(lease))
  }

  test("generation fence: a pre-installed compact=<gen> aborts the commit cleanly") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a")).toDF("id", "v"), dir, 0L)
    // simulate a racing compactor that installed generation 0's data
    // (no manifest yet): our compact must abort BEFORE any manifest
    Seq((9L, "racer")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/compact=0")
    val e = intercept[IllegalStateException](TxnParquet.compact(spark, dir))
    assert(e.getMessage.contains("compact=0"))
    assert(TxnParquet.latestCompaction(spark, dir).isEmpty) // no manifest
    assert(TxnParquet.read(spark, dir).count() == 1L) // old view intact
    // no staging litter and the lease was released on failure
    val f = hadoopFs(dir)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .forall(!_.getPath.getName.startsWith(".compact-staging")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/_compactions/_lease")))
  }

  test("merge-on-read deletes: ordering, re-append, physical apply, vacuum") {
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    def ids(d: String) = TxnParquet.readWithDeletes(spark, d, Seq("id"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    TxnParquet.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir, 0L)
    // tombstone batch 1 hides id=2; idempotent like append
    assert(TxnParquet.appendDeletes(Seq(Tuple1(2L)).toDF("id"), dir, 1L))
    assert(!TxnParquet.appendDeletes(Seq(Tuple1(2L)).toDF("id"), dir, 1L))
    assert(ids(dir) === Seq(1L, 3L))
    // plain read ignores tombstones (raw union) and must not crash
    assert(TxnParquet.read(spark, dir).count() === 3L)
    // re-append of the deleted key AFTER the delete is visible again
    TxnParquet.append(Seq((2L, "b2")).toDF("id", "v"), dir, 2L)
    assert(ids(dir) === Seq(1L, 2L, 3L))
    // a second delete hides id=1 everywhere (batch 0 < delete 3)
    TxnParquet.appendDeletes(Seq(Tuple1(1L)).toDF("id"), dir, 3L)
    assert(ids(dir) === Seq(2L, 3L))
    // physical apply: the generation holds exactly the resolved rows
    val gen = TxnParquet.compactWithDeletes(spark, dir, Seq("id"))
    assert(ids(dir) === Seq(2L, 3L))
    assert(spark.read.parquet(s"$dir/compact=$gen")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // the re-appended row survived (v = b2, not the deleted original)
    assert(TxnParquet.readWithDeletes(spark, dir, Seq("id"))
      .filter(col("id") === 2L).select("v").collect().head.getString(0) === "b2")
    // a delete LANDING AFTER the compaction still applies (gen rows
    // carry the max covered id; did 4 > that)
    TxnParquet.appendDeletes(Seq(Tuple1(3L)).toDF("id"), dir, 4L)
    assert(ids(dir) === Seq(2L))
    // vacuum reclaims the covered tombstone directories too
    TxnParquet.vacuum(spark, dir)
    val f = hadoopFs(dir)
    (0L to 3L).foreach { id =>
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/batch=$id")))
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes=$id")))
    }
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes=4"))) // live
    assert(ids(dir) === Seq(2L)) // view unchanged by vacuum
  }

  test("compactZOrdered: same rows, tight 2-D footer envelopes, prunable scan") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    val rnd = new scala.util.Random(3)
    // 4 arrival-order batches over two uniform numeric dimensions
    (0 until 4).foreach { b =>
      val rows = (0 until 2000).map(i =>
        (b * 2000L + i, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      TxnParquet.append(rows.toDF("id", "k1", "k2"), dir, b.toLong)
    }
    val before = TxnParquet.read(spark, dir).collect().map(_.toString).sorted
    val gen = TxnParquet.compactZOrdered(spark, dir, "k1", "k2", numFiles = 8)
    assert(gen === 0L)
    val after = TxnParquet.read(spark, dir).collect().map(_.toString).sorted
    assert(after.toSeq === before.toSeq) // rewrite changed nothing semantically
    // footer envelopes per generation file: tight on BOTH dims
    val conf = spark.sparkContext.hadoopConfiguration
    val gd = new org.apache.hadoop.fs.Path(s"$dir/compact=$gen")
    val parts = gd.getFileSystem(conf).listStatus(gd).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length === 8)
    val spans = parts.map { p =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        def span(cn: String): Double = {
          val st = rd.getFooter.getBlocks.asScala.map(b =>
            b.getColumns.asScala.find(_.getPath.toDotString == cn).get.getStatistics)
          val lo = st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
          val hi = st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
          (hi - lo + 1).toDouble / 1000.0
        }
        (span("k1"), span("k2"))
      } finally rd.close()
    }
    val (mk1, mk2) = (spans.map(_._1).sum / 8, spans.map(_._2).sum / 8)
    info(f"mean footer span: k1=$mk1%.3f k2=$mk2%.3f (arrival order ≈ 1.0)")
    assert(mk1 < 0.7 && mk2 < 0.7, s"not clustered: $mk1 / $mk2")
    // and a later append still reads exactly once alongside the generation
    TxnParquet.append(Seq((99999L, 5L, 5L)).toDF("id", "k1", "k2"), dir, 9L)
    assert(TxnParquet.read(spark, dir).count() === 8001L)
  }

  test("compactZOrderedWithDeletes: resolved rows, clustered generation") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir()
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { b =>
      val rows = (0 until 1500).map(i =>
        (b * 1500L + i, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      TxnParquet.append(rows.toDF("id", "k1", "k2"), dir, b.toLong)
    }
    // tombstone every id divisible by 3 (batch id 3 > all data batches)
    val delKeys = (0L until 4500L).filter(_ % 3 == 0)
    TxnParquet.appendDeletes(delKeys.map(Tuple1(_)).toDF("id"), dir, 3L)
    val want = TxnParquet.readWithDeletes(spark, dir, Seq("id"))
      .collect().map(_.toString).sorted
    assert(want.length === 3000)
    val gen = TxnParquet.compactZOrderedWithDeletes(
      spark, dir, Seq("id"), "k1", "k2", numFiles = 8)
    // resolved view unchanged; the generation holds exactly those rows
    assert(TxnParquet.readWithDeletes(spark, dir, Seq("id"))
      .collect().map(_.toString).sorted.toSeq === want.toSeq)
    assert(spark.read.parquet(s"$dir/compact=$gen").count() === 3000)
    // and the generation is clustered: tight footer spans on both dims
    val conf = spark.sparkContext.hadoopConfiguration
    val gd = new org.apache.hadoop.fs.Path(s"$dir/compact=$gen")
    val spans = gd.getFileSystem(conf).listStatus(gd).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map { p =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try {
          def span(cn: String): Double = {
            val st = rd.getFooter.getBlocks.asScala.map(b =>
              b.getColumns.asScala.find(_.getPath.toDotString == cn).get.getStatistics)
            val lo = st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
            val hi = st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
            (hi - lo + 1).toDouble / 1000.0
          }
          (span("k1"), span("k2"))
        } finally rd.close()
      }
    val (m1, m2) = (spans.map(_._1).sum / spans.length,
      spans.map(_._2).sum / spans.length)
    info(f"mean footer span after delete-resolving z-compact: k1=$m1%.3f k2=$m2%.3f")
    assert(m1 < 0.7 && m2 < 0.7)
  }

  test("a compaction slower than the ttl keeps its lease via renewal") {
    val dir = freshDir()
    val f = hadoopFs(dir)
    val token = TxnParquet.acquireLease(f, dir, "slow", 600L)
    // compact()'s renewer bumps the lease mtime every ttl/3; verify the
    // PRIMITIVE it relies on: after a bump, a would-be stealer sees a
    // fresh lease even though more than one ttl has elapsed since acquire
    Thread.sleep(700L) // past the ttl without renewal the lease is stale
    val lease = new org.apache.hadoop.fs.Path(s"$dir/_compactions/_lease")
    f.setTimes(lease, System.currentTimeMillis(), -1) // the renewer's bump
    val e = intercept[IllegalStateException](
      TxnParquet.acquireLease(f, dir, "thief", 600L))
    assert(e.getMessage.contains("another compactor holds the lease"))
    assert(TxnParquet.holdsLease(f, dir, token))
    TxnParquet.releaseLease(f, dir, token)
  }

  test("raw compact fails fast on unapplied tombstones (no silent resurrection)") {
    import org.apache.spark.sql.functions._
    val dir = freshDir()
    def ids(d: String) = TxnParquet.readWithDeletes(spark, d, Seq("id"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    TxnParquet.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, 0L)
    TxnParquet.appendDeletes(Seq(Tuple1(2L)).toDF("id"), dir, 1L)
    assert(ids(dir) === Seq(1L))
    // a raw rewrite cannot apply the tombstone but WOULD mark it covered
    // — deleted rows would resurrect and vacuum would reclaim the delete
    // directory; both raw entry points must refuse instead
    val e1 = intercept[IllegalStateException](TxnParquet.compact(spark, dir))
    assert(e1.getMessage.contains("unapplied delete"))
    val e2 = intercept[IllegalStateException](
      TxnParquet.compactZOrdered(spark, dir, "id", "id"))
    assert(e2.getMessage.contains("unapplied delete"))
    // the refused attempts left no committed generation and the view intact
    assert(TxnParquet.latestCompaction(spark, dir).isEmpty)
    assert(ids(dir) === Seq(1L))
    // the WithDeletes pass applies the tombstone; raw compact is legal after
    TxnParquet.compactWithDeletes(spark, dir, Seq("id"))
    assert(ids(dir) === Seq(1L))
    TxnParquet.append(Seq((3L, "c")).toDF("id", "v"), dir, 2L)
    val gen = TxnParquet.compact(spark, dir)
    assert(gen === 1L)
    assert(ids(dir) === Seq(1L, 3L))
  }

  test("a torn opposite-kind directory is removed when the id commits") {
    val dir = freshDir()
    val f = hadoopFs(dir)
    // torn appendDeletes attempt: deletes=0 lands, crash before marker
    Seq(Tuple1(7L)).toDF("id").write.parquet(s"$dir/deletes=0")
    // the id then commits as DATA: the orphan must not survive, or every
    // read would misclassify the committed data batch as a delete batch
    assert(TxnParquet.append(Seq((7L, "a"), (8L, "b")).toDF("id", "v"), dir, 0L))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes=0")))
    assert(TxnParquet.read(spark, dir).count() === 2L)
    assert(TxnParquet.readWithDeletes(spark, dir, Seq("id")).count() === 2L)
    // mirror: torn data attempt, then the id commits as a DELETE batch
    Seq((9L, "torn")).toDF("id", "v").write.parquet(s"$dir/batch=1")
    assert(TxnParquet.appendDeletes(Seq(Tuple1(8L)).toDF("id"), dir, 1L))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/batch=1")))
    assert(TxnParquet.readWithDeletes(spark, dir, Seq("id"))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(7L))
    // a torn MERGE attempt must go too, whichever kind then commits
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val writers = Seq[(String, (org.apache.spark.sql.DataFrame, String, Long) => Boolean)](
      "append" -> TxnParquet.append,
      "appendWithStats" -> ((df, d, id) => TxnParquet.appendWithStats(df, d, id, "id")))
    writers.foreach { case (name, write) =>
      val d = freshDir()
      Seq((9L, "torn")).toDF("id", "v").write.parquet(s"$d/merge=0")
      assert(write(Seq((7L, "a"), (8L, "b")).toDF("id", "v"), d, 0L), name)
      assert(ids(TxnParquet.read(spark, d)) === Seq(7L, 8L), name)
      assert(ids(TxnParquet.readWithDeletes(spark, d, Seq("id"))) === Seq(7L, 8L), name)
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$d/merge=0")), name)
    }
    val d = freshDir()
    TxnParquet.append(Seq((7L, "a"), (8L, "b")).toDF("id", "v"), d, 0L)
    Seq((9L, "torn")).toDF("id", "v").write.parquet(s"$d/merge=1")
    assert(TxnParquet.appendDeletes(Seq(Tuple1(8L)).toDF("id"), d, 1L))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$d/merge=1")))
    assert(ids(TxnParquet.read(spark, d)) === Seq(7L, 8L))
    assert(ids(TxnParquet.readWithDeletes(spark, d, Seq("id"))) === Seq(7L))
  }

  test("readAsOfWithDeletes pins the delete-resolved snapshot") {
    val dir = freshDir()
    def idsAsOf(asOf: Long) =
      TxnParquet.readAsOfWithDeletes(spark, dir, asOf, Seq("id"))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    TxnParquet.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, 0L)
    TxnParquet.appendDeletes(Seq(Tuple1(2L)).toDF("id"), dir, 1L)
    TxnParquet.append(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), dir, 2L)
    TxnParquet.appendDeletes(Seq(Tuple1(1L)).toDF("id"), dir, 3L)
    assert(idsAsOf(0L) === Seq(1L, 2L))       // before any delete
    assert(idsAsOf(1L) === Seq(1L))           // delete of 2 applied
    assert(idsAsOf(2L) === Seq(1L, 2L, 3L))   // re-append visible again
    assert(idsAsOf(3L) === Seq(2L, 3L))       // delete of 1 applied
    // raw readAsOf at the same snapshot is documented tombstone-blind
    assert(TxnParquet.readAsOf(spark, dir, 3L).count() === 4L)
    // snapshots stay pinned across a later physical apply
    TxnParquet.compactWithDeletes(spark, dir, Seq("id"))
    assert(idsAsOf(1L) === Seq(1L))
  }

  test("merge: last-writer-wins upsert, idempotent, physical apply, raw guard") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a0"), (2L, "b0")).toDF("id", "v"), dir, 0L)
    // upsert: key 2 replaced, key 3 inserted — one atomic batch
    assert(TxnParquet.merge(Seq((2L, "b1"), (3L, "c1")).toDF("id", "v"), dir, 1L))
    assert(!TxnParquet.merge(Seq((2L, "b1"), (3L, "c1")).toDF("id", "v"), dir, 1L))
    def resolved() = TxnParquet.readWithDeletes(spark, dir, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(resolved() == Set((1L, "a0"), (2L, "b1"), (3L, "c1")))
    // plain read is the documented raw view: superseded row included
    assert(TxnParquet.read(spark, dir).count() == 4L)
    // a later merge supersedes the earlier merge's row (lww by id)
    TxnParquet.merge(Seq((3L, "c2")).toDF("id", "v"), dir, 2L)
    assert(resolved() == Set((1L, "a0"), (2L, "b1"), (3L, "c2")))
    // a later DELETE hides a merged row too (kinds compose by id order)
    TxnParquet.appendDeletes(Seq(Tuple1(2L)).toDF("id"), dir, 3L)
    assert(resolved() == Set((1L, "a0"), (3L, "c2")))
    // raw compaction fails fast while merges are unapplied
    intercept[IllegalStateException] { TxnParquet.compact(spark, dir) }
    // physical apply resolves merges into the generation; vacuum
    // reclaims the merge directories; the view is unchanged
    TxnParquet.compactWithDeletes(spark, dir, Seq("id"))
    TxnParquet.vacuum(spark, dir)
    assert(resolved() == Set((1L, "a0"), (3L, "c2")))
    assert(TxnParquet.read(spark, dir).count() == 2L)
    // a merge committed AFTER the generation still supersedes its rows
    TxnParquet.merge(Seq((1L, "a1")).toDF("id", "v"), dir, 4L)
    assert(resolved() == Set((1L, "a1"), (3L, "c2")))
  }

  test("merge snapshot: readAsOfWithDeletes pins the upsert history") {
    val dir = freshDir()
    TxnParquet.append(Seq((1L, "a0")).toDF("id", "v"), dir, 0L)
    TxnParquet.merge(Seq((1L, "a1")).toDF("id", "v"), dir, 1L)
    TxnParquet.merge(Seq((1L, "a2")).toDF("id", "v"), dir, 2L)
    def vAsOf(asOf: Long) =
      TxnParquet.readAsOfWithDeletes(spark, dir, asOf, Seq("id"))
        .as[(Long, String)].collect().toSeq.sorted
    assert(vAsOf(0L) == Seq((1L, "a0")))
    assert(vAsOf(1L) == Seq((1L, "a1")))
    assert(vAsOf(2L) == Seq((1L, "a2")))
  }

  test("data skipping: sidecar ranges prune whole batches, results unchanged") {
    val dir = freshDir()
    // 4 batches with disjoint id ranges: [0,9], [10,19], [20,29], [30,39]
    (0 to 3).foreach { b =>
      val rows = (0L to 9L).map(i => (b * 10L + i, s"b$b"))
      assert(TxnParquet.appendWithStats(rows.toDF("id", "v"), dir, b.toLong, "id"))
    }
    val (kept, skipped) = TxnParquet.pruneIds(spark, dir, "id", 12L, 17L)
    assert(kept == Seq(1L) && skipped == Seq(0L, 2L, 3L))
    val pruned = TxnParquet.readPruned(spark, dir, "id", 12L, 17L)
      .as[(Long, String)].collect().toSet
    val full = TxnParquet.read(spark, dir)
      .filter("id >= 12 and id <= 17").as[(Long, String)].collect().toSet
    assert(pruned == full && pruned.size == 6)
    // boundary touch keeps the batch (max == lo)
    assert(TxnParquet.pruneIds(spark, dir, "id", 9L, 9L)._1 == Seq(0L))
    // an all-miss range keeps nothing and still reads cleanly as empty
    assert(TxnParquet.readPruned(spark, dir, "id", 100L, 200L).count() == 0L)
  }

  test("data skipping is advisory: stats-less and mismatched batches never prune") {
    val dir = freshDir()
    TxnParquet.appendWithStats(Seq((0L, "a")).toDF("id", "v"), dir, 0L, "id")
    TxnParquet.append(Seq((100L, "plain")).toDF("id", "v"), dir, 1L)
    // stats recorded on a DIFFERENT column: unusable for an id read
    TxnParquet.appendWithStats(
      Seq((200L, "other", 5L)).toDF("id", "v", "ts"), dir, 2L, "ts")
    val (kept, skipped) = TxnParquet.pruneIds(spark, dir, "id", 90L, 110L)
    assert(kept.toSet == Set(1L, 2L) && skipped == Seq(0L))
    assert(TxnParquet.readPruned(spark, dir, "id", 90L, 110L)
      .select("id", "v").as[(Long, String)].collect().toSet
      == Set((100L, "plain")))
    // retry idempotency matches append: a committed id is a no-op
    assert(!TxnParquet.appendWithStats(Seq((7L, "x")).toDF("id", "v"), dir, 0L, "id"))
    // non-integral stats columns fail loudly instead of recording garbage
    intercept[IllegalArgumentException](
      TxnParquet.appendWithStats(Seq((8L, "y")).toDF("id", "v"), dir, 9L, "v"))
  }

  test("data skipping composes with compaction: generation reads whole, tail prunes") {
    val dir = freshDir()
    (0 to 1).foreach { b =>
      TxnParquet.appendWithStats(
        (0L to 9L).map(i => (b * 10L + i, s"b$b")).toDF("id", "v"), dir, b.toLong, "id")
    }
    TxnParquet.compact(spark, dir)
    // two more sidecar'd batches after the generation
    (2 to 3).foreach { b =>
      TxnParquet.appendWithStats(
        (0L to 9L).map(i => (b * 10L + i, s"b$b")).toDF("id", "v"), dir, b.toLong, "id")
    }
    val pruned = TxnParquet.readPruned(spark, dir, "id", 25L, 32L)
      .as[(Long, String)].collect().toSet
    val full = TxnParquet.read(spark, dir)
      .filter("id >= 25 and id <= 32").as[(Long, String)].collect().toSet
    assert(pruned == full && pruned.size == 8)
    // the post-compaction tail still skips: batch 3 is kept, batch 2 dropped
    // for a range entirely inside batch 3
    val (kept, _) = TxnParquet.pruneIds(spark, dir, "id", 35L, 38L)
    assert(kept.toSet.intersect(Set(2L, 3L)) == Set(3L))
  }

  test("empty-batch sidecar prunes against every range") {
    val dir = freshDir()
    TxnParquet.appendWithStats(Seq((1L, "a")).toDF("id", "v"), dir, 0L, "id")
    TxnParquet.appendWithStats(
      Seq.empty[(Long, String)].toDF("id", "v"), dir, 1L, "id")
    val (kept, skipped) = TxnParquet.pruneIds(spark, dir, "id", 0L, 1000L)
    assert(kept == Seq(0L) && skipped == Seq(1L))
    assert(TxnParquet.readPruned(spark, dir, "id", 0L, 1000L).count() == 1L)
  }

  test("appendStream runs each micro-batch once and commits only non-empty output") {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val jobs = new ConcurrentHashMap[Long, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.computeIfAbsent(b.toLong, _ => new AtomicInteger).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    val src = MemoryStream[Long]
    val q = TxnParquet.appendStream(src.toDF(), dir)(_.filter($"value" >= 0L))
    try {
      src.addData(1L, 2L); q.processAllAvailable()
      src.addData(-1L); q.processAllAvailable() // rows in, none out
      src.addData(3L); q.processAllAvailable()
    } finally q.stop()
    eventually(timeout(30.seconds)) { assert(jobs.keySet.size == 3) }
    spark.sparkContext.removeSparkListener(listener)
    // one job per batch: the write is the only execution of the plan
    assert(jobs.size == 3 && jobs.values.toArray.forall(_.toString == "1"), jobs)
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L, 2L))
    assert(!new java.io.File(s"$dir/batch=1").exists())
    assert(TxnParquet.read(spark, dir).as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("appendStream ids: a kept checkpoint continues them, a lost one never reuses a committed id") {
    val dir = freshDir()
    val ckpt = s"$dir/_checkpoint"
    // a file source replays from a kept checkpoint, unlike a memory source
    def run(in: String, values: Long*): Unit = {
      values.toDF("value").write.mode("append").parquet(in)
      val q = TxnParquet.appendStream(
        spark.readStream.schema("value LONG").parquet(in), dir)(identity)
      try q.processAllAvailable() finally q.stop()
    }
    def rows = TxnParquet.read(spark, dir).as[Long].collect().sorted.toSeq
    run(s"$dir/in1", 1L, 2L)
    run(s"$dir/in1", 3L) // restart on the kept checkpoint
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L, 1L))
    assert(rows == Seq(1L, 2L, 3L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    run(s"$dir/in2", 10L, 20L) // a fresh checkpoint starts past id 1
    run(s"$dir/in2", 30L) // and a restart on it keeps that base
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L, 1L, 2L, 3L))
    assert(rows == Seq(1L, 2L, 3L, 10L, 20L, 30L))
  }
}
