package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import graft.{GraftConfig, SparkSpec}
import graft.sinks.TxnParquet
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Crash consistency of [[DedupJob]] at each commit boundary of a
  * trigger. A trigger commits three times: the sink (`batch=<id>`, then
  * `_commits/<id>`), the state store (`state/…/<v>.delta`), and the
  * checkpoint's commit log (`commits/<n>`). Each test runs the job over
  * three micro-batches, stops it, rewinds the files of the last one to
  * what a crash at one boundary leaves, restarts the job and feeds
  * three more. The output is checked against a model of the keep rule
  * keyed by content id (user, type, value, props), never by digest:
  * nothing lost, nothing twice, and after a lost checkpoint the
  * warm-up of the reference's `CACHE_WINDOW` rule. */
class DedupJobCrashSpec extends SparkSpec {
  import DedupJobSpec.Ev

  private val WindowS = 300L
  private val WindowUs = WindowS * 1000000L
  private val CacheS = 3600L
  private val MinUs = 60000000L

  private type Content = (Long, String, Double, String)
  private def content(m: Ev): Content = (m.user_id, m.event_type, m.value, m.props)

  /** Six time-ordered batches of 20 messages over 12 contents. Batch 0
    * lies four hours before `t0`, outside the one-hour cache window of
    * a restart a few seconds after `t0`; batches 1–5 follow each other
    * without a gap from 40 minutes before `t0`, at most 30 s apart, so
    * a content recurs within the 5-minute window across batch edges. */
  private def batches(seed: Long, t0: Long): Seq[Seq[Ev]] = {
    val r = new Random(seed)
    var t = t0 - 240 * MinUs
    (0 until 6).map { b =>
      if (b == 1) t = t0 - 40 * MinUs
      (0 until 20).map { i =>
        t += r.nextInt(30) * 1000000L + 1
        val k = r.nextInt(12)
        Ev(b * 100L + i, t, k % 4, s"type${k % 3}", k.toDouble, s"""{"k":"$k"}""")
      }
    }
  }

  /** The keep rule by content id: rows in (ts_us, event_id) order; a
    * row is kept iff its content has no kept row yet (nor a `warm` time)
    * or it lands at least the window after the last one. */
  private def model(msgs: Seq[Ev], warm: Map[Content, Long] = Map.empty): Seq[Ev] = {
    val last = mutable.Map(warm.toSeq: _*)
    msgs.sortBy(m => (m.ts_us, m.event_id)).filter { m =>
      val keep = last.get(content(m)).forall(m.ts_us >= _ + WindowUs)
      if (keep) last(content(m)) = m.ts_us
      keep
    }
  }

  /** Delete a file and its checksum sibling. */
  private def rm(path: String): Unit = {
    val f = new File(path)
    Files.deleteIfExists(f.toPath)
    Files.deleteIfExists(new File(f.getParentFile, s".${f.getName}.crc").toPath)
  }

  /** Run the job over batches 0–2, apply `crash` to (output, checkpoint),
    * restart it and feed batches 3–5; returns the output's event ids. */
  private def crashAndRestart(bs: Seq[Seq[Ev]])(crash: (String, String) => Unit): Seq[Long] = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val out = Files.createTempDirectory("graft_crash").toString
    val ckpt = s"$out/_checkpoint"
    val mem = MemoryStream[Ev]
    def run(feed: Seq[Seq[Ev]]): Unit = {
      val job = DedupJob.start(mem.toDF(), out, ckpt)
      try {
        job.query.processAllAvailable()
        feed.foreach { b => mem.addData(b); job.query.processAllAvailable() }
      } finally job.stop()
    }
    withConf(GraftConfig.DedupWindowKey -> WindowS.toString,
             GraftConfig.CacheWindowKey -> CacheS.toString) {
      run(bs.take(3))
      assert(TxnParquet.committedBatches(spark, out) == Seq(0L, 1L, 2L))
      crash(out, ckpt)
      run(bs.drop(3))
    }
    TxnParquet.read(spark, out).select("event_id").as[Long].collect().sorted.toSeq
  }

  private def ids(ms: Seq[Ev]): Seq[Long] = ms.map(_.event_id).sorted

  /** Micro-batch 2's state version (3) in every state partition. */
  private def rmStateVersion3(ckpt: String): Unit =
    Option(new File(s"$ckpt/state/0").listFiles()).toSeq.flatten.filter(_.isDirectory)
      .foreach { p => Seq("3.delta", "3.snapshot").foreach(f => rm(s"$p/$f")) }

  test("(i) offsets logged, no batch directory, no marker: the replay writes the batch once") {
    val bs = batches(11L, System.currentTimeMillis() * 1000L)
    val got = crashAndRestart(bs) { (out, ckpt) =>
      rm(s"$ckpt/commits/2"); rmStateVersion3(ckpt)
      rm(s"$out/_commits/2"); FileUtils.deleteDirectory(new File(s"$out/batch=2"))
    }
    assert(got == ids(model(bs.flatten)))
  }

  test("(ii) a torn batch=<id> without its marker is overwritten by the replay") {
    val bs = batches(12L, System.currentTimeMillis() * 1000L)
    val got = crashAndRestart(bs) { (out, ckpt) =>
      rm(s"$ckpt/commits/2"); rm(s"$out/_commits/2")
      assert(new File(s"$out/batch=2").isDirectory)
    }
    assert(got == ids(model(bs.flatten)))
  }

  test("(iii) the append returned but commits/<n> is missing: the replay appends nothing") {
    val bs = batches(13L, System.currentTimeMillis() * 1000L)
    val got = crashAndRestart(bs) { (_, ckpt) => rm(s"$ckpt/commits/2") }
    assert(got == ids(model(bs.flatten)))
  }

  test("(iv) a lost checkpoint warms from the output within the cache window") {
    val t0 = System.currentTimeMillis() * 1000L
    val bs = batches(14L, t0)
    val got = crashAndRestart(bs) { (_, ckpt) => FileUtils.deleteDirectory(new File(ckpt)) }
    val first = model(bs.take(3).flatten)
    // the restart runs seconds after t0: batch 0 is hours older than
    // the cache window, batches 1–2 are well inside it
    val warm = first.filter(_.ts_us >= t0 - CacheS * 1000000L)
      .groupBy(content).map { case (c, ms) => c -> ms.map(_.ts_us).max }
    // the warm-up decides some rows of the second run
    assert(model(bs.drop(3).flatten, warm) != model(bs.drop(3).flatten))
    assert(got == ids(first ++ model(bs.drop(3).flatten, warm)))
  }
}
