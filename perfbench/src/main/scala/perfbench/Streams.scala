package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.Hashing
import graft.operators.Dedup
import graft.sinks.TxnParquet
import graft.streaming.{Origin, StreamDedup}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{MapType, StringType}

/** The streaming dedup job fed by the seeded generator through a memory
  * source, its output appended per trigger through TxnParquet, and
  * every run checked against [[Model]]: stream_live, and in traced runs
  * the catch-up after downtime. */
object Streams {
  import Gen._

  val SetupReps = 3
  // stream_live: open loop
  val LiveRatePerS = 500
  val LiveWarmupMsgs = 500
  val LiveTickMs = 10L
  val LiveStartDelayMs = 200L
  /** A run whose generator sent later than this is invalid. */
  val LateBoundMs = 200.0
  // catch-up (traced runs): closed loop, drained for a fixed time
  val CatchupSeconds = 10.0
  val CatchupCap = 20000
  val CatchupWarmupMsgs = 2000
  val PriorRows = 24000
  val ProbeRows = 200000

  /** Appends each batch through TxnParquet; remembers when it returned. */
  final class Sink(val dir: String) {
    val appendedNs = new ConcurrentHashMap[Long, Long]()
    val appendMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    def write(b: DataFrame, id: Long): Unit = Trace.span("streaming", "foreachBatch", id) {
      val t0 = System.nanoTime()
      Trace.span("sinks", "TxnParquet.append", id)(TxnParquet.append(b, dir, id))
      val t1 = System.nanoTime()
      appendMs.add(Stats.ms(t1 - t0))
      appendedNs.put(id, t1)
    }
  }

  final case class Job(q: StreamingQuery, src: MemoryStream[In], sink: Sink, setupS: Double)

  private def digested(df: DataFrame): DataFrame = Trace.span("functions", "Hashing.eventDigest") {
    df.withColumn("digest", Hashing.eventDigest(
      col("user_id"), col("event_type"), col("value"), col("props"), Ignored))
  }

  private def withOrigin(df: DataFrame): DataFrame =
    Trace.span("streaming", "Origin.withOriginProp")(Origin.withOriginProp(df))

  /** stream_live's job: digest → TTL chain with bounded state → origin. */
  def liveJob(ctx: Ctx)(src: MemoryStream[In]): DataFrame = {
    val kept = Trace.span("streaming", "StreamDedup.chain") {
      StreamDedup.chain(ctx.spark, digested(src.toDF()), WindowUs, stateExpiry = Some("1 minute"))
    }
    withOrigin(kept.toDF())
  }

  /** The catch-up's job: digest → tagged chain seeded with the warm
    * state → observed counters → forwarded rows → origin. */
  def catchupJob(ctx: Ctx, init: Dataset[(Long, StreamDedup.DigestState)])
                (src: MemoryStream[In]): DataFrame = {
    val tagged = Trace.span("streaming", "StreamDedup.chainTagged") {
      StreamDedup.chainTagged(ctx.spark, digested(src.toDF()), WindowUs, Some(init))
    }
    val fwd = Trace.span("streaming", "StreamDedup.observed")(StreamDedup.observed(tagged))
      .filter(col("kept")).drop("kept")
    withOrigin(fwd)
  }

  /** `n` distinct warm-up messages, one a second, that precede
    * `beforeUs` in event time. */
  def warmupMsgs(n: Int, beforeUs: Long): Seq[Msg] = (0 until n).map { j =>
    Msg(-(n - j).toLong, beforeUs - (n - j) * 1000000L, 3000000000L + j, 0)
  }

  private def offer(src: MemoryStream[In], rows: Seq[In]): Unit =
    Trace.span("sources", "MemoryStream.addData")(src.addData(rows))

  /** One set-up: a fresh source and checkpoint, the job started, and its
    * first trigger run on the warm-up messages. */
  def setUp(ctx: Ctx, name: String, warmup: Seq[Msg])(build: () => MemoryStream[In] => DataFrame): Job = {
    val t0 = System.nanoTime()
    val job = build()
    val spark = ctx.spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // each trigger reads whatever was sent since the last as one
    // partition per core
    val src = MemoryStream[In](spark.sparkContext.defaultParallelism)
    val sink = new Sink(ctx.dir(s"out-$name"))
    val q = job(src).writeStream.queryName(name)
      .option("checkpointLocation", ctx.dir(s"chk-$name"))
      .foreachBatch((b: DataFrame, id: Long) => sink.write(b, id))
      .start()
    offer(src, warmup.map(toIn))
    q.processAllAvailable()
    Job(q, src, sink, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs set-up `reps` times and keeps the last job running; returns
    * it with the median set-up time. */
  def setUpReps(ctx: Ctx, r: Main.Result, prefix: String, warmup: Seq[Msg], reps: Int)(
      build: () => MemoryStream[In] => DataFrame): (Job, Double) = {
    val jobs = (1 to reps).map { i =>
      val j = setUp(ctx, s"$prefix$i", warmup)(build)
      if (i < reps) j.q.stop()
      j
    }
    r.info(s"$prefix.setup_reps_s") = jobs.map(j => "%.2f".format(j.setupS)).mkString(" ")
    (jobs.last, Stats.median(jobs.map(_.setupS)))
  }

  /** Forwarded rows of a sink: (event_id, batch id), plus the number of
    * rows whose `origin` does not round-trip to their own digest. */
  def readOutput(ctx: Ctx, dir: String): (Array[(Long, Long)], Long) = {
    val out = TxnParquet.read(ctx.spark, dir)
    val origin = from_json(col("props"), MapType(StringType, StringType)).getItem("origin")
    val ds = Origin.originDigests(origin)
    val ok = coalesce(size(ds) === 1 && element_at(ds, 1) === col("digest"), lit(false))
    val rows = out.select(col("event_id"),
      regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"), ok).collect()
    (rows.map(r => (r.getLong(0), r.getLong(1))), rows.count(r => !r.getBoolean(2)).toLong)
  }

  /** Compares forwarded ids with the model; every mismatch fails the
    * message it concerns. */
  def verify(r: Main.Result, label: String, got: Array[(Long, Long)], badOrigin: Long,
             want: collection.Set[Long]): Unit = {
    val ids = got.map(_._1)
    val gotSet = ids.toSet
    r.fail((want -- gotSet).size, s"$label: ${(want -- gotSet).size} messages missing from the output")
    r.fail((gotSet -- want).size, s"$label: ${(gotSet -- want).size} messages wrongly forwarded")
    r.fail(ids.length - gotSet.size, s"$label: ${ids.length - gotSet.size} messages forwarded twice")
    r.fail(badOrigin, s"$label: $badOrigin rows whose origin does not round-trip to their digest")
  }

  private def bytesUnder(dir: String): Double =
    Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum.toDouble

  private def sinkLayers(r: Main.Result, sink: Sink, prefix: String): Unit = {
    val ms = sink.appendMs.asScala.toSeq
    r.layers(prefix + "append_ms_p50") = (Stats.median(ms), "ms")
    r.layers(prefix + "append_ms_sum") = (ms.sum, "ms")
    r.layers(prefix + "bytes_written") = (bytesUnder(sink.dir), "bytes")
  }

  // ---- stream_live ------------------------------------------------------

  def live(ctx: Ctx, r: Main.Result): Unit = {
    val a = ctx.args
    val sessionS = ctx.start(a.cores)
    val warm = warmupMsgs(LiveWarmupMsgs, T0)
    val (job, setupS) = setUpReps(ctx, r, "live", warm, SetupReps)(() => liveJob(ctx))
    Heap.sample()
    r.mark("setup")
    val n = LiveRatePerS * a.seconds
    val msgs = Gen.live(a.seed, LiveRatePerS).take(n).toArray
    val rows = msgs.map(toIn)
    val periodNs = 1e9 / LiveRatePerS
    ctx.phases.setPhase("measure")
    ctx.progress.watch(job.q.runId.toString)

    // the open-loop generator: sends whatever is due every tick, never
    // waiting for the job
    val t0 = System.nanoTime() + LiveStartDelayMs * 1000000L
    def due(i: Long): Long = t0 + (i * periodNs).toLong
    var lateMaxMs, backlogMax = 0.0
    val gen = new Thread(() => {
      var sent = 0
      while (sent < n) {
        val now = System.nanoTime()
        val upTo = if (now < t0) 0 else math.min(n, ((now - t0) / periodNs).toInt + 1)
        if (upTo > sent) {
          lateMaxMs = math.max(lateMaxMs, Stats.ms(now - due(sent)))
          offer(job.src, rows.slice(sent, upTo).toIndexedSeq)
          sent = upTo
        }
        backlogMax = math.max(backlogMax, (sent - ctx.progress.rowsTaken).toDouble)
        if (sent < n) LockSupport.parkNanos(math.max(0L,
          math.min(due(sent), now + LiveTickMs * 1000000L) - System.nanoTime()))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    job.q.processAllAvailable()
    ctx.phases.setPhase(null)
    Heap.sample()
    val progress = ctx.progress.of(job.q.runId.toString)
    job.q.stop()
    r.mark("measured")

    val want = Model.chain((warm ++ msgs).iterator, WindowUs)
    val (got, badOrigin) = readOutput(ctx, job.sink.dir)
    r.attempted = warm.size + n
    verify(r, "stream_live", got, badOrigin, want)
    val lat = got.collect { case (id, b) if id >= 0 =>
      Stats.ms(job.sink.appendedNs.get(b) - due(id))
    }.toSeq
    val endNs = job.sink.appendedNs.values.asScala.max
    if (lateMaxMs > LateBoundMs)
      r.invalid = Some(f"generator ran $lateMaxMs%.1f ms late, over the $LateBoundMs%.0f ms bound")

    r.e2e("setup_s") = (sessionS + setupS, "s")
    r.e2e("latency_p50_ms") = (Stats.median(lat), "ms")
    r.e2e("latency_p90_ms") = (Stats.pct(lat, 90), "ms")
    r.e2e("throughput_per_s") = (n / ((endNs - t0) / 1e9), "1/s")
    r.e2e("heap_peak_mb") = (Heap.peakMb, "MB")
    r.info("latency_samples") = s"${lat.size} forwarded messages over ${progress.size} triggers"
    r.info("schedule") = s"$LiveRatePerS msg/s for ${a.seconds} s, ${LiveTickMs} ms ticks"
    r.info("bench.gen_late_ms_max") = f"$lateMaxMs%.2f"

    if (a.trace) {
      r.layers("sources.backlog_max_rows") = (backlogMax, "count")
      r.layers("bench.gen_late_ms_max") = (lateMaxMs, "ms")
      Progress.layers(progress).foreach { case (k, v, u) => r.layers(k) = (v, u) }
      r.layers("streaming.shuffle_write_bytes") = (ctx.phases("measure").shuffleWrite.toDouble, "bytes")
      r.layers("streaming.executor_cpu_s") = (ctx.phases("measure").cpuNs / 1e9, "s")
      r.layers("streaming.keep_ratio") = (got.length.toDouble / (warm.size + n), "ratio")
      r.layers("streaming.model_keep_ratio") = (want.size.toDouble / (warm.size + n), "ratio")
      sinkLayers(r, job.sink, "sinks.")
      catchup(ctx, r)
    }
  }

  // ---- catch-up after downtime (traced runs) -----------------------------

  /** Untimed prep: the previous incarnation's output, appended through
    * TxnParquet in four batches, with an `origin` property per row
    * (some malformed, see [[Gen.originValue]]). */
  def writePrior(ctx: Ctx, prior: IndexedSeq[Prior], dir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val origin = udf((kind: Int, digest: Long) => originValue(kind, digest))
    val rows = prior.map(p => (toIn(Msg(p.eventId, p.tsUs, p.cid, 0)), p.originKind))
      .toDF("in", "kind").select("in.*", "kind")
      .withColumn("digest", Hashing.eventDigest(
        col("user_id"), col("event_type"), col("value"), col("props"), Ignored))
      .withColumn("origin", origin(col("kind"), col("digest")))
      .withColumn("properties", map_filter(
        map(lit("origin"), col("origin"), lit("k"), get_json_object(col("props"), "$.k")),
        (_, v) => v.isNotNull))
      .drop("kind", "origin")
    (0 until 4).foreach { i =>
      TxnParquet.append(rows.filter(col("event_id") % 4 === i), dir, i.toLong)
    }
  }

  final case class Drain(offered: Int, seconds: Double, triggerMs: Seq[Double],
                         warmupS: Double, readS: Double, warmRows: Long)

  /** Warm-up plus a closed-loop drain of the backlog, for
    * `seconds` of drain time; verified against the model. */
  def catchupRun(ctx: Ctx, r: Main.Result, prior: IndexedSeq[Prior], priorDir: String,
                 seconds: Double, prefix: String, reps: Int): (Drain, Job, Double) = {
    val spark = ctx.spark
    var readS, warmupS = 0.0
    var warmRows = 0L
    val warm = warmupMsgs(CatchupWarmupMsgs, NowUs)
    val (job, setupS) = setUpReps(ctx, r, prefix, warm, reps) { () =>
      val t0 = System.nanoTime()
      val out = Trace.span("sinks", "TxnParquet.read")(TxnParquet.read(spark, priorDir))
      readS = (System.nanoTime() - t0) / 1e9
      val digests = Trace.span("streaming", "Origin.warmDigestsFromOutput") {
        Origin.warmDigestsFromOutput(out, CacheWindowUs, NowUs)
      }
      val init = Trace.span("streaming", "StreamDedup.warmStateFromTable") {
        StreamDedup.warmStateFromTable(spark, digests)
      }
      warmRows = Trace.span("streaming", "warm state rows")(init.count())
      warmupS = (System.nanoTime() - t0) / 1e9
      catchupJob(ctx, init)
    }
    val wantWarm = Model.warmState(prior, CacheWindowUs, NowUs)
    r.fail(math.abs(warmRows - wantWarm.size),
      s"$prefix: warm-up recovered $warmRows digests, the model ${wantWarm.size}")
    r.mark(s"$prefix.setup")

    ctx.phases.setPhase(prefix)
    ctx.progress.watch(job.q.runId.toString)
    val backlog = Gen.backlog(ctx.args.seed, prior)
    val offered = mutable.ArrayBuffer.empty[Msg]
    val triggerMs = mutable.ArrayBuffer.empty[Double]
    var drainNs = 0L
    while (drainNs < seconds * 1e9) {
      val chunk = Array.fill(CatchupCap)(backlog.next())
      val rows = chunk.map(toIn).toIndexedSeq
      offered ++= chunk
      val t0 = System.nanoTime()
      offer(job.src, rows)
      job.q.processAllAvailable()
      val dt = System.nanoTime() - t0
      drainNs += dt
      triggerMs += Stats.ms(dt)
    }
    ctx.phases.setPhase(null)
    Heap.sample()
    val progress = ctx.progress.of(job.q.runId.toString)
    job.q.stop()
    r.mark(s"$prefix.measured")

    val want = Model.chain((warm.iterator ++ offered.iterator), WindowUs, wantWarm)
    val (got, badOrigin) = readOutput(ctx, job.sink.dir)
    r.attempted += warm.size + offered.size
    verify(r, prefix, got, badOrigin, want)
    val counted = ctx.observed.totals(job.q.name)
    val (fwd, drop) = counted.map(s => (s.forwarded, s.dropped)).getOrElse((0L, 0L))
    r.fail(math.abs(fwd - want.size), s"$prefix: listener counted $fwd forwarded, the model ${want.size}")
    r.fail(math.abs(drop - (warm.size + offered.size - want.size)),
      s"$prefix: listener counted $drop dropped")
    r.mark(s"$prefix.verified")
    if (prefix == "catchup") {
      Progress.layers(progress).foreach { case (k, v, u) =>
        r.layers("catchup." + k.split('.').last) = (v, u)
      }
      r.layers("catchup.keep_ratio") = (got.length.toDouble / (warm.size + offered.size), "ratio")
      r.layers("catchup.model_keep_ratio") = (want.size.toDouble / (warm.size + offered.size), "ratio")
    }
    (Drain(offered.size, drainNs / 1e9, triggerMs.toSeq, warmupS, readS, warmRows), job, setupS)
  }

  /** The catch-up of the traced run, after the live job has stopped:
    * warm-up, a closed-loop drain at every core, the batch probes, and
    * the same drain for half as long at one core. */
  def catchup(ctx: Ctx, r: Main.Result): Unit = {
    val a = ctx.args
    ctx.spark.streams.addListener(ctx.observed)
    val prior = Gen.prior(PriorRows)
    val (d, job, setupS) = catchupRun(ctx, r, prior, a.prior, CatchupSeconds, "catchup", SetupReps)
    val rate = d.offered / d.seconds
    r.layers("streaming.catchup_msgs_per_s") = (rate, "1/s")
    r.layers("streaming.catchup_setup_s") = (setupS, "s")
    r.layers("streaming.warmup_s") = (d.warmupS, "s")
    r.layers("streaming.warm_state_rows") = (d.warmRows.toDouble, "count")
    r.layers("sinks.read_s") = (d.readS, "s")
    r.layers("catchup.backlog_rows") = (d.offered.toDouble, "count")
    r.layers("catchup.trigger_wall_ms_p50") = (Stats.median(d.triggerMs), "ms")
    r.layers("catchup.trigger_wall_ms_p90") = (Stats.pct(d.triggerMs, 90), "ms")
    r.layers("catchup.shuffle_write_bytes") = (ctx.phases("catchup").shuffleWrite.toDouble, "bytes")
    r.layers("catchup.executor_cpu_s") = (ctx.phases("catchup").cpuNs / 1e9, "s")
    sinkLayers(r, job.sink, "catchup.")
    r.info("catchup") = s"${d.offered} messages in ${d.triggerMs.size} triggers of $CatchupCap, " +
      d.triggerMs.map(t => "%.0f".format(t)).mkString("", " ", " ms")
    batchProbe(ctx, r, rate)
    // the single-threaded baseline of the same drain
    ctx.stop()
    ctx.start(1)
    ctx.spark.streams.addListener(ctx.observed)
    val (one, _, _) = catchupRun(ctx, r, prior, a.prior, CatchupSeconds / 2, "onecore", 1)
    r.layers("streaming.catchup_msgs_per_s_1core") = (one.offered / one.seconds, "1/s")
  }

  /** Batch-frame probes over the catch-up backlog: the digest kernel
    * alone, and digest + the native chain, each the median of three. */
  def batchProbe(ctx: Ctx, r: Main.Result, streamRate: Double): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val it = Gen.backlog(ctx.args.seed, Gen.prior(PriorRows))
    val df = Array.fill(ProbeRows)(toIn(it.next())).toSeq.toDF()
      .repartition(ctx.args.cores).cache()
    df.count()
    def timed(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
    val digestS = timed(Trace.span("functions", "Hashing.eventDigest batch") {
      digested(df).agg(max("digest")).collect()
    })
    val chainS = timed(Trace.span("plans", "Dedup.chainNative") {
      Dedup.chainNative(digested(df)).agg(count(lit(1))).collect()
    })
    df.unpersist()
    val native = ProbeRows / chainS
    r.layers("functions.digest_msgs_per_s") = (ProbeRows / digestS, "1/s")
    r.layers("plans.chain_native_msgs_per_s") = (native, "1/s")
    r.layers("streaming.tax_ratio") = (streamRate / native, "ratio")
  }
}
