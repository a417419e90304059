package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** registry_mix: a fixed 15-query subset of `SparkEntry.queries`, run
  * once cold in a fresh session and then warm. */
object Registry {
  /** The measured set by family, in the order it runs. The order is
    * fixed: which query builds a shared memo, and so the cold times and
    * the live heap, depend on it. The reference dedup family is measured
    * by stream_live and the traced `Dedup.chainNative` probe instead. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "lsh" -> Seq("dedup_minhash_lsh", "dedup_threshold_curve", "dedup_minhash_quality"),
    "overlap" -> Seq("dedup_ngram_jaccard", "dedup_containment", "dedup_ngram_summary"),
    "lexicon" -> Seq("quality_lexicon_score", "quality_calibration_curve", "quality_isotonic_fit"),
    "savings" -> Seq("dedup_savings_report"),
    // no memo, no streaming: drift here is host noise
    "control" -> Seq("q1_agg", "q3_shipping", "q5_local_supplier", "q9_product_revenue",
      "text_token_count"))

  val Queries: Seq[String] = Families.flatMap(_._2)

  /** Set-up warm-up: one query on the TPC-H tables and one on the
    * documents, neither of which builds a memo the measured set reads. */
  val Warmup = Seq("q6_forecast", "text_char_stats")

  val WarmPasses = 2

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus an order-insensitive hash of the rows: the sum of
    * each row's xxhash64 over its columns in name order. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val row = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).first()
    s"${row.getLong(0)}:${Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Runs one pass over `qs` as phase `name`; records each fingerprint
    * under `label`, returns the times of the queries that did not throw. */
  private def pass(ctx: Ctx, r: Main.Result, name: String, label: String,
                   qs: Seq[String]): Map[String, Double] = {
    val spark = ctx.spark
    ctx.phases.setPhase(name)
    val times = qs.flatMap { q =>
      spark.sparkContext.setJobGroup(name, q)
      r.attempted += 1
      try {
        var fp = ""
        val s = seconds(Trace.span("registry", q, q) {
          fp = fingerprint(SparkEntry.queries(q)(spark, ctx.args.data))
        })
        r.info(s"fp.$label.$q") = fp
        Some(q -> s)
      } catch {
        case e: Exception =>
          r.fail(1, s"$name $q threw: ${e.getMessage}".take(300))
          None
      }
    }
    spark.sparkContext.clearJobGroup()
    ctx.phases.setPhase(null)
    times.toMap
  }

  def run(ctx: Ctx, r: Main.Result): Unit = {
    val a = ctx.args
    val sessionS = ctx.start(a.cores)
    val spark = ctx.spark
    val reps = (1 to Streams.SetupReps).map(_ => seconds {
      Warmup.foreach(q => SparkEntry.queries(q)(spark, a.data).count())
    })
    val setupS = Stats.median(reps)
    r.info("setup_reps_s") = reps.map(t => "%.2f".format(t)).mkString(" ")
    Heap.sample()
    r.mark("setup")

    val t0 = System.nanoTime()
    val cold = pass(ctx, r, "cold", "cold", Queries)
    Heap.sample()
    r.mark("cold")
    val warmRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    while (warmRuns.size < WarmPasses || System.nanoTime() - t0 < a.seconds * 1e9) {
      warmRuns += pass(ctx, r, "warm", s"warm${warmRuns.size + 1}", Queries)
      Heap.sample()
    }
    r.mark("warm")
    // a query's warm time is its best warm run
    val warm: Map[String, Double] = Queries.flatMap { q =>
      val xs = warmRuns.toSeq.flatMap(_.get(q))
      if (xs.isEmpty) None else Some(q -> xs.min)
    }.toMap
    // latency: a query in a fresh session, memo builds included;
    // throughput: every timed query run, cold and warm
    val coldMs = cold.values.map(_ * 1000).toSeq
    val runs = (cold +: warmRuns.toSeq).map(_.values)

    r.e2e("setup_s") = (sessionS + setupS, "s")
    r.e2e("latency_p50_ms") = (Stats.median(coldMs), "ms")
    r.e2e("latency_p90_ms") = (Stats.pct(coldMs, 90), "ms")
    r.e2e("throughput_per_s") = (runs.map(_.size).sum / runs.map(_.sum).sum, "1/s")
    r.e2e("heap_peak_mb") = (Heap.peakMb, "MB")
    r.info("cold_total_s") = "%.4f".format(cold.values.sum)
    r.info("warm_total_s") = "%.4f".format(warm.values.sum)
    r.info("warm_passes") = warmRuns.size.toString
    Queries.foreach { q =>
      r.info(s"s.$q") = "%.3f cold, %.3f warm".format(cold.getOrElse(q, 0.0), warm.getOrElse(q, 0.0))
    }

    if (a.trace) {
      Queries.foreach { q =>
        r.layers(s"registry.$q.cold_s") = (cold.getOrElse(q, 0.0), "s")
        r.layers(s"registry.$q.warm_s") = (warm.getOrElse(q, 0.0), "s")
      }
      r.layers("registry.cold.scan_bytes") = (ctx.phases("cold").inputBytes.toDouble, "bytes")
      for ((p, n) <- Seq("cold" -> 1, "warm" -> warmRuns.size)) {
        val t = ctx.phases(p)
        Seq("jobs" -> (t.jobs.toDouble, "count"), "stages" -> (t.stages.toDouble, "count"),
          "tasks" -> (t.tasks.toDouble, "count"), "executor_cpu_s" -> (t.cpuNs / 1e9, "s"),
          "shuffle_read_bytes" -> (t.shuffleRead.toDouble, "bytes"),
          "shuffle_write_bytes" -> (t.shuffleWrite.toDouble, "bytes"), "spill_bytes" -> (t.spill.toDouble, "bytes"),
          "memo_blocks_written" -> (t.memoBlocks.toDouble, "count"),
          "memo_bytes_written" -> (t.memoBytes.toDouble, "bytes")).foreach { case (k, (v, u)) =>
          // per pass: the warm figures are the mean over the warm passes
          r.layers(s"registry.$p.$k") = (v / n, u)
        }
      }
    }
  }

  /** Each query's result as parquet plus its oracle SQL, for the DuckDB
    * cross-check, and the fingerprints that check vouches for. */
  def check(ctx: Ctx, r: Main.Result): Unit = {
    ctx.start(ctx.args.cores)
    val spark = ctx.spark
    val out = ctx.args.work.resolve("check")
    Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, ctx.args.data)
      r.info(s"fp.check.$q") = fingerprint(df)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      r.attempted += 1
    }
    val oracle = SparkEntry.oracleSqlFor(Some((spark, ctx.args.data)))
      .filter { case (k, _) => Queries.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      oracle.map { case (k, v) => s"${Main.str(k)}: ${Main.str(v)}" }.mkString("{", ",\n", "}"))
  }
}
