package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line — to stdout AND to a file (SPARK_GRAFT_BENCH_OUT,
  * default ./bench_out.json), because sbt interleaves its own log lines
  * into stdout and a log-tail parse of the JSON is fragile.
  *
  * Queries run in name order; `SPARK_GRAFT_ONLY` narrows them to a
  * dev-only subset, as in Verify (see [[SparkEntry.selected]]).
  *
  * A query that throws is reported in the `errors` object and carries a
  * -1 time marker — never its elapsed wall time — so a crash is
  * distinguishable from a fast success.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to every core on the box: the driver contract is local[32]
    // and the driver does NOT set SPARK_GRAFT_CPUS (round-2 bench
    // silently ran local[4] → ~6× inflated timings).
    val cpus = GraftSession.cpus
    // Shuffle parallelism defaults to the core count (the driver's
    // sf0.1 contract) but scales independently for larger-SF spot
    // runs: per-task aggregation memory is (heap share ÷ concurrent
    // tasks ÷ partition volume), so a 100× corpus in one JVM needs
    // MORE partitions, not more threads — the same knob a real
    // cluster turns (AQE can coalesce a too-fine shuffle but cannot
    // split a too-coarse non-skewed aggregation). Measured: sf10's
    // token-grain aggregations throw AGGREGATE_OUT_OF_MEMORY at
    // 32 partitions / 16 g and run clean at 256.
    val spark = GraftSession.local(cpus)
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    // Warm-up, untimed: one representative query per TABLE FAMILY, so the
    // first measured queries (alphabetically the ANN family) aren't charged
    // for cold page cache on their parquet, cold parquet footers, or cold
    // JIT/codegen of the vector expressions. Round-6 driver runs measured
    // the unchanged ann_brute_topk at 2.8× the builder's number purely
    // because it ran first on a cold JVM — warm-up must cover every input,
    // not just lineitem.
    Seq("q1_agg",           // lineitem/orders scan + agg
        "text_token_count", // documents scan + text codegen
        "ann_lsh_topk",     // embeddings scan + native vector expressions
        "dedup_first")      // events scan + digest pipeline
      .foreach { w =>
        try SparkEntry.queries(w)(spark, sfDir).count()
        catch { case _: Throwable => () }
      }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Best of two runs per query: one-shot local timings swing ~2× on
    // JIT/GC noise; the min is the reproducible cost of the plan.
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(SparkEntry.selected)
      .map { name =>
      val fn = SparkEntry.queries(name)
      // Best-of-N, default 2 (the driver's sf0.1 contract). Large-SF
      // spot sweeps set SPARK_GRAFT_BENCH_RUNS=1: at sf10 a second
      // execution of all 288 queries doubles a ~1 h run for timing
      // precision the single-run artifacts never claimed.
      val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          // JSON-safe: strip EVERY control char plus the escapes, not
          // just the common ones — native errors embed NUL/FF etc.
          errors(name) = (Option(e.getMessage).getOrElse("") match {
            case "" => e.getClass.getName
            case m  => m
          }).map(c => if (c < ' ' || c == '"' || c == '\\') ' ' else c).take(160)
          None
        }
      }
      // untimed GC between queries: 150 query executions in one JVM
      // accumulate broadcast/codegen garbage, and a collection landing
      // mid-query once inflated a 1 s query to 24 s in the recorded run
      System.gc()
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: ${e.getMessage}") }
    // The full per-query map (~4.5 KB for 150 queries) overflows the
    // driver's 2000-char log-tail window, so the FINAL stdout line is a
    // compact summary (<~400 chars): total + slowest-5 in `queries` +
    // counts + pointer to the full map on disk. The full line still goes
    // to stdout one line earlier and, authoritatively, to `out`.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
    val topQs = slowest.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    val maxS = if (slowest.nonEmpty) f"${slowest.head._2}%.2f" else "-1"
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$topQs,""" +
      s""""n_queries":${results.size},"max_query_s":$maxS,""" +
      s""""n_errors":${errors.size},"cpus":$cpus,"sf":"$sfDir","full":"$out"}"""
    // stop BEFORE printing: executor/session shutdown chatter lands on
    // stderr/stdout first, so the JSON lines are the program's LAST
    // stdout lines and a tail parse (the driver's) finds them unbroken
    spark.stop()
    println(line)
    println(summary)
    System.out.flush()
  }
}
