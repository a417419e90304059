package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * {{{
  *   perfbench.Main --workload <stream_live|registry_mix|prepare>
  *     --seed <n> --seconds <n> --trace <0|1> --cores <n> --data <sf dir>
  *     --prior <dir> --work <scratch dir> --result <json file>
  * }}}
  * `prepare` makes what every run reads and nothing measures: it runs
  * the registry set once, writing each result as parquet for the DuckDB
  * cross-check, and writes the catch-up's prior output to `--prior`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, data: String, prior: String, work: Path, result: Path)

  /** A run's outcome: metric name → (value, unit), in print order. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    var invalid: Option[String] = None
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]
    val notes = mutable.ArrayBuffer.empty[String]
    def fail(n: Long, why: String): Unit = if (n > 0) { failed += n; notes += why }
    private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    /** Records when a phase ended, in seconds since the JVM started. */
    def mark(phase: String): Unit =
      info(s"t.$phase") = "%.2f".format((System.currentTimeMillis() - t0) / 1000.0)
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("data"), m("prior"), Paths.get(m("work")), Paths.get(m("result")))
    Trace.enabled = a.trace
    Files.createDirectories(a.work)
    val r = new Result
    val ctx = new Ctx(a)
    try a.workload match {
      case "stream_live" => Streams.live(ctx, r)
      case "registry_mix" => Registry.run(ctx, r)
      case "prepare" =>
        Registry.check(ctx, r)
        Streams.writePrior(ctx, Gen.prior(Streams.PriorRows), a.prior)
    } finally ctx.stop()
    r.mark("stopped")
    r.info("spark") = org.apache.spark.SPARK_VERSION
    r.info("cores") = a.cores.toString
    r.info("max_heap_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
    r.info("heap_samples_mb") = Heap.samples.map(_ >> 20).mkString(" ")
    if (a.trace) {
      Trace.selfMsByLayer.toSeq.sortBy(_._1).foreach { case (l, v) => r.layers(s"self_ms.$l") = (v, "ms") }
      r.layers("trace.spans") = (Trace.all.size.toDouble, "count")
      Files.writeString(a.work.resolve("spans.json"), Trace.toJson)
    }
    r.mark("end")
    Files.writeString(a.result, json(r))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metrics(xs: mutable.LinkedHashMap[String, (Double, String)]): String =
    xs.map { case (k, (v, u)) => s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }
      .mkString("{", ",", "}")

  def json(r: Result): String =
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""invalid":${r.invalid.map(str).getOrElse("null")},""" +
      s""""e2e":${metrics(r.e2e)},"layers":${metrics(r.layers)},""" +
      s""""info":${r.info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
      s""""notes":${r.notes.map(str).mkString("[", ",", "]")}}""" + "\n"
}

/** The Spark session and the listeners of one run. The session can be
  * restarted at another core count (the traced single-core drain). */
final class Ctx(val args: Main.Args) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  var spark: SparkSession = _
  var phases: PhaseListener = _
  var progress: ProgressListener = _
  /** The engine's own stream listener: forwarded/dropped per query. */
  val observed = new graft.streaming.Observability.GraftStreamListener

  /** Starts the session; returns seconds since the JVM started. */
  def start(cores: Int): Double = {
    spark = graft.GraftSession.withDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", args.work.resolve("chk").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phases = new PhaseListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(phases)
    progress = new ProgressListener
    spark.streams.addListener(progress)
    (System.currentTimeMillis() - jvmStartMs) / 1000.0
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def dir(name: String): String = args.work.resolve(name).toString
}
