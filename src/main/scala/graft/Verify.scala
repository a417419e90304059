package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // One clear message up front if the testdata physical schema drifted
    // from TESTDATA.md; on violation the query loop is SKIPPED (running it
    // would only bury the root cause under N opaque per-query errors).
    val contractHolds = SchemaGate.report(spark, sfDir)
    if (contractHolds) {
      // Bounded dump concurrency: queries are independent writes, and
      // Spark schedules concurrent jobs fine, so a few threads cut the
      // wall time enough to make the sf0.1 gate fit a driver budget
      // (most queries are small; the heavy dedup family overlaps the
      // tail). 1 restores strictly sequential dumps.
      val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = SparkEntry.queries.toSeq
        .filter { case (name, _) => SparkEntry.selected(name) }
        .map { case (name, fn) =>
          scala.concurrent.Future {
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
          }
        }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
    }
    // JSON string: a tab or CR left unescaped in an oracle's SQL would
    // make every JSON reader of oracle_sql.json fail.
    def q(s: String): String = "\"" + graft.streaming.StructuredLog.jsonEscape(s) + "\""
    // ctx-ful oracle map: the whitened-LSH entries embed (μ, W) doubles
    // computed from THIS sfDir — the same literals the engine plans bake
    val json = SparkEntry.oracleSqlFor(Some((spark, sfDir)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!contractHolds) sys.exit(2)
  }
}
