package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job needs.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions are
  * sized to the core count (not the 200 default), AQE is on so skewed
  * shuffles re-plan at runtime, and the session timezone is pinned to
  * UTC so timestamp arithmetic matches the DuckDB oracle.
  *
  * The `file:` scheme is served by [[NioLocalFileSystem]] (the
  * `FileSystem` API) and [[NioLocalFs]] (`FileContext`, which Spark's
  * checkpoint WAL and state store use). Without Hadoop's native library
  * the stock local filesystem forks `chmod`, `ls` or `readlink` for
  * every permission set and status read, about 10 ms each, and a
  * streaming trigger commits dozens of small files. These do the same
  * work in-process and leave the same files and modes on disk. Other
  * schemes (HDFS, S3) are untouched.
  */
object GraftSession {

  /** Apply graft defaults to an existing builder (used by callers that
    * control master/memory themselves). */
  def withDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS); read as int64 nanoseconds
    // (deterministic integers — converted to µs by the operators).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  /** Core count of the local session the mains run: SPARK_GRAFT_CPUS,
    * else every core on the box. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Standalone local session for tests, exploration and the mains. */
  def local(cores: Int = 4): SparkSession = {
    val s = withDefaults(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
