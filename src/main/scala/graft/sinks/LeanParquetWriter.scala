package graft.sinks

import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The parquet writer behind every [[TxnParquet]] batch and compaction:
  * `df.write.mode("overwrite").parquet(path)` for an unpartitioned
  * directory, assembled from Spark's own parts (the parquet
  * `OutputWriterFactory`, the session's `FileCommitProtocol`, the
  * overwrite and empty-output rules), so the files, footers and
  * `_SUCCESS` marker are the ones Spark writes.
  *
  * What differs is how the Hadoop configuration reaches the tasks.
  * `df.write` serializes the whole job configuration (about a thousand
  * keys, one GZIP stream per key) into every task of every write. Here
  * the session's Hadoop configuration is broadcast once per
  * (SparkContext, content) and reused while it is unchanged; each
  * write's closure carries only the keys its job configuration adds,
  * changes or unsets relative to that copy, and each task rebuilds
  * `new Configuration(base)` plus that delta. The base is the session's
  * own configuration, never a default `new Configuration(true)`: an
  * executor may lack the driver's `*-site.xml`, and a key taken from
  * those files would be lost.
  *
  * Each task also reports how many rows it wrote, so a caller learns
  * the output size without running the plan a second time. Out of
  * scope: partitioned or bucketed output, `maxRecordsPerFile` rolling,
  * and the SQL write metrics (files, bytes) that `df.write` posts. */
private[graft] object LeanParquetWriter {

  /** Configuration keys in the job conf that differ from the shipped
    * base: Some(value) is set, None is unset. */
  private[sinks] type Delta = Seq[(String, Option[String])]

  /** The broadcast session configuration and the content it was made
    * from. */
  private[sinks] final case class Shipped(sc: SparkContext,
                                          content: Map[String, String],
                                          conf: Configuration,
                                          bc: Broadcast[SerializableConfiguration])

  private var shipped: Shipped = _ // guarded by this

  /** Raw key → value content of a configuration. */
  private[sinks] def content(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** The session's Hadoop configuration, broadcast once per
    * (SparkContext, content). A changed configuration replaces the
    * reference and leaves the old copy to `ContextCleaner`, which
    * removes it once unreachable: a job still reading it keeps it
    * alive, so it is never destroyed under a running task. The
    * streaming chain's state stores open with the same copy
    * (`graft.plans.StreamChainDedupExec`). */
  private[graft] def ship(spark: SparkSession): Shipped = synchronized {
    val conf = spark.sessionState.newHadoopConf()
    val now = content(conf)
    val sc = spark.sparkContext
    if (shipped == null || (shipped.sc ne sc) || shipped.content != now)
      shipped = Shipped(sc, now, conf, sc.broadcast(new SerializableConfiguration(conf)))
    shipped
  }

  /** What `job` adds, changes or unsets relative to `base`. */
  private[sinks] def delta(base: Map[String, String], job: Configuration): Delta = {
    val j = content(job)
    j.toSeq.collect { case (k, v) if !base.get(k).contains(v) => k -> Some(v) } ++
      base.keys.filterNot(j.contains).map(_ -> None)
  }

  /** A task's configuration: the shipped base plus the write's delta.
    * Unsets go first, so a set of a key whose deprecated alias was
    * unset still lands. */
  private[sinks] def taskConf(base: Configuration, d: Delta): Configuration = {
    val c = new Configuration(base)
    d.foreach { case (k, v) => if (v.isEmpty) c.unset(k) }
    d.foreach { case (k, v) => v.foreach(c.set(k, _)) }
    c
  }

  /** The driver side of a write to `out`: the job configuration (the
    * shipped base plus what the output format and commit protocol
    * set), the writer factory, and the delta the tasks receive. */
  private[sinks] def prepare(spark: SparkSession, s: Shipped, out: Path,
                             schema: StructType): (Job, OutputWriterFactory, Delta) = {
    val job = Job.getInstance(s.conf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, out)
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    job.getConfiguration.set("spark.sql.sources.writeJobUUID", UUID.randomUUID().toString)
    (job, factory, delta(s.content, job.getConfiguration))
  }

  /** Write `df` as the parquet files of directory `path`, replacing the
    * directory if it exists; returns the number of rows written. */
  def write(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    val s = ship(spark)
    val raw = new Path(path)
    val fs = raw.getFileSystem(s.conf)
    val out = raw.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString, outputPath = out.toString)
    // Spark's overwrite rule: an existing target directory goes first
    if (fs.exists(out) && !committer.deleteWithJob(fs, out, true))
      throw new java.io.IOException(s"cannot clear output directory $out")
    val schema = df.schema
    val (job, factory, d) = prepare(spark, s, out, schema)
    val bc = s.bc
    val tracker = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val planned = qe.toRdd
      // Spark's empty-output rule: an input with no partitions still
      // writes one (empty) file, so the directory carries the schema
      val rdd =
        if (planned.partitions.isEmpty) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
        else planned
      val results = new Array[(TaskCommitMessage, Long)](rdd.partitions.length)
      committer.setupJob(job)
      try {
        spark.sparkContext.runJob(rdd,
          (tc: TaskContext, rows: Iterator[InternalRow]) =>
            writeTask(taskConf(bc.value.value, d), tracker, tc, rows, factory, schema, committer),
          rdd.partitions.indices,
          (i: Int, r: (TaskCommitMessage, Long)) => {
            committer.onTaskCommit(r._1)
            results(i) = r
          })
        committer.commitJob(job, results.toSeq.map(_._1))
      } catch {
        case t: Throwable =>
          committer.abortJob(job)
          throw t
      }
      results.map(_._2).sum
    }
  }

  /** One write task, as Spark's `FileFormatWriter.executeTask` runs it
    * for an unpartitioned directory: the Hadoop task identity, then one
    * file through the commit protocol. Partition 0 always writes a
    * file, so an empty result still leaves the schema on disk. A
    * failure closes the file and aborts the task attempt, which removes
    * its temporary output. */
  private def writeTask(conf: Configuration, tracker: String, tc: TaskContext,
                        rows: Iterator[InternalRow], factory: OutputWriterFactory,
                        schema: StructType,
                        committer: FileCommitProtocol): (TaskCommitMessage, Long) = {
    val jobId = new JobID(tracker, tc.stageId())
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, tc.partitionId()),
      tc.taskAttemptId().toInt & Int.MaxValue)
    conf.set("mapreduce.job.id", jobId.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    val ctx = new TaskAttemptContextImpl(conf, attempt)
    committer.setupTask(ctx)
    var writer: OutputWriter = null
    var n = 0L
    try {
      if (tc.partitionId() == 0 || rows.hasNext) {
        val file = committer.newTaskTempFile(ctx, None,
          FileNameSpec("", "-c000" + factory.getFileExtension(ctx)))
        writer = factory.newInstance(file, schema, ctx)
        rows.foreach { r => writer.write(r); n += 1 }
        val w = writer
        writer = null
        w.close()
      }
      (committer.commitTask(ctx), n)
    } catch {
      case t: Throwable =>
        try { if (writer != null) writer.close() }
        catch { case e: Throwable => t.addSuppressed(e) }
        finally committer.abortTask(ctx)
        throw t
    }
  }
}
