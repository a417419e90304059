package graft.sinks

import java.io.File
import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

/** The writer behind TxnParquet: the same files as `df.write.parquet`,
  * the session configuration shipped once, and a clean abort. */
class LeanParquetWriterSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("leanwriter").toString

  private val schema = StructType(Seq(
    StructField("l", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("m", DecimalType(18, 4)),
    StructField("t", TimestampType),
    StructField("dt", DateType),
    StructField("bin", BinaryType),
    StructField("arr", ArrayType(LongType)),
    StructField("mp", MapType(StringType, IntegerType)),
    StructField("st", StructType(Seq(
      StructField("x", IntegerType), StructField("y", StringType))))))

  private def frame(partitions: Int): DataFrame = {
    val rows = (1L to 9L).map { n =>
      if (n % 3 == 0) Row(n, null, null, null, null, null, null, null, null, null, null, null)
      else Row(n, n.toInt, n * 1.5, s"s$n", n % 2 == 0,
        new java.math.BigDecimal(s"$n.0125"),
        Timestamp.valueOf(s"2024-01-0$n 10:00:00.123456"),
        Date.valueOf(s"2024-02-0$n"), Array[Byte](n.toByte, 7),
        Seq(n, n + 1), Map(s"k$n" -> n.toInt), Row(n.toInt, if (n == 4) null else s"y$n"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
  }

  private def parts(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

  private def footer(f: File) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** Appends `df` through TxnParquet and writes it with `df.write`;
    * both must leave the same files and read back the same. */
  private def assertSameAsSparkWrite(df: DataFrame): Unit = {
    val dir = freshDir()
    val ref = s"${freshDir()}/ref"
    assert(TxnParquet.append(df, dir, 0L))
    df.write.parquet(ref)
    val got = s"$dir/batch=0"
    assert(new File(s"$got/_SUCCESS").exists())
    val (a, b) = (parts(got), parts(ref))
    assert(a.size == b.size)
    a.foreach(f => assert(f.getName.matches("""part-\d{5}-.*-c000\.snappy\.parquet""")))
    a.zip(b).foreach { case (x, y) =>
      val (fx, fy) = (footer(x), footer(y))
      assert(fx.getFileMetaData.getSchema == fy.getFileMetaData.getSchema)
      assert(fx.getFileMetaData.getKeyValueMetaData == fy.getFileMetaData.getKeyValueMetaData)
      assert(fx.getBlocks.size == fy.getBlocks.size)
    }
    def rows(d: DataFrame) = d.collect().toSeq.sortBy(_.getLong(0))
    val (rg, rr) = (spark.read.parquet(got), spark.read.parquet(ref))
    assert(rg.schema == rr.schema)
    assert(rows(rg) == rows(rr))
    val viaRead = TxnParquet.read(spark, dir)
    assert(viaRead.schema == rr.schema)
    assert(rows(viaRead) == rows(rr))
  }

  test("an append writes the files df.write.parquet writes, for every column type and nulls") {
    assertSameAsSparkWrite(frame(3))
    assert(TxnParquet.read(spark, {
      val d = freshDir(); TxnParquet.append(frame(3), d, 0L); d
    }).count() == 9L)
  }

  test("an empty frame and a frame with no partitions keep their schema on disk") {
    val empty = frame(3).filter(col("l") < 0)
    assertSameAsSparkWrite(empty)
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(none.rdd.getNumPartitions == 0)
    assertSameAsSparkWrite(none)
    val dir = freshDir()
    assert(TxnParquet.append(none, dir, 0L))
    assert(parts(s"$dir/batch=0").size == 1)
    assert(TxnParquet.read(spark, dir).schema == spark.read.parquet(s"$dir/batch=0").schema)
    assert(TxnParquet.read(spark, dir).count() == 0L)
  }

  test("a codec changed between two appends reaches the second batch's footer") {
    // the codec reaches the task through the job delta; the dictionary
    // switch is a raw session key only the shipped base carries, so a
    // stale broadcast shows in the second footer
    val (codec, dict) = ("spark.sql.parquet.compression.codec", "parquet.enable.dictionary")
    val dir = freshDir()
    def chunks(id: Long) = parts(s"$dir/batch=$id").flatMap(f =>
      footer(f).getBlocks.get(0).getColumns.asScala)
    try {
      spark.conf.set(codec, "gzip")
      TxnParquet.append(frame(1), dir, 0L)
      spark.conf.set(codec, "zstd")
      spark.conf.set(dict, "false")
      TxnParquet.append(frame(1), dir, 1L)
    } finally {
      spark.conf.unset(codec)
      spark.conf.unset(dict)
    }
    assert(chunks(0L).map(_.getCodec.name).toSet == Set("GZIP"))
    assert(chunks(1L).map(_.getCodec.name).toSet == Set("ZSTD"))
    assert(chunks(0L).exists(_.hasDictionaryPage))
    assert(!chunks(1L).exists(_.hasDictionaryPage))
    assert(parts(s"$dir/batch=1").forall(_.getName.endsWith(".zstd.parquet")))
    assert(TxnParquet.read(spark, dir).count() == 18L)
  }

  test("a write task that fails partway leaves no marker, no rows and no _temporary after the retry") {
    val dir = freshDir()
    TxnParquet.append(spark.range(0, 5).toDF("id"), dir, 0L)
    val boom = udf((x: Long) => {
      if (x == 50L) throw new IllegalStateException("boom at 50")
      x
    })
    val failing = spark.range(0, 100, 1, 1).select(boom(col("id")).as("id"))
    val e = intercept[Exception](TxnParquet.append(failing, dir, 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom at 50")))
    assert(!new File(s"$dir/_commits/1").exists())
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L))
    assert(TxnParquet.read(spark, dir).count() == 5L)
    val retry = spark.range(0, 100, 1, 1).toDF("id")
    assert(TxnParquet.append(retry, dir, 1L))
    assert(!TxnParquet.append(retry, dir, 1L))
    assert(TxnParquet.committedBatches(spark, dir) == Seq(0L, 1L))
    assert(TxnParquet.read(spark, dir).count() == 105L)
    def tree(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(tree)
    assert(!tree(new File(dir)).exists(_.getName == "_temporary"))
  }

  test("a task's rebuilt configuration equals the driver's job configuration key for key") {
    val hc = spark.sparkContext.hadoopConfiguration
    val dropped = "io.file.buffer.size"
    val saved = hc.getRaw(dropped)
    assert(saved != null)
    val sessionKey = "spark.hadoop.graft.writer.spec"
    spark.conf.set(sessionKey, "session-value")
    hc.unset(dropped)
    try {
      val s = LeanParquetWriter.ship(spark)
      val (job, _, d) = LeanParquetWriter.prepare(spark, s, new Path(freshDir()), schema)
      val want = LeanParquetWriter.content(job.getConfiguration)
      assert(LeanParquetWriter.content(LeanParquetWriter.taskConf(s.bc.value.value, d)) == want)
      assert(want.get(sessionKey).contains("session-value"))
      assert(!want.contains(dropped))
      assert(d.size < 100, s"delta of ${d.size} keys")
      // an executor outside this JVM deserializes the broadcast copy
      val base = s.bc.value.value
      val remote = new Configuration(false)
      val buf = new java.io.ByteArrayOutputStream()
      base.write(new java.io.DataOutputStream(buf))
      remote.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray)))
      val far = LeanParquetWriter.taskConf(remote, d)
      want.keys.foreach(k => assert(far.get(k) == job.getConfiguration.get(k), k))
      // a key the job configuration unsets relative to the shipped copy
      val gone = "fs.file.impl"
      assert(base.getRaw(gone) != null)
      job.getConfiguration.unset(gone)
      val d2 = LeanParquetWriter.delta(s.content, job.getConfiguration)
      assert(d2.contains(gone -> None))
      val rebuilt = LeanParquetWriter.taskConf(base, d2)
      assert(LeanParquetWriter.content(rebuilt) ==
        LeanParquetWriter.content(job.getConfiguration))
      assert(rebuilt.getRaw(gone) == null && base.getRaw(gone) != null)
    } finally {
      hc.set(dropped, saved)
      spark.conf.unset(sessionKey)
    }
  }

  test("the session configuration is broadcast once and replaced when it changes") {
    val a = LeanParquetWriter.ship(spark)
    assert(LeanParquetWriter.ship(spark).bc eq a.bc)
    val key = "spark.sql.parquet.compression.codec"
    try {
      spark.conf.set(key, "gzip")
      val b = LeanParquetWriter.ship(spark)
      assert(b.bc ne a.bc)
      assert(b.bc.value.value.get(key) == "gzip")
      assert(LeanParquetWriter.ship(spark).bc eq b.bc)
    } finally spark.conf.unset(key)
  }
}
