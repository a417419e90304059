package graft.sources

import graft.Partitioning._
import graft.Tables
import graft.functions.Hashing.{canonicalPropsMap, h64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical message envelope — the data-model mapping of a Pulsar
  * message (payload bytes, string properties, event timestamp, topic;
  * see the pulsar-client Message surface used throughout
  * /root/reference/src/deduplication.ts).
  *
  * Any batch or streaming source Spark can read (parquet/json/csv files,
  * Kafka, rate, socket) becomes a deduplicatable stream once projected
  * into this shape; sinks are plain `write`/`writeStream`. The digest
  * is computed over raw payload bytes + canonical properties with the
  * ignored-keys set removed, timestamp excluded — exactly the
  * reference's `createHasher`.
  */
object Envelope {

  val schema: StructType = StructType(Seq(
    StructField("payload", BinaryType, nullable = false),
    StructField("properties", MapType(StringType, StringType), nullable = false),
    StructField("event_ts", TimestampType, nullable = false),
    StructField("topic", StringType, nullable = false)))

  /** Digest over an envelope: hash(payload ++ canonical properties).
    * Binary-safe: the payload participates as raw bytes. */
  def digest(ignored: Seq[String] = Nil): Column =
    h64(concat(col("payload"),
      encode(canonicalPropsMap(col("properties"), ignored), "UTF-8")))

  /** Digest selected by `spark.graft.digest`: the default `h64`
    * (BIGINT, DuckDB-reproducible — what every oracle-checked query
    * uses) or `blake2b` (BINARY(64), byte-for-byte the reference's
    * createHasher output — payload ‖ stable-stringified kept props —
    * for interchange with digests the reference service published). */
  def digestFor(spark: SparkSession, ignored: Seq[String] = Nil): Column =
    graft.GraftConfig.digestAlgorithm(spark) match {
      case "h64" => digest(ignored)
      case "blake2b" =>
        graft.functions.Hashing.envelopeDigestBlake2b(
          col("payload"), col("properties"), ignored)
    }

  /** The test `events` table as an envelope stream (payload = the
    * event body bytes, properties = the parsed props map). */
  def fromEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.spread
      .select(
        col("event_id"),
        encode(concat_ws("|", col("user_id"), col("event_type"),
          col("value").cast("string")), "UTF-8").as("payload"),
        from_json(col("props"), MapType(StringType, StringType)).as("properties"),
        timestamp_micros(Tables.tsUsCol(ev)).as("event_ts"),
        lit("events").as("topic"))
  }

  /** Generic batch readers into the envelope shape: the source columns
    * are mapped by name (payload/properties/event_ts/topic must exist
    * or be derivable by the caller's projection) and type-checked
    * against the envelope schema — a name-matching file with the wrong
    * types (string payload, NTZ timestamp) fails at the READ, not as
    * wrong digests three operators later. */
  private def conform(df: DataFrame): DataFrame = {
    val out = df.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    schema.fields.foreach { f =>
      val got = out.schema(f.name).dataType
      require(got == f.dataType,
        s"envelope column ${f.name}: expected ${f.dataType.simpleString}, file has ${got.simpleString}")
    }
    out
  }

  /** JSONL interchange options — same µs-timestamp ownership as
    * `csvOptions`: Spark's JSON default also writes millisecond
    * fractions, truncating event times on a round trip. Payload bytes
    * ride JSON's native base64 encoding of BinaryType; properties stay
    * a real JSON object. Pair on BOTH writer and reader. */
  val jsonOptions: Map[String, String] = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  def readJson(spark: SparkSession, path: String): DataFrame =
    conform(spark.read.options(jsonOptions).schema(schema).json(path))

  /** ORC interchange: ORC holds binary, maps and nanosecond timestamps
    * natively, so the envelope round-trips with NO wire encoding at
    * all — the columnar-sibling alternative when a consumer can't read
    * parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    conform(spark.read.orc(path))

  /** CSV interchange schema: CSV holds neither maps nor raw bytes, so
    * the wire form carries payload as base64 and properties as a JSON
    * object string. */
  val csvSchema: StructType = StructType(Seq(
    StructField("payload_b64", StringType, nullable = false),
    StructField("properties_json", StringType, nullable = false),
    StructField("event_ts", TimestampType, nullable = false),
    StructField("topic", StringType, nullable = false)))

  /** CSV reader/writer options owned by the library: header on, and a
    * MICROSECOND timestamp format — Spark's CSV default writes only
    * millisecond fractions, which silently truncates event times and
    * shifts every event-time consumer (dedup ordering, windows) after
    * a re-import. */
  val csvOptions: Map[String, String] = Map(
    "header" -> "true",
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Envelope → CSV wire columns (what a CSV export writes — pair with
    * `csvOptions` on the writer). */
  def toCsvFrame(env: DataFrame): DataFrame = env.select(
    base64(col("payload")).as("payload_b64"),
    to_json(col("properties")).as("properties_json"),
    col("event_ts"), col("topic"))

  /** CSV wire columns → typed envelope. Together with toCsvFrame (both
    * sides under `csvOptions`) this is a lossless round trip — base64
    * payload bytes, canonical-order JSON properties, µs timestamps —
    * so digests AND event times computed before export equal those
    * computed after re-import. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.options(csvOptions).schema(csvSchema).csv(path)
      .select(
        unbase64(col("payload_b64")).as("payload"),
        from_json(col("properties_json"), MapType(StringType, StringType))
          .as("properties"),
        col("event_ts"), col("topic"))

  /** Kafka wire shape ⇄ envelope — the Spark-native stand-in for the
    * reference's Pulsar client (pulsar.ts: topics pattern, per-message
    * properties, event timestamp). A Kafka source DataFrame
    * (`spark.readStream.format("kafka")…`) carries
    * (key, value, topic, partition, offset, timestamp, headers); message
    * properties ride the headers (key → UTF-8 value), exactly how
    * Pulsar properties map onto Kafka's header model.
    *
    * Both directions are pure column mappings, so they work on any
    * frame with the Kafka schema — the connector jar only matters at
    * the actual read/write (not bundled in this environment; covered by
    * a schema-shaped spec instead of a broker round trip). */
  def fromKafka(kafka: DataFrame): DataFrame =
    kafka.select(
      col("value").as("payload"),
      // Kafka headers are a repeatable LIST (duplicate keys are wire-
      // legal); a map constructor would throw on duplicates, so fold
      // with last-wins — the Pulsar property-map semantics.
      aggregate(
        coalesce(col("headers"), array().cast(KafkaHeadersType)),
        map().cast(MapType(StringType, StringType)),
        (acc, h) => map_concat(
          map_filter(acc, (k, _) => k =!= h.getField("key")),
          map(h.getField("key"), decode(h.getField("value"), "UTF-8"))))
        .as("properties"),
      col("timestamp").as("event_ts"),
      col("topic"))

  /** Envelope → Kafka sink columns (value/headers/topic; key = digest
    * so replays of one message land in one partition). */
  def toKafka(env: DataFrame, ignored: Seq[String] = Nil): DataFrame =
    env.select(
      digest(ignored).cast("string").cast("binary").as("key"),
      col("payload").as("value"),
      transform(map_entries(col("properties")),
        e => struct(e.getField("key").as("key"),
          encode(e.getField("value"), "UTF-8").as("value"))).as("headers"),
      col("topic"))

  val KafkaHeadersType: DataType =
    ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", BinaryType))))

  /** First-occurrence dedup of an envelope batch, in event-time order —
    * keepDeduplicating with an infinite window over any envelope
    * source. One shuffle on the digest, which `spark.graft.digest`
    * selects ([[digestFor]]): a migration from the reference service
    * flips the conf to `blake2b` without touching the pipeline, and for
    * any collision-free digest the kept set does not change
    * (spec-pinned against the h64 path). */
  def firstOccurrence(env: DataFrame, ignored: Seq[String] = Nil): DataFrame = {
    val hashed = env.withColumn("digest", digestFor(env.sparkSession, ignored))
    val w = Window.partitionBy("digest").orderBy("event_ts")
    hashed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }
}
