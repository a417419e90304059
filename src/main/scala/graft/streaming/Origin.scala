package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The reference's `origin` property contract.
  *
  * Every forwarded message carries `origin = JSON array of the digests
  * it represents` (/root/reference/src/deduplication.ts:120-127 — one
  * digest per message), and warm-up reads digests back OUT OF that
  * property with malformed-input tolerance
  * (/root/reference/src/cacheBuilding.ts:6-63 `getDigests`: not valid
  * JSON / not an array / wrong element types → skip that message with a
  * warning, never fail the warm-up).
  *
  * Here the digest is the canonical int64 (functions.Hashing), carried
  * as its decimal string inside the JSON array. Parsing accepts
  * JSON-number elements as well as strings (slightly more lenient than
  * the reference's typeof check — documented deviation); any message
  * whose origin is unparseable or contains a non-digest element
  * contributes NO digests, mirroring the all-or-nothing skip.
  */
object Origin {

  /** origin property value for a forwarded row: `["<digest>"]`. */
  def originJson(digest: Column): Column =
    to_json(array(digest.cast("string")))

  /** Forwarded-envelope transform: attach `origin` to the properties
    * map (envelope shape — properties MAP<STRING,STRING>). */
  def withOrigin(env: DataFrame, digest: Column = col("digest")): DataFrame =
    env.withColumn("properties",
      map_concat(col("properties"), map(lit("origin"), originJson(digest))))

  /** Forwarded-message transform for the events-stream shape, where
    * `props` is a JSON-object string: re-serialized with origin added. */
  def withOriginProp(df: DataFrame, digest: Column = col("digest")): DataFrame =
    df.withColumn("props",
      to_json(map_concat(
        coalesce(from_json(col("props"), org.apache.spark.sql.types.MapType(StringType, StringType)),
          map().cast("map<string,string>")),
        map(lit("origin"), originJson(digest)))))

  /** Digests recovered from one origin value, with the reference's
    * malformed tolerance: unparseable JSON / non-array / any non-digest
    * element → empty array (skip), never an error. A digest is a
    * signed int64 (xxhash64 digests are negative about half the time),
    * so an optional leading `-` is accepted. `try_cast` (not
    * `cast`) so an all-digit string beyond Long range is also a SKIP —
    * under ANSI mode a plain cast would throw and fail the warm-up,
    * exactly the failure `getDigests` tolerance exists to prevent. */
  def originDigests(origin: Column): Column = {
    val parsed = from_json(origin, ArrayType(StringType))
    val allValid = parsed.isNotNull && forall(parsed,
      e => e.rlike("^-?[0-9]{1,19}$") &&
        e.try_cast(org.apache.spark.sql.types.LongType).isNotNull)
    when(allValid,
        transform(parsed, e => e.try_cast(org.apache.spark.sql.types.LongType)))
      .otherwise(array().cast("array<long>"))
  }

  /** The cacheBuilding.ts warm-up over prior OUTPUT: digests parsed
    * from each output row's origin property within the trailing cache
    * window, with the per-row skip tolerance. `origin` is where the
    * property sits: by default the envelope shape's `properties` map
    * ([[withOrigin]]); for the events shape ([[withOriginProp]]) pass
    * `get_json_object(col("props"), "$.origin")`. Returns
    * (digest, last_kept_us) — feed to StreamDedup.warmStateFromTable
    * for a stream's initial state, or use the digest set for a batch
    * anti-join. */
  def warmDigestsFromOutput(output: DataFrame, cacheWindowUs: Long, nowUs: Long,
                            origin: Column = element_at(col("properties"), "origin"))
      : DataFrame =
    output
      .filter(col("ts_us") >= nowUs - cacheWindowUs)
      .select(col("ts_us"), explode(originDigests(origin)).as("digest"))
      .groupBy("digest")
      .agg(max("ts_us").as("last_kept_us"))
}
