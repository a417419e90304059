package graft

import org.apache.spark.sql.SparkSession

/** The reference's configuration surface (config.ts) mapped onto Spark
  * session conf — same keys' semantics, same defaults, same validation
  * failures. Each key acts on `streaming.DedupJob.start`:
  *
  *   DEDUPLICATION_WINDOW_IN_SECONDS  → spark.graft.deduplication.windowSeconds
  *   DEDUPLICATION_IGNORED_PROPERTIES → spark.graft.deduplication.ignoredProperties
  *   CACHE_WINDOW_IN_SECONDS          → spark.graft.cache.windowSeconds
  *   CACHE_REBUILD_DISABLE_SEEK       → spark.graft.cache.disableRebuild
  *   (digest algorithm)               → spark.graft.digest
  *
  * `spark.graft.digest` also selects the envelope digest
  * (`sources.Envelope.digestFor`); the job accepts only its default,
  * `h64`.
  *
  * Mirrored rules (config.ts:68-111,113-140):
  *   - window values are optional non-negative finite floats (fractional
  *     seconds allowed; negative/NaN/Inf/garbage → error);
  *   - ignored properties is a stringified JSON array holding only
  *     strings (anything else → error — the reference fails startup
  *     rather than silently hashing with the wrong identity);
  *   - cacheWindow <= 0 disables warm-up (cacheBuilding.ts:72-79), as
  *     does the disable toggle.
  *
  * The reference's Pulsar client keys (OAuth2, TLS, compression,
  * blocking) have no counterpart: graft opens no socket.
  */
object GraftConfig {

  val DedupWindowKey = "spark.graft.deduplication.windowSeconds"
  val IgnoredPropsKey = "spark.graft.deduplication.ignoredProperties"
  val CacheWindowKey = "spark.graft.cache.windowSeconds"
  val DisableRebuildKey = "spark.graft.cache.disableRebuild"
  val DigestKey = "spark.graft.digest"

  /** Digest algorithm for envelope identity: `h64` (default; BIGINT,
    * DuckDB-oracle-reproducible) or `blake2b` (BINARY(64), reference
    * createHasher parity — see functions.Blake2b). */
  def digestAlgorithm(spark: SparkSession): String =
    spark.conf.getOption(DigestKey).getOrElse("h64") match {
      case v @ ("h64" | "blake2b") => v
      case other => throw new IllegalArgumentException(
        s"""$DigestKey must be either "h64" or "blake2b". Instead, $other was given.""")
    }

  val DefaultDedupWindowSeconds = 3600.0
  val DefaultCacheWindowSeconds = 172800.0

  final case class DeduplicationConfig(windowSeconds: Double,
                                       ignoredProperties: Seq[String]) {
    def windowUs: Long = (windowSeconds * 1e6).toLong
  }

  final case class CacheRebuildConfig(cacheWindowSeconds: Double,
                                      disableRebuild: Boolean) {
    def cacheWindowUs: Long = (cacheWindowSeconds * 1e6).toLong
    /** Warm-up runs only for a positive window with rebuild enabled. */
    def warmupEnabled: Boolean = !disableRebuild && cacheWindowSeconds > 0
  }

  /** JS `parseFloat` (config.ts:71): skip leading whitespace, parse the
    * longest leading decimal/scientific literal, IGNORE any trailing
    * garbage ("1.5abc" → 1.5); no leading literal → NaN. Scala's
    * `toDouble` diverges both ways — it accepts hex floats ("0x1p3" →
    * 8.0 where parseFloat reads 0) and type suffixes as whole-string
    * parses, but throws on the trailing-garbage inputs parseFloat
    * tolerates — so the literal is extracted with parseFloat's own
    * grammar first. */
  private val LeadingFloat = "[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?".r

  private def nonNegativeFiniteFloat(spark: SparkSession, key: String,
                                     default: Double): Double =
    spark.conf.getOption(key).map { s =>
      def fail() = throw new IllegalArgumentException(
        s"$key must be a non-negative, finite float if given. Instead, $s was given.")
      // "Infinity"/"-Infinity" parse in JS but fail the isFinite check,
      // same terminal outcome as the no-literal NaN path here
      val v = LeadingFloat.findPrefixOf(s.dropWhile(_.isWhitespace))
        .map(_.toString.toDouble).getOrElse(Double.NaN)
      if (v.isNaN || v.isInfinite || v < 0) fail()
      v
    }.getOrElse(default)

  /** Parse the ignored-properties JSON array — a JSON array holding only
    * strings, like the reference's JSON.parse + shape check
    * (config.ts:113-130). json4s ships with Spark. */
  private def parseIgnoredProperties(key: String, s: String): Seq[String] = {
    import org.json4s._
    def fail() = throw new IllegalArgumentException(
      s"$key must be a stringified JSON array holding only strings.")
    val parsed =
      try jackson.JsonMethods.parse(s)
      catch { case _: Exception => fail() }
    parsed match {
      case JArray(items) =>
        items.map {
          case JString(v) => v
          case _          => fail()
        }
      case _ => fail()
    }
  }

  def deduplication(spark: SparkSession): DeduplicationConfig =
    DeduplicationConfig(
      nonNegativeFiniteFloat(spark, DedupWindowKey, DefaultDedupWindowSeconds),
      spark.conf.getOption(IgnoredPropsKey)
        .map(parseIgnoredProperties(IgnoredPropsKey, _))
        .getOrElse(Nil))

  def cacheRebuild(spark: SparkSession): CacheRebuildConfig =
    CacheRebuildConfig(
      nonNegativeFiniteFloat(spark, CacheWindowKey, DefaultCacheWindowSeconds),
      spark.conf.getOption(DisableRebuildKey).map {
        case "true"  => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"""$DisableRebuildKey must be either "false" or "true". Instead, $other was given.""")
      }.getOrElse(false))
}
